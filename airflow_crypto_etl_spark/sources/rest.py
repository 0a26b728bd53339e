"""REST API source (S1).

The reference extracts from CoinGecko `/coins/markets` driver-side with
``requests`` (`/root/reference/dags/coin_data_pipeline_optimized.py:158-183`).
Two Spark-first shapes:

1. ``fetch_records`` — driver-side fetch into schema-typed dicts, no
   Spark job (``fetch_to_dataframe`` wraps it in ``createDataFrame``):
   correct for a few pages per run (the reference's actual workload).
2. ``PagedRestDataSource`` — a Spark 4 Python DataSource: pages become
   input partitions, so N pages fetch in parallel on executors and the
   result is a real scan node (filter/limit land above it, but
   partition planning implements the source-side ``per_page``/``order``
   pushdown the reference uses as query params, SURVEY.md §2.7).

No network in this environment, so the fetcher is injectable and the
default raises — tests inject a deterministic fake; production injects
``requests.get``-based fetchers.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

Fetcher = Callable[[int, int], list[dict]]  # (page, per_page) -> records

COIN_MARKET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("symbol", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("current_price", T.DoubleType()),
        T.StructField("market_cap", T.DoubleType()),
        T.StructField("last_updated", T.StringType()),
    ]
)


def _default_fetcher(page: int, per_page: int) -> list[dict]:
    raise NotImplementedError(
        "no network access in this environment; inject a fetcher(page, per_page) "
        "backed by requests.get(<api>/coins/markets?...) in production, or use "
        "fixture_fetcher() / the fixture_path reader option for recorded JSON"
    )


FIXTURE_PATH = os.path.join(os.path.dirname(__file__), "fixtures", "coingecko_markets.json")


def _load_fixture(path: str) -> list[dict]:
    with open(path) as fh:
        records = json.load(fh)
    if not isinstance(records, list):
        raise ValueError(f"fixture must be a flat JSON array of records: {path}")
    return records


def fixture_fetcher(path: str = FIXTURE_PATH) -> Fetcher:
    """A Fetcher over recorded response JSON (the no-network stand-in
    for ``requests.get(<api>/coins/markets?page=N&per_page=K)``): the
    fixture is a flat array of records tagged with their ``page``, in
    the public CoinGecko `/coins/markets` field shape the reference
    projects (`…optimized.py:161-168`). The file is read once, when the
    fetcher is made."""
    by_page: dict[int, list[dict]] = {}
    for r in _load_fixture(path):
        by_page.setdefault(r.get("page"), []).append(r)

    def fetch(page: int, per_page: int) -> list[dict]:
        return by_page.get(page, [])[:per_page]

    return fetch


def fetch_records(
    fetcher: Fetcher = _default_fetcher,
    pages: int = 1,
    per_page: int = 100,
    schema: T.StructType = COIN_MARKET_SCHEMA,
) -> list[dict]:
    """Driver-side paged extract (the reference's shape): each record
    projected to ``schema``'s fields and type-checked against them the
    way ``createDataFrame`` checks its input (a mistyped value raises
    here, not in a later Spark job)."""
    verify = T._make_type_verifier(schema)
    records: list[dict] = []
    for page in range(1, pages + 1):
        for r in fetcher(page, per_page):
            row = {f.name: r.get(f.name) for f in schema.fields}
            verify(row)
            records.append(row)
    return records


def fetch_to_dataframe(
    spark: SparkSession,
    fetcher: Fetcher = _default_fetcher,
    pages: int = 1,
    per_page: int = 100,
    schema: T.StructType = COIN_MARKET_SCHEMA,
) -> DataFrame:
    """:func:`fetch_records` as a DataFrame."""
    return spark.createDataFrame(fetch_records(fetcher, pages, per_page, schema), schema=schema)


try:  # Spark 4 Python DataSource API
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _PagePartition(InputPartition):
        def __init__(self, page: int, per_page: int):
            self.page = page
            self.per_page = per_page

    class _PagedReader(DataSourceReader):
        def __init__(self, schema: T.StructType, options: dict):
            self.schema_ = schema
            self.pages = int(options.get("pages", 1))
            self.per_page = int(options.get("per_page", 100))
            # options are strings; with no network fetcher registered the
            # records come from a JSON blob (canned_json) or a recorded
            # fixture file readable on the executors (fixture_path)
            self.canned = options.get("canned_json")
            self.fixture_path = options.get("fixture_path")

        def partitions(self) -> list[InputPartition]:
            return [_PagePartition(p, self.per_page) for p in range(1, self.pages + 1)]

        def read(self, partition: _PagePartition) -> Iterator[tuple]:
            if self.canned is not None:
                by_page = json.loads(self.canned)
                records = by_page.get(str(partition.page), [])
            elif self.fixture_path is not None:
                records = fixture_fetcher(self.fixture_path)(partition.page, partition.per_page)
            else:
                records = _default_fetcher(partition.page, partition.per_page)
            for r in records:
                yield tuple(r.get(f.name) for f in self.schema_.fields)

    class PagedRestDataSource(DataSource):
        """`spark.read.format("paged_rest")` — pages as partitions."""

        @classmethod
        def name(cls) -> str:
            return "paged_rest"

        def schema(self) -> T.StructType:
            return COIN_MARKET_SCHEMA

        def reader(self, schema: T.StructType) -> DataSourceReader:
            return _PagedReader(schema, self.options)

    HAS_DATASOURCE_API = True
except ImportError:  # pragma: no cover - older pyspark
    HAS_DATASOURCE_API = False
    PagedRestDataSource = None  # type: ignore[assignment]


def register_rest_source(spark: SparkSession) -> bool:
    """Register the Python DataSource (no-op False on old PySpark)."""
    if not HAS_DATASOURCE_API:
        return False
    spark.dataSource.register(PagedRestDataSource)
    return True
