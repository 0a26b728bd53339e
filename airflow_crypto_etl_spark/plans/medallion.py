"""The medallion pipeline (Bronze → Silver → Gold → serving) as Spark jobs.

Re-expresses the reference's flagship DAG
(`/root/reference/dags/coin_data_pipeline_optimized.py:1243`, 14 Airflow
tasks) as three DataFrame transformation chains parameterized by
``ds`` and a lake root (SURVEY.md §3.4). Airflow (or any scheduler)
stays a thin control plane calling these functions.

Layer contracts (SURVEY.md §1.2):
- Bronze: schema-on-read, verbatim records, partitioned ``dt=``.
- Silver: fixed 6-column contract, hard-enforced
  (``SILVER_CONTRACT``; reference `…optimized.py:20-27`), Parquet.
- Gold: per-(dt, coin) daily metrics (`…optimized.py:795-807`), checked
  against ``GOLD_CONTRACT`` when built.

Per-``ds`` cost is kept to the work the day's rows need:
- Bronze is written once, from the driver: the extracted records are
  already driver-resident, so :func:`bronze_write` publishes them as one
  JSON-lines file (temp file, then rename, through the path's Hadoop
  ``FileSystem``) with no Spark job. Silver is built by reading that
  partition back (:func:`bronze_to_silver`) — the one Bronze → Silver
  path for both :func:`run_pipeline` and the control plane's tasks.
- Silver and Gold are read one partition at a time, by contract:
  :func:`read_layer` scans exactly ``dt=<ds>`` under its declared schema,
  so a read costs no footer-inference job and no table-wide listing (a
  listing that would grow with the lake's history).
- The Gold gates share one aggregation: the suite's row count stands in
  for the reconcile and freshness counts.

Budget: :func:`run_pipeline` runs ≤ 8 Spark jobs per ``ds`` (Bronze
schema inference, the Silver write, the Gold write's map and result
stages, the Gold suite), and the 14-task control-plane day ≤ 26.

Scale: the Silver transform is narrow (no shuffle), the Gold rollup
shuffles one row per (coin, dt) after partial aggregation, and writes
use dynamic partition overwrite for idempotent re-runs.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import checks
from ..operators import aggregate as agg_ops
from ..operators import transform as tf
from ..session import apply_runtime_confs
from ..sinks import writers

BRONZE_COLUMNS = ["id", "symbol", "name", "current_price", "market_cap", "last_updated"]
SILVER_RENAME = {"id": "coin_id", "current_price": "price_usd", "last_updated": "timestamp"}
SILVER_CONTRACT = {
    "coin_id": "string",
    "symbol": "string",
    "name": "string",
    "price_usd": "double",
    "market_cap": "double",
    "timestamp": "timestamp",
}
GOLD_CONTRACT = {
    "coin_id": "string",
    "avg_price_usd": "double",
    "min_price_usd": "double",
    "max_price_usd": "double",
    "avg_market_cap": "double",
    "dt": "string",
}
# layer -> (path under the lake root, contract of the stored rows)
LAYERS = {
    "silver": (("silver", "coins"), {**SILVER_CONTRACT, "dt": "string"}),
    "gold": (("gold", "coins_daily"), GOLD_CONTRACT),
}


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` — the same Hadoop FileSystem
    Spark's readers resolve, so ``s3a://`` lakes work like local ones."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def bronze_ingest(spark: SparkSession, records: list[dict]) -> DataFrame:
    """Bronze from extracted records, in memory (schema-on-read —
    pyspark infers from the JSON structure, nothing enforced)."""
    apply_runtime_confs(spark)
    return spark.read.json(spark.sparkContext.parallelize([json.dumps(r) for r in records]))


def bronze_write(spark: SparkSession, records: list[dict], lake_root: str, ds: str) -> None:
    """K2 — the day's Bronze partition ``bronze/coins/dt=<ds>`` as one
    JSON-lines file of the verbatim records, written from the driver.

    Publication is temp-then-rename: the records go to a ``_``-prefixed
    file (hidden from Spark's readers), the partition's previous files
    are deleted, and the temp file is renamed into place — a reader never
    sees a partial file."""
    fs, part = _hadoop_path(spark, os.path.join(lake_root, "bronze", "coins", f"dt={ds}"))
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    tmp = Path(part, f"_tmp-{uuid.uuid4().hex}.json")
    final = Path(part, "part-00000.json")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray("".join(json.dumps(r) + "\n" for r in records).encode()))
    finally:
        out.close()
    for status in fs.listStatus(part):
        if status.getPath().getName() != tmp.getName():
            fs.delete(status.getPath(), True)
    if not fs.rename(tmp, final):
        raise OSError(f"could not publish Bronze partition {final.toString()}")


def bronze_read(spark: SparkSession, lake_root: str, ds: str | None = None) -> DataFrame:
    """Bronze scan (S3): the partitioned JSON-lines tree, one record per
    line; with ``ds``, only the ``dt=<ds>`` directory is listed and read."""
    apply_runtime_confs(spark)
    root = os.path.join(lake_root, "bronze", "coins")
    if ds is None:
        return spark.read.json(root)
    return spark.read.option("basePath", root).json(os.path.join(root, f"dt={ds}"))


def read_layer(spark: SparkSession, lake_root: str, layer: str, ds: str) -> DataFrame:
    """One ``dt=<ds>`` partition of the ``"silver"`` or ``"gold"`` layer,
    read under the layer's declared schema (``LAYERS``): no schema
    inference and no listing beyond that directory, so building the frame
    runs no Spark job. A missing partition reads as an empty frame of the
    same schema, which the layer's gates then fail."""
    parts, contract = LAYERS[layer]
    root = os.path.join(lake_root, *parts)
    schema = ", ".join(f"`{c}` {t}" for c, t in contract.items())
    fs, part = _hadoop_path(spark, os.path.join(root, f"dt={ds}"))
    if not fs.exists(part):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", root).parquet(part.toString())


def silver_transform(bronze: DataFrame) -> DataFrame:
    """P1+P2+P3+P7 — the Silver contract transform
    (`…optimized.py:401-429`): project 6 of 26, rename, cast
    (string→timestamp, →double), enforce non-null on every field."""
    out = tf.project(bronze, BRONZE_COLUMNS)
    out = tf.rename(out, SILVER_RENAME)
    out = tf.cast_columns(out, {"price_usd": "double", "market_cap": "double"})
    out = out.withColumn("timestamp", F.to_timestamp("timestamp"))
    checks.expect_schema(out, SILVER_CONTRACT)
    return tf.enforce_contract(out, not_null=list(SILVER_CONTRACT))


def silver_write(silver: DataFrame, lake_root: str, ds: str) -> dict:
    """K3+K4+K5 — partitioned, dynamically-overwritten write + sidecar."""
    out = silver.withColumn("dt", F.lit(ds))
    return writers.write_with_sidecar(
        out,
        os.path.join(lake_root, "silver", "coins"),
        ["dt"],
        dataset="coins_silver",
        source=f"bronze/coins/dt={ds}",
        ds=ds,
    )


def bronze_to_silver(spark: SparkSession, lake_root: str, ds: str) -> dict:
    """Silver for ``ds`` from its Bronze partition; returns the sidecar."""
    return silver_write(silver_transform(bronze_read(spark, lake_root, ds)), lake_root, ds)


def gold_build(silver: DataFrame, ds: str) -> DataFrame:
    """A1 — the Gold daily rollup (`…optimized.py:795-807`)."""
    g = agg_ops.gold_daily_metrics(
        silver, keys=["coin_id"], price_col="price_usd", volume_col="market_cap", round_to=None
    )
    gold = g.select(
        "coin_id",
        F.col("avg_price").alias("avg_price_usd"),
        F.col("min_price").alias("min_price_usd"),
        F.col("max_price").alias("max_price_usd"),
        F.col("avg_volume").alias("avg_market_cap"),
        F.lit(ds).alias("dt"),
    )
    checks.expect_schema(gold, GOLD_CONTRACT)
    return gold


def silver_to_gold(spark: SparkSession, lake_root: str, ds: str) -> int:
    """Gold for ``ds`` from its Silver partition, written dt-partitioned;
    returns the rows written (observed during the write)."""
    gold = gold_build(read_layer(spark, lake_root, "silver", ds).drop("dt"), ds)
    return writers.write_counted(gold, os.path.join(lake_root, "gold", "coins_daily"), ["dt"])


def gold_expectations() -> list:
    """The reference's Gold quality gates (`…optimized.py:1055-1123`).
    Built lazily — Column expressions need an active session."""
    return [
        checks.expect_not_null("coin_id"),
        checks.expect_positive("avg_price_usd"),
        checks.expect_non_negative("min_price_usd"),
        checks.expect_non_negative("avg_market_cap"),
        checks.Expectation("max_ge_min", F.col("max_price_usd") >= F.col("min_price_usd")),
        checks.expect_unique(["coin_id", "dt"]),
    ]


def run_pipeline(spark: SparkSession, records: list[dict], lake_root: str, ds: str) -> DataFrame:
    """The full chain for one execution date (the 14-task DAG as three
    jobs + validation; SURVEY.md §3.1). Returns the Gold frame."""
    bronze_write(spark, records, lake_root, ds)
    bronze_to_silver(spark, lake_root, ds)
    written = silver_to_gold(spark, lake_root, ds)
    gold_back = read_layer(spark, lake_root, "gold", ds)
    total = checks.enforce(gold_back, gold_expectations())
    checks.reconcile_counts(total, written)
    if total == 0:  # freshness: this ds's partition must be non-empty
        raise checks.CheckFailure(f"freshness: no rows with dt={ds!r}")
    return gold_back
