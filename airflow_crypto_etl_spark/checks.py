"""Declarative data-quality checks (the reference's four validation
mechanisms as first-class operators — SURVEY.md §5).

Great-Expectations-shaped column expectations
(`/root/reference/great_expectations/expectations/coin_data_suite.json:4-39`),
the hard schema contract (`dags/coin_data_pipeline_optimized.py:419-429`),
the SQL quality gates (`:955-989,1055-1123`), and cross-system
reconciliation (`:996-1046`) all become library functions over
DataFrames.

Design: a suite compiles to ONE conditional-count aggregation — a
single pass / single partial+final agg regardless of how many
expectations it contains, versus the reference's one-SELECT-per-check
round-trips. ``run_suite`` returns a tidy report DataFrame; ``enforce``
raises listing every failure (the task-abort behavior) and otherwise
returns the row count the same pass computed.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    """One named predicate; rows where ``cond`` is False (or null) fail."""

    name: str
    cond: Column


def expect_not_null(col: str) -> Expectation:
    return Expectation(f"{col}_not_null", F.col(col).isNotNull())


def expect_positive(col: str) -> Expectation:
    return Expectation(f"{col}_positive", F.col(col) > 0)


def expect_non_negative(col: str) -> Expectation:
    return Expectation(f"{col}_non_negative", F.col(col) >= 0)


def expect_between(col: str, lo, hi) -> Expectation:
    return Expectation(f"{col}_between", F.col(col).between(lo, hi))


def expect_in_set(col: str, values: list) -> Expectation:
    return Expectation(f"{col}_in_set", F.col(col).isin(values))


def expect_unique(cols: list[str]) -> "UniqueExpectation":
    return UniqueExpectation("unique_" + "_".join(cols), cols)


@dataclass(frozen=True)
class UniqueExpectation:
    name: str
    cols: list[str]


class CheckFailure(AssertionError):
    pass


def expect_schema(df: DataFrame, expected: dict[str, str]) -> None:
    """Hard schema contract: exact name→type map (the pyarrow
    ``safe=True`` analog). Raises CheckFailure on drift."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    missing = {k: v for k, v in expected.items() if actual.get(k) != v}
    if missing:
        raise CheckFailure(f"schema contract violated: expected {missing}, got "
                           f"{ {k: actual.get(k) for k in missing} }")


def _suite_agg(df: DataFrame, expectations: list) -> tuple[DataFrame, list[str]]:
    """The suite as ONE wide aggregation row: ``__total`` plus one
    failing-row count per expectation (named by the expectation)."""
    row_exps = [e for e in expectations if isinstance(e, Expectation)]
    uniq_exps = [e for e in expectations if isinstance(e, UniqueExpectation)]
    aggs = [F.count(F.lit(1)).alias("__total")]
    for e in row_exps:
        fail = F.when(e.cond, 0).otherwise(1)  # null cond counts as failure
        aggs.append(F.sum(fail).alias(e.name))
    for e in uniq_exps:
        # NULL policy: a NULL key is a VALUE — two rows with the same
        # all-NULL key are duplicates of each other, but a single
        # NULL-keyed row is not. Bare countDistinct(cols) would drop
        # every tuple containing a NULL (scoring lone NULL rows as
        # duplicates); wrapping in a struct keeps them countable.
        key = F.struct(*[F.col(c) for c in e.cols])
        aggs.append((F.count(F.lit(1)) - F.count_distinct(key)).alias(e.name))
    return df.agg(*aggs), [e.name for e in row_exps + uniq_exps]


def run_suite(df: DataFrame, expectations: list) -> DataFrame:
    """Evaluate all row-level expectations in one aggregation pass;
    uniqueness expectations add one distinct-count each (unavoidable
    extra shuffle, still one job). Returns (check, n_failed, passed)."""
    wide, names = _suite_agg(df, expectations)
    stacked = wide.selectExpr(
        "stack({n}, {pairs}) as (check, n_failed)".format(
            n=len(names), pairs=", ".join(f"'{n}', {n}" for n in names)
        )
    )
    return stacked.withColumn("passed", F.col("n_failed") == 0)


def enforce(df: DataFrame, expectations: list) -> int:
    """Task-abort behavior: raise CheckFailure listing every failed check.
    Returns the row count the suite's aggregation already computed, so a
    caller's row-count gates need no further pass over ``df``."""
    wide, names = _suite_agg(df, expectations)
    row = wide.collect()[0]
    # a sum over zero rows is NULL: an empty frame fails no expectation
    failed = [(n, row[n]) for n in names if row[n]]
    if failed:
        raise CheckFailure("; ".join(f"{n}: {k} failing rows" for n, k in failed))
    return row["__total"]


def reconcile(src: DataFrame, dst: DataFrame, raise_on_mismatch: bool = True) -> tuple[int, int]:
    """Cross-system row-count reconciliation (`…optimized.py:996-1046`)."""
    a, b = src.count(), dst.count()
    if raise_on_mismatch:
        reconcile_counts(a, b)
    return a, b


def reconcile_counts(src_rows: int, dst_rows: int) -> None:
    """:func:`reconcile` over counts the caller already holds."""
    if src_rows != dst_rows:
        raise CheckFailure(f"count reconciliation failed: src={src_rows} dst={dst_rows}")


_GE_TYPE_MAP = {
    "float": {"float", "double", "decimal"},
    "int": {"int", "bigint", "smallint", "tinyint"},
    "str": {"string"},
    "bool": {"boolean"},
    "datetime": {"timestamp", "timestamp_ntz", "date"},
}


def from_great_expectations(df: DataFrame, suite: dict) -> list:
    """Compile a Great-Expectations suite dict (the reference's
    declarative validation format,
    `/root/reference/great_expectations/expectations/coin_data_suite.json`)
    into this library's expectations.

    Structural expectations (column existence, dtype) are checked
    immediately against the schema (raising CheckFailure, the GE
    fail-fast behavior); value expectations are returned for one-pass
    evaluation via :func:`run_suite` / :func:`enforce`."""
    actual_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out: list = []
    for exp in suite.get("expectations", []):
        kind = exp["expectation_type"]
        kw = exp.get("kwargs", {})
        col = kw.get("column")
        if kind == "expect_column_to_exist":
            if col not in actual_types:
                raise CheckFailure(f"column does not exist: {col}")
        elif kind == "expect_column_values_to_be_of_type":
            want = kw["type_"].lower()
            families = _GE_TYPE_MAP.get(want, {want})
            got = actual_types.get(col, "<missing>")
            if not any(got.startswith(f) for f in families):
                raise CheckFailure(f"{col}: expected type {want}, got {got}")
        elif kind == "expect_column_values_to_not_be_null":
            out.append(expect_not_null(col))
        elif kind == "expect_column_values_to_be_greater_than":
            out.append(Expectation(f"{col}_gt_{kw['value']}", F.col(col) > kw["value"]))
        elif kind == "expect_column_values_to_be_between":
            out.append(expect_between(col, kw["min_value"], kw["max_value"]))
        elif kind == "expect_column_values_to_be_in_set":
            out.append(expect_in_set(col, kw["value_set"]))
        elif kind == "expect_column_values_to_be_unique":
            out.append(expect_unique([col]))
        else:
            raise CheckFailure(f"unsupported expectation type: {kind}")
    return out


def load_ge_suite(path: str) -> dict:
    """Load a Great-Expectations suite FILE (the persistent-context
    checkpoint flow the reference configures in
    `/root/reference/great_expectations/great_expectations.yml:27-41` and
    runs via `dags/crypto_etl_datawarehouse_day10.py:70-78`). The suite
    JSON is the declarative artifact; ``from_great_expectations``
    compiles it and ``enforce_ge_suite`` is the checkpoint run."""
    import json

    with open(path) as fh:
        suite = json.load(fh)
    if "expectations" not in suite:
        raise CheckFailure(f"not a GE suite file (no 'expectations'): {path}")
    return suite


def enforce_ge_suite(df: DataFrame, path: str) -> DataFrame:
    """Checkpoint-run semantics: structural expectations fail fast at
    compile, value expectations evaluate in ONE aggregation pass (the
    report is collected once and re-presented as a DataFrame — no second
    scan of ``df``) and raise CheckFailure listing every failed check.
    Returns the tidy report DataFrame on success."""
    exps = from_great_expectations(df, load_ge_suite(path))
    report = run_suite(df, exps)
    rows = report.collect()
    failed = [r for r in rows if not r["passed"]]
    if failed:
        raise CheckFailure(
            "; ".join(f"{r['check']}: {r['n_failed']} failing rows" for r in failed)
        )
    return df.sparkSession.createDataFrame(rows, schema=report.schema)


def freshness(df: DataFrame, partition_col: str, expected_value) -> None:
    """Partition-presence gate (`…optimized.py:1132-1151`): the expected
    partition must exist and be non-empty. Partition pruning makes this
    a metadata-cheap probe on partitioned layouts."""
    if df.filter(F.col(partition_col) == expected_value).isEmpty():
        raise CheckFailure(f"freshness: no rows with {partition_col}={expected_value!r}")
