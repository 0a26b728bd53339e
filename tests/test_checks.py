"""Check library: suite compiles to one pass, enforce aborts, reconcile
and freshness gates behave like the reference's validations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_crypto_etl_spark import checks
from airflow_crypto_etl_spark.sources.tables import load_table


def test_run_suite_all_pass(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    report = checks.run_suite(
        li,
        [
            checks.expect_not_null("l_orderkey"),
            checks.expect_positive("l_quantity"),
            checks.expect_between("l_discount", 0.0, 1.0),
            checks.expect_in_set("l_returnflag", ["A", "N", "R"]),
        ],
    )
    rows = report.collect()
    assert len(rows) == 4
    assert all(r["passed"] for r in rows)


def test_unique_expectation(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    ok = checks.run_suite(orders, [checks.expect_unique(["o_orderkey"])]).collect()[0]
    assert ok["passed"]
    # lineitem's (orderkey, linenumber) is NOT unique in this dataset —
    # the check must catch that, with the duplicate row count
    li = load_table(spark, sf_dir, "lineitem")
    dup = checks.run_suite(li, [checks.expect_unique(["l_orderkey", "l_linenumber"])]).collect()[0]
    assert not dup["passed"] and dup["n_failed"] > 0


def test_enforce_raises_with_failing_counts(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    with pytest.raises(checks.CheckFailure, match="o_totalprice_between"):
        checks.enforce(orders, [checks.expect_between("o_totalprice", 0, 10)])


def test_enforce_returns_row_count(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    exps = [checks.expect_not_null("o_orderkey"), checks.expect_unique(["o_orderkey"])]
    assert checks.enforce(orders, exps) == orders.count()
    assert checks.enforce(orders.limit(0), exps) == 0  # empty: no failures, zero rows


def test_expect_schema(spark, sf_dir):
    region = load_table(spark, sf_dir, "region")
    checks.expect_schema(region, {"r_regionkey": "int", "r_name": "string"})
    with pytest.raises(checks.CheckFailure):
        checks.expect_schema(region, {"r_regionkey": "bigint"})


def test_reconcile_and_freshness(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    checks.reconcile(orders, orders.select("o_orderkey"))
    with pytest.raises(checks.CheckFailure, match="reconciliation"):
        checks.reconcile(orders, orders.limit(5))
    dated = orders.withColumn("dt", F.date_format("o_orderdate", "yyyy-MM"))
    checks.freshness(dated, "dt", "1995-01")
    with pytest.raises(checks.CheckFailure, match="freshness"):
        checks.freshness(dated, "dt", "2030-01")


def test_unique_expectation_null_keys(spark):
    """NULL keys: a lone NULL-keyed row is NOT a duplicate (round-1
    ADVICE: countDistinct dropped NULL tuples, scoring every NULL row
    as a failure); two identical NULL-keyed rows ARE duplicates."""
    lone = spark.createDataFrame([(1, "a"), (None, "b"), (2, "c")], "k int, v string")
    r = checks.run_suite(lone, [checks.expect_unique(["k"])]).collect()[0]
    assert r["n_failed"] == 0 and r["passed"]

    dup_null = spark.createDataFrame([(None, "a"), (None, "b"), (1, "c")], "k int, v string")
    r = checks.run_suite(dup_null, [checks.expect_unique(["k"])]).collect()[0]
    assert r["n_failed"] == 1 and not r["passed"]
