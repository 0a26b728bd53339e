"""Golden replay (SURVEY.md §5c): Bronze→Silver→Gold on the reference's
captured 2026-01-13 snapshot must value-match the captured Silver/Gold
parquet, plus an end-to-end pipeline run on a temp lake."""

from __future__ import annotations

import math

import pytest

from airflow_crypto_etl_spark.plans import medallion

from reference_lake import bronze_records, gold_table, silver_table

DS = "2026-01-13"


@pytest.fixture(scope="module")
def bronze(spark):
    return medallion.bronze_ingest(spark, bronze_records(DS))


def test_silver_golden_replay(spark, bronze):
    silver = medallion.silver_transform(bronze)
    got = {
        r["coin_id"]: r for r in silver.collect()
    }
    expected = silver_table(DS).to_pylist()
    assert len(got) == len(expected) == 100
    for e in expected:
        g = got[e["coin_id"]]
        assert g["symbol"] == e["symbol"] and g["name"] == e["name"]
        assert math.isclose(g["price_usd"], e["price_usd"], rel_tol=1e-12)
        assert math.isclose(g["market_cap"], e["market_cap"], rel_tol=1e-12)
        # captured is tz-aware ns; ours is session-UTC micros
        assert g["timestamp"].replace(tzinfo=None) == e["timestamp"].replace(tzinfo=None)


def test_gold_golden_replay(spark, bronze):
    gold = medallion.gold_build(medallion.silver_transform(bronze), DS)
    got = {r["coin_id"]: r for r in gold.collect()}
    expected = gold_table(DS).to_pylist()
    assert len(got) == len(expected) == 100
    for e in expected:
        g = got[e["coin_id"]]
        for c in ["avg_price_usd", "min_price_usd", "max_price_usd", "avg_market_cap"]:
            assert math.isclose(g[c], e[c], rel_tol=1e-12), (c, g[c], e[c])
        assert g["dt"] == e["dt"] == DS


def test_pipeline_end_to_end(spark, bronze, tmp_path):
    lake = str(tmp_path / "lake")
    gold = medallion.run_pipeline(spark, bronze_records(DS), lake, DS)
    assert gold.count() == 100
    # idempotent re-run (dynamic partition overwrite): same result
    gold2 = medallion.run_pipeline(spark, bronze_records(DS), lake, DS)
    assert gold2.count() == 100
    from airflow_crypto_etl_spark.sinks.writers import read_sidecar

    meta = read_sidecar(f"{lake}/silver/coins")
    assert meta["row_count"] == 100 and meta["schema_version"] == "v1"


def test_pipeline_reconciles_gold_read_back_with_write(spark, tmp_path, monkeypatch):
    """The Gold read-back must hold the rows the write observed: a
    read-back one row short fails the reconcile gate."""
    from airflow_crypto_etl_spark.checks import CheckFailure
    from airflow_crypto_etl_spark.sources import rest

    records = rest.fetch_records(rest.fixture_fetcher(), pages=2)
    read_layer = medallion.read_layer

    def short_gold(spark, lake_root, layer, ds):
        df = read_layer(spark, lake_root, layer, ds)
        return df.filter("coin_id != 'bitcoin'") if layer == "gold" else df

    monkeypatch.setattr(medallion, "read_layer", short_gold)
    with pytest.raises(CheckFailure, match="count reconciliation failed: src=9 dst=10"):
        medallion.run_pipeline(spark, records, str(tmp_path / "lake"), DS)


def test_contract_enforcement_aborts_on_bad_rows(spark, bronze):
    import pyspark.sql.functions as F
    from py4j.protocol import Py4JJavaError

    bad = bronze.withColumn(
        "current_price", F.when(F.col("id") == "bitcoin", None).otherwise(F.col("current_price"))
    )
    silver = medallion.silver_transform(bad)
    with pytest.raises(Exception) as exc:
        silver.collect()
    assert "must not be null" in str(exc.value)


GE_SUITE = "/root/reference/great_expectations/expectations/coin_data_suite.json"
GE_CHECKPOINT_SUITE = "/root/reference/great_expectations/checkpoints/coin_data_checkpoint.yml"


def test_ge_suite_file_checkpoint_on_silver(spark, bronze):
    """The captured GE suite file, compiled and enforced on the replayed
    Silver snapshot — the reference's persistent-context checkpoint flow
    (`great_expectations.yml:27-41`, `crypto_etl_datawarehouse_day10.py:70-78`)
    driven from the suite FILE, not hand-written expectations."""
    import os

    from airflow_crypto_etl_spark import checks

    if not os.path.exists(GE_SUITE):
        pytest.skip("reference GE suite not available")
    silver = medallion.silver_transform(bronze)
    report = checks.enforce_ge_suite(silver, GE_SUITE).collect()
    assert report and all(r["passed"] for r in report)
    names = {r["check"] for r in report}
    assert {"coin_id_not_null", "timestamp_not_null", "price_usd_gt_0", "market_cap_gt_0"} <= names


def test_ge_checkpoint_suite_type_gate(spark, bronze):
    """The (misnamed) checkpoint-dir suite declares market_cap as int —
    the warehouse DDL's type. Against double Silver it must fail fast;
    against the warehouse-shaped cast it passes."""
    import os

    import pyspark.sql.functions as F

    from airflow_crypto_etl_spark import checks

    if not os.path.exists(GE_CHECKPOINT_SUITE):
        pytest.skip("reference GE checkpoint suite not available")
    silver = medallion.silver_transform(bronze)
    with pytest.raises(checks.CheckFailure, match="market_cap"):
        checks.enforce_ge_suite(silver, GE_CHECKPOINT_SUITE)
    warehouse_shaped = silver.withColumn("market_cap", F.col("market_cap").cast("bigint"))
    report = checks.enforce_ge_suite(warehouse_shaped, GE_CHECKPOINT_SUITE).collect()
    assert report and all(r["passed"] for r in report)


def test_json_quarantine_splits_good_and_malformed(spark, tmp_path):
    """PERMISSIVE Bronze ingest: parseable lines land typed, malformed
    lines (broken JSON, wrong shape) are quarantined verbatim, nothing
    is silently dropped, and FAILFAST on the same file raises — the
    contrast that justifies the quarantine path."""
    from pyspark.sql import types as T

    from airflow_crypto_etl_spark.sources.tables import read_json_with_quarantine

    p = tmp_path / "bronze.jsonl"
    lines = [
        '{"id": 1, "price": 10.5}',
        '{"id": 2, "price": 20.25}',
        '{"id": 3, "price": }',          # broken JSON
        'not json at all',               # garbage line
        '{"id": 4, "price": 40.0}',
    ]
    p.write_text("\n".join(lines) + "\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("price", T.DoubleType())]
    )
    good, bad = read_json_with_quarantine(spark, str(p), schema)
    good_rows = {r["id"]: r["price"] for r in good.collect()}
    assert good_rows == {1: 10.5, 2: 20.25, 4: 40.0}
    raw = sorted(r["raw_line"] for r in bad.collect())
    assert raw == sorted([lines[2], lines[3]])
    # conservation: every input line is either typed or quarantined
    assert good.count() + bad.count() == len(lines)

    # FAILFAST is the no-quarantine alternative: it must abort
    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.read.schema(schema).option("mode", "FAILFAST").json(str(p)).collect()
