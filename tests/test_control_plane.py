"""The reference's 14-task DAG chain executed end-to-end as plain
callables (no scheduler) — r4 verdict item 8: prove the layer-job
parameterization (ds, lake root, warehouse URL) carries the whole
sequence, and that re-running the chain for the same ds is idempotent
where the reference's semantics say it must be (dim ignore, fact
delete+append, gold update)."""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from airflow_crypto_etl_spark.checks import CheckFailure
from airflow_crypto_etl_spark.plans import control_plane as cp
from airflow_crypto_etl_spark.plans import medallion
from airflow_crypto_etl_spark.sinks import writers
from airflow_crypto_etl_spark.sources.jdbc import read_jdbc

DS = "2026-01-13"


@pytest.fixture(scope="module")
def ctx(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("controlplane")
    return {
        "spark": spark,
        "ds": DS,
        "lake_root": str(base / "lake"),
        "warehouse_url": f"jdbc:derby:{base / 'warehouse_db'};create=true",
        # fixed clock inside the SLA window so the gate passes deterministically
        "now": datetime(2026, 1, 14, 8, 0, tzinfo=timezone.utc),
    }


def test_full_14_stage_chain(ctx):
    done = cp.run_chain(ctx)
    assert done == [t for t, _ in cp.TASKS] and len(done) == 14


def test_chain_is_rerunnable_for_same_ds(ctx):
    """Second run of the same ds: dims unchanged (upsert-ignore), fact
    not doubled (delete+append), gold refreshed in place (upsert-update),
    every validation still green."""
    first_dim = read_jdbc(
        ctx["spark"], url=ctx["warehouse_url"], table="dim_coin", driver=cp.DERBY_DRIVER
    ).count()
    first_fact = read_jdbc(
        ctx["spark"], url=ctx["warehouse_url"], table="fact_price", driver=cp.DERBY_DRIVER
    ).count()
    done = cp.run_chain(ctx)
    assert len(done) == 14
    assert (
        read_jdbc(
            ctx["spark"], url=ctx["warehouse_url"], table="dim_coin", driver=cp.DERBY_DRIVER
        ).count()
        == first_dim
    )
    assert (
        read_jdbc(
            ctx["spark"], url=ctx["warehouse_url"], table="fact_price", driver=cp.DERBY_DRIVER
        ).count()
        == first_fact
    )
    gold = read_jdbc(
        ctx["spark"], url=ctx["warehouse_url"], table="gold_coins_daily", driver=cp.DERBY_DRIVER
    )
    assert gold.count() == first_dim  # one gold row per coin per ds


def test_sla_gate_fails_after_deadline(ctx):
    late = dict(ctx, now=datetime(2026, 1, 15, 9, 1, tzinfo=timezone.utc))
    with pytest.raises(Exception, match="SLA"):
        cp.validate_gold_sla(late)


def test_chain_parameterizes_by_ds(ctx):
    """A second execution date flows through the same callables into
    its own partitions and serving rows (the {{ ds }} contract)."""
    ds2 = "2026-01-14"
    ctx2 = dict(ctx, ds=ds2, now=datetime(2026, 1, 15, 8, 0, tzinfo=timezone.utc))
    done = cp.run_chain(ctx2)
    assert len(done) == 14
    gold = read_jdbc(
        ctx["spark"], url=ctx["warehouse_url"], table="gold_coins_daily", driver=cp.DERBY_DRIVER
    )
    dts = {r[0] for r in gold.select("dt").distinct().collect()}
    assert dts == {DS, ds2}


# --- one multi-page day, end to end ------------------------------------------

DAY = "2026-02-02"
N_PAGES, PER_PAGE, N_REPEATED = 4, 20, 10


def _jobs_in_group(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` submits, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _fixture_day(path) -> list[dict]:
    """N_PAGES pages of PER_PAGE CoinGecko-shaped records; the last
    N_REPEATED records observe coins from page 1 a second time."""
    records = []
    for i in range(N_PAGES * PER_PAGE):
        c = i if i < N_PAGES * PER_PAGE - N_REPEATED else i - (N_PAGES - 1) * PER_PAGE
        records.append(
            {
                "page": i // PER_PAGE + 1,
                "id": f"coin-{c:03d}",
                "symbol": f"c{c}",
                "name": f"Coin {c}",
                "current_price": 1.5 + i,
                "market_cap": 1e6 + i,
                "last_updated": f"{DAY}T{i % 24:02d}:00:00.000Z",
            }
        )
    path.write_text(json.dumps(records))
    return records


@pytest.fixture(scope="module")
def day(spark, tmp_path_factory):
    """The 14 tasks over a fresh lake and warehouse for one multi-page
    day, with the Spark jobs the day ran."""
    base = tmp_path_factory.mktemp("multipage")
    records = _fixture_day(base / "day.json")
    ctx = {
        "spark": spark,
        "ds": DAY,
        "lake_root": str(base / "lake"),
        "warehouse_url": f"jdbc:derby:{base / 'warehouse_db'};create=true",
        "fixture_path": str(base / "day.json"),
        "pages": N_PAGES,
        "now": datetime(2026, 2, 3, 8, 0, tzinfo=timezone.utc),
    }
    jobs = _jobs_in_group(spark, "test.run_chain", lambda: cp.run_chain(ctx))
    return ctx, records, jobs


def _table(ctx, name):
    return read_jdbc(ctx["spark"], url=ctx["warehouse_url"], table=name, driver=cp.DERBY_DRIVER)


def test_multi_page_day_keeps_every_record(day):
    """Every extracted record reaches Silver and the fact table, and
    every coin reaches Gold and the serving copy (Bronze JSON lines
    once read back as one record per file)."""
    ctx, records, _ = day
    n_coins = len({r["id"] for r in records})
    bronze = os.path.join(ctx["lake_root"], "bronze", "coins", f"dt={DAY}")
    assert [f for f in os.listdir(bronze) if not f.startswith((".", "_"))] == ["part-00000.json"]
    assert len(records) == N_PAGES * PER_PAGE and n_coins == len(records) - N_REPEATED
    assert medallion.read_layer(ctx["spark"], ctx["lake_root"], "silver", DAY).count() == len(records)
    assert medallion.read_layer(ctx["spark"], ctx["lake_root"], "gold", DAY).count() == n_coins
    assert _table(ctx, "fact_price").filter(F.col("dt") == DAY).count() == len(records)
    assert _table(ctx, "gold_coins_daily").filter(F.col("dt") == DAY).count() == n_coins
    assert _table(ctx, "dim_coin").count() == n_coins


def test_day_job_budget(spark, day, tmp_path):
    """Spark jobs per ds: the 14-task day, run_pipeline, and building a
    layer frame (which must run none)."""
    ctx, records, chain_jobs = day
    assert chain_jobs <= 26
    lake = str(tmp_path / "lake")
    fetched = cp.fetch_records(cp.fixture_fetcher(ctx["fixture_path"]), pages=N_PAGES)
    assert (
        _jobs_in_group(spark, "test.run_pipeline", lambda: medallion.run_pipeline(spark, fetched, lake, DAY))
        <= 8
    )
    for layer in ("silver", "gold"):
        for ds in (DAY, "2030-01-01"):
            assert _jobs_in_group(
                spark, f"test.read_layer.{layer}.{ds}", lambda: medallion.read_layer(spark, lake, layer, ds)
            ) == 0


def test_gold_table_keyed_on_coin_and_dt(day):
    """A fresh warehouse declares gold_coins_daily's upsert target as
    its primary key."""
    ctx = day[0]
    jvm = ctx["spark"].sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(ctx["warehouse_url"])
    try:
        rs = conn.getMetaData().getPrimaryKeys(None, None, "GOLD_COINS_DAILY")
        keys = {}
        while rs.next():
            keys[rs.getShort("KEY_SEQ")] = rs.getString("COLUMN_NAME")
    finally:
        conn.close()
    assert [keys[k] for k in sorted(keys)] == ["coin_id", "dt"]


def test_missing_partition_reads_empty_and_fails_freshness(day):
    ctx = dict(day[0], ds="2030-01-01")
    for layer, (_, contract) in medallion.LAYERS.items():
        df = medallion.read_layer(ctx["spark"], ctx["lake_root"], layer, ctx["ds"])
        assert {f.name: f.dataType.simpleString() for f in df.schema.fields} == contract
        assert df.count() == 0
    with pytest.raises(CheckFailure, match="freshness"):
        cp.validate_gold_freshness(ctx)


def test_gates_fail_on_bad_partitions(day):
    """Each gate raises CheckFailure on a failing day: Silver rows with a
    negative price and a duplicate coin, Gold rows duplicated with
    max < min, and no serving rows for the ds."""
    ctx = dict(day[0], ds="2026-02-09")
    spark, lake = ctx["spark"], ctx["lake_root"]
    silver = spark.createDataFrame(
        [("a", "a", "A", -1.0, 5.0, datetime(2026, 2, 9)), ("a", "a", "A", 2.0, 5.0, datetime(2026, 2, 9))],
        ", ".join(f"{c} {t}" for c, t in medallion.SILVER_CONTRACT.items()),
    ).withColumn("dt", F.lit(ctx["ds"]))
    writers.write_partitioned(silver, f"{lake}/silver/coins", ["dt"])
    gold = spark.createDataFrame(
        [("a", 2.0, 3.0, 1.0, 5.0, ctx["ds"])] * 2,
        ", ".join(f"{c} {t}" for c, t in medallion.GOLD_CONTRACT.items()),
    )
    writers.write_partitioned(gold, f"{lake}/gold/coins_daily", ["dt"])
    with pytest.raises(CheckFailure, match="price_usd_positive"):
        cp.validate(ctx)
    with pytest.raises(CheckFailure, match="max_ge_min.*unique_coin_id_dt"):
        cp.validate_gold_sanity(ctx)
    with pytest.raises(CheckFailure, match="gold rows 2 != distinct coins 1"):
        cp.validate_gold_row_count(ctx)
    with pytest.raises(CheckFailure, match="reconciliation"):
        cp.validate_gold(ctx)
    bronze = spark.createDataFrame(
        [(1, "a", "A", 1.0, 1.0, "2026-02-09T00:00:00Z")],
        "id bigint, symbol string, name string, current_price double, market_cap double, last_updated string",
    )
    with pytest.raises(CheckFailure, match="schema contract"):
        medallion.silver_transform(bronze)
