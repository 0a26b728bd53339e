"""The reference's 14-task DAG as plain, scheduler-free callables.

The reference chains 14 Airflow tasks
(`/root/reference/dags/coin_data_pipeline_optimized.py:1243`):

    create_tables >> extract >> upload_raw_to_s3
    >> transform_bronze_to_silver >> validate >> load_dim >> load_fact
    >> build_gold_minio >> load_gold_postgres >> validate_gold_row_count
    >> validate_gold_sanity >> validate_gold_freshness
    >> validate_gold_sla >> validate_gold

Here each stage is a plain function taking one ``ctx`` dict (the
engine's analogue of Airflow context + XCom): ``ds`` and ``lake_root``
parameterize every layer job exactly as the reference's templated
``{{ ds }}`` does, ``warehouse_url`` is the serving database (embedded
Derby in tests; any JDBC URL in production), and stages communicate
only through the lake/warehouse plus small ctx entries — so the same
callables run under Airflow's PythonOperator, a cron script, or a
test loop unchanged (``TASKS`` is the ordered chain).

Per-``ds`` cost (see ``medallion``): ``extract`` and ``upload_raw`` run
no Spark job — the records stay on the driver and Bronze is written
from there; every Silver/Gold read is ``medallion.read_layer``, one
``dt=<ds>`` partition under the layer's declared schema, never the
table root. A day of the 14 tasks runs ≤ 26 Spark jobs.

Airflow itself stays optional: :func:`build_dag` (see
``airflow_dag_example``) wraps these same callables when a scheduler
is present.
"""

from __future__ import annotations

from datetime import datetime, time, timedelta, timezone

from pyspark.sql import functions as F

from .. import checks
from ..sinks.jdbc_upsert import (
    append_jdbc,
    create_missing_tables,
    execute_jdbc_statement,
    merge_upsert_jdbc,
)
from ..sources.jdbc import read_jdbc
from ..sources.rest import FIXTURE_PATH, fetch_records, fixture_fetcher
from . import medallion

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def create_tables(ctx: dict) -> None:
    """Stage 1 — serving-layer DDL (reference: SQLAlchemy create_all).
    Idempotent: one connection creates only the tables its metadata
    lacks; existing tables are left in place (re-runs are the DAG norm)
    and keep their DDL — a warehouse created before ``gold_coins_daily``
    declared its primary key stays without it."""
    ddl = {
        "dim_coin": (
            "CREATE TABLE dim_coin ("
            '"coin_id" VARCHAR(64) PRIMARY KEY, "symbol" VARCHAR(32), '
            '"name" VARCHAR(128))'
        ),
        "fact_price": (
            "CREATE TABLE fact_price ("
            '"coin_id" VARCHAR(64), "dt" VARCHAR(10), '
            '"price_usd" DOUBLE, "market_cap" DOUBLE)'
        ),
        "gold_coins_daily": (
            "CREATE TABLE gold_coins_daily ("
            '"coin_id" VARCHAR(64) NOT NULL, "dt" VARCHAR(10) NOT NULL, '
            '"avg_price_usd" DOUBLE, "min_price_usd" DOUBLE, '
            '"max_price_usd" DOUBLE, "avg_market_cap" DOUBLE, '
            # the upsert's conflict target (the reference's ON CONFLICT
            # (coin_id, dt)): without an index on it, each day's MERGE
            # scans the whole table
            'PRIMARY KEY ("coin_id", "dt"))'
        ),
    }
    create_missing_tables(ctx["spark"], ctx["warehouse_url"], ddl)


def extract(ctx: dict) -> None:
    """Stage 2 — S1: paged REST extract, driver-side (fixture-backed in
    this environment; a requests fetcher in prod). The schema-typed
    records stay on the driver for ``upload_raw``: no Spark job."""
    ctx["records"] = fetch_records(
        fixture_fetcher(ctx.get("fixture_path", FIXTURE_PATH)), pages=ctx.get("pages", 1)
    )


def upload_raw(ctx: dict) -> None:
    """Stage 3 — K2: verbatim Bronze JSON, dt-partitioned (the
    reference's upload_raw_to_s3; lake_root plays the bucket), written
    from the driver."""
    medallion.bronze_write(ctx["spark"], ctx["records"], ctx["lake_root"], ctx["ds"])


def transform_bronze_to_silver(ctx: dict) -> None:
    """Stage 4 — the Silver contract transform + partitioned write,
    reading ONLY this ds's Bronze partition."""
    ctx["silver_sidecar"] = medallion.bronze_to_silver(ctx["spark"], ctx["lake_root"], ctx["ds"])


def _silver(ctx: dict):
    return medallion.read_layer(ctx["spark"], ctx["lake_root"], "silver", ctx["ds"])


def validate(ctx: dict) -> None:
    """Stage 5 — the GE-style Silver gates (schema done at transform
    time; here row-level non-null/positivity, hard-fail on violation)."""
    checks.enforce(
        _silver(ctx),
        [
            checks.expect_not_null("coin_id"),
            checks.expect_not_null("timestamp"),
            checks.expect_positive("price_usd"),
            checks.expect_non_negative("market_cap"),
        ],
    )


def load_dim(ctx: dict) -> None:
    """Stage 6 — K7: dim_coin upsert-IGNORE (dims are append-new-keys;
    first writer wins, re-runs are no-ops)."""
    dim = _silver(ctx).select("coin_id", "symbol", "name").dropDuplicates(["coin_id"])
    # createTableColumnTypes: Spark's Derby dialect maps StringType to
    # CLOB, which MERGE cannot compare against the VARCHAR target —
    # pin the staging DDL to VARCHAR
    merge_upsert_jdbc(
        dim,
        ctx["warehouse_url"],
        "dim_coin",
        ["coin_id"],
        update=False,
        driver=DERBY_DRIVER,
        createTableColumnTypes="coin_id VARCHAR(64), symbol VARCHAR(32), name VARCHAR(128)",
    )


def load_fact(ctx: dict) -> None:
    """Stage 7 — K6: fact append (one batch of price observations per
    ds; idempotency guard = delete-this-ds-first, the reference's
    pattern for re-runs)."""
    execute_jdbc_statement(
        ctx["spark"],
        ctx["warehouse_url"],
        f"DELETE FROM fact_price WHERE \"dt\" = '{ctx['ds']}'",
    )
    fact = _silver(ctx).select(
        "coin_id", F.lit(ctx["ds"]).alias("dt"), "price_usd", "market_cap"
    )
    append_jdbc(fact, ctx["warehouse_url"], "fact_price", driver=DERBY_DRIVER)


def build_gold(ctx: dict) -> None:
    """Stage 8 — A1: the Gold daily rollup, written dt-partitioned to
    the lake (the reference's build_gold_minio)."""
    medallion.silver_to_gold(ctx["spark"], ctx["lake_root"], ctx["ds"])


def _gold(ctx: dict):
    return medallion.read_layer(ctx["spark"], ctx["lake_root"], "gold", ctx["ds"])


def load_gold_warehouse(ctx: dict) -> None:
    """Stage 9 — K8: Gold into the serving database, upsert-UPDATE
    (last writer wins so re-runs refresh the serving copy; the
    reference's load_gold_postgres ON CONFLICT DO UPDATE)."""
    merge_upsert_jdbc(
        _gold(ctx).select(
            "coin_id", "dt", "avg_price_usd", "min_price_usd", "max_price_usd", "avg_market_cap"
        ),
        ctx["warehouse_url"],
        "gold_coins_daily",
        ["coin_id", "dt"],
        update=True,
        driver=DERBY_DRIVER,
        createTableColumnTypes="coin_id VARCHAR(64), dt VARCHAR(10)",
    )


def validate_gold_row_count(ctx: dict) -> None:
    """Stage 10 — J2: Gold rows must reconcile 1:1 with Silver's
    distinct coins for the ds."""
    n_gold = _gold(ctx).count()
    n_coins = _silver(ctx).select("coin_id").distinct().count()
    if n_gold != n_coins:
        raise checks.CheckFailure(f"gold rows {n_gold} != distinct coins {n_coins}")


def validate_gold_sanity(ctx: dict) -> None:
    """Stage 11 — the Gold quality gates (positive prices, max≥min,
    unique key)."""
    checks.enforce(_gold(ctx), medallion.gold_expectations())


def validate_gold_freshness(ctx: dict) -> None:
    """Stage 12 — the freshest partition must be this run's ds."""
    checks.freshness(_gold(ctx), "dt", ctx["ds"])


def validate_gold_sla(ctx: dict) -> None:
    """Stage 13 — SLA gate: the run must complete before the deadline
    (09:00 UTC next day in the reference). ``now`` is injected via ctx
    so the gate is testable both ways."""
    ds = datetime.fromisoformat(ctx["ds"]).date()
    deadline = datetime.combine(ds, time(hour=9), tzinfo=timezone.utc) + ctx.get(
        "sla_grace", timedelta(days=1)
    )
    now = ctx.get("now") or datetime.now(timezone.utc)
    if now > deadline:
        raise checks.CheckFailure(f"gold SLA missed: {now} > {deadline}")


def validate_gold(ctx: dict) -> None:
    """Stage 14 — final end-to-end gate: the serving copy (warehouse)
    must value-match the lake's Gold for the ds."""
    back = read_jdbc(
        ctx["spark"],
        url=ctx["warehouse_url"],
        query=f"SELECT * FROM gold_coins_daily WHERE \"dt\" = '{ctx['ds']}'",
        driver=DERBY_DRIVER,
    )
    checks.reconcile(back, _gold(ctx))


TASKS = [
    ("create_tables", create_tables),
    ("extract", extract),
    ("upload_raw", upload_raw),
    ("transform_bronze_to_silver", transform_bronze_to_silver),
    ("validate", validate),
    ("load_dim", load_dim),
    ("load_fact", load_fact),
    ("build_gold", build_gold),
    ("load_gold_warehouse", load_gold_warehouse),
    ("validate_gold_row_count", validate_gold_row_count),
    ("validate_gold_sanity", validate_gold_sanity),
    ("validate_gold_freshness", validate_gold_freshness),
    ("validate_gold_sla", validate_gold_sla),
    ("validate_gold", validate_gold),
]


def run_chain(ctx: dict, tasks=None) -> list[str]:
    """Invoke the chain in order (what the scheduler would do);
    returns the completed task ids."""
    done = []
    for task_id, fn in tasks or TASKS:
        fn(ctx)
        done.append(task_id)
    return done
