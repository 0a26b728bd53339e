"""JDBC serving-layer writers with upsert semantics (K6-K8).

The reference loads Postgres three ways (SURVEY.md §2.2): row-by-row
INSERT (`/root/reference/dags/crypto_etl_dag.py:103-107`), batched
upsert-ignore (`dags/coin_data_pipeline_optimized.py:578-589,652-683`)
and batched upsert-update (`:884-941`), all via psycopg2
``execute_values(page_size=1000)``.

Spark has no native JDBC upsert, so the engine offers:

1. ``append_jdbc`` — plain ``df.write.jdbc`` with batchsize (replaces
   K6; Spark batches inserts per partition, the reference's
   "optimized" batching for free).
2. ``upsert_foreach_partition`` — executor-side ``ON CONFLICT`` batches
   via psycopg2, one connection per partition, ``execute_values``-style
   paging. This is the real serving-layer path; it is import-gated
   because the driver image has no psycopg2/Postgres (the SQL-building
   and row-batching logic is pure-Python and unit-tested without a DB).
3. Logical fallback: resolve conflicts in Spark first
   (operators.upsert.upsert_ignore/upsert_update) and append the
   winners — exactly-once per key when the target starts empty.

Scale: per-partition connections mean write parallelism ==
``df.rdd.getNumPartitions()``; coalesce to what the database can absorb
(the 1000-row page is the reference's constant; here it's an argument).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, Row

try:
    import psycopg2  # noqa: F401
    from psycopg2.extras import execute_values  # noqa: F401

    HAS_PSYCOPG2 = True
except ImportError:
    HAS_PSYCOPG2 = False


def append_jdbc(df: DataFrame, url: str, table: str, batchsize: int = 1000, **options) -> None:
    """K6 — append via Spark's JDBC writer (batched per partition)."""
    (
        df.write.mode("append")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .options(**options)
        .save()
    )


_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_$]*(\.[A-Za-z_][A-Za-z0-9_$]*)?$")


def _ident(name: str) -> str:
    """Validate an identifier (optionally schema-qualified) before it is
    interpolated into SQL text. Names come from DataFrame columns and
    caller config, which can be externally sourced — a quote or space
    would break the statement or open an injection surface (round-1
    ADVICE). Strict allowlist beats quoting: these are warehouse
    tables/columns, not arbitrary labels."""
    if not _IDENT_RE.match(name):
        raise ValueError(f"unsafe SQL identifier: {name!r}")
    return name


def build_upsert_sql(
    table: str,
    columns: list[str],
    conflict_cols: list[str],
    update: bool,
    paramstyle: str = "values",
) -> str:
    """The ON CONFLICT statement the executor batches rows into —
    upsert-ignore (`…optimized.py:669`) or upsert-update (`:923-933`).
    All identifiers are validated against a strict pattern first.

    ``paramstyle`` selects the placeholder dialect:

    - ``"values"`` — psycopg2 ``execute_values`` (one ``%s`` the helper
      expands into a multi-row VALUES list), the reference's exact shape;
    - ``"qmark"`` — DBAPI ``executemany`` with one ``?`` per column
      (DuckDB, SQLite, most JDBC-ish drivers).
    """
    table = _ident(table)
    columns = [_ident(c) for c in columns]
    conflict_cols = [_ident(c) for c in conflict_cols]
    collist = ", ".join(columns)
    conflict = ", ".join(conflict_cols)
    if update:
        sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in columns if c not in conflict_cols)
        action = f"DO UPDATE SET {sets}"
    else:
        action = "DO NOTHING"
    if paramstyle == "values":
        values = "%s"
    elif paramstyle == "qmark":
        values = "(" + ", ".join("?" for _ in columns) + ")"
    else:
        raise ValueError(f"unknown paramstyle: {paramstyle!r}")
    return f"INSERT INTO {table} ({collist}) VALUES {values} ON CONFLICT ({conflict}) {action}"


def build_merge_sql(
    table: str, staging: str, columns: list[str], conflict_cols: list[str], update: bool
) -> str:
    """ANSI MERGE from a staged batch table into the serving table —
    the engine-portable twin of Postgres ON CONFLICT (same semantics:
    ``update=False`` = insert-if-absent / DO NOTHING, ``update=True`` =
    last-writer-wins / DO UPDATE). Runs on Derby, DB2, Oracle, SQL
    Server, and Postgres 15+. Identifiers validated like
    :func:`build_upsert_sql`."""
    # Columns are double-quoted (case-exact): Spark's JDBC writer
    # creates staging columns QUOTED with the DataFrame's exact names,
    # so an unquoted reference would fold case and miss them. Table
    # names stay unquoted — Spark emits CREATE TABLE <name> verbatim,
    # so the database's case folding applies consistently on both ends.
    table = _ident(table)
    staging = _ident(staging)
    cols = [f'"{_ident(c)}"' for c in columns]
    conflict = [f'"{_ident(c)}"' for c in conflict_cols]
    on = " AND ".join(f"t.{c} = s.{c}" for c in conflict)
    collist = ", ".join(cols)
    vals = ", ".join(f"s.{c}" for c in cols)
    matched = ""
    if update:
        sets = ", ".join(f"t.{c} = s.{c}" for c in cols if c not in conflict)
        matched = f" WHEN MATCHED THEN UPDATE SET {sets}"
    return (
        f"MERGE INTO {table} t USING {staging} s ON {on}{matched}"
        f" WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({vals})"
    )


@contextmanager
def _driver_connection(spark, url: str):
    """A driver-side JDBC connection (the Spark JVM already holds the
    JDBC driver — same classpath the reader/writer use), closed on exit."""
    conn = spark.sparkContext._jvm.java.sql.DriverManager.getConnection(url)
    try:
        yield conn
    finally:
        conn.close()


def _execute(conn, sql: str) -> int:
    st = conn.createStatement()
    try:
        return st.executeUpdate(sql)
    finally:
        st.close()


def execute_jdbc_statement(spark, url: str, sql: str) -> int:
    """Run one DDL/DML statement over a driver-side JDBC connection.
    Returns the update count."""
    with _driver_connection(spark, url) as conn:
        return _execute(conn, sql)


def create_missing_tables(spark, url: str, ddl: dict[str, str]) -> None:
    """Run the ``CREATE TABLE`` statement of each table in ``ddl``
    (table name -> statement) that the connection's current schema does
    not list in ``DatabaseMetaData.getTables``, over one driver-side
    connection. Existing tables are left as they are."""
    with _driver_connection(spark, url) as conn:
        rs = conn.getMetaData().getTables(None, conn.getSchema(), None, None)
        existing = set()
        try:
            while rs.next():
                # unquoted identifiers fold to one case, which differs by database
                existing.add(rs.getString("TABLE_NAME").lower())
        finally:
            rs.close()
        for table, stmt in ddl.items():
            if table.lower() not in existing:
                _execute(conn, stmt)


def merge_upsert_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    conflict_cols: list[str],
    update: bool = False,
    staging: str | None = None,
    batchsize: int = 1000,
    **options,
) -> int:
    """K7/K8 executed LIVE without psycopg2: stage-then-merge.

    The batch is written to a staging table with Spark's parallel JDBC
    writer (overwrite: drop+create), then ONE set-based MERGE resolves
    conflicts inside the database and the staging table is dropped.
    This is the warehouse-native upsert shape at scale — conflict
    resolution is a single statement over the staged batch, not
    per-row round-trips — and it matches the reference's ON CONFLICT
    semantics (`/root/reference/dags/coin_data_pipeline_optimized.py:884-941`).

    The batch must be conflict-free WITHIN itself on ``conflict_cols``
    (MERGE raises on multiple source matches per target row — the
    standard precondition); dedupe first with operators.upsert if
    needed. Returns the MERGE update count.
    """
    staging = _ident(staging or f"{table}_stg")
    (
        df.write.mode("overwrite")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", staging)
        .option("batchsize", str(batchsize))
        .options(**options)
        .save()
    )
    spark = df.sparkSession
    sql = build_merge_sql(table, staging, df.columns, conflict_cols, update)
    try:
        return execute_jdbc_statement(spark, url, sql)
    finally:
        execute_jdbc_statement(spark, url, f"DROP TABLE {staging}")


class DuckDBConnectionFactory:
    """Zero-arg DBAPI connection factory for
    :func:`upsert_foreach_partition` targeting a DuckDB file — the
    in-sandbox live serving database (Postgres-style ON CONFLICT,
    reachable from Python workers, unlike embedded-JVM Derby). Defined
    in the package, not the caller's module, so executors unpickle it
    by reference. DuckDB files take one writer process at a time —
    pass ``max_parallel=1``."""

    def __init__(self, path: str):
        self.path = path

    def __call__(self):
        import duckdb

        return duckdb.connect(self.path)


def batch_rows(rows: Iterator[Row], page_size: int) -> Iterator[list[tuple]]:
    """Page an iterator of rows into execute_values-sized batches."""
    page: list[tuple] = []
    for r in rows:
        page.append(tuple(r))
        if len(page) >= page_size:
            yield page
            page = []
    if page:
        yield page


def upsert_foreach_partition(
    df: DataFrame,
    dsn: str,
    table: str,
    conflict_cols: list[str],
    update: bool = False,
    page_size: int = 1000,
    max_parallel: int | None = None,
    connection_factory=None,
    paramstyle: str | None = None,
) -> None:
    """K7/K8 — executor-side batched upsert. One connection per
    partition; ``max_parallel`` coalesces first so the database sees a
    bounded connection count regardless of cluster size.

    Dialect-pluggable (r4 verdict item 1): by default the psycopg2
    ``execute_values`` path — the reference's exact mechanism
    (`/root/reference/dags/coin_data_pipeline_optimized.py:578-589,935`).
    Pass ``connection_factory`` (a picklable zero-arg callable returning
    a DBAPI connection; it is cloudpickled to the executors) plus
    ``paramstyle="qmark"`` for any DBAPI target with Postgres-style ON
    CONFLICT — DuckDB is the in-sandbox live target
    (`tests/test_jdbc_live.py`). Derby itself can't play this role: it
    is embedded-JVM-only, unreachable from Python workers — its MERGE
    twin is exercised live via :func:`merge_upsert_jdbc` instead.
    """
    if connection_factory is None and not HAS_PSYCOPG2:
        raise NotImplementedError(
            "psycopg2 not available in this environment; pass connection_factory "
            "(DBAPI) or use the logical upsert (operators.upsert) + append_jdbc"
        )
    columns = df.columns
    style = paramstyle or ("values" if connection_factory is None else "qmark")
    sql = build_upsert_sql(table, columns, conflict_cols, update, paramstyle=style)
    if max_parallel:
        df = df.coalesce(max_parallel)

    def write_partition(rows: Iterator[Row]) -> None:
        if connection_factory is None:
            import psycopg2
            from psycopg2.extras import execute_values

            conn = psycopg2.connect(dsn)
            try:
                with conn, conn.cursor() as cur:
                    for page in batch_rows(rows, page_size):
                        execute_values(cur, sql, page, page_size=page_size)
            finally:
                conn.close()
            return
        conn = connection_factory()
        try:
            cur = conn.cursor()
            for page in batch_rows(rows, page_size):
                cur.executemany(sql, page)
            conn.commit()
        finally:
            conn.close()

    df.foreachPartition(write_partition)
