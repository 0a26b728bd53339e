"""Airflow as the thin control plane (BASELINE.json spark_approach:
"Airflow schedules Spark ETL jobs").

The reference embeds ALL dataflow inside 14 Airflow task callables
(`/root/reference/dags/coin_data_pipeline_optimized.py:1243`); here
Airflow only sequences three engine entry points parameterized by the
templated execution date — the dataflow lives in
``airflow_crypto_etl_spark.plans.medallion`` and runs distributed.

Import-gated: Airflow is not installed in this environment; this module
documents and type-checks the integration without importing it at
module scope. In production, place this file in dags/ unchanged.
"""

from __future__ import annotations


def build_dag():  # pragma: no cover - requires airflow at runtime
    from airflow import DAG
    from airflow.operators.python import PythonOperator
    from datetime import datetime, timedelta

    from airflow_crypto_etl_spark.plans import medallion
    from airflow_crypto_etl_spark.session import get_spark

    LAKE = "s3a://crypto-lake"

    def _extract(**ctx):
        # production: sources.rest.fetch_records with a requests-backed
        # fetcher; records land in Bronze via medallion.bronze_write
        raise NotImplementedError("inject a fetcher (see sources.rest)")

    def _silver(ds: str, **ctx):
        medallion.bronze_to_silver(get_spark("silver-build"), LAKE, ds)

    def _gold(ds: str, **ctx):
        medallion.silver_to_gold(get_spark("gold-build"), LAKE, ds)

    with DAG(
        "coin_medallion_spark",
        schedule_interval="@daily",
        start_date=datetime(2026, 1, 1),
        catchup=False,
        default_args={"retries": 2, "retry_delay": timedelta(minutes=5)},
    ) as dag:
        extract = PythonOperator(task_id="extract", python_callable=_extract)
        silver = PythonOperator(task_id="silver", python_callable=_silver, op_kwargs={"ds": "{{ ds }}"})
        gold = PythonOperator(task_id="gold", python_callable=_gold, op_kwargs={"ds": "{{ ds }}"})
        extract >> silver >> gold
    return dag
