"""Sink operators (SURVEY.md §2.2).

The reference writes CSV/JSON/Parquet objects by hand through in-memory
buffers and implements atomic partition publish as a tmp-key dance
(`/root/reference/dags/coin_data_pipeline_optimized.py:392-456`).
Spark-first equivalents:

- K1-K3: declarative ``df.write`` with ``partitionBy`` — the committer
  stages task outputs and publishes atomically per job.
- K4: ``partitionOverwriteMode=dynamic`` replaces exactly the partitions
  present in the output — idempotent re-runs, no tmp-key copying, and
  untouched partitions are never rewritten (at 100 TB, rewriting a
  whole table for one day's partition is the difference between minutes
  and days). Cross-job multi-reader ACID would use Delta/Iceberg (jars
  not in this image — gated).
- K5: the ``_metadata.json`` partition sidecar, written driver-side
  after the job (row count comes from the write's observed metrics, not
  an extra count() scan).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

SCHEMA_VERSION = "v1"


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """K3/K4 — partitioned columnar write with dynamic partition
    overwrite (session conf asserts it; see session.RUNTIME_CONFS)."""
    df.write.mode(mode).partitionBy(*partition_cols).format(fmt).save(path)


def write_counted(df: DataFrame, path: str, partition_cols: list[str]) -> int:
    """:func:`write_partitioned`, returning the rows written. The count
    is captured via an Observation during the write itself — zero extra
    passes."""
    obs = Observation("rows_written")
    write_partitioned(df.observe(obs, F.count(F.lit(1)).alias("rows")), path, partition_cols)
    return obs.get["rows"]


def write_with_sidecar(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    dataset: str,
    source: str,
    ds: str | None = None,
) -> dict:
    """K3+K5 — partitioned write plus the reference's `_metadata.json`
    sidecar {dataset, schema_version, execution_date, row_count, source,
    created_at} (`…optimized.py:459-477`). The row count comes from
    :func:`write_counted`."""
    meta = {
        "dataset": dataset,
        "schema_version": SCHEMA_VERSION,
        "execution_date": ds,
        "row_count": write_counted(df, path, partition_cols),
        "source": source,
        "created_at": datetime.now(timezone.utc).isoformat(),
        "columns": [f.name for f in df.schema.fields],
    }
    # NOT "_metadata.json": Spark's parquet reader treats files named
    # _metadata* as parquet summary files and fails reading the table.
    # Other _-prefixed names are ignored by file listing, as intended.
    sidecar = os.path.join(path, "_sidecar.json")
    with open(sidecar, "w") as fh:  # local/posix lake; S3A via hadoop fs API if remote
        json.dump(meta, fh, indent=2)
    return meta


def read_sidecar(path: str) -> dict:
    with open(os.path.join(path, "_sidecar.json")) as fh:
        return json.load(fh)
