"""Per-partition lineage + idempotent resume (M6; operators S10/J8).

Reference semantics: checkpoint stores completed chunk ids and skips them
on resume (/root/reference/extraction/kg_extractor/orchestrator.py:484-536,
589-597; disk store checkpoint/disk_store.py:33-128), invalidated when the
config hash changes (config.py:319-336).

Spark rebuild: work unit = conversation hash-bucket
``pmod(xxhash64(conv_id), n_buckets)``.  Completed buckets are recorded in
a ``_lineage`` table ``(partition_id, stage, config_hash, rows, status,
finished_at)``; resume anti-joins pending buckets against completed ones
and re-runs only the rest.  Stage outputs are written with dynamic
partition overwrite per bucket, so a re-run of a bucket is idempotent
(the MERGE INTO analog without an Iceberg catalog).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


LINEAGE_DIR = "lineage"
LINEAGE_SCHEMA = (
    "partition_id int, stage string, config_hash string, rows long, "
    "status string, finished_at double"
)


def _lineage_path(root: str) -> str:
    return os.path.join(root, LINEAGE_DIR)


def read_lineage(spark: SparkSession, root: str) -> DataFrame:
    p = _lineage_path(root)
    if not os.path.exists(p) or not any(
        f.endswith(".parquet") for f in os.listdir(p)
    ):
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return spark.read.parquet(p)


def completed_partitions(
    spark: SparkSession, root: str, stage: str, config_hash: str
) -> set[int]:
    lin = read_lineage(spark, root)
    rows = (
        lin.filter(
            (lin.stage == stage)
            & (lin.config_hash == config_hash)
            & (lin.status == "done")
        )
        .select("partition_id")
        .distinct()
        .collect()
    )
    return {r["partition_id"] for r in rows}


def record_completed(
    root: str, stage: str, config_hash: str, bucket_rows: dict[int, int]
) -> None:
    """Append lineage rows (driver-side; one tiny file per stage run)."""
    if not bucket_rows:
        return
    p = _lineage_path(root)
    os.makedirs(p, exist_ok=True)
    now = time.time()
    pdf = pd.DataFrame(
        {
            "partition_id": list(bucket_rows.keys()),
            "stage": stage,
            "config_hash": config_hash,
            "rows": list(bucket_rows.values()),
            "status": "done",
            "finished_at": now,
        }
    )
    pdf["partition_id"] = pdf["partition_id"].astype("int32")
    pdf["rows"] = pdf["rows"].astype("int64")
    pdf.to_parquet(os.path.join(p, f"lineage-{uuid.uuid4().hex}.parquet"), index=False)


#: sibling of the lineage parquet dir (a non-parquet file inside it
#: would break the spark.read.parquet of the lineage table)
MARKER_DIR = "lineage_markers"


def write_stage_marker(
    root: str, stage: str, config_hash: str, counts: dict[str, int] | None = None
) -> None:
    """Record WHICH config's output currently occupies a stage's tables,
    and the row counts its writes observed.

    Lineage rows are append-only per config hash, but stage outputs are
    last-writer-wins — after a config round-trip (run A, run B, run A)
    the old config's lineage rows still exist while the tables hold the
    other config's data.  The marker is overwritten on every stage
    completion; resume requires marker == this config's hash, so a
    mismatch forces recompute instead of serving another config's
    tables.  The counts let a skipped stage report its tables' sizes
    without re-reading them."""
    d = os.path.join(root, MARKER_DIR)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f"current_{stage}.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"stage": stage, "config_hash": config_hash, "counts": counts}, f)
    os.replace(tmp, _marker_path(root, stage))


def clear_stage_marker(root: str, stage: str) -> None:
    """Drop a stage's marker before its tables are overwritten: a run
    killed mid-overwrite then leaves no marker, and no config can resume
    from the half-written tables."""
    with contextlib.suppress(FileNotFoundError):
        os.remove(_marker_path(root, stage))


def read_stage_marker(root: str, stage: str) -> dict:
    """``{"stage", "config_hash", "counts"}`` of the stage's last
    completion; empty when there is none."""
    p = _marker_path(root, stage)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _marker_path(root: str, stage: str) -> str:
    return os.path.join(root, MARKER_DIR, f"current_{stage}.json")


def write_metrics(root: str, metrics: dict) -> str:
    os.makedirs(root, exist_ok=True)
    p = os.path.join(root, "metrics.json")
    with open(p, "w") as f:
        json.dump(metrics, f, indent=2, default=str)
    return p
