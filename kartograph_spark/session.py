"""SparkSession factory tuned for the KG-construction workload.

Scale posture (design target: 1000-executor cluster / 100 TB transcripts;
sandbox: local[32] single JVM):

- AQE on: runtime partition coalescing + skew-join splitting cover the
  hot-entity / long-conversation skew the reference handled by hand
  (chunk binary-split, /root/reference/extraction/kg_extractor/orchestrator.py:637-687).
- Arrow enabled: every extraction UDF is pandas/Arrow-vectorized
  (input_hint: no per-row Python).
- shuffle.partitions sized by caller; on a real cluster set ~2-3x total
  cores and let AQE coalesce down.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "kartograph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster you'd omit it and launch via spark-submit --py-files.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # 32 MB scan splits: a scan must never be narrower than the core
        # count just because files are large relative to the corpus (the
        # single-digit-GB local case); on a 100 TB table either value
        # yields thousands of splits, so the smaller one costs nothing.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, pdf, schema: str | StructType) -> DataFrame:
    """A driver-built pandas frame as a JVM local relation.

    ``createDataFrame`` on a list of rows, or on an EMPTY pandas frame,
    yields a Python-worker-backed RDD (``applySchemaToPythonRDD``) that
    every plan broadcasting the frame re-runs on Python workers.  An
    Arrow table always becomes a ``LocalTableScan``, and an empty one
    lets the optimizer drop a left join against it outright.
    """
    import pyarrow as pa

    return spark.createDataFrame(pa.Table.from_pandas(pdf, preserve_index=False), schema)
