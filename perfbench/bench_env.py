"""Spark session set-up and tear-down for a benchmark run.  Everything the
JVM, the Python workers and DuckDB write goes under the run's work
directory inside the checkout."""

from __future__ import annotations

import os
import subprocess
import time

#: driver heap: far below physical RAM (``get_spark`` defaults to 16g)
DRIVER_MEM = "2g"

#: fixed warm-up query: the first job, code generation and a shuffle
WARM_UP_ROWS = 100_000


def cores() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up counts too)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    # the start time counts clock ticks since boot
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def configure(root: str, work: str) -> None:
    """Environment for a Spark JVM started from this process."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    n = str(cores())
    os.environ.update(
        {
            # Python workers import kartograph_spark from the checkout
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_GRAFT_CPUS": n,
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
        }
    )


def start_spark(work: str):
    """``get_spark`` at local[N], N = usable cores, shuffle partitions 2N,
    then the warm-up query."""
    from kartograph_spark.session import get_spark

    n = cores()
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "kartograph-perfbench",
        master=f"local[{n}]",
        shuffle_partitions=2 * n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, WARM_UP_ROWS, 1, n).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def stop_spark(spark, timeout: float = 60) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    process below it have exited."""
    from pyspark import SparkContext

    from perfbench.spans import ProcTree, alive

    tree = ProcTree(jvm_pid(spark))
    pids = [tree.root, *tree.descendants()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(10)
    deadline = time.monotonic() + timeout
    for pid in pids:
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
