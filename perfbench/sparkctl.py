"""One local Spark session with pinned resources, and its clean shutdown.

Everything Spark, the JVM and the Python workers write goes under the
benchmark's work directory inside the checkout.
"""

from __future__ import annotations

import os
import subprocess
import sys

HEAP = "2g"
SHUFFLE_PARTITIONS = 8


def cores() -> int:
    """Spark runs as local[N] with N = min(4, cores of this host)."""
    return max(1, min(4, os.cpu_count() or 1))


def start(root: str, work: str, event_log_dir: str | None = None):
    """Build the session. ``root`` is the checkout (put on the workers'
    PYTHONPATH); ``event_log_dir`` enables Spark's JSON event log."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local

    from pyspark.sql import SparkSession

    from html_parser_spark.session import apply_scale_confs

    b = (
        apply_scale_confs(SparkSession.builder.master(f"local[{cores()}]"))
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        )
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def job_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def group_counts(spark, group: str) -> tuple:
    """(jobs, distinct stages) Spark ran under a job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    return len(jobs), len(stages)


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()
