"""SparkSession factory tuned for the CDC engine.

Local-mode settings mirror what a multi-executor cluster deployment would
set: AQE on (runtime re-plan, skew-join splitting, partition coalescing),
UTC session time zone (determinism — the reference normalizes all
timestamps to UTC Z, lambdas/shared/schemas.py:41-47), Arrow enabled for
the vectorized pandas-UDF path, and shuffle partitions sized to the core
count rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The box's defaults, derived once: every core this process may run on,
# and half the physical RAM as the driver heap (local mode runs every task
# in the driver JVM, so that heap is all the memory Spark has).
# SPARK_GRAFT_CPUS and SPARK_DRIVER_MEMORY override them for a deployment.
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
DRIVER_MEMORY = os.environ.get("SPARK_DRIVER_MEMORY") or (
    f"{max(1, os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // 2**31)}g"
)


def get_spark(
    app_name: str = "cdc-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or f"local[{CPUS}]"
    shuffle_partitions = shuffle_partitions or CPUS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxRecordsPerFile", "5000000")
        # split scans finer than the 128m default: token-array rows are
        # heavy to decode, and read parallelism must reach the core count
        # even for few-file inputs
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # G1 + 32 task threads hitting JNI-critical sections (parquet codec)
        # degrades into GCLocker-initiated-GC storms (measured: 3-20x epoch
        # slowdowns); the throughput collector is stable for this workload
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # task-commit renames instead of serial driver-side job-commit
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
