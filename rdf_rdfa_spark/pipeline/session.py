"""SparkSession factory with scale-oriented defaults.

Local mode runs one task thread per CPU unless ``cores`` or
$SPARK_GRAFT_CPUS says otherwise, but every knob is the one you'd set
on a 1000-executor cluster too: AQE (coalesce + skew-join), Arrow
batch sizing for page-sized rows, and shuffle partitions proportional
to parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """min(24g, ~40% of MemTotal) so the local-mode JVM never outgrows
    the host; override with SPARK_DRIVER_MEMORY."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) / (1024 * 1024)
                    return "%dg" % max(4, min(24, int(total_gib * 0.4)))
    except OSError:
        pass
    return "8g"


def get_spark(
    app_name: str = "rdf-rdfa-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    builder = (
        SparkSession.builder.master("local[%d]" % cores)
        .appName(app_name)
        # AQE: runtime coalesce of small shuffle partitions + skew-join
        # splitting for template-heavy hosts (SURVEY.md §4)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # HTML pages are KB-to-hundreds-of-KB each: bound Arrow batches
        # by rows so a batch of large pages stays within worker memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet scan parallelism at 100 TB: default 128 MB splits are
        # right; don't override files.maxPartitionBytes here
        # local mode: the driver IS the executor — every task thread
        # shuffles through one heap, so it gets min(24g, ~40% of
        # MemTotal), floor 4g: large enough to keep GC out of the way,
        # small enough never to exceed the host's physical RAM.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    # a file read of a glob makes Spark probe it as a streaming sink's
    # output directory first, and log a WARN with a full stack trace
    # when that literal path does not exist; no streaming sink runs here
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
        jvm.org.apache.logging.log4j.Level.ERROR)
    return spark
