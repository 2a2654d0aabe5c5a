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
    arrow_batch_rows: int = 256,
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
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet scan parallelism at 100 TB: default 128 MB splits are
        # right; don't override files.maxPartitionBytes here
        # local mode: the driver IS the executor — 32 task threads
        # shuffling through one heap; 8g thrashes GC on the heavier
        # queries (measured: minhash 4s→29s under heap pressure late
        # in a multi-query session). The contract box has 128 GiB, but
        # on smaller dev/CI hosts a fixed 24g can exceed physical RAM,
        # so the default is min(24g, ~40% of MemTotal), floor 4g.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return builder.getOrCreate()


def fan_out(df, min_partitions: int | None = None):
    """Repartition a narrow input up to the session's parallelism.

    At 100 TB a parquet scan arrives in thousands of 128 MB splits and
    this is a no-op. Locally the test tables are single-row-group
    files that cannot split below 2 partitions, which starves
    CPU-heavy downstream stages (minhash, simhash, n-gram shingling)
    to 2 of 32 cores. The repartition only fires when the plan's scan
    parallelism is below the target, so it never adds a shuffle on a
    properly-split input.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
