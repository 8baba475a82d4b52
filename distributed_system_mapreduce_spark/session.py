"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` (single JVM); the config block is
written for a real cluster too — AQE on (runtime re-planning, skew-join
splitting, partition coalescing), sane shuffle partition counts, Arrow
for any Python exchange, UTC session time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
        app_name: str = "distributed_system_mapreduce_spark") -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    On a cluster, size ``spark.sql.shuffle.partitions`` at roughly
    max(2 x total cores, input_bytes / 128MB); locally we match core
    count so every shuffle round completes in one wave.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    builder = (
        SparkSession.builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as raw nanos, tables.load_table converts.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # reliable lineage-cut posture (lineage.py) checkpoints into
        # spark.graft.checkpointDir; without the reference-tracking
        # cleaner those files outlive their RDDs and a long session
        # (or a 284-query gate run) accumulates them unboundedly
        .config("spark.cleaner.referenceTracking.cleanCheckpoints",
                "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if not os.environ.get("SPARK_MASTER") and "SPARK_ENV_LOADED" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
        builder = builder.config("spark.driver.memory",
                                 os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
