"""SparkSession factory.

Local mode for tests/bench, sized from the machine it runs on; the same
configs are the ones that matter on a real cluster (AQE for runtime
re-planning and skew-join splitting, UTC session timezone so epoch-millis
expressions are stable, Arrow for any pandas exchange).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def enable_rocksdb_state(spark: SparkSession) -> None:
    """Production state-store posture for streaming (the reference requires
    strict state memory control + incremental checkpointing,
    ``requirements-v2.md:82-88``): RocksDB keeps join/agg state off-heap
    on local disk and changelog checkpointing uploads per-batch deltas
    instead of full snapshots.  Runtime-settable; applies to queries
    started afterwards."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )


def _default_driver_memory() -> str:
    """Half of physical RAM, at most 16g: the driver heap shares the box
    with the Python workers and the OS page cache."""
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024  # MemTotal, kB
    return f"{min(total_mb // 2, 16 * 1024)}m"


def get_spark(app_name: str = "simpy_kafka_flink_kafka_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Local session on every core this process may run on.

    ``SPARK_GRAFT_CPUS`` (a count, or ``*``) and ``SPARK_DRIVER_MEM`` (a
    JVM size such as ``2048m``) override the machine-derived defaults.
    """
    machine_cpus = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(machine_cpus))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else machine_cpus
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # status-store metadata only (no execution effect): the bench reads
        # per-query executor task time as cumulative deltas from the
        # AppStatusStore; the default 1000-stage retention would evict
        # stages mid-delta over a 93-query x 3-rep session and corrupt it
        .config("spark.ui.retainedStages", "20000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
