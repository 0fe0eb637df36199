"""SparkSession construction with scale-appropriate defaults.

Local testing runs on local[N]; the same config block is what we would
ship on a 1000-executor cluster (AQE on, adaptive coalescing, skew-join
handling, Arrow for the Python boundary).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "kafkadirect-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores.
    ``shuffle_partitions`` defaults to 2x cpus locally; on a real
    cluster you would size it so post-shuffle partitions are
    ~128-256 MB (AQE coalescing makes the exact number forgiving).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    builder = SparkSession.builder.appName(app_name)
    # On a real cluster the master comes from spark-submit; only default
    # to local[] when none is configured (e.g. unit tests, bench).
    if not os.environ.get("SPARK_MASTER") and "MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder
        # Deterministic wall-clock semantics for event-time operators.
        .config("spark.sql.session.timeZone", "UTC")
        # The driver's events.parquet stores TIMESTAMP(NANOS), which Spark
        # refuses to scan by default (PARQUET_TYPE_ILLEGAL).  Read nanos as
        # LongType; sources/batch.py normalizes them back to TimestampType
        # with truncating ns→µs division.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # AQE: runtime coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Runtime Bloom-filter join pruning (default-on in modern
        # Spark; pinned explicitly because it is a 100 TB lever): a
        # selective-but-unbroadcastable join side injects a Bloom
        # filter into the big side's scan, cutting the fact shuffle
        # before it happens — the declarative form of a hand-built
        # bloom pre-filter.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled",
                "true")
        # Scan split size: 128 MB splits keep a 100 TB scan at ~800k
        # tasks and each task's working set inside executor memory;
        # AQE coalescing forgives the exact value post-shuffle.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Arrow for every pandas_udf / applyInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast joins for dimension tables (Kafka GlobalKTable shape).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Python workers unpickle UDFs that reference package functions
        # by module, so they must import kafkadirect_spark wherever the
        # driver was started; Spark merges this with the workers' own
        # PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    # Diagnostic knob (guide §1/§7): with no UI in headless sandboxes,
    # the event log is the only way to attribute wall time to jobs/
    # stages.  Off unless the env var names a directory.
    ev_dir = os.environ.get("SPARK_GRAFT_EVENT_LOG_DIR")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        builder = (builder
                   .config("spark.eventLog.enabled", "true")
                   .config("spark.eventLog.compress", "false")
                   .config("spark.eventLog.rolling.enabled", "false")
                   .config("spark.eventLog.dir", ev_dir))
    return builder.getOrCreate()
