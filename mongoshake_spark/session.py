"""SparkSession factory tuned for the engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the
cores this process may run on); the same config
block is what we would ship for a 1000-executor cluster (AQE on, skew-join
handling on, shuffle partitions sized to the cluster, broadcast threshold
left to Catalyst). Nothing here is local-mode-specific except the master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"
LISTING_KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"
LISTING_THRESHOLD = "256"
#: writes each streaming metadata log file (offsets, commits, sources)
#: through ``FileSystem.rename``; Spark's default renames through
#: ``FileContext``, whose link check runs a ``readlink`` process on a
#: local filesystem without the native Hadoop library (DEPLOYMENT.md)
CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def default_master() -> str:
    """``local[$SPARK_GRAFT_CPUS]``, else one task slot per core this
    process may run on: more slots than cores oversubscribes the host
    (each Arrow/pandas stage starts one Python worker per slot)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"local[{cpus}]"


def get_spark(app_name: str = "mongoshake_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the session.

    At 100 TB scale the only values that change are ``master`` (cluster
    manager) and ``spark.sql.shuffle.partitions`` (≈ 2-3× total cores);
    AQE re-coalesces small post-shuffle partitions at runtime either way,
    and splits skewed ones (skew-join on).

    Streaming queries keep their offset and commit logs through
    ``CHECKPOINT_MANAGER``: with Spark's default manager the stream
    thread started ~24 ``readlink`` processes per micro-batch here (the
    link checks of its log-file renames); the swap cut a traced
    ``oplog_catchup`` trigger's non-``addBatch`` time from 0.115 to
    0.040-0.045 s at 4 cores. The apply kernel plans its batches in a
    child session with its own settings (``streaming/apply.ApplyKernel``);
    nothing else in the engine moves off the caller's session.
    """
    master = master or default_master()
    # one BLAS thread per task slot: Spark already runs one python worker
    # per core, so a multi-threaded BLAS inside each worker oversubscribes
    # the host (measured on the sf1 scaling run: the tiled numpy pair scan
    # at 32 cores dropped 15.8 -> 10.3 s with this pin — n_workers x
    # blas_threads exceeded the cores). setdefault BEFORE the JVM starts:
    # local-mode python workers inherit the gateway's environment; the
    # executorEnv below is the cluster-mode equivalent.
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    os.environ.setdefault("MKL_NUM_THREADS", "1")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst=true (Spark's default): AQE coalesces down to
        # minPartitionSize but stops shrinking below the cluster
        # parallelism. The advisory-size-only mode (false) was measured
        # ~6% better on the sub-second light queries, but it coalesces the
        # mid-size shuffle stages of the HEAVY analytics (ngram/winnow/
        # span dedup at sf0.1) to ONE task — their warm serial total
        # regressed 26.7s -> 14.8s when flipped back. Neutral at real
        # scale, where every post-shuffle partition exceeds the advisory
        # size anyway.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # FAIR job scheduling: the engine serves a workload of concurrent
        # queries (bench.py's client pool; a cluster serves many sessions).
        # Under FIFO one 32-task Arrow/pandas stage occupies every executor
        # slot and serializes the workload behind it — measured 2.5x on the
        # bench workload (16.3s FIFO -> 6.3s FAIR at sf0.1, idle host).
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver lists up to this many paths itself instead of running
        # a Spark listing job (one task per path; default 32). Above a
        # 64-bucket apply state, so reading it whole launches no job
        # (measured 270-370 ms per batch for the 58-task job on
        # oplog_catchup, 4 cores); the apply kernel's own session sets
        # it for its slice reads whatever the caller's session says. An
        # object-store deployment with slow per-path listing may want it
        # lower again.
        .config(LISTING_KEY, LISTING_THRESHOLD)
        .config("spark.sql.streaming.checkpointFileManagerClass",
                CHECKPOINT_MANAGER)
        # The fixture parquet stores TIMESTAMP(NANOS); Spark has no ns type.
        # Read as long and convert in sources.tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # cluster-mode twin of the os.environ pin above (executors are
        # separate processes there and do not inherit the driver env)
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
