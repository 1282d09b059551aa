"""SparkSession construction with the engine's standard configuration.

The hash-combine column kernels live in pair_kernels.py (int64-pair digest
representation); this module only owns session setup.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

HASH_BYTES = 16

# context ids whose Python worker pool has been pre-forked (see below)
_PREWARMED: set = set()


def _prewarm_python_workers(spark: SparkSession, cpus: int) -> None:
    """Fork the Python worker pool and import its heavy modules once at
    session construction.

    The first Arrow-UDF stage of a session otherwise pays one fork +
    ``import pandas/numpy`` (~0.3-1 s) per core INSIDE whatever operator
    happens to run first, misattributing interpreter startup to that
    operator.  Production executors are long-lived, so this belongs to
    session setup; with ``spark.python.worker.reuse`` (the default) the
    warmed pool serves every later stage.  Gated by
    ``SPARK_GRAFT_PREWARM=0`` for latency-sensitive one-shot scripts."""
    ctx = spark.sparkContext
    key = ctx.applicationId
    if key in _PREWARMED or os.environ.get("SPARK_GRAFT_PREWARM") == "0":
        return
    _PREWARMED.add(key)

    def touch(batches):
        import numpy  # noqa: F401  — preload the kernel deps per worker
        import pandas  # noqa: F401
        yield from batches

    try:
        (spark.range(cpus).repartition(cpus)
         .mapInPandas(touch, "id long")
         .write.format("noop").mode("overwrite").save())
    except Exception:  # pragma: no cover — warmup must never fail a job
        pass


def get_spark(app: str = "blabel-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Local[-mode] session with the settings we also want on a cluster:
    AQE (runtime skew-join splitting + partition coalescing), Arrow for all
    pandas-UDF exchange."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cpus)
    # local-mode shuffle files on tmpfs when available: with 32 concurrent
    # tasks, shuffle spill I/O on the root disk serializes the whole job
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app)
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # companion JVM UDF jar (murmur3_128 via shaded Guava — see
    # blabel_spark/jvm/); tiny, so always shipped when present
    udf_jar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "jvm", "blabel-udfs.jar")
    if os.path.exists(udf_jar):
        builder = builder.config("spark.jars", udf_jar)
    spark = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce toward the 1 MB minimum partition size instead of the
        # advisory size, so mid-size shuffles (~hundreds of MB) keep many
        # tasks.  This does NOT keep small post-shuffle stages at the core
        # count: a shuffle under 1 MB still coalesces to 1 task.  Per-graph
        # Python kernel stages get their parallelism from kernel_runner's
        # explicit repartition, which AQE never coalesces
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # joins: let the planner pick shuffled-hash over sort-merge when a
        # side fits a per-partition hash map (guide §3.1/§9).  The AQE
        # local-map threshold caps only the runtime SMJ→SHJ rewrite: an SHJ
        # planned statically from estimated stats has no per-partition cap,
        # and its build side does not spill, so a mis-estimate can OOM
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                os.environ.get("SPARK_GRAFT_SHJ_LOCAL_MAP", "64m"))
        # read per RDD from local properties, which SQL execution fills from
        # the session confs: one fixpoint status collect then truncates both
        # marked round tables (without it the colour table truncates a
        # round later: one more stage per round; plans stay flat)
        .config("spark.checkpoint.checkpointAllMarkedAncestors", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    _prewarm_python_workers(spark, cpus)
    return spark


