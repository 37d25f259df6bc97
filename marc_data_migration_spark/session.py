"""SparkSession factory tuned for the sandbox (local[N], 128 GiB) but
configured the way a 1000-executor cluster run would be: AQE on,
Arrow on, UTC session time, shuffle partitions sized to parallelism.

Python call-site capture is off (``spark.python.sql.dataFrameDebugging.
enabled``): it costs about ten py4j round trips per Column call, and a
micro-batch builds its plans from hundreds. In exchange, an analysis
error no longer names the Python ``file:line`` of the failing call.
PySpark reads the setting once per process, so an ``extra_conf``
override to ``"true"`` works only in a process's first session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "transcript-cdc",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``parallelism`` controls ``local[N]``; defaults to
    ``$SPARK_GRAFT_CPUS`` or 32. ``shuffle_partitions`` defaults to the
    same N — at cluster scale you would size this to input bytes /
    target partition size instead (see stream.py docstring).
    """
    n = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sp = shuffle_partitions or n
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # Shuffle/spill on tmpfs when available: the sandbox block device has
    # erratic latency that swamps benchmarks; a real cluster would use
    # local NVMe. Harmless for correctness either way.
    if os.path.isdir("/dev/shm"):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def lazy_local_checkpoint(df):
    """``df.localCheckpoint(eager=False)`` with AQE disabled WHILE THE
    CHECKPOINT IS CONSTRUCTED (restored immediately after).

    Why: ``localCheckpoint`` converts the frame to an RDD at CALL time,
    and under adaptive execution that conversion invokes
    ``getFinalPhysicalPlan()``, which EXECUTES the subtree's shuffle
    stages right there — i.e. the expensive map work would run at query
    CONSTRUCTION, outside any timed/observable action (measured: 7.97 s
    construct / 1.2 s action at 10× sf0.1 with AQE on vs 0.44 s / 2.08 s
    with this helper — the compute belongs to the action). With AQE off
    the RDD conversion is pure planning + codegen; materialization
    happens inside the first job that touches the RDD, and a fresh
    construction re-derives everything from the inputs (RDD-level
    checkpoint, no CacheManager entry — nothing is reused across
    constructions, passes, or runs).

    The checkpointed subtree therefore plans WITHOUT AQE (static
    shuffle partitions, no in-subtree skew-join) — fine for the linear
    agg/projection pipelines this engine checkpoints; all joins stay
    downstream of the checkpoint where AQE remains active. It assumes a
    single-threaded driver, since it flips the session-wide AQE setting.
    On a cluster a local checkpoint does not survive an executor loss:
    the query fails instead of recomputing its blocks.
    """
    spark = df.sparkSession
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        return df.localCheckpoint(eager=False)
    finally:
        spark.conf.set(key, prev)
