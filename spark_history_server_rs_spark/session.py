"""SparkSession factory with scale-minded defaults.

Local testing runs on ``local[N]``; the conf choices below are the ones that
matter on a real multi-executor cluster too (AQE, skew handling, partition
sizing) — see SURVEY.md §4 for the optimizer inventory this replaces.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spark-history-analytics",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the analytics engine.

    Defaults: ``local[$SPARK_GRAFT_CPUS|*]`` locally; on a cluster the
    master comes from spark-submit and these conf keys still apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(8, int(cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Deterministic timestamp semantics: the oracle (DuckDB) treats naive
        # parquet timestamps as UTC; pin the session to match.
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4 rejects TIMESTAMP(NANOS) parquet columns; read them as
        # int64 nanos and convert explicitly (ns→µs truncation = DuckDB's).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # AQE: runtime re-plan, skew-join splitting, partition coalescing —
        # the scale-path replacements for the reference's hand-rolled tuning.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size-based coalescing (not parallelism-first): the catalog's
        # post-shuffle aggregates are tiny, so fewer/larger reducer tasks
        # cut scheduling overhead — measured 12% off the warm 7-query
        # suite at sf0.1; also the documented recommendation for busy
        # clusters (Spark tuning guide, coalescePartitions.parallelismFirst).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Size scan splits so a 100 TB table yields sane task counts.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Arrow for any pandas-UDF path (dedup/multimodal operators).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Reliable-checkpoint knob (functions/checkpoints.py): when set, every
    # maintenance/training lineage anchor survives executor loss; unset
    # (the local default) the anchors stay executor-local localCheckpoints.
    # The ContextCleaner then also deletes each reliable checkpoint's
    # files once its RDD is garbage-collected, so the dir does not grow
    # with every pass.
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir:
        builder = builder.config(
            "spark.cleaner.referenceTracking.cleanCheckpoints", "true"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if ckpt_dir and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(ckpt_dir)
    return spark


def pin_session_conf(spark: SparkSession) -> None:
    """Apply the runtime-settable confs to an externally-provided session.

    The correctness driver hands us its own SparkSession; static confs
    (memory, master) can't change, but these runtime ones keep query
    semantics (UTC) and plans (AQE) identical to `get_spark` sessions.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
