"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a 1000-executor cluster deployment would set
per-executor: AQE on (runtime re-planning, skew-join handling, partition
coalescing), Arrow for the Pandas-UDF boundary, UTC session timezone so
timestamp semantics match the DuckDB correctness oracle, and shuffle
partitions sized to cores (not the 200 default, which over-parallelizes
local runs and under-parallelizes 100 TB ones — at cluster scale this is
overridden per job or left to AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "data_ingestion_din_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Env overrides: ``SPARK_GRAFT_CPUS`` sets local parallelism and the
    default shuffle-partition count.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # AQE coalescing honors the advisory partition size instead of
    # maximizing small-partition parallelism (parallelismFirst=false is
    # the posture the Spark tuning guide recommends once an advisory
    # size is set): post-shuffle partitions aim at ~64 MB (env
    # SPARK_GRAFT_ADVISORY_PARTITION; a 100 TB deployment would raise
    # it to 256m per the same guidance) rather than fanning tiny
    # shuffles out to one near-empty task per core. Measured on the
    # 45-query bench prefix at sf0.1: 55.7-69.6 s -> 41.9-61.3 s
    # (min and median both ~20-25 % better across 3 interleaved runs).
    advisory = os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "64m")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "false",
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Fixture `events` parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type — read as long, converted to
        # microsecond timestamps in sources/tables.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Write timestamps as INT64 TIMESTAMP_MICROS, not the deprecated
        # INT96: INT96 column chunks carry NO min/max statistics, which
        # silently disables row-group/file skipping on every timestamp
        # predicate over engine-written layouts (the z-order file-skip
        # test reads exactly these stats).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def started_jobs(spark: SparkSession) -> int:
    """How many Spark jobs the session's scheduler has started so far.

    The difference of two reads counts the jobs run in between by job
    id, whatever job group they carry: also the jobs a streaming
    ``foreachBatch`` processor runs under its own group, which a
    job-group count misses. The scheduler hands out job ids when a job
    is submitted, so the count does not lag behind the listener bus."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
