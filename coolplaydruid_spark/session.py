"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a cluster deployment would set: AQE on
(runtime re-planning, skew-join handling), shuffle partitions sized to the
parallelism actually available, Arrow enabled for the Pandas-UDF slow path,
UTC session time zone (Druid's native query language is UTC-based unless a
period granularity carries an explicit timeZone).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _ram_gib() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30


def get_spark(
    app_name: str = "coolplaydruid_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Local mode hosts all executor threads inside the driver JVM —
        # Spark's 1g default heap dies with GCLocker alloc failures on
        # multi-GB shuffles. Sized for the 128 GiB bench host, capped at
        # half the host's RAM: G1 grows the heap toward its maximum, and
        # a maximum above physical RAM gets the JVM OOM-killed on small
        # hosts. Applies only when this factory creates the JVM (a
        # caller-owned session keeps its own sizing).
        .config("spark.driver.memory", os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", f"{min(24, max(1, _ram_gib() // 2))}g"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE: spark.sql.files.minPartitionNum is deliberately NOT set.
        # It slices small files below row-group granularity, producing
        # mostly-EMPTY scan partitions: effective parallelism stays at the
        # row-group count while every partition-count probe (including
        # operators.util.spread) reports "wide" and skips the repartition
        # that actually distributes compute-heavy stages — measured 3.8x
        # slower minhash. Single-file parallelism is spread()'s job;
        # at cluster scale tables have many files and need no floor.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Fewer, larger Arrow batches for mapInPandas/pandas_udf stages
        # (each Python roundtrip has fixed cost). For multi-MB media blobs
        # lower this per job: batch bytes ≈ rows × row size × cores.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        .config("spark.ui.enabled", "false")
        # Full PushedFilters/ReadSchema in explain output — the plan
        # regression tests (tests/test_plans.py) assert on scan metadata
        # that the 100-char default truncates.
        .config("spark.sql.maxMetadataStringLength", "1000")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Fixture parquet uses TIMESTAMP(NANOS); see catalog._nano_timestamp_columns
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
