"""Session builder with the engine's standard configs.

Tuned for the extraction workload (SURVEY.md §4.2): AQE on (runtime
coalescing + skew splitting), Arrow on with batches capped by rows and by
bytes (``ensure_arrow_limits``) so a mega-document ends its batch, and
dynamic partition overwrite so per-bucket re-runs are idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch limits for the extraction hop: a batch holds at most
# ARROW_MAX_RECORDS rows and closes at the row that brings it to
# ARROW_MAX_BYTES, so it never exceeds the byte cap by more than its last
# document.  16 MiB is above 64 × the ~205 KB average real page, so
# ordinary batches keep their 64 rows.
ARROW_MAX_RECORDS = 64
ARROW_MAX_BYTES = 16 * 1024 * 1024


def ensure_arrow_limits(spark: SparkSession) -> None:
    """Set both Arrow batch limits on ``spark``.  Called where the session
    is built and again where extraction uses it, so a spark-submit session
    built without the ``--conf`` (Spark's default is 10,000 records and no
    byte cap) still batches boundedly."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
    spark.conf.set("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_MAX_BYTES))


def default_cpus() -> int:
    """``local[N]`` parallelism: ``SPARK_GRAFT_CPUS``, else the host's core
    count.  More Python workers than cores only multiplies the cost each
    worker pays on its first task."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def build_session(
    cpus: int | None = None,
    app_name: str = "go_readability_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # articles/documents tables are scan-bound at corpus scale; zstd
        # cuts bytes-on-disk ~1.5-2x vs snappy at comparable decode cost
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        # extraction at high parallelism is allocation-heavy (arrow buffers
        # per concurrent task); a larger heap measurably reduces GC stalls
        # (local[16]: 2637 -> 2954 docs/s from 8g -> 24g alone)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    ensure_arrow_limits(spark)
    return spark
