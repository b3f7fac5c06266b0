"""Bucketed, checkpointed extraction pipeline (SURVEY.md §4.2, FIXTURES.md §3).

Layout of an output root (Iceberg-ready; parquet in the sandbox — the same
dataflow targets ``df.writeTo(tbl).append()`` on a real catalog, with
``bucket(B, doc_id)`` as the Iceberg partition transform):

    <out>/articles/bucket_id=K/...   extraction results, partitioned by bucket
    <out>/metrics/                   per-bucket extraction metrics appends
    <out>/lineage/                   checkpoint rows, one per finished bucket

Checkpoint unit = deterministic bucket ``pmod(xxhash64(doc_id), B)``.
A run processes pending buckets in waves; each wave dynamically overwrites
exactly its own ``bucket_id=`` partitions (idempotent re-run) and then
appends lineage rows.  Resume = broadcast anti-join of the bucket domain
against ``lineage.status='done'`` for the run — at 10^12 docs the lineage
side stays tiny (B rows), so the anti-join is a broadcast, never a shuffle
of the corpus.
"""

from __future__ import annotations

import datetime
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kernel.options import Options
from .extract import route_and_extract
from .schema import LINEAGE_SCHEMA, METRICS_SCHEMA


def _ensure_dynamic_overwrite(spark: SparkSession) -> None:
    """Enforce dynamic partition-overwrite at the point of the destructive
    write.  Under Spark's default *static* mode, ``mode('overwrite')
    .partitionBy(...)`` truncates the ENTIRE output directory, so a
    multi-wave run would silently keep only its last wave while lineage
    marks every bucket done.  The invariant lives here, not in session
    construction, so a spark-submit session built without the ``--conf``
    is still safe."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Deterministic checkpoint bucket — same function the Iceberg partition
    transform would use, so partition pruning on resume is exact."""
    return df.withColumn(
        "bucket_id",
        F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"),
    )


def done_buckets(spark: SparkSession, lineage_path: str, run_id: str) -> DataFrame:
    """bucket_ids already completed for run_id (empty frame if no lineage yet)."""
    if not _exists(spark, lineage_path):
        return spark.createDataFrame([], "bucket_id int")
    return (
        spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
        .filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("bucket_id")
        .distinct()
    )


def pending_buckets(
    spark: SparkSession, lineage_path: str, run_id: str, n_buckets: int
) -> list[int]:
    """Resume anti-join: full bucket domain minus completed lineage rows.

    The domain is ``spark.range(B)`` (tiny), the lineage scan is tiny; the
    corpus itself is only touched later, filtered by the surviving bucket
    ids — which pushes down to partition pruning on a bucketed table.
    """
    domain = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket_id"))
    done = done_buckets(spark, lineage_path, run_id)
    pending = domain.join(F.broadcast(done), "bucket_id", "left_anti")
    return sorted(r.bucket_id for r in pending.collect())


@dataclass
class RunResult:
    run_id: str
    buckets_done: list[int] = field(default_factory=list)
    buckets_skipped: list[int] = field(default_factory=list)
    n_docs: int = 0
    n_ok: int = 0
    wall_sec: float = 0.0


def run_extraction(
    spark: SparkSession,
    documents: DataFrame,
    out_root: str,
    run_id: str,
    n_buckets: int = 16,
    buckets_per_wave: int = 8,
    options: Options | None = None,
    num_partitions: int | None = None,
    fail_buckets: set[int] | None = None,
    prescreen: bool = False,
) -> RunResult:
    """Checkpointed extraction of ``documents`` into ``out_root``.

    ``fail_buckets`` injects a failure after extraction of a wave containing
    any of those buckets (before its lineage commit) — used by the resume
    tests; never set in production.  ``prescreen`` gates documents through
    IsProbablyReaderable before the grab loop (extract.extract_one) —
    skipped documents land as ``status='not_readerable'`` rows, so lineage
    and metrics still account for every input document.
    """
    t0 = time.time()
    _ensure_dynamic_overwrite(spark)
    articles_path = os.path.join(out_root, "articles")
    metrics_path = os.path.join(out_root, "metrics")
    lineage_path = os.path.join(out_root, "lineage")

    pending = pending_buckets(spark, lineage_path, run_id, n_buckets)
    pending_set = set(pending)
    skipped = [b for b in range(n_buckets) if b not in pending_set]
    res = RunResult(run_id=run_id, buckets_skipped=skipped)

    bucketed = with_bucket(documents, n_buckets)
    for i in range(0, len(pending), buckets_per_wave):
        wave = pending[i : i + buckets_per_wave]
        # driver-side literal, NOT F.current_timestamp(): the lazy column
        # would evaluate inside the lineage-write query, stamping
        # started_at == finished_at and zeroing every wave duration
        started_at = F.lit(datetime.datetime.now(datetime.timezone.utc)).cast(
            "timestamp"
        )
        subset = bucketed.filter(F.col("bucket_id").isin(wave)).drop("bucket_id")
        t_wave = time.time()
        extracted = with_bucket(
            route_and_extract(subset, options, num_partitions, prescreen),
            n_buckets,
        )
        # Dynamic partition overwrite: re-running a failed wave replaces
        # exactly its own bucket_id= partitions — idempotent.
        extracted.write.mode("overwrite").partitionBy("bucket_id").parquet(
            articles_path
        )
        wave_sec = max(time.time() - t_wave, 1e-9)

        stats = (
            spark.read.parquet(articles_path)
            .filter(F.col("bucket_id").isin(wave))
            .groupBy("bucket_id")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum((F.col("status") == "ok").cast("long")).alias("n_ok"),
                F.sum((F.col("status") != "ok").cast("long")).alias("n_failed"),
            )
            .collect()
        )
        if fail_buckets and any(b in fail_buckets for b in wave):
            raise RuntimeError(f"injected failure in wave {wave}")

        total_docs = sum(r.n_docs for r in stats)
        metrics_rows = [
            {
                "run_id": run_id,
                "bucket_id": int(r.bucket_id),
                "n_docs": int(r.n_docs),
                "n_ok": int(r.n_ok),
                "n_failed": int(r.n_failed),
                "docs_per_sec": float(r.n_docs) / wave_sec,
                "finished_at": None,
            }
            for r in stats
        ]
        if metrics_rows:
            spark.createDataFrame(metrics_rows, METRICS_SCHEMA).withColumn(
                "finished_at", F.current_timestamp()
            ).write.mode("append").parquet(metrics_path)
        lineage_rows = [
            {
                "run_id": run_id,
                "bucket_id": int(b),
                "input_snapshot_id": None,
                "status": "done",
                "started_at": None,
                "finished_at": None,
            }
            for b in wave
        ]
        spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA).withColumn(
            "started_at", started_at
        ).withColumn("finished_at", F.current_timestamp()).write.mode(
            "append"
        ).parquet(lineage_path)

        res.buckets_done.extend(wave)
        res.n_docs += total_docs
        res.n_ok += sum(r.n_ok for r in stats)

    res.wall_sec = time.time() - t0
    return res


def metrics_summary(spark: SparkSession, out_root: str, run_id: str) -> DataFrame:
    """Aggregate per-bucket metrics for one run — plain hash-agg, partial+final."""
    return (
        spark.read.schema(METRICS_SCHEMA).parquet(os.path.join(out_root, "metrics"))
        .filter(F.col("run_id") == run_id)
        .groupBy("run_id")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_ok").alias("n_ok"),
            F.sum("n_failed").alias("n_failed"),
            F.min("docs_per_sec").alias("min_bucket_docs_per_sec"),
        )
    )


def _exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)
