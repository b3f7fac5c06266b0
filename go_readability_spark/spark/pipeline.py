"""Bucketed, checkpointed extraction pipeline (SURVEY.md §4.2, FIXTURES.md §3).

Layout of an output root (Iceberg-ready; parquet in the sandbox — the same
dataflow targets ``df.writeTo(tbl).append()`` on a real catalog, with
``bucket(B, doc_id)`` as the Iceberg partition transform):

    <out>/articles/bucket_id=K/...   extraction results, partitioned by bucket
    <out>/lineage/                   one row per finished bucket, with its counts

Checkpoint unit = deterministic bucket ``pmod(xxhash64(doc_id), B)``.
A run processes pending buckets in waves; each wave is one articles write,
which dynamically overwrites exactly its own ``bucket_id=`` partitions
(idempotent re-run) and counts each bucket's rows on the way through
(``DataFrame.observe``), then one lineage append that marks the buckets
done and carries those counts.  Resume = the bucket domain minus the
run's ``status='done'`` lineage rows, taken on the driver: the lineage
holds at most B rows per run, so the corpus is never touched to find
what is left.
"""

from __future__ import annotations

import datetime
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..kernel.options import Options
from .extract import route_and_extract
from .schema import LINEAGE_SCHEMA


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


def pending_buckets(
    spark: SparkSession, lineage_path: str, run_id: str, n_buckets: int
) -> list[int]:
    """Resume: the bucket domain minus the run's ``status='done'`` lineage
    rows, as a set difference on the driver.  The collected side is at
    most one row per bucket, and with no lineage yet no job is submitted;
    the corpus itself is only touched later, filtered by the surviving
    bucket ids — which pushes down to partition pruning on a bucketed
    table.  Lineage written before the count columns existed reads them
    as NULL under the explicit schema, so old roots still resume."""
    if not _exists(spark, lineage_path):
        return list(range(n_buckets))
    done = {
        r.bucket_id
        for r in spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
        .filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("bucket_id")
        .collect()
    }
    return [b for b in range(n_buckets) if b not in done]


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
    skipped documents land as ``status='not_readerable'`` rows, so the
    lineage counts still account for every input document.
    """
    t0 = time.time()
    _ensure_dynamic_overwrite(spark)
    articles_path = os.path.join(out_root, "articles")
    lineage_path = os.path.join(out_root, "lineage")

    pending = pending_buckets(spark, lineage_path, run_id, n_buckets)
    pending_set = set(pending)
    skipped = [b for b in range(n_buckets) if b not in pending_set]
    res = RunResult(run_id=run_id, buckets_skipped=skipped)

    bucketed = with_bucket(documents, n_buckets)
    bucket, ok = F.col("bucket_id"), F.col("status") == "ok"
    for i in range(0, len(pending), buckets_per_wave):
        wave = pending[i : i + buckets_per_wave]
        # driver-side literal, NOT F.current_timestamp(): the lazy column
        # would evaluate inside the lineage-write query, stamping
        # started_at == finished_at and zeroing every wave duration
        started_at = F.lit(datetime.datetime.now(datetime.timezone.utc)).cast(
            "timestamp"
        )
        subset = bucketed.filter(bucket.isin(wave)).drop("bucket_id")
        # the write counts its own rows per bucket: the observed aggregates
        # run in the write's result stage, so no second pass reads the
        # articles back.  An Observation reports only its first action,
        # hence a fresh one per wave.
        obs = Observation()
        counts = [
            c
            for b in wave
            for c in (
                F.count_if(bucket == b).alias(f"n_docs_{b}"),
                F.count_if((bucket == b) & ok).alias(f"n_ok_{b}"),
            )
        ]
        t_wave = time.time()
        extracted = with_bucket(
            route_and_extract(subset, options, num_partitions, prescreen),
            n_buckets,
        ).observe(obs, *counts)
        # Dynamic partition overwrite: re-running a failed wave replaces
        # exactly its own bucket_id= partitions — idempotent.
        extracted.write.mode("overwrite").partitionBy("bucket_id").parquet(
            articles_path
        )
        wave_sec = max(time.time() - t_wave, 1e-9)
        seen = obs.get
        if fail_buckets and any(b in fail_buckets for b in wave):
            raise RuntimeError(f"injected failure in wave {wave}")

        lineage_rows = []
        for b in wave:
            n_docs, n_ok = seen[f"n_docs_{b}"], seen[f"n_ok_{b}"]
            lineage_rows.append(
                {
                    "run_id": run_id,
                    "bucket_id": b,
                    "input_snapshot_id": None,
                    "status": "done",
                    "started_at": None,
                    "finished_at": None,
                    "n_docs": n_docs,
                    "n_ok": n_ok,
                    "n_failed": n_docs - n_ok,
                    # an empty bucket has no rate (min over the run skips it)
                    "docs_per_sec": n_docs / wave_sec if n_docs else None,
                }
            )
        # the wave's one commit: the done mark and the counts are one
        # append, so no crash point sits between them
        spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA).withColumn(
            "started_at", started_at
        ).withColumn("finished_at", F.current_timestamp()).write.mode(
            "append"
        ).parquet(lineage_path)

        res.buckets_done.extend(wave)
        res.n_docs += sum(r["n_docs"] for r in lineage_rows)
        res.n_ok += sum(r["n_ok"] for r in lineage_rows)

    res.wall_sec = time.time() - t0
    return res


def metrics_summary(spark: SparkSession, out_root: str, run_id: str) -> DataFrame:
    """Aggregate the per-bucket counts of one run's lineage — plain
    hash-agg, partial+final."""
    return (
        spark.read.schema(LINEAGE_SCHEMA).parquet(os.path.join(out_root, "lineage"))
        .filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
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
