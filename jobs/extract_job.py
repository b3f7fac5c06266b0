"""spark-submit entry point for the extraction pipeline.

Cluster deployment (north_rule: spark-submit --py-files on multi-executor
clusters):

    python tools/package.py                     # builds dist/go_readability_spark.zip
    spark-submit --py-files dist/go_readability_spark.zip \
        --conf spark.sql.sources.partitionOverwriteMode=dynamic \
        jobs/extract_job.py \
        --input  <path or iceberg table of documents(doc_id, spans[, uri])> \
        --output <output root: articles/ lineage/> \
        --run-id prod-2026-08-16 \
        --n-buckets 4096 --buckets-per-wave 256 \
        --num-partitions 8192

Local smoke run:

    python jobs/extract_job.py --input /tmp/corpus --output /tmp/out \
        --run-id dev --n-buckets 16 --local-cpus 8

Resume after failure = re-run the identical command: completed buckets are
skipped via the lineage anti-join, partially-written waves are replaced by
dynamic partition overwrite.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--buckets-per-wave", type=int, default=16)
    ap.add_argument("--num-partitions", type=int, default=None)
    ap.add_argument("--prescreen", action="store_true",
                    help="gate documents through IsProbablyReaderable before "
                         "the grab loop (readerable.go's check-before-parse "
                         "workflow); skipped docs land as "
                         "status='not_readerable' rows")
    ap.add_argument("--local-cpus", type=int, default=None,
                    help="build a local[N] session (omit under spark-submit)")
    args = ap.parse_args()

    from go_readability_spark.spark.pipeline import metrics_summary, run_extraction

    if args.local_cpus:
        from go_readability_spark.spark.session import build_session

        spark = build_session(cpus=args.local_cpus, app_name="extract-job")
    else:
        # under spark-submit the session/config comes from the cluster
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName("extract-job").getOrCreate()

    documents = spark.read.parquet(args.input)
    res = run_extraction(
        spark,
        documents,
        args.output,
        args.run_id,
        n_buckets=args.n_buckets,
        buckets_per_wave=args.buckets_per_wave,
        num_partitions=args.num_partitions,
        prescreen=args.prescreen,
    )
    print(
        f"run {res.run_id}: {len(res.buckets_done)} buckets done, "
        f"{len(res.buckets_skipped)} resumed-skip, {res.n_docs} docs "
        f"({res.n_ok} ok) in {res.wall_sec:.1f}s"
    )
    metrics_summary(spark, args.output, args.run_id).show(truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
