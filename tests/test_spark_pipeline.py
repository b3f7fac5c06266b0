"""Checkpoint/resume pipeline tests: bucket determinism, failure-injection
resume, idempotent partition overwrite, metrics aggregation."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from go_readability_spark.spark.pipeline import (
    metrics_summary,
    pending_buckets,
    run_extraction,
    with_bucket,
)

N_BUCKETS = 8


@pytest.fixture()
def out_root():
    d = tempfile.mkdtemp(prefix="grs_pipe_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def docs(synth_pages, pages_to_documents):
    # 40 synth_html pages; synth-499 is a ×64 mega page
    return pages_to_documents(synth_pages(range(460, 500))).cache()


def test_bucket_assignment_deterministic(spark, docs):
    a = {r.doc_id: r.bucket_id for r in with_bucket(docs, N_BUCKETS).collect()}
    b = {r.doc_id: r.bucket_id for r in with_bucket(docs, N_BUCKETS).collect()}
    assert a == b
    assert all(0 <= v < N_BUCKETS for v in a.values())


def test_failure_resume_completes_corpus(spark, docs, out_root):
    with pytest.raises(RuntimeError, match="injected"):
        run_extraction(
            spark, docs, out_root, "r1",
            n_buckets=N_BUCKETS, buckets_per_wave=4, fail_buckets={6},
        )
    pend = pending_buckets(spark, f"{out_root}/lineage", "r1", N_BUCKETS)
    assert pend and len(pend) < N_BUCKETS

    res = run_extraction(
        spark, docs, out_root, "r1", n_buckets=N_BUCKETS, buckets_per_wave=4
    )
    assert sorted(res.buckets_done) == pend
    assert sorted(res.buckets_done + res.buckets_skipped) == list(range(N_BUCKETS))

    arts = spark.read.parquet(f"{out_root}/articles")
    assert arts.count() == docs.count()
    assert arts.select("doc_id").distinct().count() == docs.count()

    # fully-resumed run is a no-op
    res2 = run_extraction(
        spark, docs, out_root, "r1", n_buckets=N_BUCKETS, buckets_per_wave=4
    )
    assert res2.buckets_done == []
    assert len(res2.buckets_skipped) == N_BUCKETS


def test_rerun_wave_is_idempotent(spark, docs, out_root):
    run_extraction(spark, docs, out_root, "r2", n_buckets=4, buckets_per_wave=4)
    n1 = spark.read.parquet(f"{out_root}/articles").count()
    # force re-processing by using a new run_id over the same output table:
    # dynamic partition overwrite must replace, not duplicate
    run_extraction(spark, docs, out_root, "r3", n_buckets=4, buckets_per_wave=4)
    n2 = spark.read.parquet(f"{out_root}/articles").count()
    assert n1 == n2 == docs.count()


def test_static_overwrite_session_is_safe(spark, docs, out_root):
    """A session left on Spark's default *static* partitionOverwriteMode must
    not lose earlier waves: run_extraction enforces dynamic mode itself at
    the destructive write (the spark-submit path builds a plain session)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        run_extraction(
            spark, docs, out_root, "r5", n_buckets=N_BUCKETS, buckets_per_wave=2
        )
        arts = spark.read.parquet(f"{out_root}/articles")
        assert arts.count() == docs.count()
        assert arts.select("bucket_id").distinct().count() > 2
    finally:
        spark.conf.set(key, prev)


def test_metrics_summary(spark, docs, out_root):
    run_extraction(spark, docs, out_root, "r4", n_buckets=4, buckets_per_wave=2)
    row = metrics_summary(spark, out_root, "r4").collect()[0]
    assert row.n_docs == docs.count()
    assert row.n_ok + row.n_failed == row.n_docs
    assert row.min_bucket_docs_per_sec > 0

    lineage = spark.read.parquet(f"{out_root}/lineage")
    assert lineage.filter(
        (F.col("run_id") == "r4") & (F.col("status") == "done")
    ).count() == 4


def test_salted_run_writes_each_doc_once(spark, docs, out_root):
    """run_extraction(num_partitions=...) puts the salted exchange in front
    of the kernel: every document is still written exactly once, into its
    own bucket, and lineage lists every bucket."""
    res = run_extraction(
        spark, docs, out_root, "r6",
        n_buckets=N_BUCKETS, buckets_per_wave=4, num_partitions=4,
    )
    assert sorted(res.buckets_done) == list(range(N_BUCKETS))
    assert res.n_docs == docs.count()
    want = {r.doc_id: r.bucket_id for r in with_bucket(docs, N_BUCKETS).collect()}
    arts = spark.read.parquet(f"{out_root}/articles")
    got = [(r.doc_id, r.bucket_id) for r in arts.select("doc_id", "bucket_id").collect()]
    assert sorted(got) == sorted(want.items())
    lineage = spark.read.parquet(f"{out_root}/lineage")
    done = {r.bucket_id for r in lineage.filter(
        (F.col("run_id") == "r6") & (F.col("status") == "done")
    ).collect()}
    assert done == set(range(N_BUCKETS))
