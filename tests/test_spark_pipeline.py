"""Checkpoint/resume pipeline tests: bucket determinism, failure-injection
resume, idempotent partition overwrite, metrics aggregation, jobs per wave,
write-observed counts, resume over lineage without the count columns."""

import datetime
import glob
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


def _crash_lineage_append_of(monkeypatch, bucket):
    """Fail the lineage append of the wave holding ``bucket``: that wave's
    articles are written, its done marks are not."""
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if path.endswith("lineage") and self._df.filter(F.col("bucket_id") == bucket).count():
            raise RuntimeError(f"injected failure in the wave holding bucket {bucket}")
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def test_failure_resume_completes_corpus(spark, docs, out_root, monkeypatch):
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="injected"):
        _crash_lineage_append_of(m, 6)
        run_extraction(
            spark, docs, out_root, "r1", n_buckets=N_BUCKETS, buckets_per_wave=4
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


@pytest.mark.parametrize("per_wave,files", [(N_BUCKETS, 1), (N_BUCKETS // 4, 4)])
def test_lineage_append_writes_one_file_per_wave(spark, docs, out_root, per_wave, files):
    """Each wave commits its lineage rows as one file, not one per slice of
    the driver-side rows."""
    run_extraction(
        spark, docs, out_root, "r10", n_buckets=N_BUCKETS, buckets_per_wave=per_wave
    )
    assert len(glob.glob(f"{out_root}/lineage/part-*.parquet")) == files


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


def _jobs_submitted(spark, fn):
    """Spark jobs ``fn()`` submits, from the status store (the listener bus
    is drained first so the last job is registered)."""
    sc = spark.sparkContext
    listener_bus = sc._jsc.sc().listenerBus()
    listener_bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup())
    out = fn()
    listener_bus.waitUntilEmpty()
    return out, len(set(sc.statusTracker().getJobIdsForGroup()) - before)


def test_wave_submits_one_write_and_one_commit(spark, docs, out_root):
    """A wave is the articles write plus the lineage append; a fully resumed
    run only reads the lineage."""
    docs.count()  # materialize the cached fixture outside the measurement
    res, n_jobs = _jobs_submitted(spark, lambda: run_extraction(
        spark, docs, out_root, "r7", n_buckets=N_BUCKETS, buckets_per_wave=N_BUCKETS,
    ))
    assert sorted(res.buckets_done) == list(range(N_BUCKETS))
    assert n_jobs <= 2

    res2, n_jobs = _jobs_submitted(spark, lambda: run_extraction(
        spark, docs, out_root, "r7", n_buckets=N_BUCKETS, buckets_per_wave=N_BUCKETS,
    ))
    assert res2.buckets_done == []
    assert n_jobs <= 1


def test_lineage_counts_match_articles(spark, docs, out_root):
    """The counts the write observed per bucket equal a recount of what it
    wrote; an empty bucket is done with zero docs and no rate."""
    n_buckets = 64  # 40 docs: most buckets stay empty
    res = run_extraction(
        spark, docs, out_root, "r8", n_buckets=n_buckets, buckets_per_wave=32
    )
    arts = spark.read.parquet(f"{out_root}/articles")
    want = {
        r.bucket_id: (r.n_docs, r.n_ok)
        for r in arts.groupBy("bucket_id").agg(
            F.count("*").alias("n_docs"),
            F.count_if(F.col("status") == "ok").alias("n_ok"),
        ).collect()
    }
    lineage = {
        r.bucket_id: r
        for r in spark.read.parquet(f"{out_root}/lineage")
        .filter(F.col("run_id") == "r8").collect()
    }
    assert sorted(lineage) == list(range(n_buckets))
    assert 0 < len(want) < n_buckets
    for b, row in lineage.items():
        n_docs, n_ok = want.get(b, (0, 0))
        assert (row.n_docs, row.n_ok, row.n_failed) == (n_docs, n_ok, n_docs - n_ok)
        if n_docs:
            assert row.docs_per_sec > 0
        else:
            assert row.docs_per_sec is None
    assert res.n_docs == docs.count() and res.n_ok == sum(v[1] for v in want.values())


def test_lineage_without_count_columns_resumes(spark, docs, out_root):
    """Lineage written before the count columns existed (six columns) still
    marks its buckets done; new rows append beside it."""
    from pyspark.sql import types as T

    old_schema = T.StructType([
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket_id", T.IntegerType(), False),
        T.StructField("input_snapshot_id", T.LongType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("started_at", T.TimestampType(), True),
        T.StructField("finished_at", T.TimestampType(), True),
    ])
    now = datetime.datetime(2024, 1, 1)
    rows = [("r9", b, None, "done", now, now) for b in (0, 2, 5)]
    rows.append(("other", 1, None, "done", now, now))
    spark.createDataFrame(rows, old_schema).write.parquet(f"{out_root}/lineage")

    pend = pending_buckets(spark, f"{out_root}/lineage", "r9", N_BUCKETS)
    assert pend == [1, 3, 4, 6, 7]
    res = run_extraction(
        spark, docs, out_root, "r9", n_buckets=N_BUCKETS, buckets_per_wave=4
    )
    assert sorted(res.buckets_done) == pend
    assert pending_buckets(spark, f"{out_root}/lineage", "r9", N_BUCKETS) == []
    row = metrics_summary(spark, out_root, "r9").collect()[0]
    assert row.n_docs == res.n_docs
