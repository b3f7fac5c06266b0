"""Spark-level extraction tests: the mapInPandas operator must reproduce the
pure-Python kernel's golden results through the full codec round-trip
(FIXTURES.md §2: span-sequence equality (kind, text, media_ref, order))."""

import os

import pytest

from go_readability_spark.codec.spans import html_fragment_to_normalized_spans, html_to_spans
from go_readability_spark.kernel.options import Options
from go_readability_spark.spark.corpus import FIXTURES_DIR, fixture_documents, synth_html
from go_readability_spark.spark.extract import (
    _batch_extractor,
    _doc_bytes_expr,
    extract_articles,
    extract_one,
    route_and_extract,
    with_doc_stats,
)
from go_readability_spark.spark.schema import ARTICLES_SCHEMA, DOCUMENTS_SCHEMA

# A diverse probe subset (full 119-fixture parity is covered Spark-free by
# test_golden.py; here we verify the Spark boundary preserves it).
PROBE_FIXTURES = [
    "001",
    "base-url",
    "keep-images",
    "lazy-image-1",
    "embedded-videos",
    "rtl-1",
    "qq",
    "replace-brs",
    "remove-script-tags",
    "nytimes-1",
    "svg-parsing",
    "social-buttons",
]


@pytest.fixture(scope="module")
def fixture_articles(spark):
    docs = fixture_documents(spark)
    docs = docs.filter(docs.doc_id.isin(PROBE_FIXTURES))
    return {r.doc_id: r for r in extract_articles(docs).collect()}


def _expected_spans(name):
    with open(
        os.path.join(FIXTURES_DIR, name, "expected.html"), encoding="utf-8"
    ) as f:
        return [s.as_tuple() for s in html_fragment_to_normalized_spans(f.read())]


@pytest.mark.parametrize("name", PROBE_FIXTURES)
def test_span_equality_through_spark(fixture_articles, name):
    row = fixture_articles[name]
    assert row.status == "ok"
    got = [(s.kind, s.text, s.media_ref, s.offset) for s in row.spans]
    assert got == _expected_spans(name)


def test_all_probe_statuses_ok(fixture_articles):
    assert all(r.status == "ok" for r in fixture_articles.values())


def test_media_refs_absolutized(fixture_articles):
    imgs = [
        s for s in fixture_articles["keep-images"].spans if s.kind == "img"
    ]
    assert imgs and all(s.media_ref.startswith("http") for s in imgs)


def test_emit_chunking_preserves_rows(spark):
    docs = fixture_documents(spark).limit(10)
    small = extract_articles(docs, emit_every=1).count()
    big = extract_articles(docs, emit_every=1000).count()
    assert small == big == 10


def test_doc_bytes_expr_matches_python(spark):
    docs = fixture_documents(spark).limit(5)
    rows = docs.withColumn("doc_bytes", _doc_bytes_expr()).collect()
    for r in rows:
        assert r.doc_bytes == sum(len(s.text or "") for s in r.spans)


def test_route_and_extract_covers_both_branches(spark):
    docs = fixture_documents(spark).limit(20)
    # threshold small enough that some fixtures route through the mega branch
    out = route_and_extract(docs, mega_doc_bytes=50_000, num_partitions=4)
    rows = out.collect()
    assert len(rows) == 20
    assert {r.doc_id for r in rows} == {r.doc_id for r in docs.select("doc_id").collect()}


def test_with_doc_stats_matches_python(spark):
    docs = fixture_documents(spark).limit(5)
    for r in with_doc_stats(docs).collect():
        assert r.doc_bytes == sum(len(s.text or "") for s in r.spans)
        assert r.doc_tags == sum((s.text or "").count("<") for s in r.spans)


def test_partial_doc_stats_are_reused_not_recomputed(spark):
    """A caller that pre-materialized only doc_bytes (the pre-density
    contract) must keep that column — route_and_extract computes only the
    missing doc_tags, so the fused two-stat aggregate (named_struct) never
    appears in the plan and results are unchanged."""
    docs = fixture_documents(spark).limit(6)
    base = {r.doc_id: (r.status, r.length) for r in route_and_extract(docs).collect()}
    pre = docs.withColumn("doc_bytes", _doc_bytes_expr())
    routed_df = route_and_extract(pre, mega_doc_bytes=50_000)
    plan = routed_df._jdf.queryExecution().executedPlan().toString()
    assert "named_struct" not in plan  # fused recompute path not taken
    routed = {r.doc_id: (r.status, r.length) for r in routed_df.collect()}
    assert routed == base


def test_dense_doc_routes_through_density_arm(spark):
    """A small-bytes, element-dense doc must take the mega route (kernel
    memory scales with node count, not bytes) and still extract exactly:
    with mega_doc_tags low enough, the dense doc is the ONLY row in the
    mega branch and the result set is unchanged."""
    docs = fixture_documents(spark).limit(6)
    base = {r.doc_id: (r.status, r.length) for r in route_and_extract(docs).collect()}
    routed = {
        r.doc_id: (r.status, r.length)
        for r in route_and_extract(docs, mega_doc_tags=500).collect()
    }
    assert routed == base  # density routing changes placement, never results


def test_malformed_spans_become_error_rows(spark):
    from go_readability_spark.spark.schema import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(
        [
            {"doc_id": "empty", "uri": None, "spans": []},
            {
                "doc_id": "just-text",
                "uri": None,
                "spans": [
                    {"kind": "markup", "text": "<p>hi</p>", "media_ref": "", "offset": 0}
                ],
            },
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    rows = {r.doc_id: r for r in extract_articles(docs).collect()}
    assert rows["empty"].status in ("no_article", "parse_error")
    # a tiny page has no article content → kernel's retry sieve gives best
    # attempt or no_article; both are data, not task failures
    assert rows["just-text"].status in ("ok", "no_article")


def test_null_and_garbage_spans_degrade_gracefully(spark):
    """Corruption shapes real 100 TB tables produce: null spans array,
    null text inside a span, negative/duplicate offsets, null doc_id text.
    All must yield status rows, never task failures."""
    from go_readability_spark.spark.extract import extract_articles
    from go_readability_spark.spark.schema import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(
        [
            {"doc_id": "null-spans", "uri": None, "spans": None},
            {
                "doc_id": "null-text-span",
                "uri": None,
                "spans": [
                    {"kind": "text", "text": None, "media_ref": None, "offset": 0},
                    {"kind": "text", "text": "<p>ok</p>", "media_ref": "", "offset": 1},
                ],
            },
            {
                "doc_id": "negative-offsets",
                "uri": None,
                "spans": [
                    {"kind": "text", "text": "<p>b</p>", "media_ref": "", "offset": -1},
                    {"kind": "text", "text": "<p>a</p>", "media_ref": "", "offset": -2},
                ],
            },
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    rows = {r.doc_id: r for r in extract_articles(docs).collect()}
    assert len(rows) == 3
    for r in rows.values():
        assert r.status in ("ok", "no_article", "parse_error")


def test_prescreen_gates_through_readerable(spark):
    """The reference's check-before-parse workflow through the Spark
    surface: with prescreen=True, every document the kernel's
    IsProbablyReaderable rejects lands as a status='not_readerable' row
    (no grab-loop output), and every readerable document extracts
    IDENTICALLY to the ungated path."""
    import os

    from go_readability_spark.codec.spans import spans_to_html, Span
    from go_readability_spark.kernel.options import Options
    from go_readability_spark.kernel.readerable import is_probably_readerable

    from pyspark.sql import functions as F

    # include the four known non-readerable fixtures plus a readerable slice
    non_readerable = ("js-link-replacement", "lazy-image-3", "mozilla-2",
                      "remove-aria-hidden")
    docs = fixture_documents(spark).filter(
        F.col("doc_id").isin(*non_readerable) | F.col("doc_id").startswith("0")
    )
    opts = Options(classes_to_preserve=["page", "caption"])
    gated = {r.doc_id: r for r in extract_articles(docs, opts, prescreen=True).collect()}
    plain = {r.doc_id: r for r in extract_articles(docs, opts).collect()}
    assert set(gated) == set(plain)
    n_skipped = 0
    for name, row in gated.items():
        src = open(
            os.path.join(FIXTURES_DIR, name, "source.html"), encoding="utf-8"
        ).read()
        truth = is_probably_readerable(src, opts)
        if truth:
            assert row.status == plain[name].status, name
            assert row.text_content == plain[name].text_content, name
            assert row.title == plain[name].title, name
        else:
            n_skipped += 1
            assert row.status == "not_readerable", name
            assert row.spans is None and row.text_content is None, name
    # the golden corpus contains deliberately non-readerable fixtures, so
    # the gate must actually fire
    assert n_skipped > 0


def _synth_pages(n):
    words = " ".join(f"word{i}" for i in range(120))
    return [(f"synth-{i}", synth_html(i, words, "en", "src")) for i in range(n)]


def _synth_documents(spark, n):
    """n article-shaped pages as a DOCUMENTS_SCHEMA frame, encoded on the driver."""
    rows = [
        {"doc_id": d, "uri": None, "spans": [s.as_row() for s in html_to_spans(html)]}
        for d, html in _synth_pages(n)
    ]
    return spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)


def _poison_options():
    # a serializer that returns no string: the output-span codec raises
    return Options(serializer=lambda node: None)


def test_output_codec_failure_is_one_error_row():
    (doc_id, html), = _synth_pages(1)
    assert extract_one(doc_id, html, None, Options())["status"] == "ok"
    row = extract_one(doc_id, html, None, _poison_options())
    assert row["status"] == "parse_error"
    assert row["error"].startswith("TypeError: ")
    assert row["spans"] is None and row["title"] is None


def test_output_codec_failure_through_spark(spark):
    rows = extract_articles(_synth_documents(spark, 1), _poison_options()).collect()
    assert len(rows) == 1
    assert rows[0].status == "parse_error"
    assert rows[0].error.startswith("TypeError: ")


def test_reused_worker_skips_zip_rereads(spark):
    """A Python worker that already ran an extraction task re-reads no zip
    directory when Spark sets up its next task.  The probe wraps the
    worker's ``zipimport._read_directory`` with a counter on its first
    task and reports, on each later task in the same worker, the reads
    since the previous task ended: Spark's per-task
    ``importlib.invalidate_caches()`` happens in between.  Nothing here
    calls ``prepare_worker``: unpickling the extractor imports the engine
    inside the task, and that import prepares the worker."""
    import pandas as pd
    from pyspark.sql import types as T

    extract = _batch_extractor(Options(classes_to_preserve=["page", "caption"]), 64)

    def probed(batches):
        import os
        import zipimport

        read_directory = zipimport._read_directory
        primed = hasattr(read_directory, "calls")
        if not primed:
            def read_directory(archive, _stock=zipimport._read_directory):
                read_directory.calls += 1
                return _stock(archive)

            read_directory.calls = 0
            zipimport._read_directory = read_directory
        reads = read_directory.calls
        for out in extract(batches):
            yield out.assign(pid=os.getpid(), primed=primed, zip_reads=reads)
        read_directory.calls = 0

    schema = T.StructType(
        ARTICLES_SCHEMA.fields
        + [
            T.StructField("pid", T.LongType()),
            T.StructField("primed", T.BooleanType()),
            T.StructField("zip_reads", T.LongType()),
        ]
    )
    pages = spark.createDataFrame(pd.DataFrame(_synth_pages(2), columns=["doc_id", "html"]))
    job = pages.coalesce(1).mapInPandas(probed, schema).select("status", "pid", "primed", "zip_reads")
    tasks = []
    # Spark hands a task to any idle worker, so run one-task jobs until
    # one lands on a worker an earlier job already primed
    while len(tasks) < 2 or not tasks[-1][1]:
        assert len(tasks) < 12, tasks
        rows = job.collect()
        assert [r.status for r in rows] == ["ok", "ok"]
        assert len({(r.pid, r.primed, r.zip_reads) for r in rows}) == 1  # one task
        tasks.append((rows[0].pid, rows[0].primed, rows[0].zip_reads))
    assert tasks[-1][2] == 0, tasks
