"""Spark-level extraction tests: the mapInPandas operator must reproduce the
pure-Python kernel's golden results through the full codec round-trip
(FIXTURES.md §2: span-sequence equality (kind, text, media_ref, order))."""

import os

import pytest

from go_readability_spark.codec.spans import html_fragment_to_normalized_spans
from go_readability_spark.kernel.golden import FIXTURES_DIR
from go_readability_spark.kernel.options import Options
from go_readability_spark.spark.corpus import fixture_documents
from go_readability_spark.spark.extract import (
    _EMIT_BYTES,
    _EMIT_ROWS,
    _batch_extractor,
    extract_articles,
    extract_one,
    route_and_extract,
)
from go_readability_spark.spark.schema import ARTICLES_SCHEMA
from go_readability_spark.spark.session import ARROW_MAX_BYTES, ARROW_MAX_RECORDS

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


@pytest.mark.requires_reference
@pytest.mark.parametrize("name", PROBE_FIXTURES)
def test_span_equality_through_spark(fixture_articles, name):
    row = fixture_articles[name]
    assert row.status == "ok"
    got = [(s.kind, s.text, s.media_ref, s.offset) for s in row.spans]
    assert got == _expected_spans(name)


@pytest.mark.requires_reference
def test_all_probe_statuses_ok(fixture_articles):
    assert all(r.status == "ok" for r in fixture_articles.values())


@pytest.mark.requires_reference
def test_media_refs_absolutized(fixture_articles):
    imgs = [
        s for s in fixture_articles["keep-images"].spans if s.kind == "img"
    ]
    assert imgs and all(s.media_ref.startswith("http") for s in imgs)


def test_emit_chunking_preserves_rows():
    """Output chunks are cut after _EMIT_ROWS rows, or earlier once their
    input HTML reaches _EMIT_BYTES; every input row comes out exactly once."""
    import pandas as pd

    tiny = "<html><body><p>hi</p></body></html>"
    n = _EMIT_ROWS + 6
    crosses_rows = pd.DataFrame({"doc_id": [f"r{i}" for i in range(n)], "html": [tiny] * n})
    big = "<html><body><div>" + "x" * _EMIT_BYTES + "</div></body></html>"
    crosses_bytes = pd.DataFrame({"doc_id": ["b0", "big", "b1"], "html": [tiny, big, tiny]})
    chunks = list(_batch_extractor(Options())(iter([crosses_rows, crosses_bytes])))
    # 64 by rows; the 6 left over + b0 + big flush by bytes; b1 at the end
    assert [len(c) for c in chunks] == [_EMIT_ROWS, 8, 1]
    ids = [d for c in chunks for d in c.doc_id]
    assert sorted(ids) == sorted([*crosses_rows.doc_id, *crosses_bytes.doc_id])


def _dense_page():
    """A small page of thousands of inline elements: element-dense, not big."""
    body = "".join(f"<b>w{i}</b> " for i in range(3000))
    return ("dense-1", f"<html><body><article><p>{body}</p></article></body></html>")


def test_route_and_extract_covers_both_branches(spark, synth_pages, pages_to_documents):
    """The salted route and the in-place route return the same rows, over
    ordinary pages, a ×64 mega page above 50 KB and an element-dense page."""
    pages = synth_pages([0, 1, 2, 3, 499]) + [_dense_page()]
    assert max(len(h) for _, h in pages) > 50_000
    docs = pages_to_documents(pages)

    def rows(df):
        return sorted(
            (r.doc_id, r.status, r.title, [tuple(s) for s in r.spans or []])
            for r in df.collect()
        )

    in_place = rows(route_and_extract(docs))
    assert in_place == rows(route_and_extract(docs, num_partitions=4))
    assert {r[0] for r in in_place} == {d for d, _ in pages}
    assert all(r[1] == "ok" for r in in_place)


def _plan_counts(df):
    """Operator counts in the executed physical plan, after it has run."""
    import re

    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        op: len(re.findall(rf"\b{op}\b", plan))
        for op in ("FileScan", "Union", "Exchange", "MapInPandas")
    }


def test_route_and_extract_plan_is_one_route(spark, synth_pages, pages_to_documents, tmp_path):
    """One scan and one kernel pass: no union of size-routed branches, and
    an exchange only when a salted repartition is asked for."""
    table = str(tmp_path / "docs")
    pages_to_documents(synth_pages(range(8))).write.parquet(table)
    in_place = _plan_counts(route_and_extract(spark.read.parquet(table)))
    assert in_place == {"FileScan": 1, "Union": 0, "Exchange": 0, "MapInPandas": 1}
    salted = _plan_counts(route_and_extract(spark.read.parquet(table), num_partitions=4))
    assert salted == {"FileScan": 1, "Union": 0, "Exchange": 1, "MapInPandas": 1}


def test_extract_articles_enforces_arrow_limits(spark, synth_pages, pages_to_documents):
    """A session left on Spark's Arrow defaults (10,000 records, no byte
    cap) must still batch boundedly once extraction has run on it:
    extract_articles applies both limits itself (a spark-submit session is
    built without them).  A probe on the same session then sees no batch
    over the row cap, a document larger than the byte cap ending the batch
    it joins, and the next such document alone in its batch."""
    from pyspark.sql import functions as F

    keys = (
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.execution.arrow.maxBytesPerBatch",
    )
    prev = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], "10000")
    spark.conf.unset(keys[1])
    try:
        assert extract_articles(pages_to_documents(synth_pages([0]))).count() == 1

        n, big = 3 * ARROW_MAX_RECORDS, ARROW_MAX_RECORDS + 5
        docs = spark.range(0, n, 1, numPartitions=1).select(
            F.col("id"),
            F.when(F.col("id").isin(big, big + 1), F.repeat(F.lit("x"), ARROW_MAX_BYTES + 1))
            .otherwise(F.lit("<p>small</p>"))
            .alias("html"),
        )

        def probe(batches):
            import pandas as pd

            for pdf in batches:
                yield pd.DataFrame({"first": [pdf.id.min()], "last": [pdf.id.max()]})

        spans = sorted((b.first, b.last) for b in docs.mapInPandas(probe, "first long, last long").collect())
        assert sum(last - first + 1 for first, last in spans) == n
        assert max(last - first + 1 for first, last in spans) <= ARROW_MAX_RECORDS
        assert (ARROW_MAX_RECORDS, big) in spans
        assert (big + 1, big + 1) in spans
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


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


L = "word " * 80
# hand-written non-readerable pages: navigation only, or 50 bare divs
LINK_FARM = (
    "<html><body>"
    + "".join(f'<a href="/p{i}">link {i}</a> ' for i in range(200))
    + "</body></html>"
)
DIV_PAGE = "<html><body>" + "<div>x</div>" * 50 + "</body></html>"
STATUS_OPTIONS = [
    Options(),
    Options(max_elems_to_parse=10),
    Options(serializer=lambda node: None),
]
# html -> statuses with prescreen off, then on, under STATUS_OPTIONS in order
STATUS_TABLE = [
    pytest.param("", ("parse_error",) * 3, ("not_readerable",) * 3, id="empty"),
    pytest.param(None, ("parse_error",) * 3, ("not_readerable",) * 3, id="none"),
    pytest.param(
        f"<p>{L}</p><p>{L}</p>", ("no_article",) * 3, ("no_article",) * 3, id="no-html-body"
    ),
    pytest.param("<p>hi</p>", ("no_article",) * 3, ("not_readerable",) * 3, id="short"),
    pytest.param(
        f"<html><div><p>{L}</p></div></html>",
        ("no_article",) * 3,
        ("not_readerable",) * 3,
        id="body-less",
    ),
    pytest.param(
        f"<body><article><p>{L}</p><p>{L}</p></article></body>",
        ("ok", "ok", "parse_error"),
        ("ok", "ok", "parse_error"),
        id="article",
    ),
    pytest.param(
        LINK_FARM, ("ok", "too_large", "parse_error"), ("not_readerable",) * 3, id="link-farm"
    ),
    pytest.param(
        DIV_PAGE, ("ok", "too_large", "parse_error"), ("not_readerable",) * 3, id="div-page"
    ),
]


@pytest.mark.parametrize("html,off,on", STATUS_TABLE)
def test_extract_one_status_table(html, off, on):
    """parse_document assigns every status; the prescreen verdict wins over
    the empty-source parse_error, the body-less no_article and too_large."""
    for prescreen, want in ((False, off), (True, on)):
        rows = [extract_one("d", html, None, o, prescreen) for o in STATUS_OPTIONS]
        assert tuple(r["status"] for r in rows) == want, prescreen
        for r in rows:
            if r["status"] == "parse_error" and html:
                assert r["error"].startswith("TypeError: ")
            else:
                assert r["error"] is None


@pytest.mark.parametrize("html,off,on", STATUS_TABLE)
def test_source_is_parsed_once(monkeypatch, html, off, on):
    """One DOM per document: with the prescreen on or off, the source
    reaches parse_html once (an empty source, never); the output spans
    reparse the serialized article, not the source."""
    from go_readability_spark.codec import spans
    from go_readability_spark.kernel import dom, readability, readerable

    seen = []

    def counting_parse_html(src, *args):
        seen.append(src)
        return dom.parse_html(src, *args)

    for mod in (readability, readerable, spans):
        monkeypatch.setattr(mod, "parse_html", counting_parse_html)
    for prescreen in (False, True):
        seen.clear()
        extract_one("d", html, None, Options(), prescreen)
        assert seen.count(html) == (1 if html else 0), prescreen


def test_prescreen_gates_through_readerable(spark, synth_pages, pages_to_documents):
    """The reference's check-before-parse workflow through the Spark
    surface: with prescreen=True, every document the kernel's
    IsProbablyReaderable rejects lands as a status='not_readerable' row
    (no grab-loop output), and every readerable document extracts
    IDENTICALLY to the ungated path."""
    from go_readability_spark.kernel.readerable import is_probably_readerable

    pages = synth_pages(range(6)) + [("link-farm", LINK_FARM), ("div-page", DIV_PAGE)]
    docs = pages_to_documents(pages)
    opts = Options(classes_to_preserve=["page", "caption"])
    gated = {r.doc_id: r for r in extract_articles(docs, opts, prescreen=True).collect()}
    plain = {r.doc_id: r for r in extract_articles(docs, opts).collect()}
    assert set(gated) == set(plain) == {d for d, _ in pages}
    skipped = set()
    for name, html in pages:
        row = gated[name]
        if is_probably_readerable(html, opts):
            assert row.status == plain[name].status == "ok", name
            assert row.text_content == plain[name].text_content, name
            assert row.title == plain[name].title, name
            assert row.spans == plain[name].spans, name
        else:
            skipped.add(name)
            assert row.status == "not_readerable", name
            assert row.spans is None and row.text_content is None, name
    # the hand-written pages are the non-readerable ones, and only they
    assert skipped == {"link-farm", "div-page"}


def _poison_options():
    # a serializer that returns no string: the output-span codec raises
    return Options(serializer=lambda node: None)


def test_output_codec_failure_is_one_error_row(synth_pages):
    (doc_id, html), = synth_pages([0])
    assert extract_one(doc_id, html, None, Options())["status"] == "ok"
    row = extract_one(doc_id, html, None, _poison_options())
    assert row["status"] == "parse_error"
    assert row["error"].startswith("TypeError: ")
    assert row["spans"] is None and row["title"] is None


def test_output_codec_failure_through_spark(spark, synth_pages, pages_to_documents):
    docs = pages_to_documents(synth_pages([0]))
    rows = extract_articles(docs, _poison_options()).collect()
    assert len(rows) == 1
    assert rows[0].status == "parse_error"
    assert rows[0].error.startswith("TypeError: ")


def test_reused_worker_skips_zip_rereads(spark, synth_pages):
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

    extract = _batch_extractor(Options(classes_to_preserve=["page", "caption"]))

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
    pages = spark.createDataFrame(pd.DataFrame(synth_pages(range(2)), columns=["doc_id", "html"]))
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
