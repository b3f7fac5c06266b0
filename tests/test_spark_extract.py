"""Spark-level extraction tests: the mapInArrow operator must reproduce the
pure-Python kernel's golden results through the full codec round-trip
(FIXTURES.md §2: span-sequence equality (kind, text, media_ref, order))."""

import os

import pytest

from go_readability_spark.codec.spans import html_fragment_to_normalized_spans
from go_readability_spark.kernel.golden import FIXTURES_DIR
from go_readability_spark.kernel.options import Options
from go_readability_spark.kernel.readability import parse_document
from go_readability_spark.spark.corpus import fixture_documents
from go_readability_spark.spark.extract import (
    DEFAULT_URI,
    _HTML_EXPR,
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
        for op in ("FileScan", "Union", "Exchange", "MapInArrow")
    }


def test_route_and_extract_plan_is_one_route(spark, synth_pages, pages_to_documents, tmp_path):
    """One scan and one kernel pass: no union of size-routed branches, and
    an exchange only when a salted repartition is asked for."""
    table = str(tmp_path / "docs")
    pages_to_documents(synth_pages(range(8))).write.parquet(table)
    in_place = _plan_counts(route_and_extract(spark.read.parquet(table)))
    assert in_place == {"FileScan": 1, "Union": 0, "Exchange": 0, "MapInArrow": 1}
    salted = _plan_counts(route_and_extract(spark.read.parquet(table), num_partitions=4))
    assert salted == {"FileScan": 1, "Union": 0, "Exchange": 1, "MapInArrow": 1}


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
            import pyarrow as pa

            for batch in batches:
                ids = batch.column("id").to_pylist()
                yield pa.RecordBatch.from_pydict({"first": [min(ids)], "last": [max(ids)]})

        spans = sorted((b.first, b.last) for b in docs.mapInArrow(probe, "first long, last long").collect())
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
    # shapes only Result.html_content, which the articles row never carries
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
        ("ok",) * 3,
        ("ok",) * 3,
        id="article",
    ),
    pytest.param(LINK_FARM, ("ok", "too_large", "ok"), ("not_readerable",) * 3, id="link-farm"),
    pytest.param(DIV_PAGE, ("ok", "too_large", "ok"), ("not_readerable",) * 3, id="div-page"),
]


@pytest.mark.parametrize("html,off,on", STATUS_TABLE)
def test_extract_one_status_table(html, off, on):
    """parse_document assigns every status; the prescreen verdict wins over
    the empty-source parse_error, the body-less no_article and too_large."""
    for prescreen, want in ((False, off), (True, on)):
        rows = [extract_one("d", html, None, o, prescreen) for o in STATUS_OPTIONS]
        assert tuple(r["status"] for r in rows) == want, prescreen
        assert all(r["error"] is None for r in rows)


@pytest.mark.parametrize("html,off,on", STATUS_TABLE)
def test_source_is_parsed_once(monkeypatch, html, off, on):
    """One DOM per document: with the prescreen on or off, the source
    reaches parse_html once (an empty source, never), and the serialized
    article never does: the output spans walk the article DOM."""
    from go_readability_spark.codec import spans
    from go_readability_spark.kernel import dom, readability, readerable

    seen = []

    def counting_parse_html(src, *args):
        seen.append(src)
        return dom.parse_html(src, *args)

    for mod in (readability, readerable, spans):
        monkeypatch.setattr(mod, "parse_html", counting_parse_html)
    for prescreen in (False, True):
        result = parse_document(html or "", DEFAULT_URI, Options(), prescreen)[0]
        seen.clear()
        extract_one("d", html, None, Options(), prescreen)
        assert seen.count(html) == (1 if html else 0), prescreen
        if result is not None:
            assert result.html_content not in seen, prescreen


# the first grab strips the unlikely-candidate sidebar and keeps too little
# text, so the grab retries on a clone of the page
RETRY_PAGE = f'<html><body><div class="sidebar"><p>{L}</p><p>{L}</p></div><p>short</p></body></html>'
# paragraphs straight under <body>: the top candidate is BODY, so the grab
# falls back to a fresh DIV holding the whole body
BODY_FALLBACK_PAGE = f"<html><body><p>{L}</p><p>{L}</p></body></html>"


def _row_fields(row):
    spans = row["spans"]
    return {**row, "spans": None if spans is None else [s.as_tuple() for s in spans]}


@pytest.mark.parametrize(
    "html",
    [p.values[0] for p in STATUS_TABLE] + [RETRY_PAGE, BODY_FALLBACK_PAGE],
    ids=[p.id for p in STATUS_TABLE] + ["retry", "body-fallback"],
)
def test_release_never_touches_the_returned_article(monkeypatch, html):
    """parse_document releases the document and the attempts it drops,
    never the article it returns: every row field equals the row built
    with release patched to a no-op, and the article is detached."""
    from go_readability_spark.kernel import readability
    from go_readability_spark.spark import extract

    for prescreen in (False, True):
        for options in STATUS_OPTIONS:
            released = _row_fields(extract_one("d", html, None, options, prescreen))
            _, article, _ = parse_document(html or "", DEFAULT_URI, options, prescreen)
            assert article is None or article.parent_node is None
            with monkeypatch.context() as m:
                m.setattr(readability, "release", lambda root: None)
                m.setattr(extract, "release", lambda root: None)
                kept = _row_fields(extract_one("d", html, None, options, prescreen))
            assert released == kept, (prescreen, options)


def test_retry_and_fallback_pages_take_their_paths(monkeypatch):
    """RETRY_PAGE retries its grab on a page clone; BODY_FALLBACK_PAGE
    extracts in one grab."""
    from go_readability_spark.kernel import dom, readability

    clones = []
    monkeypatch.setattr(readability, "clone_deep", lambda root: clones.append(root) or dom.clone_deep(root))
    assert parse_document(RETRY_PAGE, DEFAULT_URI, Options())[2] == "ok"
    assert clones
    clones.clear()
    assert parse_document(BODY_FALLBACK_PAGE, DEFAULT_URI, Options())[2] == "ok"
    assert not clones


def _big_article() -> str:
    """A ≥ 200 KB readerable article page with the boilerplate cleanup
    removes (nav, comments, share links) and data tables."""
    nav = "".join(f'<li><a href="/n{i}">Section {i}</a></li>' for i in range(40))
    body = []
    for i in range(440):
        body.append(f"<p>Paragraph {i} of the story, {L}with <a href='/r{i}'>a link</a>.</p>")
        if i % 40 == 0:
            rows = "".join(f"<tr><td>{i}</td><td>{j}</td><td>cell {j}</td></tr>" for j in range(10))
            body.append(f"<table><tr><th>a</th><th>b</th><th>c</th></tr>{rows}</table>")
    comments = "".join(f'<div class="comment">Comment {i}: nice</div>' for i in range(30))
    return (
        f"<html><head><title>Big</title></head><body><nav><ul>{nav}</ul></nav>"
        f'<article>{"".join(body)}</article><div id="comments">{comments}</div>'
        '<div class="share"><a href="/s">Share</a></div></body></html>'
    )


def _link_farm() -> str:
    return "<html><body>" + "".join(
        f'<ul><li><a href="/p{i}">link {i}</a></li><li><a href="/q{i}">other {i}</a></li></ul>'
        for i in range(2500)
    ) + "</body></html>"


@pytest.mark.parametrize("make, status", [(_big_article, "ok"), (_link_farm, "not_readerable")])
def test_extract_one_frees_its_dom_without_the_gc(make, status):
    """With the cyclic GC off, one extract_one call leaves under 1.5 MB
    traced: the document, the dropped attempts and the article are
    released by refcounting as soon as the row is built, not left as
    cyclic garbage for a collection (2.6 and 10 MB of it on these pages
    when nothing is released)."""
    import gc
    import tracemalloc

    html = make()
    assert len(html) >= 200_000
    extract_one("warm", html, None, Options(), True)  # fill module caches
    gc.collect()
    gc.disable()
    tracemalloc.start()
    try:
        before = tracemalloc.get_traced_memory()[0]
        row = extract_one("d", html, None, Options(), True)
        assert row["status"] == status
        del row
        left = tracemalloc.get_traced_memory()[0] - before
    finally:
        tracemalloc.stop()
        gc.enable()
    assert left < 1_500_000, left


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


def test_output_codec_failure_is_one_error_row(monkeypatch, synth_pages):
    from go_readability_spark.spark import extract

    def broken_walk(article):
        raise TypeError("walk failed")

    (doc_id, html), = synth_pages([0])
    assert extract_one(doc_id, html, None, Options())["status"] == "ok"
    monkeypatch.setattr(extract, "dom_to_spans", broken_walk)
    row = extract_one(doc_id, html, None, Options())
    assert row["status"] == "parse_error"
    assert row["error"] == "TypeError: walk failed"
    assert row["spans"] is None and row["title"] is None


def test_output_codec_failure_through_spark(spark, synth_pages, pages_to_documents):
    """A walk that raises inside a Spark task yields one error row, not a
    failed task.  The walk is patched inside the task, and restored
    after it, because Spark reuses the worker."""
    from pyspark.sql import functions as F

    extract = _batch_extractor(Options())

    def broken(batches):
        from go_readability_spark.spark import extract as module

        def broken_walk(article):
            raise TypeError("walk failed")

        stock = module.dom_to_spans
        module.dom_to_spans = broken_walk
        try:
            yield from extract(batches)
        finally:
            module.dom_to_spans = stock

    docs = pages_to_documents(synth_pages([0]))
    html = docs.select("doc_id", F.expr(_HTML_EXPR).alias("html"), "uri")
    rows = html.mapInArrow(broken, ARTICLES_SCHEMA).collect()
    assert len(rows) == 1
    assert rows[0].status == "parse_error"
    assert rows[0].error == "TypeError: walk failed"


def test_residual_class_keeps_article_media():
    """A kept <p> whose text serializes to markup: reparsing the
    serialized article would turn that text into elements and lose the
    <img>; the walk emits the img media span the article holds."""
    inner = '<p a="bx> <img src=x.png> tail'
    html = f"<html><body><article><p>{L}</p><p>{L}{inner}</p></article></body></html>"
    row = extract_one("d", html, None, Options())
    assert row["status"] == "ok"
    media = [s["media_ref"] for s in row["spans"] if s["kind"] == "img"]
    assert media == ["http://fakehost/test/x.png"]
    result = parse_document(html, DEFAULT_URI, Options())[0]
    assert not [s for s in html_fragment_to_normalized_spans(result.html_content) if s.kind == "img"]


def test_reused_worker_skips_zip_rereads(spark, synth_pages):
    """A Python worker that already ran an extraction task re-reads no zip
    directory when Spark sets up its next task.  The probe wraps the
    worker's ``zipimport._read_directory`` with a counter on its first
    task and reports, on each later task in the same worker, the reads
    since the previous task ended: Spark's per-task
    ``importlib.invalidate_caches()`` happens in between.  Nothing here
    calls ``prepare_worker``: unpickling the extractor imports the engine
    inside the task, and that import prepares the worker."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

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
            n = out.num_rows
            probes = [pa.array([os.getpid()] * n, pa.int64()), pa.array([primed] * n), pa.array([reads] * n, pa.int64())]
            yield pa.RecordBatch.from_arrays(out.columns + probes, schema=arrow_schema)
        read_directory.calls = 0

    schema = T.StructType(
        ARTICLES_SCHEMA.fields
        + [
            T.StructField("pid", T.LongType()),
            T.StructField("primed", T.BooleanType()),
            T.StructField("zip_reads", T.LongType()),
        ]
    )
    arrow_schema = to_arrow_schema(schema)
    pages = spark.createDataFrame(
        [(d, html, DEFAULT_URI) for d, html in synth_pages(range(2))], "doc_id string, html string, uri string"
    )
    job = pages.coalesce(1).mapInArrow(probed, schema).select("status", "pid", "primed", "zip_reads")
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
