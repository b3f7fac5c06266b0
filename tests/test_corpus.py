"""Corpus synthesis tests: determinism, codec round-trip, skew shape."""

import pytest

from go_readability_spark.codec.spans import html_to_spans, spans_to_html
from go_readability_spark.spark.corpus import synth_html, synthesize_documents


def test_synth_html_deterministic():
    a = synth_html(42, "alpha beta gamma delta", "en", "src1")
    b = synth_html(42, "alpha beta gamma delta", "en", "src1")
    assert a == b
    assert synth_html(43, "alpha beta gamma delta", "en", "src1") != a


def test_synth_html_roundtrips_through_codec():
    html = synth_html(7, "one two three four five six seven eight nine ten " * 30, "en", "s")
    spans = html_to_spans(html)
    assert spans_to_html(spans) == html
    kinds = {s.kind for s in spans}
    assert "img" in kinds and "markup" in kinds


def test_mega_doc_skew_exists():
    base = synth_html(1, "word " * 200, "en", "s")
    mega = synth_html(499, "word " * 200, "en", "s")
    assert len(mega) > 5 * len(base)


def test_synthesize_documents_spark(spark):
    docs = synthesize_documents(spark, "/root/testdata/sf0.001")
    sample = docs.limit(3).collect()
    assert all(r.doc_id.startswith("doc-") for r in sample)
    # offsets strictly ordered; reassembly yields the article page
    for r in sample:
        assert len(r.spans) >= 1
        offs = [s.offset for s in r.spans]
        assert offs == sorted(offs) and len(set(offs)) == len(offs)
        html = "".join(s.text for s in r.spans)
        assert "<article>" in html and "</html>" in html


@pytest.mark.requires_reference
def test_ingest_html_documents_matches_driver_side_codec(spark):
    """Distributed ingest of raw (doc_id, html, uri) rows produces the
    exact span rows the driver-side codec produces, and the ingested
    corpus extracts identically to the fixture_documents path."""
    import os

    from go_readability_spark.kernel.golden import FIXTURES_DIR
    from go_readability_spark.spark.corpus import fixture_documents, ingest_html_documents
    from go_readability_spark.spark.extract import DEFAULT_URI, extract_articles

    names = sorted(
        n for n in os.listdir(FIXTURES_DIR)
        if os.path.isfile(os.path.join(FIXTURES_DIR, n, "source.html"))
    )[:5]
    raw = spark.createDataFrame(
        [
            (n, open(os.path.join(FIXTURES_DIR, n, "source.html"), encoding="utf-8").read(), DEFAULT_URI)
            for n in names
        ],
        "doc_id string, html string, uri string",
    )
    ingested = ingest_html_documents(raw)
    ing = {r.doc_id: [tuple(s) for s in r.spans] for r in ingested.collect()}
    fix = {
        r.doc_id: [tuple(s) for s in r.spans]
        for r in fixture_documents(spark).collect()
        if r.doc_id in set(names)
    }
    assert ing == fix

    a = extract_articles(ingested).select("doc_id", "title", "length", "status").collect()
    b = [
        r
        for r in extract_articles(fixture_documents(spark))
        .select("doc_id", "title", "length", "status")
        .collect()
        if r.doc_id in set(names)
    ]
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def _warc_record(rtype, body, uri=None, rec_id=None, extra=None):
    headers = [f"WARC-Type: {rtype}", f"Content-Length: {len(body)}"]
    if uri:
        headers.append(f"WARC-Target-URI: {uri}")
    if rec_id:
        headers.append(f"WARC-Record-ID: {rec_id}")
    if extra:
        headers.extend(extra)
    head = "WARC/1.0\r\n" + "\r\n".join(headers) + "\r\n\r\n"
    return head.encode("utf-8") + body + b"\r\n\r\n"


def _http(body_bytes, ctype="text/html; charset=utf-8"):
    return (
        f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n\r\n".encode() + body_bytes
    )


def _build_warc():
    html1 = "<html><body><p>First crawled page &amp; more.</p></body></html>"
    html2 = "<html><body><div><p>Second page.</p></div></body></html>"
    return (
        _warc_record("warcinfo", b"software: synth")
        + _warc_record("request", b"GET / HTTP/1.1\r\n\r\n", uri="http://a.ex/")
        + _warc_record(
            "response", _http(html1.encode()), uri="http://a.ex/one", rec_id="<urn:r:1>"
        )
        + _warc_record(
            "response",
            _http(b"\x89PNG....", ctype="image/png"),
            uri="http://a.ex/logo.png",
            rec_id="<urn:r:2>",
        )
        + b"not a warc record at all\r\n"
        + _warc_record(
            "response", _http(html2.encode()), uri="http://a.ex/two", rec_id="<urn:r:3>"
        ),
        {"<urn:r:1>": ("http://a.ex/one", html1), "<urn:r:3>": ("http://a.ex/two", html2)},
    )


def test_warc_codec_parses_records_and_skips_noise():
    import gzip

    from go_readability_spark.codec.warc import warc_html_pages

    payload, expect = _build_warc()
    for variant in (payload, gzip.compress(payload)):
        got = {rid: (uri, html) for rid, uri, html in warc_html_pages(variant)}
        assert got == expect
    assert list(warc_html_pages(b"")) == []
    assert list(warc_html_pages(b"\x1f\x8btruncated-gzip")) == []


def test_ingest_warc_documents_spark(spark, tmp_path):
    """binaryFile WARC archive → span documents identical to direct HTML
    ingest of the same pages."""
    from go_readability_spark.spark.corpus import ingest_warc_documents

    payload, expect = _build_warc()
    (tmp_path / "crawl.warc").write_bytes(payload)
    bf = spark.read.format("binaryFile").load(str(tmp_path / "crawl.warc"))
    docs = ingest_warc_documents(bf).collect()
    got = {
        r.doc_id: (
            r.uri,
            "".join(s.text for s in sorted(r.spans, key=lambda s: s.offset)),
        )
        for r in docs
    }
    assert got == {
        rid: (uri, spans_to_html(html_to_spans(html)))
        for rid, (uri, html) in expect.items()
    }


def test_warc_ingest_yields_bounded_chunks(spark):
    """A multi-MB archive must stream out of _warc_batches in bounded
    chunks (VERDICT r4 watch item: one frame per archive held ~3× the
    archive size), and chunking must not change the extracted documents."""
    import pandas as pd

    from go_readability_spark.spark import corpus as C

    n_pages = 3 * C.WARC_CHUNK_RECORDS + 7
    body = "<html><body>" + "<p>filler paragraph text.</p>" * 400 + "</body></html>"
    payload = b"".join(
        _warc_record(
            "response",
            _http(f"<html><body><p>page {i}</p>{body[12:]}".encode()),
            uri=f"http://a.ex/p{i}",
            rec_id=f"<urn:chunk:{i}>",
        )
        for i in range(n_pages)
    )
    assert len(payload) > 2_000_000  # genuinely multi-MB
    frames = list(
        C._warc_batches(iter([pd.DataFrame({"content": [payload], "path": ["a"]})]))
    )
    assert len(frames) == 4  # 3 full chunks + remainder, never one mega frame
    assert [len(f) for f in frames[:-1]] == [C.WARC_CHUNK_RECORDS] * 3
    assert frames[-1].shape[0] == 7
    all_ids = [d for f in frames for d in f["doc_id"]]
    assert all_ids == [f"<urn:chunk:{i}>" for i in range(n_pages)]
    # parity: the Spark path over the chunked generator returns every page
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "big.warc")
        with open(p, "wb") as fh:
            fh.write(payload)
        bf = spark.read.format("binaryFile").load(p)
        assert C.ingest_warc_documents(bf).count() == n_pages


def test_warc_codec_graceful_on_corrupt_gzip():
    """Truncated-after-valid-header (EOFError) and mid-stream corruption
    (zlib.error) must yield zero documents, not escape the task — gzip
    raises both outside the OSError hierarchy."""
    import gzip

    from go_readability_spark.codec.warc import warc_html_pages

    payload, _ = _build_warc()
    gz = gzip.compress(payload)
    assert list(warc_html_pages(gz[:20])) == []
    corrupted = gz[:15] + bytes(b ^ 0xFF for b in gz[15:25]) + gz[25:]
    assert list(warc_html_pages(corrupted)) == []


def test_warc_response_without_content_type_is_skipped():
    """No Content-Type header is NOT html: decoding arbitrary bytes with
    replacement would inject mojibake documents into the corpus."""
    from go_readability_spark.codec.warc import warc_html_pages

    body = b"HTTP/1.1 200 OK\r\n\r\n<html><body><p>x</p></body></html>"
    rec = _warc_record("response", body, uri="http://a.ex/n", rec_id="<urn:r:9>")
    assert list(warc_html_pages(rec)) == []


def test_warc_fallback_ids_unique_across_archives():
    """Records without WARC-Record-ID restart their index at 0 in every
    archive; the fallback id must be scoped (path or payload digest) so
    two archives never share a doc_id."""
    from go_readability_spark.codec.warc import warc_html_pages

    html_a = "<html><body><p>archive a</p></body></html>"
    html_b = "<html><body><p>archive b</p></body></html>"
    arc_a = _warc_record("response", _http(html_a.encode()), uri="http://a.ex/")
    arc_b = _warc_record("response", _http(html_b.encode()), uri="http://b.ex/")
    ids_a = [rid for rid, _, _ in warc_html_pages(arc_a)]
    ids_b = [rid for rid, _, _ in warc_html_pages(arc_b)]
    assert ids_a and ids_b
    assert set(ids_a).isdisjoint(ids_b)
    # an explicit archive identity (binaryFile path) scopes deterministically
    assert [rid for rid, _, _ in warc_html_pages(arc_a, "file:/seg/x.warc")] == [
        "file:/seg/x.warc/record-0"
    ]


def test_jsonl_crawl_dump_ingest(spark, tmp_path):
    """A JSONL crawl dump (one {'doc_id','url','html'} object per line —
    the other common crawl-delivery format besides WARC) feeds
    ingest_html_documents through Spark's native JSON source: no custom
    codec needed, and the result extracts identically to direct HTML
    ingest."""
    import json

    from go_readability_spark.spark.corpus import ingest_html_documents
    from go_readability_spark.spark.extract import extract_articles

    pages = {
        "d1": "<html><body><p>First page body text, long enough to keep.</p></body></html>",
        "d2": "<html><body><div><p>Second page.</p></div></body></html>",
    }
    path = tmp_path / "dump.jsonl"
    path.write_text(
        "\n".join(
            json.dumps({"doc_id": k, "url": f"http://ex.com/{k}", "html": v})
            for k, v in pages.items()
        )
    )
    raw = (
        spark.read.schema("doc_id STRING, url STRING, html STRING")
        .json(str(path))
        .withColumnRenamed("url", "uri")
    )
    docs = ingest_html_documents(raw)
    arts = {r.doc_id: r for r in extract_articles(docs).collect()}
    assert set(arts) == set(pages)
    assert all(r.status in ("ok", "no_article") for r in arts.values())
    assert "First page body text" in (arts["d1"].text_content or "")


def test_warc_quoted_charset_decodes():
    """RFC 9110 quoted-string charset (charset="windows-1251") must reach
    the decoder instead of silently falling back to utf-8 mojibake."""
    from go_readability_spark.codec.warc import http_response_html

    body = (
        b'HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="windows-1251"\r\n\r\n'
        b"<html><body><p>\xcf\xf0\xe8\xe2\xe5\xf2</p></body></html>"
    )
    html = http_response_html(body)
    assert html is not None and "Привет" in html


def test_warc_record_that_raises_becomes_empty_document(monkeypatch):
    """A record the span codec raises on becomes one document without spans
    instead of failing the ingest task; its neighbours still encode."""
    import pandas as pd

    from go_readability_spark.spark import corpus as C

    real = C.html_to_spans

    def flaky(html):
        if "poison" in html:
            raise RuntimeError("boom")
        return real(html)

    monkeypatch.setattr(C, "html_to_spans", flaky)
    payload = b"".join(
        _warc_record("response", _http(body.encode()), uri=f"http://a.ex/{i}", rec_id=f"<urn:p:{i}>")
        for i, body in enumerate(["<html><body><p>fine</p></body></html>", "<p>poison</p>"])
    )
    frames = list(C._warc_batches(iter([pd.DataFrame({"content": [payload], "path": ["a"]})])))
    spans = {d: list(s) for f in frames for d, s in zip(f["doc_id"], f["spans"])}
    assert sorted(spans) == ["<urn:p:0>", "<urn:p:1>"]
    assert spans["<urn:p:1>"] == []
    assert "".join(s["text"] for s in spans["<urn:p:0>"]) == "<html><body><p>fine</p></body></html>"
