"""The engine's Arrow writer (``session.record_batch`` and ``emit_frames``)
and the pandas-free Python operators it makes possible: extraction, the
ingest sources and the textops folds."""

import ast
import json
import os
import subprocess
import sys
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from go_readability_spark.codec.spans import SpanColumns
from go_readability_spark.kernel.options import Options
from go_readability_spark.spark import corpus, extract
from go_readability_spark.spark.schema import ARTICLES_SCHEMA, DOCUMENTS_SCHEMA
from go_readability_spark.spark.session import EMIT_MAX_BYTES, EMIT_MAX_ROWS, emit_frames, numbers, record_batch

_SPAN = {"kind": "markup", "text": "<p>", "media_ref": "", "offset": 0}
_TEXTS = ["", "plain", "naïve café", "日本語のテキスト", "astral 𝄞 😀 𠜎", "a\x00b"]
# a PDF page's spans: offsets are character offsets, not span indexes
_PDF_SPANS = [
    {"kind": "markup", "text": "<html><body>", "media_ref": "", "offset": 0},
    {"kind": "markup", "text": "<p>Hello PDF world.</p>", "media_ref": "", "offset": 12},
    {"kind": "markup", "text": "</body></html>", "media_ref": "", "offset": 35},
]


def _article(i: int) -> dict:
    """Row ``i`` of the table, spans in dict form: each nullable column is
    null on some rows; spans cycle through None, [] (next to it), one span,
    several (with a null text and a null media_ref) and a PDF page's."""
    text = _TEXTS[i % len(_TEXTS)]
    spans = [
        None,
        [],
        [{**_SPAN, "text": text, "offset": i}],
        [_SPAN, {"kind": "img", "text": None, "media_ref": text, "offset": 3},
         {"kind": "markup", "text": text, "media_ref": None, "offset": 9}],
        _PDF_SPANS,
    ][i % 5]
    row = {
        "doc_id": f"doc-{i}-{text}",
        "spans": spans,
        "status": "ok" if i % 2 else "",
        "length": None if i % 5 == 1 else len(text) - 2,
    }
    names = ["title", "byline", "dir", "lang", "excerpt", "site_name", "published_time", "text_content", "error"]
    for k, name in enumerate(names):
        row[name] = None if (i + k) % 3 == 0 else _TEXTS[(i + k) % len(_TEXTS)]
    return row


def _document(i: int) -> dict:
    article = _article(i)
    return {"doc_id": article["doc_id"], "uri": article["title"], "spans": article["spans"]}


def _written(row: dict) -> dict:
    """``row`` as the engine hands it to the writer: spans as the
    ``SpanColumns`` the codecs fill."""
    if row["spans"] is None:
        return row
    cols = SpanColumns()
    for s in row["spans"]:
        cols.append(s["kind"], s["text"], s["media_ref"], s["offset"])
    return {**row, "spans": cols}


def _assert_batches(batches, rows, arrow):
    """Each batch is valid and equals pyarrow's own row builder on the
    dict form of its rows."""
    start = 0
    for batch in batches:
        want = pa.RecordBatch.from_pylist(rows[start : start + batch.num_rows], schema=arrow)
        batch.validate(full=True)
        assert batch.schema == arrow
        assert batch.equals(want), (batch.to_pylist(), want.to_pylist())
        start += batch.num_rows
    assert start == len(rows)


@pytest.mark.parametrize(
    "schema, make", [(ARTICLES_SCHEMA, _article), (DOCUMENTS_SCHEMA, _document)], ids=["articles", "documents"]
)
def test_writer_matches_pyarrow_builder(schema, make):
    """Each batch equals what pyarrow's own row builder makes of the same
    rows, and passes full validation.  The table cuts by rows first
    (EMIT_MAX_ROWS tiny rows), then by bytes (a row that reaches
    EMIT_MAX_BYTES), then ends on a short tail."""
    arrow = to_arrow_schema(schema)
    sizes = [1] * (EMIT_MAX_ROWS + 3) + [EMIT_MAX_BYTES] + [1] * 5
    rows = [make(i) for i in range(len(sizes))]
    batches = list(emit_frames(((_written(r), n) for r, n in zip(rows, sizes)), arrow))
    assert [b.num_rows for b in batches] == [EMIT_MAX_ROWS, 4, 5]
    _assert_batches(batches, rows, arrow)


def test_writer_on_codec_columns():
    """The span columns each codec fills (the input codec over non-ASCII
    and astral text and media, the PDF branch with its character offsets,
    the output walk over an article) write as their dict form does."""
    html = f'<p>naïve 日本 𝄞 😀</p><img src="𠜎.png"><video src=v.mp4>{_PAGE}'
    pdf = corpus._spans(_PDF)
    assert [s.as_row() for s in pdf] == _PDF_SPANS
    assert list(pdf.offset) != list(range(len(pdf)))
    article = extract.extract_one("a", html, None, Options())["spans"]
    assert article is not None and len(article) > 3
    arrow = to_arrow_schema(DOCUMENTS_SCHEMA)
    docs = [("html", corpus._spans(html)), ("pdf", pdf), ("article", article), ("none", None), ("zero", SpanColumns())]
    written = [{"doc_id": d, "uri": None, "spans": cols} for d, cols in docs]
    rows = [{**r, "spans": None if r["spans"] is None else [s.as_row() for s in r["spans"]]} for r in written]
    assert any(any(not s["text"].isascii() for s in r["spans"] or []) for r in rows)
    _assert_batches(list(emit_frames(((r, 1) for r in written), arrow)), rows, arrow)


def test_writer_numeric_numpy_and_passthrough_columns():
    """int64 and double lists with nulls, numpy columns (one of them a
    strided view) and an input list<float> array passed through (a slice,
    so its offset is not 0) write as pyarrow's own builder makes them."""
    emb = pa.array([[9.0], [1.5, -2.0], None, [], [0.25, 3.0, -1.0]], type=pa.list_(pa.float32())).slice(1)
    ints = [1, None, -(2**62), 0]
    floats = [0.5, None, float("inf"), -1e-300]
    schema = pa.schema(
        [("i", pa.int64()), ("d", pa.float64()), ("ni", pa.int64()), ("nd", pa.float64()),
         ("n32", pa.int32()), ("e", emb.type)]
    )
    strided = np.arange(8, dtype=np.int64)[::2]
    real = np.array([1.25, -2.5, 0.0, 1e300])
    batch = record_batch([ints, floats, strided, real, np.array([7, -8, 9, 2**31 - 1]), emb], schema)
    want = pa.RecordBatch.from_pydict(
        {"i": ints, "d": floats, "ni": strided.tolist(), "nd": real.tolist(), "n32": [7, -8, 9, 2**31 - 1],
         "e": emb.to_pylist()},
        schema=schema,
    )
    batch.validate(full=True)
    assert batch.equals(want), (batch.to_pylist(), want.to_pylist())
    out = batch.column("e")  # the input's own buffers, not a copy
    assert out.offset == emb.offset == 1 and out.buffers()[1].address == emb.buffers()[1].address
    assert numbers(batch.column("ni").slice(1), np.int64).tolist() == [2, 4, 6]
    assert numbers(emb.flatten(), np.float32).tolist() == [1.5, -2.0, 0.25, 3.0, -1.0]


def _warc(pages: list[str]) -> bytes:
    out = b""
    for i, page in enumerate(pages):
        body = b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" + page.encode()
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: {len(body)}\r\n"
            f"WARC-Target-URI: http://a.ex/{i}\r\nWARC-Record-ID: <urn:g:{i}>\r\n\r\n"
        )
        out += head.encode() + body + b"\r\n\r\n"
    return out


_PAGE = "<html><head><title>T</title></head><body><article><p>" + "Some words here, " * 60 + "</p></article></body></html>"
_PDF_CONTENT = zlib.compress(b"BT (Hello PDF world.) Tj ET")
_PDF = (
    b"%%PDF-1.4\n1 0 obj << /Filter /FlateDecode /Length %d >> stream\n" % len(_PDF_CONTENT)
    + _PDF_CONTENT
    + b"\nendstream endobj\n"
)

def _vectors(rows: list[list[float]]) -> pa.Array:
    return pa.array(rows, type=pa.list_(pa.float32()))


_ONES = [1.0] * 64
_SIGNS = [(-1.0) ** d for d in range(64)]

# Extraction, the four ingest sources and the four textops folds, each as
# its batch function's name and one input batch of the columns Spark hands
# it (the bucket verify's batch is one band bucket).
_INPUTS = {
    "extract": {"doc_id": ["a", "b"], "html": [_PAGE, None], "uri": ["http://x.ex/a", None]},
    "html": {"doc_id": ["a", "b"], "html": [_PAGE, None], "uri": ["http://x.ex/a", None]},
    "synth": {"doc_id": [1, 2], "text": ["fine words here", None], "lang": ["en", None],
              "source": ["s", None], "rep": [0, 1]},
    "pdf": {"doc_id": ["p", "q"], "payload": [_PDF, None], "uri": ["http://x.ex/p", None]},
    "warc": {"content": [_warc([_PAGE, "<p>second</p>"]), None], "path": ["a", None]},
    "repetition": {"doc_id": [1, 2, 3], "text": ["a b a b c", "", None]},
    "simhash": {"doc_id": ["a", "b"], "text": ["a b a", None]},
    "signatures": {"vec_id": [5, 6], "embedding": _vectors([_ONES, _SIGNS])},
    "verify": {"vec_id": [9, 3, 4], "band_idx": [0, 0, 0], "band_val": [1, 1, 1],
               "embedding": _vectors([[2.0] * 64, _ONES, _SIGNS])},
}

_GUARD = r"""
import json, sys
import pyarrow as pa
from go_readability_spark.spark import corpus, extract
from go_readability_spark.kernel.options import Options
from go_readability_spark.textops import dedup, similarity, textstats

assert "pandas" not in sys.modules, "importing the engine imported pandas"
fns = {
    "repetition": textstats._repetition_batches,
    "simhash": dedup._simhash_batches,
    "signatures": similarity._signature_batches(similarity.EMB_PLANES, keep_embedding=True),
    "verify": similarity._bucket_verifier(0.5, 1 << 20),
    "extract": extract._batch_extractor(Options(), prescreen=True),
    "html": corpus._encode(corpus._html_pages),
    "synth": corpus._encode(corpus._synth_pages),
    "pdf": corpus._encode(corpus._pdf_pages),
    "warc": corpus._encode(corpus._warc_pages),
}
rows = {}
for name, fn in fns.items():
    with pa.ipc.open_stream(sys.argv[1] + "/" + name) as reader:
        rows[name] = [r for b in fn(iter(reader)) for r in b.to_pylist()]
print(json.dumps({"pandas": "pandas" in sys.modules, "rows": rows}))
"""


def test_workers_never_import_pandas(tmp_path):
    """In a fresh interpreter, importing the engine and running extraction,
    all four ingest sources and the four textops folds over IPC-read Arrow
    batches (as a Spark worker receives them) leaves pandas unimported,
    and the rows come out."""
    for name, columns in _INPUTS.items():
        batch = pa.RecordBatch.from_pydict(columns)
        with pa.ipc.new_stream(str(tmp_path / name), batch.schema) as writer:
            writer.write_batch(batch)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _GUARD, str(tmp_path)], cwd=root, capture_output=True, text=True
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout)
    assert out["pandas"] is False
    rows = out["rows"]
    assert [(r["doc_id"], r["status"]) for r in rows["extract"]] == [("a", "ok"), ("b", "not_readerable")]
    assert [r["doc_id"] for r in rows["html"]] == ["a", "b"]
    assert [r["doc_id"] for r in rows["synth"]] == ["doc-000000001", "doc-000000002-r001"]
    assert [r["doc_id"] for r in rows["pdf"]] == ["p", "q"]
    assert [r["doc_id"] for r in rows["warc"]] == ["<urn:g:0>", "<urn:g:1>"]
    pdf_text = "".join(s["text"] for s in rows["pdf"][0]["spans"])
    assert pdf_text == "<html><body><p>Hello PDF world.</p></body></html>"
    assert all(r["spans"] for r in rows["html"][:1] + rows["synth"] + rows["warc"])
    assert rows["repetition"] == [
        {"doc_id": 1, "n_words": 5, "dup_word_bp": 4000, "top_2gram_bp": 6666, "dup_5gram_bp": 0},
        {"doc_id": 2, "n_words": 1, "dup_word_bp": 0, "top_2gram_bp": None, "dup_5gram_bp": None},
        {"doc_id": 3, "n_words": None, "dup_word_bp": None, "top_2gram_bp": None, "dup_5gram_bp": None},
    ]
    assert [(r["doc_id"], r["simhash"] != 0) for r in rows["simhash"]] == [("a", True), ("b", False)]
    assert [r["vec_id"] for r in rows["signatures"]] == [5, 6]
    assert [r["embedding"] for r in rows["signatures"]] == [_ONES, _SIGNS]
    assert rows["verify"] == [{"vec_a": 3, "vec_b": 9, "raw": 1.0}]


def test_package_never_imports_pandas():
    """No module of the package imports pandas or crosses the Python
    boundary through it: every Python operator is ``mapInArrow`` or
    ``applyInArrow``."""
    root = Path(__file__).resolve().parent.parent / "go_readability_spark"
    found = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            names = []
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                names = [node.module or ""]
            found += [f"{path.name}: import {n}" for n in names if n.split(".")[0] == "pandas"]
            if isinstance(node, ast.Attribute) and node.attr in ("mapInPandas", "applyInPandas", "toPandas"):
                found.append(f"{path.name}:{node.lineno}: {node.attr}")
    assert len(list(root.rglob("*.py"))) > 20
    assert found == []
