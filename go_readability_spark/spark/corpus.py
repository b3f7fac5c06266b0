"""Deterministic corpus synthesis → the interleaved-span documents table.

Two generators, both emitting ``DOCUMENTS_SCHEMA`` rows (BASELINE.json
``input_hint`` shape):

1. ``fixture_documents`` — the reference's 119 golden pages
   (/root/reference/testdata/test-pages), for end-to-end correctness.
2. ``synthesize_documents`` — article-shaped HTML pages generated
   deterministically from the driver's ``documents.parquet`` text corpus
   (TESTDATA.md), for throughput/scaling benchmarks.  Generation happens
   *inside* ``mapInPandas`` so it scales with the cluster — the driver never
   materializes pages.  No randomness: all variation is modular arithmetic
   on ``doc_id``, so sf0.01 tonight equals sf0.01 tomorrow.

Synthetic pages deliberately include the boilerplate families the kernel
must strip (nav/sidebar/comments/footer/share/script — regexps.go:8,17)
and interleaved media anchors (img/figure/video-iframe) whose spans must
survive exactly when their DOM position survives cleanup.  Every ~500th
document is a mega-doc (content ×64): the size outlier Arrow batch
bounding and straggler metrics must cope with.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..codec.spans import html_to_spans
from ..kernel.golden import FIXTURES_DIR
from .extract import DEFAULT_URI
from .schema import DOCUMENTS_SCHEMA
from . import worker  # noqa: F401  (sets up a Python worker on import)

_STOP_EVERY_WORDS = 13  # sentence length in words
_SENTS_PER_PARA = 4


def fixture_documents(
    spark: SparkSession, root: str = FIXTURES_DIR, replicate: int = 1
) -> DataFrame:
    """119 golden fixtures as a documents DataFrame.

    ``replicate`` fans each fixture out K× with unique doc_ids
    (JVM-side crossJoin — span payloads are not re-encoded in Python):
    the real-page-scale corpus for throughput/scaling benchmarks, with the
    corpus's natural 1 KB–500 KB size skew.
    """
    rows = []
    for name in sorted(os.listdir(root)):
        src = os.path.join(root, name, "source.html")
        if not os.path.isfile(src):
            continue
        with open(src, encoding="utf-8") as f:
            html = f.read()
        rows.append(
            {
                "doc_id": name,
                "uri": DEFAULT_URI,
                "spans": [s.as_row() for s in html_to_spans(html)],
            }
        )
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    if replicate > 1:
        import pyspark.sql.functions as F

        df = (
            df.crossJoin(spark.range(replicate).select(F.col("id").alias("rep")))
            .withColumn(
                "doc_id", F.concat_ws("-", "doc_id", F.format_string("r%03d", "rep"))
            )
            .drop("rep")
        )
    return df


def synth_html(doc_id: int, text: str, lang: str, source: str) -> str:
    """One deterministic article-shaped page from a text row."""
    words = text.split()
    if not words:
        words = ["empty"]
    title_words = " ".join(words[:5])
    rep = 2 + (doc_id % 3)
    if doc_id % 500 == 499:
        rep = 64  # mega-doc: a size outlier (oracle-pinned data)
    body_words = (words * rep)[: len(words) * rep]

    sentences = []
    for i in range(0, len(body_words), _STOP_EVERY_WORDS):
        chunk = " ".join(body_words[i : i + _STOP_EVERY_WORDS])
        sentences.append(chunk[:1].upper() + chunk[1:] + ("," if i % 3 else "") + ".")
    paras = []
    for i in range(0, len(sentences), _SENTS_PER_PARA):
        paras.append(" ".join(sentences[i : i + _SENTS_PER_PARA]))

    parts = [
        "<!DOCTYPE html>",
        f'<html lang="{lang}"><head>',
        f"<title>Doc {doc_id}: {title_words} | SynthSite</title>",
        f'<meta property="og:title" content="Doc {doc_id}: {title_words}"/>',
        '<meta property="og:site_name" content="SynthSite"/>',
        f'<meta name="author" content="Author {doc_id % 7}"/>',
        "</head><body>",
        '<nav><ul><li><a href="/home">Home</a></li><li><a href="/about">About</a></li>'
        '<li><a href="/archive">Archive</a></li></ul></nav>',
        '<div class="sidebar"><a href="/ad1">Sponsored thing one</a>'
        '<a href="/ad2">Sponsored thing two</a></div>',
        '<div id="main"><article>',
        f"<h1>Doc {doc_id}: {title_words}</h1>",
        f'<p class="byline">By Author {doc_id % 7}</p>',
    ]
    for i, p in enumerate(paras):
        parts.append(f"<p>{p}</p>")
        if i % 3 == 1:
            parts.append(
                f'<img src="/images/{source}/{doc_id}-{i}.jpg" alt="figure {i}"/>'
            )
        if i % 7 == 5:
            parts.append(
                f'<figure><img src="/figures/{doc_id}-{i}.png"/>'
                f"<figcaption>Figure {i}</figcaption></figure>"
            )
    if doc_id % 11 == 3:
        parts.append(
            f'<iframe src="https://www.youtube.com/embed/v{doc_id}"></iframe>'
        )
    parts += [
        "</article></div>",
        f'<div id="comments"><div class="comment">First comment on {doc_id}</div>'
        '<div class="comment">Totally agree with this</div></div>',
        '<div class="share"><a href="/share/fb">Share</a><a href="/share/tw">Tweet</a></div>',
        '<footer><p>Copyright SynthSite. All rights reserved.</p></footer>',
        "<script>var tracking = 1;</script>",
        "</body></html>",
    ]
    return "\n".join(parts)


def _synth_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        has_rep = "rep" in pdf.columns
        for row in pdf.itertuples(index=False):
            doc_id = int(row.doc_id)
            rep = int(row.rep) if has_rep else 0
            html = synth_html(doc_id, row.text or "", row.lang or "en", row.source or "src")
            uid = f"doc-{doc_id:09d}" + (f"-r{rep:03d}" if rep else "")
            out.append(
                {
                    "doc_id": uid,
                    "uri": f"http://synth.example/{row.source}/{doc_id}.html",
                    "spans": [s.as_row() for s in html_to_spans(html)],
                }
            )
        yield pd.DataFrame(out, columns=["doc_id", "uri", "spans"])


def synthesize_documents(
    spark: SparkSession,
    sf_dir: str,
    replicate: int = 1,
    exclude_doc_ids: DataFrame | None = None,
) -> DataFrame:
    """documents.parquet(text corpus) → interleaved-span documents table.

    Distributed: the page builder runs in ``mapInPandas`` over the scaled
    text table, so the span corpus is generated where it is consumed.
    ``replicate`` fans each source row out K× (unique doc_ids, identical
    page content) — the bench knob for compute-dominated scaling runs.
    ``exclude_doc_ids`` (a small frame of raw doc_id values, e.g. URL-dedup
    losers) is anti-joined out BEFORE synthesis — the cheapest point to
    drop a duplicate is before it pays page build + kernel; the exclusion
    side is broadcast so the corpus-sized side never shuffles for it.
    """
    import pyspark.sql.functions as F

    src = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text", "lang", "source"
    )
    if exclude_doc_ids is not None:
        src = src.join(F.broadcast(exclude_doc_ids), "doc_id", "left_anti")
    if replicate > 1:
        src = src.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
        )
    # A small single-file text table arrives as ONE input split, which
    # would run page synthesis AND the downstream in-place extraction on
    # one task (extract_articles at sf0.1/local[32]: 13.3s -> 6.4s from
    # this spread alone).  Repartition HERE, before any spans
    # exist — the shuffle moves raw text rows, the cheapest point in the
    # pipeline — and only when the scan is actually under-split, so a
    # well-bucketed many-file corpus keeps its layout (CLAUDE.md: never
    # shuffle a well-bucketed corpus before extraction).
    target = max(spark.sparkContext.defaultParallelism, replicate)
    if len(src.inputFiles()) < target:
        src = src.repartition(target)
    return src.mapInPandas(_synth_batches, schema=DOCUMENTS_SCHEMA)


def _ingest_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        has_uri = "uri" in pdf.columns
        for row in pdf.itertuples(index=False):
            out.append(
                {
                    "doc_id": row.doc_id,
                    "uri": row.uri if has_uri else DEFAULT_URI,
                    "spans": [s.as_row() for s in html_to_spans(row.html or "")],
                }
            )
        yield pd.DataFrame(out, columns=["doc_id", "uri", "spans"])


def ingest_html_documents(df: DataFrame) -> DataFrame:
    """The generic ingest source: any table carrying (doc_id, html[, uri])
    → the interleaved-span documents table (``DOCUMENTS_SCHEMA``,
    BASELINE.json input_hint shape).

    Distributed: the byte-preserving span codec (``codec.spans
    .html_to_spans`` — spans_to_html(html_to_spans(x)) == x, property-
    tested) runs inside ``mapInPandas``, so ingest scales with the cluster
    and never materializes pages on the driver.  This is how raw crawl
    output (JSONL/CSV/WARC-extracted HTML read with plain ``spark.read``)
    enters the engine; ``fixture_documents``/``synthesize_documents`` are
    just two callers of the same codec.
    """
    cols = ["doc_id", "html"] + (["uri"] if "uri" in df.columns else [])
    return df.select(*cols).mapInPandas(_ingest_batches, schema=DOCUMENTS_SCHEMA)


def _pdf_batches():
    from ..codec.pdf import page_pieces_from_lines, pdf_to_text_lines

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            has_uri = "uri" in pdf.columns
            for row in pdf.itertuples(index=False):
                payload = bytes(row.payload) if row.payload is not None else b""
                spans, off = [], 0
                try:
                    lines = pdf_to_text_lines(payload)
                    # page scaffolding: the kernel extracts from doc.body, so
                    # a text layer must arrive as a well-formed page, one
                    # span per source line (the layout unit PDF gives us);
                    # the piece builder (incl. HTML-escaping) is shared with
                    # the CLI path
                    for piece in page_pieces_from_lines(lines):
                        # kind "markup" matches html_to_spans' vocabulary for
                        # non-media raw-HTML spans (codec/spans.py:76)
                        spans.append(
                            {"kind": "markup", "text": piece, "media_ref": "", "offset": off}
                        )
                        off += len(piece)
                except Exception:
                    # one unreadable file must not fail the ingest task: it
                    # becomes a document without spans, which extraction
                    # reports as one parse_error row
                    spans = []
                out.append(
                    {
                        "doc_id": row.doc_id,
                        "uri": row.uri if has_uri else DEFAULT_URI,
                        "spans": spans,
                    }
                )
            yield pd.DataFrame(out, columns=["doc_id", "uri", "spans"])

    return run


def ingest_pdf_documents(df: DataFrame) -> DataFrame:
    """PDF ingest source: (doc_id, payload: binary[, uri]) → the
    interleaved-span documents table, one ``<p>`` span per text-layer line.

    The stdlib extractor (``codec.pdf``) reads uncompressed and
    FlateDecode text layers; encrypted files, and conflicting CMaps in a
    file without usable structure, are out of its scope.  The emitted
    documents run through the same extraction kernel as HTML (paragraphs
    of a PDF text layer are exactly the <p>-corpus shape the Arc90 scorer
    consumes).
    """
    cols = ["doc_id", "payload"] + (["uri"] if "uri" in df.columns else [])
    return df.select(*cols).mapInPandas(
        _pdf_batches(), schema=DOCUMENTS_SCHEMA
    )


# Records per yielded Arrow batch during WARC ingest.  A real CommonCrawl
# archive is ~1 GB with ~50k records; accumulating every decoded page +
# its span rows into ONE pandas frame before yielding held ~3× the archive
# size per task (VERDICT r4 watch item).  warc_html_pages is a generator
# over the raw payload, so flushing every N records bounds the resident
# decoded set to the chunk while the payload bytes stay the only
# archive-sized allocation.
WARC_CHUNK_RECORDS = 64


def _warc_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..codec.warc import warc_html_pages

    cols = ["doc_id", "uri", "spans"]
    out: list[dict] = []
    for pdf in batches:
        has_path = "path" in pdf.columns
        for row in pdf.itertuples(index=False):
            payload = bytes(row.content) if row.content is not None else b""
            # binaryFile's path column is the natural per-archive identity
            # for fallback record ids (indexes restart at 0 per archive)
            archive_id = (getattr(row, "path", "") or "") if has_path else ""
            for rec_id, uri, html in warc_html_pages(payload, archive_id):
                try:
                    spans = [s.as_row() for s in html_to_spans(html)]
                except Exception:
                    # as in _pdf_batches: a record the span codec cannot
                    # encode becomes a document without spans, not a
                    # failed task
                    spans = []
                out.append({"doc_id": rec_id, "uri": uri or DEFAULT_URI, "spans": spans})
                if len(out) >= WARC_CHUNK_RECORDS:
                    yield pd.DataFrame(out, columns=cols)
                    out = []
    if out:
        yield pd.DataFrame(out, columns=cols)


def ingest_warc_documents(df: DataFrame) -> DataFrame:
    """WARC ingest source: a ``binaryFile`` frame (``content`` column =
    one crawl archive per row, .warc or .warc.gz) → the interleaved-span
    documents table, one document per HTML response record.

    This is how CommonCrawl-shaped corpora enter the engine:
    ``spark.read.format("binaryFile").load("s3://.../segment/*.warc.gz")``
    gives one task per archive (the natural WARC parallelism — archives
    are ~1 GB and self-contained), and the record scan + HTML decode +
    span encode all run inside ``mapInPandas`` (``codec/warc.py``), so
    ingest scales with the archive count and nothing touches the driver.
    The fan-out (one archive row → many document rows) happens inside the
    Python batch, flushed every ``WARC_CHUNK_RECORDS`` records.
    """
    cols = ["content"] + (["path"] if "path" in df.columns else [])
    return df.select(*cols).mapInPandas(_warc_batches, schema=DOCUMENTS_SCHEMA)
