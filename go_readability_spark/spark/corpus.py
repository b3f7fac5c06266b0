"""The documents table's four sources, and the one encoder they share.

Every source emits ``DOCUMENTS_SCHEMA`` rows (BASELINE.json ``input_hint``
shape) from inside ``mapInArrow``, so ingest scales with the cluster and
the driver never materializes pages:

1. ``synthesize_documents`` — article-shaped HTML pages generated
   deterministically from a ``documents.parquet`` text corpus
   (TESTDATA.md), for throughput/scaling benchmarks.  No randomness: all
   variation is modular arithmetic on ``doc_id``, so sf0.01 tonight equals
   sf0.01 tomorrow.
2. ``ingest_html_documents`` — any table of (doc_id, html[, uri]), such as
   a JSONL crawl dump; ``fixture_documents`` feeds it the reference's
   golden pages.
3. ``ingest_pdf_documents`` — PDF files, one markup span per text-layer
   line.
4. ``ingest_warc_documents`` — crawl archives, one document per HTML
   response record.

One encoder: a source is a per-row page generator that takes an input
row as a dict (``RecordBatch.to_pylist()``) and yields
``(doc_id, uri, page)``, the page an HTML ``str`` or PDF ``bytes``;
``_spans`` turns a page into span columns, and ``session.emit_frames`` cuts
the output and builds its Arrow batches without pandas.  ``_spans`` holds
the one failure rule: a page it cannot encode becomes a document without
spans, never a failed task.  An optional input column is defaulted when
the input is selected, never per row.

Synthetic pages deliberately include the boilerplate families the kernel
must strip (nav/sidebar/comments/footer/share/script — regexps.go:8,17)
and interleaved media anchors (img/figure/video-iframe) whose spans must
survive exactly when their DOM position survives cleanup.  Every ~500th
document is a mega-doc (content ×64): the size outlier Arrow batch
bounding and straggler metrics must cope with.
"""

from __future__ import annotations

import os
from typing import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..codec.pdf import page_pieces_from_lines, pdf_to_text_lines
from ..codec.spans import SpanColumns, html_to_spans
from ..codec.warc import warc_html_pages
from ..kernel.golden import FIXTURES_DIR
from .extract import DEFAULT_URI, column_or
from .schema import DOCUMENTS_SCHEMA
from .session import emit_frames
from . import worker  # noqa: F401  (sets up a Python worker on import)

_DOCUMENTS_ARROW = to_arrow_schema(DOCUMENTS_SCHEMA)
_STOP_EVERY_WORDS = 13  # sentence length in words
_SENTS_PER_PARA = 4


def _spans(page: str | bytes) -> SpanColumns:
    """One page → its span columns.  HTML goes through the byte-preserving
    ``html_to_spans`` (spans_to_html(html_to_spans(x)) == x).  A PDF's
    text layer arrives as a well-formed page, one span per source line
    (the layout unit PDF gives us), since the kernel extracts from
    doc.body; the piece builder, HTML-escaping included, is shared with
    the CLI; a span's offset is its character offset in the page.  A page
    either codec raises on becomes a document without spans, which
    extraction reports as one parse_error row."""
    try:
        if isinstance(page, str):
            return html_to_spans(page)
        spans, off = SpanColumns(), 0
        for piece in page_pieces_from_lines(pdf_to_text_lines(page)):
            # kind "markup" is html_to_spans' kind for non-media raw HTML
            spans.append("markup", piece, "", off)
            off += len(piece)
        return spans
    except Exception:
        return SpanColumns()


def _encode(pages: Callable[[dict], Iterable[tuple[str, str, str | bytes]]]):
    """The one ingest batch function: ``pages(row)`` yields each input
    row's pages, and each page becomes one documents row."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows = (
            ({"doc_id": doc_id, "uri": uri, "spans": _spans(page)}, len(page))
            for batch in batches
            for row in batch.to_pylist()
            for doc_id, uri, page in pages(row)
        )
        return emit_frames(rows, _DOCUMENTS_ARROW)

    return run


def fixture_documents(
    spark: SparkSession, root: str = FIXTURES_DIR, replicate: int = 1
) -> DataFrame:
    """The golden pages (``root/<name>/source.html``) as a documents
    DataFrame, encoded by ``ingest_html_documents``.

    ``replicate`` fans each fixture out K× with unique doc_ids (a
    JVM-side crossJoin): the real-page-scale corpus for throughput/scaling
    benchmarks, with the corpus's natural 1 KB–500 KB size skew.
    """
    pages = []
    for name in sorted(os.listdir(root)):
        src = os.path.join(root, name, "source.html")
        if os.path.isfile(src):
            with open(src, encoding="utf-8") as f:
                pages.append((name, f.read()))
    df = ingest_html_documents(spark.createDataFrame(pages, "doc_id string, html string"))
    if replicate > 1:
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


def _synth_pages(row: dict) -> Iterator[tuple[str, str, str]]:
    doc_id = int(row["doc_id"])
    rep = int(row["rep"])
    source = row["source"]
    html = synth_html(doc_id, row["text"] or "", row["lang"] or "en", source or "src")
    uid = f"doc-{doc_id:09d}" + (f"-r{rep:03d}" if rep else "")
    yield uid, f"http://synth.example/{source}/{doc_id}.html", html


def synthesize_documents(
    spark: SparkSession,
    sf_dir: str,
    replicate: int = 1,
    exclude_doc_ids: DataFrame | None = None,
) -> DataFrame:
    """documents.parquet(text corpus) → interleaved-span documents table.

    Distributed: the page builder runs in ``mapInArrow`` over the scaled
    text table, so the span corpus is generated where it is consumed.
    ``replicate`` fans each source row out K× (unique doc_ids, identical
    page content) — the bench knob for compute-dominated scaling runs.
    ``exclude_doc_ids`` (a small frame of raw doc_id values, e.g. URL-dedup
    losers) is anti-joined out BEFORE synthesis — the cheapest point to
    drop a duplicate is before it pays page build + kernel; the exclusion
    side is broadcast so the corpus-sized side never shuffles for it.
    """
    src = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text", "lang", "source"
    )
    if exclude_doc_ids is not None:
        src = src.join(F.broadcast(exclude_doc_ids), "doc_id", "left_anti")
    if replicate > 1:
        rep = F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
    else:
        rep = F.lit(0)
    src = src.withColumn("rep", rep)
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
    return src.mapInArrow(_encode(_synth_pages), schema=DOCUMENTS_SCHEMA)


def _html_pages(row: dict) -> Iterator[tuple[str, str, str]]:
    yield row["doc_id"], row["uri"], row["html"] or ""


def ingest_html_documents(df: DataFrame) -> DataFrame:
    """The generic ingest source: any table carrying (doc_id, html[, uri])
    → the interleaved-span documents table.

    This is how raw crawl output (JSONL/CSV/WARC-extracted HTML read with
    plain ``spark.read``) enters the engine.  A table without ``uri``
    gets ``DEFAULT_URI``.
    """
    cols = ["doc_id", "html", column_or(df, "uri", DEFAULT_URI)]
    return df.select(*cols).mapInArrow(_encode(_html_pages), schema=DOCUMENTS_SCHEMA)


def _pdf_pages(row: dict) -> Iterator[tuple[str, str, bytes]]:
    yield row["doc_id"], row["uri"], row["payload"] or b""


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
    cols = ["doc_id", "payload", column_or(df, "uri", DEFAULT_URI)]
    return df.select(*cols).mapInArrow(_encode(_pdf_pages), schema=DOCUMENTS_SCHEMA)


def _warc_pages(row: dict) -> Iterator[tuple[str, str, str]]:
    # binaryFile's path column is the natural per-archive identity for
    # fallback record ids (indexes restart at 0 per archive)
    for rec_id, uri, html in warc_html_pages(row["content"] or b"", row["path"] or ""):
        yield rec_id, uri or DEFAULT_URI, html


def ingest_warc_documents(df: DataFrame) -> DataFrame:
    """WARC ingest source: a ``binaryFile`` frame (``content`` column =
    one crawl archive per row, .warc or .warc.gz) → the interleaved-span
    documents table, one document per HTML response record.

    This is how CommonCrawl-shaped corpora enter the engine:
    ``spark.read.format("binaryFile").load("s3://.../segment/*.warc.gz")``
    gives one task per archive (the natural WARC parallelism — archives
    are ~1 GB and self-contained), and the record scan + HTML decode +
    span encode all run inside ``mapInArrow`` (``codec/warc.py``), so
    ingest scales with the archive count and nothing touches the driver.
    The fan-out (one archive row → many document rows) happens inside the
    Python batch; ``emit_frames`` cuts it, so the decoded records held at
    once are one frame's, and the archive bytes stay the only
    archive-sized allocation.
    """
    cols = ["content", column_or(df, "path", "")]
    return df.select(*cols).mapInArrow(_encode(_warc_pages), schema=DOCUMENTS_SCHEMA)
