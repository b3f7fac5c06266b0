"""The extraction operator: spans-in → article-spans-out via ``mapInArrow``.

This is the engine's only Python execution surface (SURVEY.md §2.9): Arrow
ships batches of whole documents into the Python worker, the per-document
kernel (go_readability_spark.kernel) runs inside the batch, and results are
yielded back as Arrow batches.  No per-row Python UDFs, no RDDs — the
surrounding plan (scan, repartition, filters, aggregations, writes) stays
entirely JVM-side for Catalyst/Tungsten to optimize.

Scale notes (10^12-doc design point, SURVEY.md §4.2):
- Memory is bounded per worker by the Arrow input batch plus the one
  document the kernel holds, whose DOM is released (``dom.release``) and
  so freed by refcounting as soon as its row is built, not at the next
  full GC collection: ``session.ensure_arrow_limits`` caps a batch
  at ``ARROW_MAX_RECORDS`` rows and closes it at the row that reaches
  ``ARROW_MAX_BYTES``, so a mega-document ends the batch it joins; output
  rows leave in ``session.emit_frames`` batches of at most
  ``EMIT_MAX_ROWS`` rows or ``EMIT_MAX_BYTES`` input bytes.
- No pandas in the worker: input batches are read with ``to_pylist()``
  and output batches are built from Arrow buffers (``emit_frames``), so
  an extraction worker never imports pandas (~39 MB of its RSS).
- Skew: ``salted_repartition`` spreads documents uniformly regardless of
  upstream partitioning (mega-docs cluster by crawl host in real corpora).
- Oversized docs degrade to ``status='too_large'`` rows via
  ``max_elems_to_parse`` instead of stalling a task (readability.go:2176-2181).
- Each Python worker is set up once (``worker.prepare_worker``), not once per
  task: no per-task zip directory re-reads, no GC rescans of the import heap.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..codec.spans import dom_to_spans
from ..kernel.dom import release
from ..kernel.options import Options
from ..kernel.readability import parse_document
from .schema import ARTICLES_SCHEMA
from .session import emit_frames, ensure_arrow_limits
from . import worker  # noqa: F401  (sets up a Python worker on import)

DEFAULT_URI = "http://fakehost/test/page.html"

_SALT_SEED = 64

_ARTICLES_ARROW = to_arrow_schema(ARTICLES_SCHEMA)

_EMPTY = {
    "spans": None,
    "title": None,
    "byline": None,
    "dir": None,
    "lang": None,
    "excerpt": None,
    "site_name": None,
    "published_time": None,
    "text_content": None,
    "length": None,
}


def extract_one(
    doc_id: str,
    html: str,
    uri: str | None,
    options: Options,
    prescreen: bool = False,
) -> dict:
    """Run the kernel on one document's reassembled HTML → one articles-row dict.

    ``prescreen`` is the reference's advertised two-step workflow
    (readerable.go:20-27: "check IsProbablyReaderable before you parse"),
    run by ``parse_document`` on the one DOM it builds: non-readerable
    documents return ``status='not_readerable'`` rows without paying the
    grab loop / cleanup / serialization.  Measured on a 70/30
    article/link-farm mix (10k docs, local[16], min-of-3): wall
    2.42 → 1.68 s (−31%), and without the gate every link farm extracts
    as a plausible-looking ``status='ok'`` row of navigation text — the
    gate buys corpus QUALITY as well as wall time.  Real crawls skew far
    more non-readerable than 30%.

    The output spans are ``dom_to_spans`` over the article DOM the kernel
    returns: the document is tokenized once, and the serialized article
    (``Result.html_content``, shaped by ``Options.serializer``) is never
    parsed again.  The row's ``spans`` is the walk's ``SpanColumns``, and
    the article is released once they are built: the kernel has already
    released the document, so the row is all this call leaves."""
    result, article, status = parse_document(
        html or "", uri or DEFAULT_URI, options, prescreen
    )
    if result is None:
        return {"doc_id": doc_id, "status": status, "error": None, **_EMPTY}
    try:
        out_spans = dom_to_spans(article)
    except Exception as exc:
        # a walk failure is one error row, never a failed Spark task
        error = f"{type(exc).__name__}: {str(exc)[:200]}"
        return {"doc_id": doc_id, "status": "parse_error", "error": error, **_EMPTY}
    finally:
        release(article)
    return {
        "doc_id": doc_id,
        "spans": out_spans,
        "title": result.title,
        "byline": result.byline,
        "dir": result.dir,
        "lang": result.lang,
        "excerpt": result.excerpt,
        "site_name": result.site_name,
        "published_time": result.published_time,
        "text_content": result.text_content,
        "length": result.length,
        "status": status,
        "error": None,
    }


def column_or(df: DataFrame, name: str, default) -> Column:
    """``df``'s column ``name``, or the literal ``default`` under that name
    when ``df`` has none: an optional input column is decided once, when the
    operator's input is selected, so batch functions read it on every row."""
    return F.col(name) if name in df.columns else F.lit(default).alias(name)


def _batch_extractor(options: Options, prescreen: bool = False):
    def extract_batch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows = (
            (extract_one(doc_id, html, uri, options, prescreen), len(html or ""))
            for batch in batches
            for doc_id, html, uri in zip(*(batch.column(c).to_pylist() for c in ("doc_id", "html", "uri")))
        )
        return emit_frames(rows, _ARTICLES_ARROW)

    return extract_batch


# JVM-side span reassembly: sort by offset, concatenate text.  Shipping ONE
# string per document through Arrow is ~3× cheaper than shipping the nested
# array<struct> column (measured: 0.9s vs 3.1s for 30k docs at local[8]) and
# moves the sort+concat into whole-stage codegen.
_HTML_EXPR = (
    "array_join(transform("
    "array_sort(spans, (a, b) -> a.offset - b.offset), s -> s.text), '')"
)


def extract_articles(
    df: DataFrame,
    options: Options | None = None,
    prescreen: bool = False,
) -> DataFrame:
    """documents(doc_id, spans[, uri]) → articles (ARTICLES_SCHEMA).

    Column pruning: only doc_id/spans/uri are read from the scan, whatever
    else the input table carries; spans are reassembled to HTML JVM-side so
    only flat strings cross the Arrow boundary.  ``prescreen`` gates each
    document through IsProbablyReaderable first (see ``extract_one``).
    The Arrow batch limits are enforced here, at the point of use, so a
    session built without them (spark-submit) still batches boundedly.
    """
    ensure_arrow_limits(df.sparkSession)
    opts = options or Options(classes_to_preserve=["page", "caption"])
    cols = [F.col("doc_id"), F.expr(_HTML_EXPR).alias("html"), column_or(df, "uri", DEFAULT_URI)]
    return df.select(*cols).mapInArrow(
        _batch_extractor(opts, prescreen=prescreen),
        schema=ARTICLES_SCHEMA,
    )


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Uniform spread of documents across tasks regardless of key skew.

    ``xxhash64(doc_id, salt)`` decorrelates from any upstream partitioning
    (e.g. crawl-host clustering); with one shuffle we get even task sizes,
    which is what keeps scaling efficiency ≥0.8 when executor count grows
    (stragglers are the enemy, BASELINE.md north_rule).

    The repartition key is the RAW 64-bit hash, never ``pmod(hash, N)``:
    pre-modding to N distinct values and re-hashing them through the
    shuffle's murmur3 % N is balls-in-bins — ~37% of partitions land
    empty and the busiest carries 3-4 salt cells (measured), exactly the
    straggler shape salting exists to prevent.  A high-cardinality key
    spreads by law of large numbers instead.
    """
    salted = df.withColumn("_salt", F.xxhash64(F.col("doc_id"), F.lit(_SALT_SEED)))
    return salted.repartition(num_partitions, F.col("_salt")).drop("_salt")


def route_and_extract(
    df: DataFrame,
    options: Options | None = None,
    num_partitions: int | None = None,
    prescreen: bool = False,
) -> DataFrame:
    """Extraction with an optional salted exchange in front.

    ``num_partitions``: pass it ONLY when the input layout is skewed or
    under-split — it inserts a salted full-corpus shuffle, which measured
    ~40% of job wall on a well-bucketed corpus (local[16]: 3890 vs 2637
    docs/s without/with).  The production corpus is bucketed at write time
    (Iceberg ``bucket(B, doc_id)``), so the normal path reads in place and
    shuffles nothing: one scan, one ``mapInArrow``.

    A mega-document needs no route of its own: the Arrow byte cap
    (``session.ARROW_MAX_BYTES``) closes its batch at it, the kernel
    holds one document at a time in a worker Spark reuses across tasks (a
    task boundary frees a DOM no sooner than the next row does), and
    ``max_elems_to_parse`` turns a pathological page into a ``too_large``
    row.
    """
    if num_partitions:
        df = salted_repartition(df, num_partitions)
    return extract_articles(df, options, prescreen=prescreen)
