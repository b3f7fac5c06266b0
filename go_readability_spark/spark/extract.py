"""The extraction operator: spans-in → article-spans-out via ``mapInPandas``.

This is the engine's only Python execution surface (SURVEY.md §2.9): Arrow
ships batches of whole documents into the Python worker, the per-document
kernel (go_readability_spark.kernel) runs inside the batch, and results are
yielded back as Arrow batches.  No per-row Python UDFs, no RDDs — the
surrounding plan (scan, repartition, filters, aggregations, writes) stays
entirely JVM-side for Catalyst/Tungsten to optimize.

Scale notes (10^12-doc design point, SURVEY.md §4.2):
- Memory is bounded per worker by the Arrow input batch plus the one
  document the kernel holds: ``session.ensure_arrow_limits`` caps a batch
  at ``ARROW_MAX_RECORDS`` rows and closes it at the row that reaches
  ``ARROW_MAX_BYTES``, so a mega-document ends the batch it joins; output
  rows are yielded in chunks of at most ``_EMIT_ROWS`` rows or
  ``_EMIT_BYTES`` input bytes.
- Skew: ``salted_repartition`` spreads documents uniformly regardless of
  upstream partitioning (mega-docs cluster by crawl host in real corpora).
- Oversized docs degrade to ``status='too_large'`` rows via
  ``max_elems_to_parse`` instead of stalling a task (readability.go:2176-2181).
- Each Python worker is set up once (``worker.prepare_worker``), not once per
  task: no per-task zip directory re-reads, no GC rescans of the import heap.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..codec.spans import html_fragment_to_normalized_spans
from ..kernel.options import Options
from ..kernel.readability import parse_document
from .schema import ARTICLES_SCHEMA
from .session import ensure_arrow_limits
from . import worker  # noqa: F401  (sets up a Python worker on import)

DEFAULT_URI = "http://fakehost/test/page.html"

# Output chunking: a chunk is yielded after this many rows, or earlier once
# its documents' input HTML reaches _EMIT_BYTES (input length is a safe
# upper proxy for output size), so the output buffer never holds a
# mega-document plus dozens of peers.
_EMIT_ROWS = 64
_EMIT_BYTES = 8_000_000
_SALT_SEED = 64

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
    more non-readerable than 30%."""
    result, _article, status = parse_document(
        html or "", uri or DEFAULT_URI, options, prescreen
    )
    if result is None:
        return {"doc_id": doc_id, "status": status, "error": None, **_EMPTY}
    try:
        out_spans = [
            s.as_row() for s in html_fragment_to_normalized_spans(result.html_content)
        ]
    except Exception as exc:
        # e.g. a custom serializer returning a non-string: one error row,
        # never a failed Spark task
        error = f"{type(exc).__name__}: {str(exc)[:200]}"
        return {"doc_id": doc_id, "status": "parse_error", "error": error, **_EMPTY}
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


def _batch_extractor(options: Options, prescreen: bool = False):
    cols = [f.name for f in ARTICLES_SCHEMA.fields]

    def extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out: list[dict] = []
        out_sz = 0
        for pdf in batches:
            has_uri = "uri" in pdf.columns
            for row in pdf.itertuples(index=False):
                uri = getattr(row, "uri", None) if has_uri else None
                out.append(
                    extract_one(row.doc_id, row.html, uri, options, prescreen)
                )
                out_sz += len(row.html or "")
                if len(out) >= _EMIT_ROWS or out_sz >= _EMIT_BYTES:
                    yield pd.DataFrame(out, columns=cols)
                    out, out_sz = [], 0
        if out:
            yield pd.DataFrame(out, columns=cols)

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
    cols = [F.col("doc_id"), F.expr(_HTML_EXPR).alias("html")]
    if "uri" in df.columns:
        cols.append(F.col("uri"))
    return df.select(*cols).mapInPandas(
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
    shuffles nothing: one scan, one ``mapInPandas``.

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
