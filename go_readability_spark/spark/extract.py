"""The extraction operator: spans-in → article-spans-out via ``mapInPandas``.

This is the engine's only Python execution surface (SURVEY.md §2.9): Arrow
ships batches of whole documents into the Python worker, the per-document
kernel (go_readability_spark.kernel) runs inside the batch, and results are
yielded back as Arrow batches.  No per-row Python UDFs, no RDDs — the
surrounding plan (scan, repartition, filters, aggregations, writes) stays
entirely JVM-side for Catalyst/Tungsten to optimize.

Scale notes (10^12-doc design point, SURVEY.md §4.2):
- Memory is bounded per-worker by ``emit_every`` (output rows are yielded in
  small chunks, independent of Arrow input batch size) plus the single
  largest document — cap ``spark.sql.execution.arrow.maxRecordsPerBatch``
  so one mega-doc can't co-batch with hundreds of peers.
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
from . import worker  # noqa: F401  (sets up a Python worker on import)

DEFAULT_URI = "http://fakehost/test/page.html"

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
    (readerable.go:20-27: "check IsProbablyReaderable before you parse"):
    the cheap readerable scan runs first and non-readerable documents
    return ``status='not_readerable'`` rows without paying the grab
    loop / cleanup / serialization (same two-parse cost profile as
    calling the reference's two entry points in sequence).  Measured on a
    70/30 article/link-farm mix (10k docs, local[16], min-of-3): wall
    2.42 → 1.68 s (−31%), and without the gate every link farm extracts
    as a plausible-looking ``status='ok'`` row of navigation text — the
    gate buys corpus QUALITY as well as wall time.  Real crawls skew far
    more non-readerable than 30%."""
    if prescreen:
        from ..kernel.readerable import is_probably_readerable

        try:
            readerable = is_probably_readerable(html or "", options)
        except Exception:
            readerable = True  # scan failure: let the full parse decide
        if not readerable:
            return {"doc_id": doc_id, "status": "not_readerable", "error": None, **_EMPTY}
    result, _article, status = parse_document(html or "", uri or DEFAULT_URI, options)
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


def _batch_extractor(
    options: Options,
    emit_every: int,
    emit_bytes: int = 8_000_000,
    prescreen: bool = False,
):
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
                # byte bound flushes early when a mega article lands in a
                # mixed batch — the buffer never holds a mega plus dozens
                # of peers (input length is a safe upper proxy for output)
                out_sz += len(row.html or "")
                if len(out) >= emit_every or out_sz >= emit_bytes:
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
    emit_every: int = 64,
    prescreen: bool = False,
) -> DataFrame:
    """documents(doc_id, spans[, uri]) → articles (ARTICLES_SCHEMA).

    Column pruning: only doc_id/spans/uri are read from the scan, whatever
    else the input table carries; spans are reassembled to HTML JVM-side so
    only flat strings cross the Arrow boundary.  ``prescreen`` gates each
    document through IsProbablyReaderable first (see ``extract_one``).
    """
    opts = options or Options(classes_to_preserve=["page", "caption"])
    cols = [F.col("doc_id"), F.expr(_HTML_EXPR).alias("html")]
    if "uri" in df.columns:
        cols.append(F.col("uri"))
    return df.select(*cols).mapInPandas(
        _batch_extractor(opts, emit_every, prescreen=prescreen),
        schema=ARTICLES_SCHEMA,
    )


def with_doc_stats(df: DataFrame) -> DataFrame:
    """JVM-side document size AND markup density in ONE pass over the span
    texts — no Python.  ``doc_tags`` counts ``<`` occurrences, a cheap
    upper proxy for DOM node count: kernel worker MEMORY scales with node
    count, not bytes (an element-dense 3.2 MB page measured 1.4 GB RSS),
    so density must route one-per-task exactly like byte-size does.  The
    struct accumulator is referenced twice downstream, which blocks
    CollapseProject from inlining the aggregate per consumer (CLAUDE.md
    trap note)."""
    stats = df.withColumn(
        "_doc_stats",
        F.expr(
            "aggregate(spans, named_struct('b', 0L, 't', 0L), (acc, s) ->"
            " named_struct("
            "'b', acc.b + coalesce(length(s.text), 0L),"
            "'t', acc.t + coalesce("
            "length(s.text) - length(replace(s.text, '<', '')), 0L)))"
        ),
    )
    return (
        stats.withColumn("doc_bytes", F.col("_doc_stats.b"))
        .withColumn("doc_tags", F.col("_doc_stats.t"))
        .drop("_doc_stats")
    )


def _doc_bytes_expr():
    return F.expr("aggregate(spans, 0L, (acc, s) -> acc + coalesce(length(s.text), 0L))")


def _doc_tags_expr():
    return F.expr(
        "aggregate(spans, 0L, (acc, s) -> acc +"
        " coalesce(length(s.text) - length(replace(s.text, '<', '')), 0L))"
    )


def salted_repartition(
    df: DataFrame, num_partitions: int, salt_buckets: int = 64
) -> DataFrame:
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
    salted = df.withColumn(
        "_salt", F.xxhash64(F.col("doc_id"), F.lit(salt_buckets))
    )
    return salted.repartition(num_partitions, F.col("_salt")).drop("_salt")


def route_and_extract(
    df: DataFrame,
    options: Options | None = None,
    mega_doc_bytes: int = 4_000_000,
    num_partitions: int | None = None,
    mega_partitions: int = 256,
    prescreen: bool = False,
    mega_doc_tags: int = 100_000,
) -> DataFrame:
    """Size-routed extraction: mega-docs take a dedicated fine-grained pass.

    Documents larger than ``mega_doc_bytes`` OR denser than
    ``mega_doc_tags`` markup openers are repartitioned one-per-task so a
    single 100 MB page can neither co-batch with peers (Arrow memory) nor
    straggle a fat partition (SURVEY.md §7 hard parts).  The density arm
    exists because kernel memory scales with NODE COUNT, not bytes: an
    element-dense 3.2 MB page (400k inline elements) measured 1.4 GB of
    worker RSS — co-batching a few of those OOMs an executor that the
    byte threshold alone would happily co-batch.  Both branches are the
    same operator — ``unionByName`` recombines.

    ``num_partitions``: pass it ONLY when the input layout is skewed or
    under-split — it inserts a salted full-corpus shuffle, which measured
    ~40% of job wall on a well-bucketed corpus (local[16]: 3890 vs 2637
    docs/s without/with).  The production corpus is bucketed at write time
    (Iceberg ``bucket(B, doc_id)``), so the normal path reads in place and
    shuffles nothing.

    Scan count: a two-branch filter split naively re-scans the corpus
    (2× read amplification for a ~1/500 mega fraction).  Avoided two ways:
    - With ``num_partitions`` the job already pays one full-corpus
      exchange, so routing happens INSIDE it: the salt expression gives
      megas doc_id-resolution salts (each mega lands in an independently
      random partition, never clustered) and one extraction pass covers
      everything — one scan, one shuffle, no union.  (Exchange reuse
      across a two-branch union does not work here: Python map nodes
      don't canonicalize equal, verified on the executed plan.)
    - Without it, the dedicated mega pass remains, but pass an input that
      already carries ``doc_bytes`` AND ``doc_tags`` (materialize both at
      ingest and cluster/sort files by them — each branch's filter then
      prunes at the parquet row-group level and each byte is read once).
      If both are absent they are computed here in one fused pass
      (``with_doc_stats``); if exactly one is present (the pre-density
      contract materialized only ``doc_bytes``) it is REUSED — keeping
      its row-group pruning — and only the missing stat is computed.
      Either way only the numeric columns are evaluated per branch,
      never the reassembled HTML.
    """
    have_bytes = "doc_bytes" in df.columns
    have_tags = "doc_tags" in df.columns
    if have_bytes and have_tags:
        sized = df
    elif have_bytes:
        # caller pre-materialized doc_bytes under the pre-density contract:
        # keep its row-group-pruning value, compute only the missing stat
        sized = df.withColumn("doc_tags", _doc_tags_expr())
    elif have_tags:
        sized = df.withColumn("doc_bytes", _doc_bytes_expr())
    else:
        sized = with_doc_stats(df)
    is_mega = (F.col("doc_bytes") > mega_doc_bytes) | (
        F.col("doc_tags") > mega_doc_tags
    )
    if num_partitions:
        # raw high-cardinality salt, not pmod(hash, N): see
        # salted_repartition's balls-in-bins note
        salt = F.when(
            is_mega, F.concat(F.lit("m"), F.col("doc_id").cast("string"))
        ).otherwise(F.xxhash64(F.col("doc_id"), F.lit(64)).cast("string"))
        routed = (
            sized.withColumn("_salt", salt)
            .repartition(num_partitions, F.col("_salt"))
            .drop("_salt", "doc_bytes", "doc_tags")
        )
        return extract_articles(routed, options, prescreen=prescreen)
    small = sized.filter(~is_mega).drop("doc_bytes", "doc_tags")
    mega = sized.filter(is_mega).drop("doc_bytes", "doc_tags")
    # Arrow input batches are cut per partition, so worker memory for the
    # mega branch = (megas co-resident in one partition) × doc size.  Hash
    # megas across many partitions (empty tasks cost ~ms) so a batch almost
    # always holds ONE mega-doc — emit_every bounds only the output side.
    mega = mega.repartition(mega_partitions, F.col("doc_id"))
    return extract_articles(small, options, prescreen=prescreen).unionByName(
        extract_articles(mega, options, emit_every=1, prescreen=prescreen)
    )
