"""Host-level corpus shaping: per-host boilerplate removal, the chained
shaping funnel, and the leakage-safe train/val/test split.

Stages every web-scale pretraining pipeline runs between extraction and
mixture packing (no reference equivalent — the reference,
readability.go:265-403, only resolves URIs inside one document; shaping
the corpus by fetch host is an engine capability):

* **host_boilerplate_removal** — delete the word blocks that recur across
  a host's documents (site templates: navigation, headers, footers).
* **corpus_shaping_funnel** — boilerplate removal → quality gates on the
  cleaned text → a per-host contribution cap of ``DOMAIN_CAP`` documents
  (RefinedWeb / FineWeb-style "site caps", highest quality first, ties by
  least doc_id) → per-source rollup.
* **leakage_safe_split** — deterministic md5 split buckets drawn per
  near-dup group, so near-duplicates never straddle train and eval.

Host extraction here parses the synthesized fetch URL; a production run
swaps in a public-suffix-list lookup (a broadcast map) to group by
registrable domain instead of raw host — same plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .textstats import EN_STOPWORDS, _STOP_SQL
from .urls import _URL_RX, _synth_url_sql

# Keep at most this many documents per host (test-scale constant; a real
# run sizes it from the target mixture, e.g. FineWeb's per-domain caps).
DOMAIN_CAP = 3


def _stop_bp_sql(engine: str, col: str = "text") -> str:
    """Stopword ratio of the ``col`` text column in integer basis points,
    rendered per engine (the quality_scores ``stopword_bp`` feature)."""
    if engine == "spark":
        w = f"split({col}, ' ')"
        stops = f"array{tuple(EN_STOPWORDS)}"
        return (
            f"cast(round(10000.0 * size(filter({w}, t -> array_contains({stops}, t)))"
            f" / size({w})) as bigint)"
        )
    w = f"string_split({col}, ' ')"
    return (
        f"CAST(round(10000.0 * len(list_filter({w}, t -> list_contains({_STOP_SQL}, t)))"
        f" / len({w})) AS BIGINT)"
    )


def _quality_hbp_sql(engine: str, col: str = "text") -> str:
    """The ``quality_scores`` composite as ONE scalar expression over the
    ``col`` text column, rendered per engine.  Kept in lockstep with
    ``textstats.quality_scores`` / ``_quality_cte_body`` (equality is
    pinned by tests/test_textops.py::test_quality_hbp_sql_lockstep)."""
    if engine == "spark":
        w = f"split({col}, ' ')"
        return (
            f"cast(least(size({w}) * 100, 10000) as bigint)"
            f" + {_stop_bp_sql('spark', col)}"
        )
    w = f"string_split({col}, ' ')"
    return (
        f"CAST(least(len({w}) * 100, 10000) AS BIGINT)"
        f" + {_stop_bp_sql('duckdb', col)}"
    )


def _host_sql(engine: str) -> str:
    """Lowercased fetch-URL host for each document row, per engine
    (the synthetic URL derivation shared with textops.urls)."""
    return f"lower(regexp_extract(({_synth_url_sql(engine)}), '{_URL_RX}', 2))"


# Boilerplate detection constants (test-scale: the synthetic corpus is
# short random word soup, so 2-word blocks are the smallest unit that
# actually recurs across a host's documents — measured df distribution at
# sf0.01: max per-host df 6/25, so ≥3 docs AND ≥15% flags the recurring
# tail without degenerating to the whole vocabulary; a production run
# uses paragraph-sized blocks with higher ratios, e.g. ≥30%).  A block is
# host boilerplate iff it appears in ≥ BOILER_MIN_DOCS distinct documents
# of the host AND in ≥ BOILER_DF_BP basis points of them.
BOILER_W = 2
BOILER_MIN_DOCS = 3
BOILER_DF_BP = 1500


def host_boilerplate_removal(
    documents: DataFrame, block_words: int = BOILER_W
) -> DataFrame:
    """Per-host boilerplate REMOVAL (CCNet/Trafilatura-style template
    cleanup): blocks of ``block_words`` words that recur across a
    threshold fraction of a host's documents (≥{BOILER_DF_BP} bp in
    ≥{BOILER_MIN_DOCS} docs) are navigation / header / footer templates,
    not content — rewrite every document of the host with those blocks
    deleted.

    Differs from ``dedup.block_removal`` (global exact-duplicate
    OCCURRENCE count, Lee et al. ExactSubstr) by scoping detection to the
    host and thresholding on the host's document-frequency RATIO — the
    signature of a site template is "most pages of THIS site", not
    "twice anywhere in the corpus".

    Scale shape: posexplode to fixed-width (host, block-md5) keys; the
    document-frequency agg is one map-side-partial hash agg on a
    high-cardinality key; host doc totals come from the base frame (one
    tiny agg); flagged boilerplate is a per-host handful, so the drop
    join is an equi-join on (host, h) whose build side AQE keeps small;
    reassembly state is bounded by document length (same bound as
    block_removal).  The cleaned text is emitted as md5 (``clean_fp``)
    to stay fixed-width for the value-hash gate; callers wanting the
    rewritten text itself (``corpus_shaping_funnel``, a clean-corpus
    sink) use ``host_boilerplate_clean``.
    """
    return host_boilerplate_clean(documents, block_words).select(
        "doc_id",
        "host",
        "n_blocks",
        "n_removed_blocks",
        F.md5("clean_text").alias("clean_fp"),
    ).orderBy("doc_id")


def host_boilerplate_clean(
    documents: DataFrame, block_words: int = BOILER_W
) -> DataFrame:
    """``host_boilerplate_removal`` with the rewritten document text
    materialized: (doc_id, source, host, n_blocks, n_removed_blocks,
    clean_text) — the frame a pipeline feeds into downstream gates."""
    from ._persist import scratch_persist

    b = block_words
    posts = (
        documents.selectExpr(
            "doc_id",
            "source",
            f"({_host_sql('spark')}) AS host",
            "split(text, ' ') AS w",
        )
        .select(
            "doc_id",
            "source",
            "host",
            F.expr(
                f"transform(sequence(0, (size(w) + {b - 1}) div {b} - 1),"
                f" i -> concat_ws(' ', slice(w, i * {b} + 1, {b})))"
            ).alias("blocks"),
        )
        .select(
            "doc_id", "source", "host", F.posexplode("blocks").alias("idx", "blk")
        )
        .withColumn("h", F.md5("blk"))
    )
    posts = scratch_persist(posts)  # consumed 3x: df counts, totals, survivors
    host_docs = (
        documents.selectExpr(f"({_host_sql('spark')}) AS host")
        .groupBy("host")
        .agg(F.count("*").alias("n_host_docs"))
    )
    df_counts = posts.groupBy("host", "h").agg(
        F.countDistinct("doc_id").alias("df")
    )
    boiler = (
        df_counts.join(host_docs, "host")
        .filter(
            (F.col("df") >= BOILER_MIN_DOCS)
            & (F.col("df") * 10000 >= F.col("n_host_docs") * BOILER_DF_BP)
        )
        .select("host", "h")
    )
    totals = posts.groupBy("doc_id", "source", "host").agg(
        F.count("*").alias("n_blocks")
    )
    kept = (
        posts.join(boiler, ["host", "h"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_sort(F.collect_list(F.struct("idx", "blk"))).alias("parts"),
        )
        .select(
            "doc_id",
            "n_kept",
            F.expr("concat_ws(' ', transform(parts, x -> x.blk))").alias("clean_text"),
        )
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "source",
        "host",
        F.col("n_blocks").cast("long").alias("n_blocks"),
        (F.col("n_blocks") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed_blocks"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def _boiler_clean_cte(block_words: int = BOILER_W) -> str:
    """DuckDB CTE chunk ending in ``cleaned`` → (doc_id, source, host,
    n_blocks, n_removed_blocks, clean_text) — host_boilerplate_clean's
    twin, shared by the removal oracle and the shaping-funnel oracle."""
    b = block_words
    return f"""base AS (
  SELECT doc_id, source, ({_host_sql('duckdb')}) AS host,
         string_split(text, ' ') AS w
  FROM documents
), idxs AS (
  SELECT doc_id, source, host, w,
         unnest(range(0, (len(w) + {b - 1}) // {b})) AS idx
  FROM base
), hashed AS (
  SELECT doc_id, source, host, idx,
         array_to_string(w[idx * {b} + 1 : idx * {b} + {b}], ' ') AS blk,
         md5(array_to_string(w[idx * {b} + 1 : idx * {b} + {b}], ' ')) AS h
  FROM idxs
), host_docs AS (
  SELECT host, count(*) AS n_host_docs FROM base GROUP BY host
), boiler AS (
  SELECT d.host, d.h
  FROM (SELECT host, h, count(DISTINCT doc_id) AS df
        FROM hashed GROUP BY host, h) d
  JOIN host_docs hd USING (host)
  WHERE d.df >= {BOILER_MIN_DOCS}
    AND d.df * 10000 >= hd.n_host_docs * {BOILER_DF_BP}
), totals AS (
  SELECT doc_id, source, host, count(*) AS n_blocks
  FROM hashed GROUP BY doc_id, source, host
), bkept AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(blk, ' ' ORDER BY idx) AS clean_text
  FROM hashed a
  WHERE NOT EXISTS (SELECT 1 FROM boiler x
                    WHERE x.host = a.host AND x.h = a.h)
  GROUP BY doc_id
), cleaned AS (
  SELECT t.doc_id, t.source, t.host,
         CAST(t.n_blocks AS BIGINT) AS n_blocks,
         CAST(t.n_blocks - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed_blocks,
         coalesce(k.clean_text, '') AS clean_text
  FROM totals t LEFT JOIN bkept k USING (doc_id)
)"""


def host_boilerplate_removal_oracle_sql(block_words: int = BOILER_W) -> str:
    return f"""
WITH {_boiler_clean_cte(block_words)}
SELECT doc_id, host, n_blocks, n_removed_blocks,
       md5(clean_text) AS clean_fp
FROM cleaned
ORDER BY doc_id
"""


def corpus_shaping_funnel(documents: DataFrame) -> DataFrame:
    """The corpus-shaping chain END-TO-END, per source: host boilerplate
    removal → quality gates on the CLEANED text (the Gopher-style funnel
    thresholds from ``textstats``) → per-host contribution cap on the
    gate survivors → rollup.  Composes this module's operators in
    production order — gates must run on post-template text (boilerplate
    inflates stopword ratios) and caps must run on gate survivors (a
    capped slot wasted on a failing doc is a retained-token loss.)

    One window ranks cap survivors: partition by host, order by
    (gate DESC, quality DESC, doc_id) — gated docs sort first, so
    ``rank <= cap AND gate`` selects the cap winners without a second
    join or shuffle.  Everything after the boilerplate reassembly is one
    projection + one window + one low-cardinality rollup.
    """
    from ._persist import scratch_persist
    from .textstats import FUNNEL_MIN_STOPWORD_BP, FUNNEL_MIN_WORDS

    cleaned = host_boilerplate_clean(documents)
    feats = cleaned.selectExpr(
        "doc_id",
        "source",
        "host",
        "n_removed_blocks",
        "cast(size(split(clean_text, ' ')) as bigint) AS n_words",
        f"({_stop_bp_sql('spark', 'clean_text')}) AS stopword_bp",
        f"({_quality_hbp_sql('spark', 'clean_text')}) AS quality_hbp",
    ).withColumn(
        "gate",
        (
            (F.col("n_words") >= FUNNEL_MIN_WORDS)
            & (F.col("stopword_bp") >= FUNNEL_MIN_STOPWORD_BP)
        ).cast("long"),
    )
    feats = scratch_persist(feats)  # consumed by the window and the rollup
    w = Window.partitionBy("host").orderBy(
        F.col("gate").desc(), F.col("quality_hbp").desc(), F.col("doc_id").asc()
    )
    ranked = feats.withColumn(
        "kept",
        ((F.row_number().over(w) <= DOMAIN_CAP) & (F.col("gate") == 1)).cast("long"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_removed_blocks").alias("blocks_removed"),
            F.sum("gate").alias("n_gated"),
            F.sum("kept").alias("n_capped"),
            F.sum(
                F.when(F.col("kept") == 1, F.col("n_words")).otherwise(F.lit(0))
            ).alias("kept_tokens"),
        )
        .orderBy("source")
    )


def corpus_shaping_funnel_oracle_sql() -> str:
    from .textstats import FUNNEL_MIN_STOPWORD_BP, FUNNEL_MIN_WORDS

    return f"""
WITH {_boiler_clean_cte()},
feats AS (
  SELECT doc_id, source, host, n_removed_blocks,
         CAST(len(string_split(clean_text, ' ')) AS BIGINT) AS n_words,
         ({_stop_bp_sql('duckdb', 'clean_text')}) AS stopword_bp,
         ({_quality_hbp_sql('duckdb', 'clean_text')}) AS quality_hbp
  FROM cleaned
), gated AS (
  SELECT *, CASE WHEN n_words >= {FUNNEL_MIN_WORDS} AND stopword_bp >= {FUNNEL_MIN_STOPWORD_BP}
                 THEN 1 ELSE 0 END AS gate
  FROM feats
), ranked AS (
  SELECT *,
         CASE WHEN row_number() OVER (
                PARTITION BY host
                ORDER BY gate DESC, quality_hbp DESC, doc_id
              ) <= {DOMAIN_CAP} AND gate = 1
              THEN 1 ELSE 0 END AS kept
  FROM gated
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_removed_blocks) AS BIGINT) AS blocks_removed,
       CAST(sum(gate) AS BIGINT) AS n_gated,
       CAST(sum(kept) AS BIGINT) AS n_capped,
       CAST(sum(CASE WHEN kept = 1 THEN n_words ELSE 0 END) AS BIGINT)
         AS kept_tokens
FROM ranked GROUP BY source ORDER BY source
"""


# Deterministic corpus split boundaries (cumulative percent).
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 90  # 80-90 = val, 90-100 = test


def leakage_safe_split(
    documents: DataFrame, groups: DataFrame | None = None
) -> DataFrame:
    """Dedup-aware train/val/test split rollup: the split bucket is drawn
    from the md5 of the document's near-dup GROUP id (its connected
    component in the MinHash-LSH pair graph, ``dedup.dedup_groups``),
    falling back to the doc's own id outside any group — so near
    -duplicates can never straddle train and eval (the leakage a naive
    per-doc split ships: the eval set "memorized" through a training-set
    twin).  Deterministic md5 buckets, no ``rand()``, same recipe as
    ``textstats.stratified_sample``.

    Scale shape: the group frame holds only docs in the pair graph (a
    small fraction of any corpus), joined on doc_id; the split draw is
    map-side; one low-cardinality (source, split) rollup.  Pass a
    prebuilt ``groups`` frame to reuse the materialized-once groups
    table, like ``dedup.canonical_keep``.  No reference equivalent
    (corpus tier)."""
    return (
        split_assignments(documents, groups)
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "split")
    )


def split_assignments(
    documents: DataFrame, groups: DataFrame | None = None
) -> DataFrame:
    """Per-document split assignment (doc_id, source, split_key, split) —
    ``leakage_safe_split``'s pre-rollup face; the straddle invariant
    (one split per near-dup group) is asserted on it in tests."""
    from .dedup import dedup_groups

    if groups is None:
        groups = dedup_groups(documents)
    keyed = (
        documents.select("doc_id", "source")
        .join(groups, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("canonical_doc_id", "doc_id").alias("split_key"),
        )
    )
    bucket = (
        F.expr(
            "cast(conv(substr(md5(cast(split_key as string)), 1, 8), 16, 10) as bigint)"
        )
        % 100
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return keyed.select("doc_id", "source", "split_key", split.alias("split"))


def leakage_safe_split_oracle_sql() -> str:
    from .dedup import _lsh_pairs_cte_body

    return f"""
WITH RECURSIVE {_lsh_pairs_cte_body()},
edges AS (
  SELECT doc_a, doc_b FROM lsh_pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM lsh_pairs
),
reach(doc_id, r) AS (
  SELECT doc_a, doc_b FROM edges
  UNION
  SELECT e.doc_a, reach.r FROM edges e JOIN reach ON e.doc_b = reach.doc_id
),
grp AS (
  SELECT doc_id, least(doc_id, min(r)) AS canonical_doc_id
  FROM reach GROUP BY doc_id
),
keyed AS (
  SELECT d.source, coalesce(g.canonical_doc_id, d.doc_id) AS split_key
  FROM documents d LEFT JOIN grp g USING (doc_id)
),
bucketed AS (
  SELECT source,
         ('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 8))::BIGINT % 100
           AS b
  FROM keyed
)
SELECT source,
       CASE WHEN b < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN b < {SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs
FROM bucketed GROUP BY source, split ORDER BY source, split
"""
