"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting (corpus-hygiene stages of a training-data pipeline).

Pure Catalyst expressions — whole-stage-codegen'd, shuffle only at the
final aggregation; at 100 TB these are scan-bound map-side ops — except the
doc-local repetition fold, one ``mapInArrow`` pass.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..spark.session import record_batch
from ._persist import scratch_persist, spread_small
from .dedup import WS_RX

# Tiny deterministic English stopword set for the n-gram/stopword language
# heuristic.  Shared verbatim with the oracle SQL.
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]

_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


def token_counts(documents: DataFrame) -> DataFrame:
    """Per-source token totals: whitespace tokens + a BPE-ish sub-token
    estimate (words longer than 4 chars count ceil(len/4) pieces)."""
    toks = documents.select(
        "source",
        F.split(F.col("text"), " ").alias("w"),
    ).select(
        "source",
        F.size("w").alias("n_tokens"),
        F.expr(
            "aggregate(w, 0L, (acc, t) -> acc + cast(ceil(length(t) / 4.0) as long))"
        ).alias("n_subtokens"),
    )
    return (
        toks.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_subtokens").alias("total_subtokens"),
        )
        .orderBy("source")
    )


def token_counts_oracle_sql() -> str:
    return """
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(sum(list_sum(list_transform(string_split(text, ' '),
                                        t -> CAST(ceil(length(t) / 4.0) AS BIGINT)))) AS BIGINT) AS total_subtokens
FROM documents
GROUP BY source
ORDER BY source
"""


def quality_scores(documents: DataFrame) -> DataFrame:
    """Per-document quality features: length, mean word length (basis
    points), stopword ratio (basis points), and a composite score — the
    cheap filters a pretraining pipeline runs before anything expensive.

    Ratios are reported in integer basis points (×10000, rounded): a ratio
    k/n never sits closer than 1/(2n) to a rounding boundary unless exactly
    on it, so the values are engine-independent — no float-rounding drift
    between distributed partial aggregation orders or SQL dialects.
    """
    w = documents.select(
        "doc_id",
        F.length("text").alias("n_chars_m"),
        F.split(F.col("text"), " ").alias("w"),
    )
    feats = w.select(
        "doc_id",
        "n_chars_m",
        F.size("w").alias("n_words"),
        F.round(
            F.expr("10000.0 * aggregate(w, 0L, (acc, t) -> acc + length(t)) / size(w)")
        )
        .cast("long")
        .alias("mean_word_len_bp"),
        F.round(
            F.expr(
                f"10000.0 * size(filter(w, t -> array_contains(array{tuple(EN_STOPWORDS)}, t))) / size(w)"
            )
        )
        .cast("long")
        .alias("stopword_bp"),
    )
    # quality in half-basis-points: integer arithmetic end-to-end
    return feats.withColumn(
        "quality_hbp",
        F.least(F.col("n_words") * 100, F.lit(10000)).cast("long")
        + F.col("stopword_bp"),
    ).orderBy("doc_id")


def _quality_cte_body() -> str:
    """DuckDB CTE chunk ``qw, qfeats, quality`` → (doc_id, quality_hbp):
    the same composite quality_scores computes (keep in lockstep with it
    and with quality_scores_oracle_sql).  Shared by dedup.canonical_keep's
    oracle, which ranks duplicate-group members by this score."""
    return f"""qw AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), qfeats AS (
  SELECT doc_id, len(w) AS n_words,
         CAST(round(10000.0 * len(list_filter(w, t -> list_contains({_STOP_SQL}, t))) / len(w))
              AS BIGINT) AS stopword_bp
  FROM qw
), quality AS (
  SELECT doc_id,
         CAST(least(n_words * 100, 10000) AS BIGINT) + stopword_bp AS quality_hbp
  FROM qfeats
)"""


def quality_scores_oracle_sql() -> str:
    return f"""
WITH w AS (
  SELECT doc_id, length(text) AS n_chars_m, string_split(text, ' ') AS w FROM documents
), feats AS (
  SELECT doc_id, n_chars_m, len(w) AS n_words,
         CAST(round(10000.0 * list_sum(list_transform(w, t -> length(t))) / len(w))
              AS BIGINT) AS mean_word_len_bp,
         CAST(round(10000.0 * len(list_filter(w, t -> list_contains({_STOP_SQL}, t))) / len(w))
              AS BIGINT) AS stopword_bp
  FROM w
)
SELECT doc_id, n_chars_m, n_words, mean_word_len_bp, stopword_bp,
       CAST(least(n_words * 100, 10000) AS BIGINT) + stopword_bp AS quality_hbp
FROM feats ORDER BY doc_id
"""


def langid(documents: DataFrame) -> DataFrame:
    """Stopword-hit language heuristic: docs whose stopword ratio ≥ 5%
    classify as 'en', else 'unk'; aggregate per source × prediction."""
    pred = documents.select(
        "source",
        F.split(F.col("text"), " ").alias("w"),
    ).select(
        "source",
        F.when(
            F.expr(
                f"size(filter(w, t -> array_contains(array{tuple(EN_STOPWORDS)}, t))) / size(w)"
            )
            >= 0.05,
            F.lit("en"),
        )
        .otherwise(F.lit("unk"))
        .alias("pred_lang"),
    )
    return (
        pred.groupBy("source", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "pred_lang")
    )


def langid_oracle_sql() -> str:
    return f"""
WITH pred AS (
  SELECT source,
         CASE WHEN len(list_filter(string_split(text, ' '),
                                   t -> list_contains({_STOP_SQL}, t))) * 1.0
                   / len(string_split(text, ' ')) >= 0.05
              THEN 'en' ELSE 'unk' END AS pred_lang
  FROM documents
)
SELECT source, pred_lang, count(*) AS n_docs
FROM pred GROUP BY source, pred_lang ORDER BY source, pred_lang
"""


def fingerprints(documents: DataFrame) -> DataFrame:
    """Deterministic content fingerprint: md5 of lowercased,
    whitespace-collapsed text; used as the exact-dedup key and the
    lineage-stable doc identity."""
    fp = documents.select(
        "source",
        F.md5(F.regexp_replace(F.lower(F.col("text")), WS_RX, " ")).alias("fingerprint"),
    )
    return (
        fp.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_distinct"),
        )
        .orderBy("source")
    )


def fingerprints_oracle_sql() -> str:
    return rf"""
SELECT source, count(*) AS n_docs,
       count(DISTINCT md5(regexp_replace(lower(text), '{WS_RX}', ' ', 'g'))) AS n_distinct
FROM documents GROUP BY source ORDER BY source
"""


def length_quantiles(documents: DataFrame) -> DataFrame:
    """Exact per-source length distribution (p25/p50/p75 of n_chars) via
    rank selection — percentile_disc semantics stated identically in both
    engines (value at row_number == ceil(p·n) over a total (n_chars,
    doc_id) order), so no interpolation convention can diverge.

    Scale shape: ONE shuffle on source; both windows share the partition,
    and the rank filter is a streaming pass over each sorted partition.
    Exact quantiles genuinely need the per-group sort — the approximate
    path (percentile_approx sketches) trades that away but has no
    cross-engine-exact oracle.
    """
    ranked = documents.select(
        "source",
        "n_chars",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("rn"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    pick = lambda cond: F.max(F.when(F.expr(cond), F.col("n_chars")))  # noqa: E731
    return (
        ranked.groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            pick("rn = (n + 3) div 4").alias("p25_chars"),
            pick("rn = (n + 1) div 2").alias("p50_chars"),
            pick("rn = (3 * n + 3) div 4").alias("p75_chars"),
        )
        .orderBy("source")
    )


def length_quantiles_oracle_sql() -> str:
    return """
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source,
       max(n) AS n_docs,
       max(CASE WHEN rn = (n + 3) // 4 THEN n_chars END) AS p25_chars,
       max(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS p50_chars,
       max(CASE WHEN rn = (3 * n + 3) // 4 THEN n_chars END) AS p75_chars
FROM ranked GROUP BY source ORDER BY source
"""


def repetition_signals(documents: DataFrame) -> DataFrame:
    """Gopher-style per-document repetition signals (Rae et al. 2021,
    Appendix A1.1), the repetition-quality gates a pretraining pipeline
    applies after the cheap length/stopword filters:

      - dup_word_bp:  fraction of word occurrences that are repeats
      - top_2gram_bp: fraction of characters covered by the single most
        frequent word 2-gram (ties broken lexicographically)
      - dup_5gram_bp: fraction of characters covered by word 5-grams that
        occur more than once

    All ratios are integer basis points via integer division (`div`), so
    no float rounding exists to drift between engines.

    Scale shape: every signal is DOC-LOCAL (gram counts never cross
    documents), so the whole operator is one ``mapInArrow`` pass with
    Counter folds per row (``_repetition_batches``) — zero shuffle,
    scan-bound at 100 TB.  The declarative alternative (explode 2-grams
    and 5-grams, two groupBy(doc_id, gram) aggregations, WindowGroupLimit
    top-1, two join-backs) moves every distinct gram string through an
    exchange even though the groups are doc-local; A/B at sf0.1 (5k docs,
    local[32]): 0.64 s vs 1.8–2.0 s warm, 3.1 s vs 7.6 s plan-cold, output
    exactly equal (the DuckDB oracle is that formulation).  Exactness is
    engine-independent: integer counts and floor division only, Python's
    ``min(key=(-cnt, gram))`` tie-break equals the SQL ``ORDER BY cnt
    DESC, g ASC`` row_number because UTF-8 binary order (Spark/DuckDB
    string comparison) preserves code-point order (Python ``str``
    comparison).
    """
    schema = T.StructType([documents.schema["doc_id"], *_REPETITION_FIELDS])
    return (
        spread_small(documents)
        .select("doc_id", "text")
        .mapInArrow(_repetition_batches, schema)
        .orderBy("doc_id")
    )


# n_words is the 32-bit size(); the bp columns are 10000L*… div → BIGINT
_REPETITION_FIELDS = [
    T.StructField("n_words", T.IntegerType()),
    T.StructField("dup_word_bp", T.LongType()),
    T.StructField("top_2gram_bp", T.LongType()),
    T.StructField("dup_5gram_bp", T.LongType()),
]
_REPETITION_ARROW = [pa.field(f.name, to_arrow_type(f.dataType)) for f in _REPETITION_FIELDS]


def _repetition_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """(doc_id, text) batches → (doc_id, n_words, dup_word_bp,
    top_2gram_bp, dup_5gram_bp) batches, row for row."""
    for batch in batches:
        cols: list[list] = [[], [], [], []]
        for text in batch.column("text").to_pylist():
            for col, v in zip(cols, _repetition_row(text)):
                col.append(v)
        schema = pa.schema([batch.schema.field("doc_id"), *_REPETITION_ARROW])
        yield record_batch([batch.column("doc_id"), *cols], schema)


def _repetition_row(text: str | None) -> tuple:
    if text is None:
        # the oracle's semantics: size(split(NULL)) is NULL, so every
        # derived column is NULL (x div NULL = NULL)
        return None, None, None, None
    words = text.split(" ")
    n = len(words)
    nc = len(text)
    top2 = 0
    if n >= 2:
        c2 = Counter(" ".join(words[i : i + 2]) for i in range(n - 1))
        g, cnt = min(c2.items(), key=lambda kv: (-kv[1], kv[0]))
        top2 = cnt * len(g)
    dup5 = 0
    if n >= 5:
        c5 = Counter(" ".join(words[i : i + 5]) for i in range(n - 4))
        dup5 = sum(cnt * len(g) for g, cnt in c5.items() if cnt > 1)
    # empty text: `x div 0` is NULL, never a crash
    return (
        n,
        (10000 * (n - len(set(words)))) // n,
        (10000 * top2) // nc if nc else None,
        (10000 * dup5) // nc if nc else None,
    )


def repetition_signals_oracle_sql() -> str:
    return """
WITH base AS (
  SELECT doc_id, length(text) AS n_chars_m, string_split(text, ' ') AS w FROM documents
), feats AS (
  SELECT doc_id, n_chars_m, len(w) AS n_words, len(list_distinct(w)) AS n_distinct, w
  FROM base
), g2 AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(w) - 1),
                               i -> array_to_string(w[i + 1 : i + 2], ' '))) AS g
  FROM feats WHERE len(w) >= 2
), c2 AS (
  SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g
), top2 AS (
  SELECT doc_id, cnt * length(g) AS top2_chars
  FROM c2
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g ASC) = 1
), g5 AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(w) - 4),
                               i -> array_to_string(w[i + 1 : i + 5], ' '))) AS g
  FROM feats WHERE len(w) >= 5
), c5 AS (
  SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY doc_id, g
), dup5 AS (
  SELECT doc_id, CAST(sum(cnt * length(g)) AS BIGINT) AS dup5_chars
  FROM c5 WHERE cnt > 1 GROUP BY doc_id
)
SELECT f.doc_id, f.n_words,
       (10000 * (f.n_words - f.n_distinct)) // f.n_words AS dup_word_bp,
       (10000 * coalesce(t.top2_chars, 0)) // f.n_chars_m AS top_2gram_bp,
       (10000 * coalesce(d.dup5_chars, 0)) // f.n_chars_m AS dup_5gram_bp
FROM feats f
LEFT JOIN top2 t USING (doc_id)
LEFT JOIN dup5 d USING (doc_id)
ORDER BY f.doc_id
"""


# Funnel filter thresholds (Gopher-style cheap hygiene gates, integer
# arithmetic so both engines agree exactly)
FUNNEL_MIN_WORDS = 30
FUNNEL_MIN_STOPWORD_BP = 500  # ≥5% stopwords ≈ "looks like English prose"


# Benchmark-decontamination parameters: probe n-grams are word-{DECON_K}
# shingles; the synthetic "benchmark set" is derived deterministically from
# the corpus (the opening shingle of docs in one md5 bucket of
# {DECON_PROBE_MOD} — type-agnostic over numeric or string doc_ids), which
# stands in for eval-set strings without external data.
DECON_K = 8
DECON_PROBE_MOD = 50
DECON_PROBE_REM = 7


def decontaminate(documents: DataFrame) -> DataFrame:
    """Benchmark decontamination: find documents sharing any word-{DECON_K}
    n-gram with the benchmark probe set → (doc_id, n_contaminated) for
    contaminated docs.

    Scale shape: the probe set is small (one n-gram hash per benchmark
    entry) and BROADCAST; document shingle hashes are a map-side explode,
    so the join never shuffles the corpus — only matched shingles reach
    the per-doc count.  This is the decontamination pass a pretraining
    pipeline runs against held-out eval sets.
    """
    w = documents.select("doc_id", F.split(F.col("text"), " ").alias("w")).filter(
        F.size("w") >= DECON_K
    )
    # CASE WHEN guards the expression itself (CLAUDE.md sequence() trap;
    # the upstream size filter is not an evaluation-order guarantee)
    shingles = w.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(w) >= {DECON_K} THEN"
                f" transform(sequence(0, size(w) - {DECON_K}),"
                f" i -> md5(concat_ws(' ', slice(w, i + 1, {DECON_K}))))"
                f" ELSE array() END"
            )
        ).alias("h"),
    )
    # md5-bucket probe selection (same recipe as stratified_sample) works
    # for ANY doc_id type — the hygiene job feeds STRING doc_ids from the
    # articles table, where a numeric `doc_id % mod` would ANSI-crash.
    probe_bucket = (
        F.expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)")
        % DECON_PROBE_MOD
    )
    probes = (
        w.filter(probe_bucket == DECON_PROBE_REM)
        .select(F.expr(f"md5(concat_ws(' ', slice(w, 1, {DECON_K})))").alias("h"))
        .distinct()
    )
    return (
        shingles.join(F.broadcast(probes), "h")
        .groupBy("doc_id")
        .agg(F.countDistinct("h").alias("n_contaminated"))
        .orderBy("doc_id")
    )


def decontaminate_oracle_sql() -> str:
    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= {DECON_K}
), sh AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(w) - {DECON_K} + 1),
                               i -> md5(array_to_string(w[i + 1 : i + {DECON_K}], ' ')))) AS h
  FROM w
), probes AS (
  SELECT DISTINCT md5(array_to_string(w[1 : {DECON_K}], ' ')) AS h
  FROM w
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        % {DECON_PROBE_MOD} = {DECON_PROBE_REM}
)
SELECT s.doc_id, count(DISTINCT s.h) AS n_contaminated
FROM sh s JOIN probes p USING (h)
GROUP BY s.doc_id ORDER BY s.doc_id
"""


# Deterministic hash-sampling rate (percent).  md5-derived uniform, so the
# sample is stable across engines, partitionings, and reruns — the property
# a training pipeline needs for reproducible corpus subsets.
SAMPLE_PCT = 20


def stratified_sample(documents: DataFrame) -> DataFrame:
    """Per-source deterministic {SAMPLE_PCT}% sample rollup: every doc is
    kept iff its md5-hash bucket (mod 100) falls under the rate — a pure
    map-side filter with one low-cardinality rollup shuffle, the
    reproducible-sampling stage of a training pipeline (no rand(), which
    would differ per engine, partitioning, and rerun)."""
    flagged = documents.select(
        "source",
        F.size(F.split(F.col("text"), " ")).alias("n_words"),
        (
            F.expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)")
            % 100
            < SAMPLE_PCT
        ).alias("keep"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_sampled"),
            F.sum(F.when(F.col("keep"), F.col("n_words")).otherwise(F.lit(0)).cast("long")).alias(
                "sampled_tokens"
            ),
        )
        .orderBy("source")
    )


def stratified_sample_oracle_sql() -> str:
    return f"""
WITH flagged AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_words,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)
           < {SAMPLE_PCT} AS keep
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(sum(CASE WHEN keep THEN n_words ELSE 0 END) AS BIGINT) AS sampled_tokens
FROM flagged GROUP BY source ORDER BY source
"""


VOCAB_TOP_K = 20


def vocab_topk(documents: DataFrame) -> DataFrame:
    """Top-{VOCAB_TOP_K} words by document frequency — the vocabulary /
    tokenizer-training precursor.  Per-doc distinct words explode map-side,
    the only wide shuffle is the word-count aggregation (high-cardinality
    key, map-side partial agg); ties break lexicographically so the limit
    is deterministic."""
    df = (
        documents.select(
            F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("word"))
        .limit(VOCAB_TOP_K)
    )
    return df


def vocab_topk_oracle_sql() -> str:
    return f"""
SELECT word, count(*) AS doc_freq
FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
      FROM documents)
GROUP BY word
ORDER BY doc_freq DESC, word ASC
LIMIT {VOCAB_TOP_K}
"""


def training_corpus_funnel(documents: DataFrame) -> DataFrame:
    """The whole corpus-hygiene funnel as ONE query: exact dedup (md5
    fingerprint, min-doc_id survivor) → quality + language gates
    (word count, stopword ratio) → per-source funnel counts and kept
    token volume.  This is the shape a pretraining data pipeline runs
    nightly; every stage is a Catalyst expression, the only shuffles are
    the fingerprint groupBy/join and the final low-cardinality rollup.
    """
    base = documents.select(
        "doc_id",
        "source",
        F.split(F.col("text"), " ").alias("w"),
        F.md5(F.regexp_replace(F.lower(F.col("text")), WS_RX, " ")).alias("fp"),
    )
    canon = base.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    deduped = base.join(canon, ["fp", "doc_id"])
    feats = deduped.select(
        "source",
        F.size("w").alias("n_words"),
        F.round(
            F.expr(
                f"10000.0 * size(filter(w, t -> array_contains(array{tuple(EN_STOPWORDS)}, t))) / size(w)"
            )
        )
        .cast("long")
        .alias("stopword_bp"),
    )
    kept_flag = (F.col("n_words") >= FUNNEL_MIN_WORDS) & (
        F.col("stopword_bp") >= FUNNEL_MIN_STOPWORD_BP
    )
    per_source = base.groupBy("source").agg(F.count("*").alias("n_docs"))
    funnel = feats.groupBy("source").agg(
        F.count("*").alias("n_after_dedup"),
        F.sum(kept_flag.cast("long")).alias("n_kept"),
        F.sum(F.when(kept_flag, F.col("n_words")).otherwise(F.lit(0))).alias(
            "kept_tokens"
        ),
    )
    # LEFT join + zeros: a source whose every doc loses the cross-source
    # dedup race (mirror site) must report n_after_dedup=0, not vanish —
    # same "present but fully excluded" rule as corpus_mixture
    zero = F.lit(0).cast("long")
    return (
        per_source.join(funnel, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_after_dedup", zero).alias("n_after_dedup"),
            F.coalesce("n_kept", zero).alias("n_kept"),
            F.coalesce("kept_tokens", zero).alias("kept_tokens"),
        )
        .orderBy("source")
    )


def training_corpus_funnel_oracle_sql() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, source, string_split(text, ' ') AS w,
         md5(regexp_replace(lower(text), '{WS_RX}', ' ', 'g')) AS fp
  FROM documents
), canon AS (
  SELECT fp, min(doc_id) AS doc_id FROM base GROUP BY fp
), deduped AS (
  SELECT b.* FROM base b JOIN canon c ON b.fp = c.fp AND b.doc_id = c.doc_id
), feats AS (
  SELECT source, len(w) AS n_words,
         CAST(round(10000.0 * len(list_filter(w, t -> list_contains({_STOP_SQL}, t))) / len(w))
              AS BIGINT) AS stopword_bp
  FROM deduped
), per_source AS (
  SELECT source, count(*) AS n_docs FROM base GROUP BY source
), funnel AS (
  SELECT source,
         count(*) AS n_after_dedup,
         CAST(sum(CASE WHEN n_words >= {FUNNEL_MIN_WORDS}
                        AND stopword_bp >= {FUNNEL_MIN_STOPWORD_BP}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(sum(CASE WHEN n_words >= {FUNNEL_MIN_WORDS}
                        AND stopword_bp >= {FUNNEL_MIN_STOPWORD_BP}
                       THEN n_words ELSE 0 END) AS BIGINT) AS kept_tokens
  FROM feats GROUP BY source
)
SELECT p.source, p.n_docs,
       CAST(coalesce(f.n_after_dedup, 0) AS BIGINT) AS n_after_dedup,
       CAST(coalesce(f.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(f.kept_tokens, 0) AS BIGINT) AS kept_tokens
FROM per_source p LEFT JOIN funnel f ON p.source = f.source
ORDER BY p.source
"""


TOP_TERMS_K = 3  # characteristic terms kept per document


def top_terms(documents: DataFrame, k: int = TOP_TERMS_K) -> DataFrame:
    """Per-document characteristic terms: the k terms with the highest
    in-document frequency among terms that are NOT corpus-common, ranked
    by (tf desc, df asc, term asc) — the float-free rendition of TF-IDF
    keyword extraction (rarer corpus-wide beats commoner at equal tf;
    no log() whose last-ulp rounding could drift between engines).
    "Corpus-common" = document frequency above half the corpus, the same
    cutoff Luhn's classic keyword heuristic applies before significance
    ranking.  A training pipeline uses these for topic bucketing and
    source-mix audits.

    No reference equivalent (corpus tier).

    Scale shape: tf is one (doc_id, term) hash agg with map-side partial
    collapse (all of a doc's terms originate in one row); df falls out of
    the tf frame with a second agg (rows are already distinct doc×term);
    the common-term cutoff is a 1-row broadcast; the per-doc top-k runs
    through WindowGroupLimit (partial top-k both sides of the exchange).
    """
    tf = (
        documents.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    tf = scratch_persist(tf)  # consumed twice: df agg + the ranked join
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = documents.groupBy().agg(F.count("*").alias("n_docs_total"))
    rare = (
        df_.join(F.broadcast(n_docs))
        .filter(F.col("df") * 2 <= F.col("n_docs_total"))
        .select("term", "df")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(rare, "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("doc_id", "rank")
    )


def top_terms_oracle_sql(k: int = TOP_TERMS_K) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), rare AS (
  SELECT term, df FROM df WHERE df * 2 <= (SELECT count(*) FROM documents)
), ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, rare.df,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, rare.df ASC, tf.term ASC) AS rank
  FROM tf JOIN rare USING (term)
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
ORDER BY doc_id, rank
"""


# mixture packing: per-source token budgets (cycled over 3 tiers so the
# packer genuinely truncates every tier at the test scales)
MIXTURE_BASE_BUDGET = 400


def corpus_mixture(
    documents: DataFrame, budget: F.Column | None = None
) -> DataFrame:
    """Deterministic data-mixture construction: pack each source up to a
    per-source TOKEN budget, admitting documents in md5-hash order until
    the next one would exceed it — the "sample source A at weight w_A"
    stage that turns a deduped corpus into a training mixture (every
    LLM data recipe publishes exactly this table).

    No reference equivalent (corpus tier).  No ``rand()``: the admission
    order is the same md5 recipe as ``stratified_sample``, so a re-run,
    a different partitioning, or the DuckDB oracle all pick the SAME
    documents.  The default budget derives from the numeric 'srcN'
    suffix of the testdata sources (three tiers — and is NOT portable:
    non-srcN labels cast to NULL); pass ``budget`` (any Column, e.g. a
    joined weights-table value or a constant) for real corpora.

    Scale shape: one window per source (cumulative token sum in hash
    order) — the partition key is the source, so skew follows source
    size; at 100 TB you'd pre-aggregate per (source, hash-bucket) and
    pack bucket subtotals first, which this operator's rollup output is
    already shaped for.  Returns (source, budget_tokens, n_docs_kept,
    tokens_kept) ordered by source; tokens_kept never exceeds budget.
    A source whose cheapest document alone exceeds its budget still
    gets a row (zeros) — conditional aggregation, not a pre-filter, so
    "present but fully excluded" is distinguishable from "absent".
    """
    if budget is None:
        num = F.expr("cast(substr(source, 4) as int)")
        budget = F.lit(MIXTURE_BASE_BUDGET) * (1 + F.pmod(num, F.lit(3)))
    budget = budget.cast("long")
    key = F.expr(
        "cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)"
    )
    w = (
        Window.partitionBy("source")
        .orderBy(key.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = documents.select(
        "source",
        "doc_id",
        budget.alias("budget_tokens"),
        F.size(F.split(F.col("text"), " ")).alias("n_words"),
    ).withColumn("cum_tokens", F.sum("n_words").over(w))
    kept = (F.col("cum_tokens") <= F.col("budget_tokens")).cast("long")
    return (
        packed.groupBy("source", "budget_tokens")
        .agg(
            F.sum(kept).alias("n_docs_kept"),
            F.sum(F.col("n_words") * kept).cast("long").alias("tokens_kept"),
        )
        .orderBy("source")
    )


def corpus_mixture_oracle_sql() -> str:
    return f"""
WITH sized AS (
  SELECT source, doc_id,
         CAST({MIXTURE_BASE_BUDGET} * (1 + CAST(substr(source, 4) AS INT) % 3) AS BIGINT)
           AS budget_tokens,
         len(string_split(text, ' ')) AS n_words,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS key
  FROM documents
), packed AS (
  SELECT source, budget_tokens, n_words,
         sum(n_words) OVER (PARTITION BY source ORDER BY key ASC, doc_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM sized
)
SELECT source, budget_tokens,
       CAST(sum(CASE WHEN cum_tokens <= budget_tokens THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_kept,
       CAST(sum(CASE WHEN cum_tokens <= budget_tokens THEN n_words ELSE 0 END) AS BIGINT)
         AS tokens_kept
FROM packed
GROUP BY source, budget_tokens
ORDER BY source
"""
