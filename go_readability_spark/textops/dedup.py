"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Spark-first design notes (10^12-doc scale):
- Exact dedup is one hash-shuffle on the md5 fingerprint (map-side partial
  agg; AQE coalesces).
- MinHash/LSH avoids the O(n²) pair space: signatures are map-side
  expressions, the only shuffle is the band-bucket self-join whose key
  (band_idx, band_hash) is high-cardinality and therefore well-spread;
  AQE skew-join splits any hot bucket.
- SimHash is a pure map-side fingerprint; collision grouping is one agg.
- The md5-based hash family is chosen deliberately: bit-identical between
  Spark and DuckDB, so the oracle checks values, not just shapes.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T

from ..spark.session import record_batch
from ._persist import scratch_persist, spread_small

SHINGLE_K = 3          # words per shingle
MINHASH_N = 8          # permutations (md5-salted)
LSH_BANDS = 4          # bands of MINHASH_N / LSH_BANDS rows each
# 60-bit SimHash (15 md5 hex chars → fits signed BIGINT in both engines),
# split into 4 Hamming bands of 15 bits: any pair within Hamming distance 3
# agrees exactly on ≥1 band (pigeonhole), so the banded self-join finds all
# near-dups without an O(n²) compare — the Manku/Jain/Sarma web-dedup shape.
SIMHASH_BITS = 60
SIMHASH_HEX_CHARS = SIMHASH_BITS // 4
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS   # 15
SIMHASH_MAX_HAMMING = SIMHASH_BANDS - 1             # pigeonhole-complete
JACCARD_THRESHOLD = 0.8

# ONE whitespace class for every content fingerprint, spelled explicitly:
# Java \s is [ \t\n\x0b\f\r] but RE2's \s omits \x0b, so a bare '\s+'
# canonicalizes vertical-tab-bearing crawl text differently in Spark vs
# the DuckDB oracle.  The explicit class equals Java \s exactly (Spark
# behavior unchanged) and compiles to the same set in RE2.  Used by
# exact dedup, metrics and the funnel.
WS_RX = r"[ \t\n\x0b\f\r]+"


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Exact dedup via content fingerprint: one row per duplicated
    fingerprint with the canonical (min) doc_id and the duplicate count."""
    fp = documents.select(
        F.col("doc_id"),
        F.md5(F.regexp_replace(F.lower(F.col("text")), WS_RX, " ")).alias("fingerprint"),
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("fingerprint")
    )


def exact_duplicates_oracle_sql() -> str:
    return rf"""
SELECT md5(regexp_replace(lower(text), '{WS_RX}', ' ', 'g')) AS fingerprint,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1 HAVING count(*) > 1 ORDER BY fingerprint
"""


def _shingles_col() -> str:
    """Spark SQL expr: ordered distinct word-K-shingles of column ``w``.

    Total on any input: ``sequence(0, size(w) - K)`` counts DOWN through
    negative starts when size(w) < K (Spark's sequence reverses when stop
    < start, then ``slice`` rejects start 0), so short docs must never
    reach the inner expression — callers' ``size(w) >= K`` filters are
    not a guarantee of evaluation order under optimizer rewrites
    (ConvertToLocalRelation, predicate reorder).  CASE WHEN branches are
    lazy, making the guard airtight; the DuckDB twin's ``range`` is
    already empty-on-negative."""
    return (
        f"CASE WHEN size(w) >= {SHINGLE_K} THEN"
        f" array_distinct(transform(sequence(0, size(w) - {SHINGLE_K}),"
        f" i -> concat_ws(' ', slice(w, i + 1, {SHINGLE_K}))))"
        f" ELSE array() END"
    )


def _shingles_duck() -> str:
    return (
        f"list_distinct(list_transform(range(0, len(w) - {SHINGLE_K - 1}),"
        f" i -> array_to_string(w[i + 1 : i + {SHINGLE_K}], ' ')))"
    )


def ngram_jaccard_pairs(documents: DataFrame, threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Near-dup pairs by word-{K}-shingle Jaccard similarity, via the
    inverted-index (posting-list) join — the shape that scales.

    Instead of materializing candidate pairs and intersecting shingle sets
    per pair (O(pairs × set-op), the naive design), explode each document's
    distinct shingles and equi-join postings on the shingle itself: only
    pairs that actually share a shingle ever materialize, the shuffle key
    (shingle) is high-cardinality and uniform, and the intersection size
    falls out of a count per (doc_a, doc_b).  |union| = |A| + |B| − |A∩B|.
    Blocking on lang plus a RECALL-EXACT size-bucket guard: buckets are
    the bit length of the shingle count (power-of-2 ranges), and J ≥ 0.8
    forces n_a/n_b ≥ 0.8 > 1/2, so true pairs ALWAYS land in the same or
    adjacent buckets — unlike a fixed-width char bucket, whose absolute
    tolerance silently drops long near-dup pairs differing by more chars
    than the width (a 12k-char doc vs its +10% copy).  The exact
    size-ratio bound (J ≥ 0.8 ⇒ 5·|A| ≥ 4·|B|) then prunes inside the
    join; bit length is integer-exact in both engines (length(bin(n))).
    """
    sh = (
        documents.select(
            "doc_id",
            "lang",
            F.split(F.col("text"), " ").alias("w"),
        )
        .filter(F.size("w") >= SHINGLE_K)
        .select("doc_id", "lang", F.expr(_shingles_col()).alias("sh"))
        .withColumn("n_sh", F.size("sh"))
        .withColumn("len_bucket", F.length(F.bin(F.col("n_sh"))).cast("int"))
    )
    sh = scratch_persist(sh)
    postings = sh.select(
        "doc_id", "lang", "len_bucket", "n_sh", F.explode("sh").alias("s")
    )
    # Prefix filter (AllPairs/PPJoin): rank each doc's shingles globally
    # rarest-first; J(A,B) ≥ t pairs MUST share a shingle within the first
    # |A| − ⌈t·|A|⌉ + 1 of A's ranked shingles (t = 4/5 → integer-exact
    # ⌈4n/5⌉ = (4n+4) div 5).  Common "stop shingles" land outside the
    # prefix, so the posting join never explodes on them.
    freq = postings.groupBy("s").agg(F.count("*").alias("freq"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.asc("freq"), F.asc("s"))
    ranked = postings.join(freq, "s").withColumn("rk", F.row_number().over(w))
    prefix = ranked.filter(
        F.col("rk") <= F.col("n_sh") - F.expr("(4 * n_sh + 4) div 5") + 1
    ).select("doc_id", "lang", "len_bucket", "n_sh", "s")
    a, b = prefix.alias("a"), prefix.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.lang") == F.col("b.lang"))
            # adjacent pow2 buckets: ratio ≥ 0.8 > 1/2 ⇒ |Δbit_length| ≤ 1
            # always — recall-exact, no absolute-width tolerance
            & (F.abs(F.col("a.len_bucket") - F.col("b.len_bucket")) <= 1)
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n_sh") * 5 >= F.col("b.n_sh") * 4)
            & (F.col("b.n_sh") * 5 >= F.col("a.n_sh") * 4),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact verification only on surviving candidates (few)
    verified = (
        candidates.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sha", "shb"))
                / F.size(F.array_union("sha", "shb")),
                4,
            ).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).orderBy("doc_a", "doc_b")


def ngram_jaccard_pairs_oracle_sql(threshold: float = JACCARD_THRESHOLD) -> str:
    return f"""
WITH sh0 AS (
  SELECT doc_id, lang,
         {_shingles_duck().replace('w', "string_split(text, ' ')")} AS sh
  FROM documents
  WHERE len(string_split(text, ' ')) >= {SHINGLE_K}
), shn AS (
  SELECT *, len(sh) AS n_sh,
         CAST(length(bin(len(sh))) AS INT) AS len_bucket
  FROM sh0
), postings AS (
  SELECT doc_id, lang, len_bucket, n_sh, unnest(sh) AS s FROM shn
), freq AS (
  SELECT s, count(*) AS freq FROM postings GROUP BY s
), ranked AS (
  SELECT p.*, row_number() OVER (PARTITION BY p.doc_id
                                 ORDER BY f.freq ASC, p.s ASC) AS rk
  FROM postings p JOIN freq f USING (s)
), prefix AS (
  SELECT doc_id, lang, len_bucket, n_sh, s FROM ranked
  WHERE rk <= n_sh - ((4 * n_sh + 4) // 5) + 1
), candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b
    ON a.s = b.s AND a.lang = b.lang AND abs(a.len_bucket - b.len_bucket) <= 1
   AND a.doc_id < b.doc_id
   AND a.n_sh * 5 >= b.n_sh * 4 AND b.n_sh * 5 >= a.n_sh * 4
)
SELECT c.doc_a, c.doc_b,
       CAST(round(CAST(len(list_intersect(x.sh, y.sh)) * 1.0
             / len(list_distinct(list_concat(x.sh, y.sh))) AS DECIMAL(18,8)), 4)
            AS DOUBLE) AS jaccard
FROM candidates c
JOIN shn x ON x.doc_id = c.doc_a
JOIN shn y ON y.doc_id = c.doc_b
WHERE CAST(round(CAST(len(list_intersect(x.sh, y.sh)) * 1.0
            / len(list_distinct(list_concat(x.sh, y.sh))) AS DECIMAL(18,8)), 4)
           AS DOUBLE) >= {threshold}
ORDER BY doc_a, doc_b
"""


def _minhash_exprs() -> list[str]:
    """MinHash row i = lexicographic min of md5('<i>:' || shingle) — a
    salted hash family identical in Spark and DuckDB."""
    return [
        f"array_min(transform(sh, s -> md5(concat('{i}:', s)))) AS mh{i}"
        for i in range(MINHASH_N)
    ]


def minhash_signatures(documents: DataFrame) -> DataFrame:
    sh = (
        documents.select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .filter(F.size("w") >= SHINGLE_K)
        .select("doc_id", F.expr(_shingles_col()).alias("sh"))
    )
    return sh.selectExpr("doc_id", *_minhash_exprs())


def minhash_signatures_oracle_sql() -> str:
    mh = ",\n       ".join(
        f"list_min(list_transform(sh, s -> md5('{i}:' || s))) AS mh{i}"
        for i in range(MINHASH_N)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {_shingles_duck().replace('w', "string_split(text, ' ')")} AS sh
  FROM documents WHERE len(string_split(text, ' ')) >= {SHINGLE_K}
)
SELECT doc_id,
       {mh}
FROM sh ORDER BY doc_id
"""


ROLLING_BASE = 131
ROLLING_MOD = 1_000_000_007


def rolling_fingerprints(documents: DataFrame) -> DataFrame:
    """Polynomial rolling-hash fingerprint over word tokens:
    ``h = Σ h·B + hash(word) (mod M)`` — order-sensitive (unlike the md5
    content fingerprint), so reordered copies get distinct prints.  Word
    hash is the md5-hex prefix (engine-identical); the fold is sequential
    with a mod at every step, so no overflow and bit-identical results."""
    hashed = documents.select(
        "doc_id",
        "source",
        F.expr(
            "transform(split(text, ' '), t -> cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint))"
        ).alias("hs"),
    )
    fp = hashed.select(
        "doc_id",
        "source",
        F.expr(
            f"aggregate(hs, 0L, (acc, h) -> pmod(acc * {ROLLING_BASE} + h, {ROLLING_MOD}))"
        ).alias("rolling_fp"),
    )
    return (
        fp.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("rolling_fp").alias("n_distinct"),
            F.min("rolling_fp").alias("min_fp"),
        )
        .orderBy("source")
    )


def rolling_fingerprints_oracle_sql() -> str:
    return f"""
WITH hashed AS (
  SELECT doc_id, source,
         list_transform(string_split(text, ' '),
                        t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS hs
  FROM documents
), fp AS (
  SELECT doc_id, source,
         list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                     (acc, h) -> (acc * {ROLLING_BASE} + h) % {ROLLING_MOD}) AS rolling_fp
  FROM hashed
)
SELECT source, count(*) AS n_docs,
       count(DISTINCT rolling_fp) AS n_distinct, min(rolling_fp) AS min_fp
FROM fp GROUP BY source ORDER BY source
"""


def _band_stack(documents: DataFrame) -> DataFrame:
    """MinHash band signatures, one row per (doc, band): columns
    ``doc_id, band_idx, band_hash``.  Bands are md5 over ``rows_per_band``
    consecutive minhash rows — the shared substrate of the self-join pair
    miner and the incremental snapshot filter."""
    rows_per_band = MINHASH_N // LSH_BANDS
    sig = minhash_signatures(documents)
    band_cols = []
    for b in range(LSH_BANDS):
        parts = ", ".join(f"mh{b * rows_per_band + j}" for j in range(rows_per_band))
        band_cols.append(f"md5(concat_ws('|', {parts})) AS band{b}")
    banded = sig.selectExpr("doc_id", *band_cols)
    return banded.selectExpr(
        "doc_id",
        "stack({n}, {args}) AS (band_idx, band_hash)".format(
            n=LSH_BANDS,
            args=", ".join(f"{b}, band{b}" for b in range(LSH_BANDS)),
        ),
    )


def lsh_candidate_pairs(documents: DataFrame) -> DataFrame:
    """LSH band-bucket candidate pairs: docs sharing ≥1 band signature.

    The self-join key (band_idx, band_hash) spreads uniformly — the
    classic way to keep near-dup mining shuffle-bound instead of O(n²).
    """
    # persist: the self-join otherwise recomputes the md5 signature subtree
    # on both sides (2× the dominant map cost at scale)
    stacked = scratch_persist(_band_stack(documents))
    a, b = stacked.alias("a"), stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def _banded_cte_body() -> str:
    """DuckDB CTE list ``sh, sig, banded`` reproducing ``_band_stack`` —
    shared by the pair oracles and the incremental-snapshot oracle."""
    rows_per_band = MINHASH_N // LSH_BANDS
    mh = ",\n         ".join(
        f"list_min(list_transform(sh, s -> md5('{i}:' || s))) AS mh{i}"
        for i in range(MINHASH_N)
    )
    bands = []
    for b in range(LSH_BANDS):
        parts = " || '|' || ".join(
            f"mh{b * rows_per_band + j}" for j in range(rows_per_band)
        )
        bands.append(f"SELECT doc_id, {b} AS band_idx, md5({parts}) AS band_hash FROM sig")
    union = "\n  UNION ALL\n  ".join(bands)
    return f"""sh AS (
  SELECT doc_id, {_shingles_duck().replace('w', "string_split(text, ' ')")} AS sh
  FROM documents WHERE len(string_split(text, ' ')) >= {SHINGLE_K}
), sig AS (
  SELECT doc_id,
         {mh}
  FROM sh
), banded AS (
  {union}
)"""


def _lsh_pairs_cte_body() -> str:
    """DuckDB CTE list ``sh, sig, banded, lsh_pairs`` reproducing
    ``lsh_candidate_pairs`` — shared by the pair oracle and the
    connected-components oracle."""
    return f"""{_banded_cte_body()}, lsh_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)"""


def lsh_candidate_pairs_oracle_sql() -> str:
    return f"""
WITH {_lsh_pairs_cte_body()}
SELECT doc_a, doc_b FROM lsh_pairs ORDER BY doc_a, doc_b
"""


# Snapshot split for the incremental filter: doc_ids ≤ floor(0.8·max) play
# the existing corpus, the top 20% play today's crawl batch.  At real scale
# the boundary is the previous snapshot's high-water mark, not a fraction.
OLD_SNAPSHOT_FRAC = 0.8


def incremental_new_docs(documents: DataFrame) -> DataFrame:
    """Incremental cross-snapshot near-dedup: which NEW-batch docs are
    near-dups of the EXISTING corpus?  (ours; N/A in the reference — the
    production shape for a daily crawl feeding an already-deduped corpus.)

    Per new doc: ``n_dup_sources`` = distinct existing docs sharing ≥1
    MinHash LSH band, ``keep`` = no such source.  Docs too short to shingle
    never band-match and are kept.

    100 TB shape: new-batch bands join existing-corpus bands on the
    high-cardinality (band_idx, band_hash) key — one shuffle, never
    new×corpus pairs outside shared buckets.  A daily batch is tiny next
    to the corpus, so AQE broadcasts the new side under the threshold; at
    real scale the existing side's bands are a stored table (written at
    ingest), not recomputed — here both derive from one scan + split.
    """
    split = documents.agg(
        F.floor(F.max("doc_id") * F.lit(OLD_SNAPSHOT_FRAC)).alias("split_id")
    )
    stacked = scratch_persist(
        _band_stack(documents).crossJoin(F.broadcast(split))
    )
    new_b = stacked.filter(F.col("doc_id") > F.col("split_id"))
    old_b = stacked.filter(F.col("doc_id") <= F.col("split_id"))
    hits = (
        new_b.alias("n")
        .join(
            old_b.alias("o"),
            (F.col("n.band_idx") == F.col("o.band_idx"))
            & (F.col("n.band_hash") == F.col("o.band_hash")),
        )
        .groupBy(F.col("n.doc_id").alias("doc_id"))
        .agg(F.countDistinct("o.doc_id").alias("n_dup_sources"))
    )
    new_docs = (
        documents.select("doc_id")
        .crossJoin(F.broadcast(split))
        .filter(F.col("doc_id") > F.col("split_id"))
        .select("doc_id")
    )
    return (
        new_docs.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_sources", F.lit(0)).alias("n_dup_sources"),
            (F.coalesce("n_dup_sources", F.lit(0)) == 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


def incremental_new_docs_oracle_sql() -> str:
    return f"""
WITH {_banded_cte_body()},
split AS (
  SELECT CAST(FLOOR(MAX(doc_id) * {OLD_SNAPSHOT_FRAC}) AS BIGINT) AS split_id
  FROM documents
), hits AS (
  SELECT n.doc_id, COUNT(DISTINCT o.doc_id) AS n_dup_sources
  FROM banded n
  JOIN banded o
    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
  JOIN split s ON n.doc_id > s.split_id AND o.doc_id <= s.split_id
  GROUP BY n.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_dup_sources, 0) AS BIGINT) AS n_dup_sources,
       COALESCE(h.n_dup_sources, 0) = 0 AS keep
FROM documents d
JOIN split s ON d.doc_id > s.split_id
LEFT JOIN hits h ON d.doc_id = h.doc_id
ORDER BY d.doc_id
"""


def _driver_components(pairs: DataFrame, edges: list) -> DataFrame:
    """Exact union-find over a DRIVER-LOCAL edge list → the same
    (doc_id, canonical_doc_id = min id in component) labeling the
    distributed rounds produce.  Path-halving find, union by root id."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for row in edges:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict = {}
    for node in parent:
        comp.setdefault(find(node), []).append(node)
    labels = []
    for members in comp.values():
        m = min(members)
        labels.extend((n, m) for n in members)
    id_type = pairs.schema["doc_a"].dataType
    schema = T.StructType(
        [
            T.StructField("doc_id", id_type, False),
            T.StructField("canonical_doc_id", id_type, False),
        ]
    )
    return pairs.sparkSession.createDataFrame(labels, schema).orderBy("doc_id")


def connected_components(
    pairs: DataFrame, max_iters: int = 20, driver_solve_max_edges: int = 1 << 17
) -> DataFrame:
    """Generic connected components over an undirected pair graph
    (columns ``doc_a``, ``doc_b``, any orderable id type) → one canonical
    label per component (min-label propagation).  Shared by the text-LSH
    and embedding near-dup group operators.

    Pairs alone don't dedup a corpus: transitive duplicates (A~B, B~C)
    must collapse into ONE group even when A and C never pair directly.
    Iteration: every doc adopts the min label among itself and its
    neighbours, then POINTER-JUMPS (label ← label-of-label, the
    Shiloach-Vishkin shortcut) — convergence in O(log diameter) rounds
    instead of O(diameter).  Near-dup clusters are usually tiny and
    dense, but crawl corpora also produce long CHAINS of pairwise
    near-dups (A~B~C~… each adjacent pair over threshold without A~C);
    plain propagation needs diameter rounds and hard-fails past
    ``max_iters``, while the jump handles diameter ~2^max_iters (a
    59-hop path graph converges in 6 rounds, measured, exactly equal
    output on the LSH graph).  The jump join key is each node's current
    label — always itself a frontier node id, so the self-join is
    total; labels only decrease, monotone toward the component min.
    Each round is TWO joins on the frontier (docs in any pair) — the
    neighbour join and the jump self-join; the min-with-own-label step
    is folded into the neighbour aggregation by unioning each node's
    own (label, label) row with its neighbours' (label, NULL) rows and
    taking ``min`` over both columns (``min`` skips NULLs, and every
    node has exactly one own row, so the old label survives the groupBy
    for the changed flag without a third join — measured −15% wall per
    round vs the join-back formulation, output exactly equal).  The
    frontier is a vanishing fraction of the corpus at 10^12 scale.

    Two-level design: near-dup pair graphs are a vanishing fraction of
    the corpus (pairs are OUTPUT of the banded prune, not corpus rows),
    so most jobs' whole graph fits on the driver even when the corpus
    doesn't come close.  When a bounded probe (``limit`` — one short-
    circuiting action on the persisted edges) shows at most
    ``driver_solve_max_edges`` pairs (default 131k ≈ a few MB of id
    tuples), an exact local union-find labels the components in
    microseconds instead of O(log d) scheduled rounds at ~0.2 s each —
    the same move AQE makes when it collects a small join side to
    broadcast.  Bigger graphs fall through to the distributed rounds on
    the SAME persisted edges (the probe's partial scan is already
    cached); ``driver_solve_max_edges=0`` disables the probe (tests pin
    the distributed path through it).  Both paths produce the identical
    min-label-per-component output.

    Iteration hygiene (the parts that matter on a long-lived cluster job):
    each round's labels are ``localCheckpoint``-ed — lineage stays O(1)
    deep instead of growing a re-planned DAG per round.  The checkpoint
    is LAZY and the convergence aggregate is the round's one action: the
    max(``changed``) scan materializes the checkpoint blocks as its side
    effect, so each round schedules a single job instead of an eager
    checkpoint job plus a convergence job (~0.2 s/round at local[32];
    the flag stays in-frame — no second join either).  Superseded checkpoint
    blocks are freed by the ContextCleaner when the frame is dropped;
    ``edges`` is explicitly unpersisted on exit.  Raises if the graph
    diameter exceeds ``max_iters`` rather than silently returning
    partially-merged groups.

    Returns (doc_id, canonical_doc_id) for every node in the graph.
    """
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    if driver_solve_max_edges:
        # symmetrized: 2 rows per pair, so probe for 2·max+1
        cap = 2 * driver_solve_max_edges
        probe = edges.limit(cap + 1).collect()
        if len(probe) <= cap:
            edges.unpersist()
            return _driver_components(pairs, probe)
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    id_type = labels.schema["label"].dataType
    converged = False
    for _ in range(max_iters):
        # own row carries (cand=label, old=label); neighbour rows carry
        # (cand=neighbour label, old=NULL).  min(cand) = min over self and
        # neighbours; min(old) recovers the node's previous label (exactly
        # one non-NULL own row per node) — no join-back needed.
        nbr = edges.join(labels, edges.doc_b == labels.doc_id).select(
            F.col("doc_a").alias("doc_id"),
            F.col("label").alias("cand"),
            F.lit(None).cast(id_type).alias("old"),
        )
        own = labels.select(
            "doc_id", F.col("label").alias("cand"), F.col("label").alias("old")
        )
        half = (
            own.unionByName(nbr)
            .groupBy("doc_id")
            .agg(F.min("cand").alias("mid"), F.min("old").alias("label"))
        )
        # pointer jump: mid ← label(mid).  Left join for safety, but the
        # key is total (every label is a frontier doc_id — see docstring)
        jumped = half.select(
            F.col("doc_id").alias("j_id"), F.col("mid").alias("j_lab")
        )
        stepped = (
            half.join(jumped, half.mid == jumped.j_id, "left")
            .select(
                "doc_id",
                F.least(F.col("mid"), F.coalesce("j_lab", "mid")).alias("new_label"),
                (F.least(F.col("mid"), F.coalesce("j_lab", "mid")) != F.col("label"))
                .cast("int")
                .alias("changed"),
            )
            .localCheckpoint(eager=False)  # materialized by the agg below
        )
        # the round's ONE action: computes max(changed) and caches the
        # checkpoint blocks in the same job — no recompute, no extra join
        # (max over an empty frame is NULL → treat as converged)
        changed = stepped.agg(F.max("changed")).collect()[0][0] or 0
        labels = stepped.select("doc_id", F.col("new_label").alias("label"))
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components: label propagation did not converge in "
            f"{max_iters} iterations (graph diameter too large); raise max_iters"
        )
    return labels.select(
        "doc_id", F.col("label").alias("canonical_doc_id")
    ).orderBy("doc_id")


def dedup_groups(
    documents: DataFrame, max_iters: int = 20, driver_solve_max_edges: int = 1 << 17
) -> DataFrame:
    """Connected components over the text MinHash-LSH candidate-pair graph
    → (doc_id, canonical_doc_id) per doc in a duplicate group.
    Oracle: DuckDB WITH RECURSIVE min-reachability (exact same semantics).
    """
    return connected_components(
        lsh_candidate_pairs(documents).select("doc_a", "doc_b"),
        max_iters,
        driver_solve_max_edges,
    )


def dedup_groups_oracle_sql() -> str:
    """Exact connected components in DuckDB: recursive min-reachability over
    the symmetric LSH pair graph — every doc's canonical id is the least
    doc_id reachable from it (including itself)."""
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
)
SELECT doc_id, least(doc_id, min(r)) AS canonical_doc_id
FROM reach GROUP BY doc_id ORDER BY doc_id
"""


def simhash_docs(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash): {SIMHASH_BITS}-bit SimHash over word tokens
    (per-word hash = first {SIMHASH_HEX_CHARS} md5 hex chars → BIGINT) —
    map-side only, no shuffle; the per-doc bit fold is vectorized in numpy
    inside ``mapInArrow`` (``_simhash_batches``; the per-ROW fold rule from
    the LSH signature stage).

    The pure-Catalyst alternative needs {SIMHASH_BITS} separate
    ``aggregate`` HOF columns (one interpreted pass over the word-hash
    array PER BIT — a single nested expression gets CollapseProject-inlined
    and recomputes the md5 transform per bit, measured 9× slower), and
    just ANALYZING that 60-aggregate tree costs ~2.7 s per fresh plan.
    A/B at sf0.1 (5k docs, local[32]): numpy 0.55–0.59 s warm / 2.5 s
    plan-cold vs HOF 0.75–0.85 s warm / 5.2 s plan-cold, output exactly
    equal.  Exactness is free here: per-bit signals are INTEGER sums of
    ±1 (order-independent), computed as 2·ones−n over md5-cached unique
    tokens, so the numpy path matches the DuckDB oracle bit-for-bit.
    Python's ``str.split(' ')`` and Spark/DuckDB ``split`` agree on
    leading/trailing/adjacent separators (all keep empty tokens);
    NULL text folds to fingerprint 0 on both engines."""
    out_schema = T.StructType(
        [documents.schema["doc_id"], T.StructField("simhash", T.LongType())]
    )
    return spread_small(documents).select("doc_id", "text").mapInArrow(
        _simhash_batches, out_schema
    )


_SHIFTS = np.arange(SIMHASH_BITS, dtype=np.uint64)
_POWS = np.uint64(1) << _SHIFTS
# Token→hash memo bound: a web-corpus partition has heavy-tailed
# vocabulary, and an unbounded per-task dict (× 32 concurrent workers) is
# an OOM risk at real scale; clearing keeps ~all the hit rate (Zipf head).
_SIMHASH_CACHE_CAP = 1 << 20


def _simhash_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """(doc_id, text) batches → (doc_id, simhash) batches, row for row."""
    cache: dict = {}  # shared across the task's Arrow batches
    for batch in batches:
        if len(cache) > _SIMHASH_CACHE_CAP:
            cache.clear()
        texts = batch.column("text").to_pylist()
        fps = np.zeros(len(texts), dtype=np.int64)
        for i, text in enumerate(texts):
            if text is None:
                continue  # NULL text → all-bit sums NULL → fp 0 (oracle parity)
            counts = Counter(text.split(" "))
            hs = np.empty(len(counts), dtype=np.uint64)
            wt = np.empty(len(counts), dtype=np.int64)
            for k, (tok, cnt) in enumerate(counts.items()):
                v = cache.get(tok)
                if v is None:
                    v = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:SIMHASH_HEX_CHARS], 16)
                    cache[tok] = v
                hs[k] = v
                wt[k] = cnt
            ones = wt @ ((hs[:, None] >> _SHIFTS) & np.uint64(1)).astype(np.int64)
            signs = 2 * ones - int(wt.sum())  # integer ±1 sum per bit
            fps[i] = int(((signs > 0).astype(np.uint64) * _POWS).sum())
        schema = pa.schema([batch.schema.field("doc_id"), pa.field("simhash", pa.int64())])
        yield record_batch([batch.column("doc_id"), fps], schema)


def _simhash_duck_fp_cte() -> str:
    """DuckDB CTEs ``hashed, sums, fp`` producing (doc_id, simhash)."""
    bit_sums = ",\n         ".join(
        f"list_sum(list_transform(hs, h -> CASE WHEN ((h >> {j}) & 1) = 1 "
        f"THEN 1 ELSE -1 END)) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    fp_expr = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""hashed AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        t -> ('0x' || substr(md5(t), 1, {SIMHASH_HEX_CHARS}))::BIGINT) AS hs
  FROM documents
), sums AS (
  SELECT doc_id,
         {bit_sums}
  FROM hashed
), fp AS (
  SELECT doc_id, ({fp_expr}) AS simhash FROM sums
)"""


def simhash_fingerprints(documents: DataFrame) -> DataFrame:
    """SimHash fingerprint summary: per-fingerprint doc counts (exact
    collisions at 60 bits ⇒ effectively identical token multisets)."""
    return (
        simhash_docs(documents)
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .orderBy("simhash")
    )


def simhash_fingerprints_oracle_sql() -> str:
    return f"""
WITH {_simhash_duck_fp_cte()}
SELECT simhash, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM fp GROUP BY simhash ORDER BY simhash
"""


_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1


def simhash_near_dup_pairs(
    documents: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """SimHash near-duplicate pairs via the Hamming-band join (Manku et al.,
    'Detecting Near-Duplicates for Web Crawling', WWW'07 shape).

    {SIMHASH_BANDS} bands of {SIMHASH_BAND_BITS} bits: any two prints
    within Hamming distance {SIMHASH_MAX_HAMMING} agree exactly on ≥1 band
    (pigeonhole), so the self-join on (band_idx, band_val) finds ALL such
    pairs while touching only same-band buckets — the key is
    high-cardinality (up to {SIMHASH_BANDS}·2^{SIMHASH_BAND_BITS}), never a
    cross product; exact ``bit_count(xor)`` verifies survivors.
    """
    fp = simhash_docs(documents)
    band_args = ", ".join(
        f"{j}, shiftright(simhash, {j * SIMHASH_BAND_BITS}) & {_BAND_MASK}"
        for j in range(SIMHASH_BANDS)
    )
    # persist: both sides of the band self-join read this subtree — without
    # it the md5-per-word fingerprint pass runs twice
    banded = scratch_persist(
        fp.selectExpr(
            "doc_id",
            "simhash",
            f"stack({SIMHASH_BANDS}, {band_args}) AS (band_idx, band_val)",
        )
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(sim_a ^ sim_b)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def simhash_near_dup_pairs_oracle_sql(max_hamming: int = SIMHASH_MAX_HAMMING) -> str:
    bands = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, simhash, {j} AS band_idx,"
        f" (simhash >> {j * SIMHASH_BAND_BITS}) & {_BAND_MASK} AS band_val FROM fp"
        for j in range(SIMHASH_BANDS)
    )
    return f"""
WITH {_simhash_duck_fp_cte()},
banded AS (
  {bands}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sim_a, b.simhash AS sim_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}
ORDER BY doc_a, doc_b
"""


def ngram_coverage(documents: DataFrame) -> DataFrame:
    """Exact-substring duplication signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): for every document, the
    fraction of its word-{K}-shingles that occur in >=2 documents
    corpus-wide.  Unlike the pairwise Jaccard/LSH operators this is a
    GLOBAL posting-list count — it catches boilerplate shared across
    thousands of pages that no single pair-join would rank highly, and it
    is the gate a pretraining pipeline uses to drop or trim
    template-heavy documents.

    No reference equivalent (go-readability has no corpus tier); the
    shingle vocabulary is shared with minhash_signatures
    (dedup.py:_shingles_col).

    Scale shape: explode to (doc_id, md5(shingle)) postings — md5 keys
    keep shuffle rows fixed-width regardless of shingle text — then ONE
    hash-partial-aggregated groupBy over the hash to find shingles with
    document-frequency >=2, a semi-join of the postings against that set
    (both sides hash-partitioned on the same key, AQE coalesces), and a
    final per-doc count.  Never materializes pairs; at 100 TB the wide
    exchanges are postings-by-hash (fixed 32-byte keys) and the per-doc
    rollup.  Duplication ratio in integer basis points via integer
    division (`div` <-> DuckDB `//`) — no float rounding to drift between
    engines.
    """
    posts = (
        documents.select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .filter(F.size("w") >= SHINGLE_K)
        .select("doc_id", F.expr(_shingles_col()).alias("sh"))
        .select("doc_id", F.explode("sh").alias("s"))
        .select("doc_id", F.md5("s").alias("h"))
    )
    posts = scratch_persist(posts)  # consumed 3x below; skip re-exploding
    per_doc = posts.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    # shingles are array_distinct per doc, so count(*) == document frequency
    dup_set = posts.groupBy("h").agg(F.count("*").alias("df")).filter(F.col("df") >= 2)
    dup_counts = (
        posts.join(dup_set.select("h"), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup"))
    )
    return (
        per_doc.join(dup_counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup_shingles"),
            F.expr("(10000L * coalesce(n_dup, 0L)) div n_shingles")
            .cast("long")
            .alias("dup_ngram_bp"),
        )
        .orderBy("doc_id")
    )


def ngram_coverage_oracle_sql() -> str:
    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id, {_shingles_duck()} AS sh FROM w WHERE len(w) >= {SHINGLE_K}
), posts AS (
  SELECT doc_id, md5(unnest(sh)) AS h FROM sh
), per_doc AS (
  SELECT doc_id, count(*) AS n_shingles FROM posts GROUP BY doc_id
), dup_set AS (
  SELECT h FROM posts GROUP BY h HAVING count(*) >= 2
), dup_counts AS (
  SELECT doc_id, count(*) AS n_dup FROM posts JOIN dup_set USING (h) GROUP BY doc_id
)
SELECT p.doc_id,
       CAST(p.n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup_shingles,
       CAST((10000 * coalesce(d.n_dup, 0)) // p.n_shingles AS BIGINT) AS dup_ngram_bp
FROM per_doc p LEFT JOIN dup_counts d USING (doc_id)
ORDER BY p.doc_id
"""


def canonical_keep(
    documents: DataFrame,
    max_iters: int | None = None,
    groups: DataFrame | None = None,
) -> DataFrame:
    """The OUTPUT stage of near-dup dedup: inside every duplicate group
    (connected component of the MinHash-LSH pair graph, dedup_groups),
    keep exactly one representative — highest quality score, ties broken
    by least doc_id — and mark the rest for dropping.  Pairs and groups
    alone don't shrink a corpus; this is the operator whose `keep = 1`
    rows ARE the retained training set.

    No reference equivalent (corpus tier).  Quality is the shared
    textstats.quality_scores composite (half-basis-points, integer
    arithmetic end-to-end), so the gate and the survivor selection agree
    on one definition of "better document".

    Scale shape: the group frame holds only docs that appear in the pair
    graph (a small fraction of any real corpus), the quality join is an
    equi-join on doc_id, and the survivor pick is one window per group —
    near-dup components are tiny and dense, so partitions are balanced.
    Docs outside any group are implicitly kept and never enter the
    shuffle.

    Pass ``groups`` (a ``dedup_groups`` frame, ideally persisted) to reuse
    an already-materialized component labeling — the 100 TB pipeline
    computes the groups table once and fans consumers out over it.
    """
    from .textstats import quality_scores

    if groups is None:
        groups = dedup_groups(documents, 20 if max_iters is None else max_iters)
    elif max_iters is not None:
        # same conflict guard as similarity.embedding_dedup_groups: a
        # prebuilt groups frame was labeled at ITS OWN iteration budget, so
        # silently ignoring max_iters would hide exactly the knob a caller
        # reaches for after a non-convergence error
        raise ValueError("pass max_iters OR a prebuilt groups frame, not both")
    q = quality_scores(documents).select("doc_id", "quality_hbp")
    from pyspark.sql import Window

    w = Window.partitionBy("canonical_doc_id").orderBy(
        F.col("quality_hbp").desc(), F.col("doc_id").asc()
    )
    return (
        groups.join(q, "doc_id")
        .withColumn("keep", (F.row_number().over(w) == 1).cast("int"))
        .select(
            "doc_id",
            F.col("canonical_doc_id").alias("group_id"),
            "quality_hbp",
            "keep",
        )
        .orderBy("group_id", "doc_id")
    )


def canonical_keep_oracle_sql() -> str:
    """dedup_groups' recursive-CTE oracle extended with the quality join
    and the survivor window — the whole keep-one-per-cluster stage in one
    DuckDB statement."""
    from .textstats import _quality_cte_body

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
groups AS (
  SELECT doc_id, least(doc_id, min(r)) AS group_id FROM reach GROUP BY doc_id
),
{_quality_cte_body()}
SELECT g.doc_id, g.group_id, q.quality_hbp,
       CAST(CASE WHEN row_number() OVER (
                PARTITION BY g.group_id
                ORDER BY q.quality_hbp DESC, g.doc_id ASC) = 1
            THEN 1 ELSE 0 END AS INT) AS keep
FROM groups g JOIN quality q USING (doc_id)
ORDER BY g.group_id, g.doc_id
"""


BLOCK_W = 8  # words per removal block (the exact-substring granularity)


def block_removal(documents: DataFrame, block_words: int = BLOCK_W) -> DataFrame:
    """Exact-duplicate substring REMOVAL (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", §4 ExactSubstr; C4's
    duplicated-span drop): partition every document into consecutive
    ``block_words``-word blocks, find blocks whose exact text occurs more
    than once corpus-wide (including twice inside one document), and
    rewrite each document with those blocks deleted.  Detection operators
    (ngram_coverage, the pair joins) only FLAG duplication — this is the
    stage that edits the retained text, the suffix-array-free Spark
    rendition of the reference pipelines' substring dedup.

    No reference equivalent (go-readability has no corpus tier).

    Scale shape: posexplode to (doc_id, idx, md5(block)) — fixed-width
    shuffle keys — one map-side-partial hash agg for occurrence counts, a
    left-anti equi-join to drop duplicated blocks, and a per-doc
    collect_list/array_sort reassembly whose state is bounded by document
    length (same bound the extraction kernel already holds per row).  The
    cleaned text is emitted as md5 only (``clean_fp``) so the result stays
    fixed-width for the value-hash gate; callers wanting the text itself
    (the hygiene job's clean-corpus sink) use ``block_removal_clean``.
    """
    cleaned = block_removal_clean(documents, block_words)
    return cleaned.select(
        "doc_id",
        "n_blocks",
        "n_removed_blocks",
        F.md5(F.col("clean_text")).alias("clean_fp"),
    ).orderBy("doc_id")


def block_removal_clean(documents: DataFrame, block_words: int = BLOCK_W) -> DataFrame:
    """``block_removal`` with the rewritten document text materialized:
    (doc_id, n_blocks, n_removed_blocks, clean_text) — the frame a
    pipeline writes back as the substring-deduplicated corpus."""
    posts = (
        documents.select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .select(
            "doc_id",
            F.expr(
                f"transform(sequence(0, (size(w) + {block_words - 1}) div {block_words} - 1),"
                f" i -> concat_ws(' ', slice(w, i * {block_words} + 1, {block_words})))"
            ).alias("blocks"),
        )
        .select("doc_id", F.posexplode("blocks").alias("idx", "blk"))
        .withColumn("h", F.md5("blk"))
    )
    posts = scratch_persist(posts)  # consumed 3x: totals, counts, survivors
    # count OCCURRENCES (not distinct docs): a block repeated twice inside
    # one document is duplicated text all the same — Lee et al. semantics
    dup_h = posts.groupBy("h").agg(F.count("*").alias("occ")).filter(F.col("occ") >= 2)
    totals = posts.groupBy("doc_id").agg(F.count("*").alias("n_blocks"))
    kept = (
        posts.join(dup_h.select("h"), "h", "left_anti")
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
        F.col("n_blocks").cast("long").alias("n_blocks"),
        (F.col("n_blocks") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed_blocks"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def block_removal_oracle_sql(block_words: int = BLOCK_W) -> str:
    b = block_words
    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), idxs AS (
  SELECT doc_id, w, unnest(range(0, (len(w) + {b - 1}) // {b})) AS idx FROM w
), hashed AS (
  SELECT doc_id, idx,
         array_to_string(w[idx * {b} + 1 : idx * {b} + {b}], ' ') AS blk,
         md5(array_to_string(w[idx * {b} + 1 : idx * {b} + {b}], ' ')) AS h
  FROM idxs
), dup AS (
  SELECT h FROM hashed GROUP BY h HAVING count(*) >= 2
), totals AS (
  SELECT doc_id, count(*) AS n_blocks FROM hashed GROUP BY doc_id
), kept AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(blk, ' ' ORDER BY idx) AS clean_text
  FROM hashed WHERE h NOT IN (SELECT h FROM dup) GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n_blocks AS BIGINT) AS n_blocks,
       CAST(t.n_blocks - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed_blocks,
       md5(coalesce(k.clean_text, '')) AS clean_fp
FROM totals t LEFT JOIN kept k USING (doc_id)
ORDER BY t.doc_id
"""
