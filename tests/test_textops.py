"""Textops + relational-shell oracle tests: every queries() entry with an
oracle must match DuckDB value-for-value at sf0.001 (the driver runs the
same comparison at sf0.01 — tools/check_oracles.py mirrors it)."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracles import duck_views, normalize

SF_DIR = "/root/testdata/sf0.001"


# Extraction-chained queries use pinned-constant oracles computed from the
# deterministic seed-42 sf0.01 corpus (the driver's comparison scale), so
# they must be checked at sf0.01 — everything else runs at sf0.001 for speed.
import __spark_entry__ as _entry_mod

SF_DIR_PINNED = _entry_mod.PINNED_SF_DIR
PINNED_SF01 = _entry_mod.PINNED_ORACLES


@pytest.fixture(scope="module")
def duck():
    con = duck_views(SF_DIR)
    yield con
    con.close()


def _entry():
    import __spark_entry__ as e

    return e


# extras: value-checked faces kept out of the driver registry (it records
# at most 50 rows) — same comparison, same gate, via extra_queries().
def _all_queries(e):
    return {**e.queries(), **e.extra_queries()}


def _all_oracles(e):
    return {**e.oracle_sql(), **e.extra_oracle_sql()}


ORACLE_QUERIES = sorted(_all_oracles(_entry()).keys())


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    e = _entry()
    if name in PINNED_SF01:
        sdf = _all_queries(e)[name](spark, SF_DIR_PINNED)
        con = duck_views(SF_DIR_PINNED)
        try:
            res = con.sql(_all_oracles(e)[name])
            drows = res.fetchall()
            dcols = [d[0] for d in res.description]
        finally:
            con.close()
    else:
        sdf = _all_queries(e)[name](spark, SF_DIR)
        res = duck.sql(_all_oracles(e)[name])
        drows = res.fetchall()
        dcols = [d[0] for d in res.description]
    srows = [tuple(r) for r in sdf.collect()]
    assert sorted(sdf.columns) == sorted(dcols)
    assert normalize(srows, sdf.columns) == normalize(drows, dcols)


def test_session_cache_caps_and_evicts(spark):
    """The per-session frame cache must unpersist displaced frames when it
    hits its cap and drop entries owned by dead applications."""
    import __spark_entry__ as e

    e._FRAME_CACHE.clear()
    app = spark.sparkContext.applicationId
    # a dead-app entry must be dropped on next access
    e._FRAME_CACHE[("app-gone", "sf", "articles")] = spark.range(1)
    old_cap = e._FRAME_CACHE_CAP
    e._FRAME_CACHE_CAP = 1
    try:
        first = e._session_cached(spark, "a", "probe", lambda: spark.range(3))
        assert ("app-gone", "sf", "articles") not in e._FRAME_CACHE
        assert first.storageLevel.useMemory  # persisted
        second = e._session_cached(spark, "b", "probe", lambda: spark.range(4))
        # cap=1: the first frame was displaced and unpersisted
        assert (app, "a", "probe") not in e._FRAME_CACHE
        assert not first.storageLevel.useMemory
        assert second.count() == 4
        # same-key access returns the cached frame, no rebuild
        again = e._session_cached(
            spark, "b", "probe", lambda: (_ for _ in ()).throw(AssertionError)
        )
        assert again is second
    finally:
        e._FRAME_CACHE_CAP = old_cap
        e._FRAME_CACHE.clear()


def test_lsh_band_width_derives_from_corpus_size():
    """VERDICT r3: band width must grow with corpus cardinality (a fixed
    4-bit band degenerates toward N²/16 pairs at 10^9 vectors), floored
    at the pinned oracle constants and capped by the packed-BIGINT
    signature."""
    from go_readability_spark.textops import similarity as S

    # tiny corpora keep the pinned (oracle-exact) shape
    assert S.derive_lsh_params(100)["band_bits"] == S.EMB_BAND_BITS
    assert S.derive_lsh_params(4096)["band_bits"] == S.EMB_BAND_BITS
    p1m = S.derive_lsh_params(1_000_000)
    p10m = S.derive_lsh_params(10_000_000)
    # a 10× corpus picks equal-or-wider bands; here strictly wider
    assert S.EMB_BAND_BITS < p1m["band_bits"] < p10m["band_bits"]
    for p in (p1m, p10m):
        assert p["n_planes"] == p["band_bits"] * p["n_bands"]
        assert p["buckets_per_band"] == 1 << p["band_bits"]
    # monotone everywhere
    widths = [S.derive_lsh_params(n)["band_bits"] for n in (10**3, 10**5, 10**7, 10**9, 10**12)]
    assert widths == sorted(widths)
    # the one-BIGINT packed signature caps n_bands·band_bits at 62
    cap = S.derive_lsh_params(10**12)
    assert cap["n_bands"] * cap["band_bits"] <= 62


def test_lsh_scale_path_matches_pinned_at_small_n(spark):
    """At tiny cardinality the derived width floors at the pinned
    constants, so the scale path returns the exact oracle-pinned pairs —
    and the measured balance invariant passes without raising."""
    from go_readability_spark.textops import similarity as S

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    n = emb.count()
    pinned = S.embedding_near_dup_pairs(emb).collect()
    scaled = S.embedding_near_dup_pairs(emb, n_vectors=n).collect()
    assert scaled == pinned


def test_near_dup_pair_chunking_is_invisible(spark):
    """The bucket-local verify folds pairs in bounded chunks; a tiny chunk
    size (forcing many chunk boundaries inside every bucket) must produce
    the exact same pair set and cosines as the one-chunk default."""
    from go_readability_spark.textops import similarity as S

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    whole = S.embedding_near_dup_pairs(emb).collect()
    chunked = S.embedding_near_dup_pairs(emb, _pair_chunk=7).collect()
    assert whole == chunked
    assert len(whole) > 0


def test_near_dup_default_path_caps_degenerate_buckets(spark):
    """The pinned-constant path runs without the derive_lsh_params
    balance probe, so the verify UDF itself must refuse a pathologically
    deep band bucket (identical vectors all sharing every band) instead
    of grinding through m²/2 pairs."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from go_readability_spark.textops import similarity as S

    deg = spark.range(S._BUCKET_VERIFY_CAP + 100).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 64), i -> cast(1.0 as float))").alias(
            "embedding"
        ),
    )
    with _pytest.raises(Exception, match="pinned test-scale bands"):
        S.embedding_near_dup_pairs(deg).collect()


def test_lsh_balance_invariant_fails_loudly(spark):
    """A degenerate bucketing (all vectors identical → one bucket) must
    raise before any pairwise work, naming the fix."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from go_readability_spark.textops import similarity as S

    deg = spark.range(5000).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 64), i -> cast(1.0 as float))").alias(
            "embedding"
        ),
    )
    with _pytest.raises(ValueError, match="unbalanced"):
        S.embedding_near_dup_pairs(deg, n_vectors=5000)
    with _pytest.raises(ValueError, match="ivf_topk"):
        S.lsh_bucketed_topk(deg, n_vectors=5000)


def test_scratch_persist_is_per_application(spark):
    """ADVICE r3: a foreign LIVE application's scratch cache must survive
    this session's scratch_persist calls (the old shared list alternate-
    evicted it on every call); a STOPPED application's cache is dropped."""
    from types import SimpleNamespace

    from go_readability_spark.textops import _persist as P

    P._SCRATCH.clear()
    live_foreign = SimpleNamespace(
        sparkSession=SimpleNamespace(
            sparkContext=SimpleNamespace(_jsc=object())
        ),
        unpersist=lambda: (_ for _ in ()).throw(AssertionError("evicted live app")),
    )
    dead_foreign_hits = []
    dead_foreign = SimpleNamespace(
        sparkSession=SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None)),
        unpersist=lambda: dead_foreign_hits.append(1),
    )
    try:
        P._SCRATCH["app-live"] = [live_foreign]
        P._SCRATCH["app-dead"] = [dead_foreign]
        out = P.scratch_persist(spark.range(3))
        assert out.storageLevel.useMemory
        assert "app-live" in P._SCRATCH  # live foreign cache untouched
        assert "app-dead" not in P._SCRATCH  # stopped app dropped
        assert dead_foreign_hits == [1]
        app = spark.sparkContext.applicationId
        # the per-app cap still evicts oldest-first within one app
        for i in range(P._CAP + 1):
            P.scratch_persist(spark.range(i + 10))
        assert len(P._SCRATCH[app]) == P._CAP
        assert not out.storageLevel.useMemory  # displaced by the cap
    finally:
        P._SCRATCH.pop("app-live", None)
        P._SCRATCH.pop("app-dead", None)


def test_every_oracle_key_has_query():
    e = _entry()
    q = _all_queries(e)
    for name in _all_oracles(e):
        assert name in q
    # the driver records at most 50 correctness rows (CORRECTNESS_r03.json
    # recorded exactly the first 50 of 52) — the registry must never exceed it
    assert len(e.queries()) == 50
    # extras never shadow a registered query
    assert not set(e.queries()) & set(e.extra_queries())


# Every query must carry an oracle twin — since round 3 even the wide
# per-article dump has one (the pinned 500-row VALUES relation generated by
# tools/pin_extract_articles_oracle.py).  Nothing is rows-only.
ROWS_ONLY_OK: set[str] = set()


def test_every_query_has_oracle_unless_allowlisted():
    e = _entry()
    missing = set(_all_queries(e)) - set(_all_oracles(e)) - ROWS_ONLY_OK
    assert not missing, f"queries without oracle twins: {sorted(missing)}"


def test_check_oracles_rejects_unknown_query(monkeypatch, capsys):
    """A mistyped or retired query name fails the oracle mirror with exit 2
    before any Spark session starts, instead of checking nothing and
    passing."""
    import tools.check_oracles as C
    from go_readability_spark.spark import session

    def no_session(*args, **kwargs):
        raise AssertionError("check_oracles built a Spark session")

    monkeypatch.setattr(session, "build_session", no_session)
    monkeypatch.setattr(
        sys, "argv", ["check_oracles.py", SF_DIR, "dedup_exact", "no_such_query"]
    )
    assert C.main() == 2
    err = capsys.readouterr().err
    assert "no_such_query" in err and "dedup_exact" not in err


def test_jaccard_pairs_across_length_bucket_boundary(spark):
    """Near-identical docs whose lengths straddle a 64-char bucket boundary
    must still pair: adjacent-bucket blocking, not exact equality (which
    silently dropped these)."""
    from pyspark.sql import functions as F

    from go_readability_spark.textops.dedup import ngram_jaccard_pairs

    # 30 distinct words: 10×2 chars + 20×3 chars + 29 spaces = 109 → bucket 1
    words = [f"w{i}" for i in range(30)]
    base = " ".join(words)
    assert len(base) // 64 == 1
    # replace the LAST word with a 22-char word → length 128 → bucket 2;
    # only the 3 trailing shingles change: J = 25/31 ≈ 0.806 ≥ 0.8
    edited = " ".join(words[:-1] + ["x" * 22])
    assert len(edited) // 64 == 2
    docs = spark.createDataFrame(
        [("docA", "en", base), ("docB", "en", edited)],
        "doc_id string, lang string, text string",
    )
    pairs = ngram_jaccard_pairs(docs).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [("docA", "docB")]
    assert pairs[0].jaccard >= 0.8


def _py_simhash(text: str) -> int:
    """Pure-Python mirror of simhash_docs (md5-prefix word hash, 60 bits)."""
    import hashlib

    from go_readability_spark.textops.dedup import SIMHASH_BITS, SIMHASH_HEX_CHARS

    sums = [0] * SIMHASH_BITS
    for t in text.split(" "):
        h = int(hashlib.md5(t.encode()).hexdigest()[:SIMHASH_HEX_CHARS], 16)
        for j in range(SIMHASH_BITS):
            sums[j] += 1 if (h >> j) & 1 else -1
    return sum(1 << j for j in range(SIMHASH_BITS) if sums[j] > 0)


def test_simhash_hamming_pairs_one_word_edit(spark):
    """A one-word edit of a long doc must pair with its original through the
    Hamming-band join (the property 16-bit exact-collision grouping lacked)."""
    from go_readability_spark.textops.dedup import (
        SIMHASH_MAX_HAMMING,
        simhash_near_dup_pairs,
    )

    words = [f"tok{i % 40}" for i in range(200)]
    base = " ".join(words)
    # deterministically pick an edit whose simhash lands within the default
    # Hamming budget (md5 is fixed, so this search is reproducible)
    base_fp = _py_simhash(base)
    edited = None
    for c in range(64):
        cand = " ".join(words[:100] + [f"edit{c}"] + words[101:])
        ham = bin(base_fp ^ _py_simhash(cand)).count("1")
        if 1 <= ham <= SIMHASH_MAX_HAMMING:
            edited, expect_ham = cand, ham
            break
    assert edited is not None
    docs = spark.createDataFrame(
        [("orig", base), ("edit", edited), ("other", "completely different unrelated words here now")],
        "doc_id string, text string",
    )
    pairs = simhash_near_dup_pairs(docs).collect()
    assert [(p.doc_a, p.doc_b, p.hamming) for p in pairs] == [("edit", "orig", expect_ham)]


def test_embedding_lsh_banded_keys_and_near_dup_recall(spark):
    """The banded hyperplane LSH must (a) spread candidates over a key
    space that grows with EMB_PLANES (not a constant 8 buckets), and
    (b) always pair a true near-duplicate vector (uniform positive scaling
    preserves every sign bit, so all bands match)."""
    from pyspark.sql import Row

    from go_readability_spark.textops.similarity import (
        EMB_BANDS,
        _banded,
        embedding_near_dup_pairs,
    )

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    keys = _banded(emb).select("band_idx", "band_val").distinct().count()
    assert keys > 8  # the round-1 design had exactly 8 buckets total
    assert keys <= EMB_BANDS * 16

    rows = [Row(vec_id=r.vec_id, embedding=r.embedding) for r in emb.limit(3).collect()]
    dup = Row(vec_id=10_000, embedding=[x * 1.01 for x in rows[0].embedding])
    small = spark.createDataFrame(rows + [dup], "vec_id long, embedding array<float>")
    pairs = embedding_near_dup_pairs(small, threshold=0.99).collect()
    assert (rows[0].vec_id, 10_000) in {(p.vec_a, p.vec_b) for p in pairs}


def test_dedup_groups_raises_when_not_converged(spark):
    from go_readability_spark.textops.dedup import dedup_groups

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    with pytest.raises(RuntimeError, match="did not converge"):
        # gate off the driver-local solve: this pins the DISTRIBUTED rounds'
        # non-convergence raise (the local union-find never iterates)
        dedup_groups(docs, max_iters=0, driver_solve_max_edges=0)


def test_connected_components_long_chain_converges_log_rounds(spark):
    """A 59-hop path graph (chained pairwise near-dups — adjacent pairs
    over threshold without transitive pairs) must collapse to one
    component WITHIN the default max_iters: the pointer-jump shortcut
    converges in O(log diameter) rounds where plain min-propagation
    would need 59 and raise."""
    from go_readability_spark.textops.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "doc_a int, doc_b int"
    )
    # driver_solve_max_edges=0 pins the DISTRIBUTED pointer-jump rounds
    # (the default would solve 59 edges on the driver)
    rows = connected_components(chain, max_iters=8, driver_solve_max_edges=0).collect()
    assert len(rows) == 60
    assert all(r.canonical_doc_id == 0 for r in rows)


def test_connected_components_driver_solve_equals_distributed(spark):
    """The size-gated driver-local union-find (small graphs skip the
    scheduled rounds) must produce EXACTLY the distributed labeling —
    same rows, same min-label-per-component semantics — on a graph
    mixing chains, a clique, singleton-free isolates-free structure."""
    from go_readability_spark.textops.dedup import connected_components

    edges = (
        [(i, i + 1) for i in range(20)]                  # 21-node chain
        + [(100 + a, 100 + b) for a in range(5) for b in range(a + 1, 5)]  # clique
        + [(200, 201), (203, 202), (201, 203)]           # out-of-order links
    )
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    local = {(r.doc_id, r.canonical_doc_id) for r in connected_components(pairs).collect()}
    dist = {
        (r.doc_id, r.canonical_doc_id)
        for r in connected_components(pairs, driver_solve_max_edges=0).collect()
    }
    assert local == dist
    assert {c for _, c in local} == {0, 100, 200}


def test_dedup_groups_matches_union_find(spark):
    """Connected-components canonical assignment must equal an exact
    union-find over the same LSH pair graph (transitive closure)."""
    from go_readability_spark.textops.dedup import dedup_groups, lsh_candidate_pairs

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    pairs = [(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(docs).collect()]
    assert pairs, "fixture corpus should contain LSH candidate pairs"

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {d: find(d) for d in {x for p in pairs for x in p}}

    got = {r.doc_id: r.canonical_doc_id for r in dedup_groups(docs).collect()}
    assert got == expected


def test_ivf_topk_recall_and_index_coverage(spark):
    """IVF ANN sanity beyond the oracle: every candidate lands in exactly
    one inverted list, every query returns k hits, and recall against the
    exact brute-force top-k is well above chance (nprobe/IVF_CLUSTERS of
    the lists are probed)."""
    from collections import Counter

    from go_readability_spark.textops import similarity as S

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    n_cands = emb.filter("vec_id >= %d" % S.N_QUERIES).count()
    assign = S.ivf_assignments(emb).collect()
    assert len(assign) == n_cands
    assert len({r.neighbor_id for r in assign}) == n_cands
    assert {r.centroid_id for r in assign} <= set(
        range(S.N_QUERIES, S.N_QUERIES + S.IVF_CLUSTERS)
    )

    exact = {(r.query_id, r.neighbor_id) for r in S.cosine_topk(emb).collect()}
    approx = S.ivf_topk(emb).collect()
    per_query = Counter(r.query_id for r in approx)
    assert all(per_query[q] == S.TOP_K for q in range(S.N_QUERIES))
    recall = len(exact & {(r.query_id, r.neighbor_id) for r in approx}) / len(exact)
    # The testdata embeddings are near-uniformly spread (max pairwise
    # cosine ~0.5), the worst case for IVF: expected recall ~= the probed
    # fraction nprobe/IVF_CLUSTERS = 0.25.  Require a margin above that
    # (clustered real embeddings do far better); measured 0.35 @ sf0.001.
    assert recall > S.IVF_NPROBE / S.IVF_CLUSTERS + 0.04, recall


def test_quantized_topk_fidelity(spark):
    """int8 quantization must preserve the exact top-k almost perfectly
    (measured 0.975 @ sf0.001, 1.0 @ sf0.1) and quantized values must stay
    within ±QUANT_LEVELS with the max |component| hitting the rail."""
    from go_readability_spark.textops import similarity as S

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    q = {r.vec_id: r.qemb for r in S.quantized_embeddings(emb).collect()}
    for vec in q.values():
        assert max(abs(v) for v in vec) == S.QUANT_LEVELS  # symmetric rail
    exact = {(r.query_id, r.neighbor_id) for r in S.cosine_topk(emb).collect()}
    quant = {(r.query_id, r.neighbor_id) for r in S.quantized_cosine_topk(emb).collect()}
    assert len(exact & quant) / len(exact) >= 0.9


def test_repetition_signals_hand_computed(spark):
    """Pin the Gopher repetition math on a doc small enough to verify by
    hand: 'a b a b c' → 2/5 duplicate words, top 2-gram 'a b' covers 6 of
    9 chars, no duplicated 5-gram."""
    from go_readability_spark.textops.textstats import repetition_signals

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "x y z w v u")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_signals(docs).collect()}
    r1 = rows[1]
    assert r1.n_words == 5
    assert r1.dup_word_bp == (10000 * 2) // 5          # 2 repeated occurrences
    assert r1.top_2gram_bp == (10000 * 2 * 3) // 9     # 'a b' ×2, len 3, text len 9
    assert r1.dup_5gram_bp == 0                        # single 5-gram, no dup
    r2 = rows[2]                                       # all-distinct control
    assert (r2.dup_word_bp, r2.dup_5gram_bp) == (0, 0)


def test_repetition_signals_matches_oracle_on_edge_inputs(spark):
    """The mapInArrow fold equals the DuckDB oracle (the declarative
    formulation: explode, group, window top-1, join back) row for row on
    tie-heavy and empty-ish inputs, where the top-2gram lexicographic
    tie-break and the <2-word guards bite, and keeps its pinned schema."""
    from pyspark.sql import types as T

    from go_readability_spark.textops.textstats import (
        repetition_signals,
        repetition_signals_oracle_sql,
    )

    rows = [
        (1, "b a b a"),          # 2-gram tie: 'a b' vs 'b a' → lexicographic
        (2, "solo"),             # no 2-grams at all
        (3, "x x x x x x x x"),  # maximal repetition, dup 5-grams
        (4, "é ü é ü é"),        # non-ASCII tie-break path
        (5, "a  b"),             # empty token from adjacent separators
        (6, ""),                 # empty text: div-by-0 → NULL bp columns
        (7, None),               # NULL text: all-NULL row, no crash
    ]
    fast = repetition_signals(spark.createDataFrame(rows, "doc_id long, text string"))
    assert fast.schema == T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_words", T.IntegerType()),
            T.StructField("dup_word_bp", T.LongType()),
            T.StructField("top_2gram_bp", T.LongType()),
            T.StructField("dup_5gram_bp", T.LongType()),
        ]
    )
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        want = con.sql(repetition_signals_oracle_sql()).fetchall()
    finally:
        con.close()
    got = [tuple(r) for r in fast.collect()]
    assert got == want
    assert got[5] == (6, 1, 0, None, None) and got[6] == (7, None, None, None, None)


def test_asof_carry_forward_semantics(spark):
    """Pin the as-of tie/boundary rules directly on the union+window core:
    same-day order matches (lag 0), later orders are invisible, customers
    with no order stay unmatched, and the latest qualifying order wins."""
    import datetime as dt

    from unittest import mock

    from go_readability_spark.plans import relational as R

    events = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 10, 12, 0), 10, "click"),   # same-day order
            (2, dt.datetime(2024, 1, 20, 12, 0), 10, "click"),   # two orders behind → latest wins
            (3, dt.datetime(2024, 1, 5, 12, 0), 11, "view"),     # order only in the future
            (4, dt.datetime(2024, 1, 5, 12, 0), 12, "view"),     # customer has no orders
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    orders = spark.createDataFrame(
        [
            (100, 10, dt.datetime(2024, 1, 10)),
            (101, 10, dt.datetime(2024, 1, 15)),
            (102, 11, dt.datetime(2024, 1, 30)),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    frames = {"events": events, "orders": orders}
    with mock.patch.object(R, "_t", lambda spark, sf_dir, name: frames[name]):
        rows = {r.event_type: r for r in R.events_asof_orders(spark, "unused").collect()}
    assert rows["click"].n_events == 2
    assert rows["click"].n_matched == 2
    # event 1: lag 0 (same-day inclusive); event 2: Jan 20 − Jan 15 = 5
    assert rows["click"].sum_lag_days == 5
    assert rows["view"].n_events == 2
    assert rows["view"].n_matched == 0   # future order + orderless customer
    assert rows["view"].sum_lag_days is None


def test_range_join_band_edges(spark):
    """Pin the banded range-join edge cases: a pair straddling a bucket
    boundary (what a naive same-bucket join misses), a gap exactly at the
    window bound (inclusive), a gap just past it (excluded), and
    same-timestamp tie ordering (counted once, a→b by event_id)."""
    import datetime as dt

    from unittest import mock

    from go_readability_spark.plans import relational as R

    W_US = R.RANGE_WINDOW_US
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(us):
        return base + dt.timedelta(microseconds=us)

    # bucket width = 5 min; bucket boundary at t=300s
    events = spark.createDataFrame(
        [
            (1, at(299_000_000), 1, "a"),          # 1s before boundary
            (2, at(301_000_000), 1, "b"),          # 1s after → cross-bucket pair (1,2)
            (3, at(301_000_000 + W_US), 1, "c"),   # exactly W after 2 → pair (2,3)
            (4, at(302_000_000 + W_US), 1, "d"),   # W+1s after 2 → NOT paired with 2
            (5, at(299_000_000), 1, "e"),          # same ts as 1 → one pair (1,5) by id
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    frames = {"events": events}
    with mock.patch.object(R, "_t", lambda spark, sf_dir, name: frames[name]):
        rows = R.event_cooccurrence_range_join(spark, "unused").collect()
    got = {(r.type_a, r.type_b): (r.n_pairs, r.sum_gap_us) for r in rows}
    assert got[("a", "b")] == (1, 2_000_000)       # cross-bucket, 2s gap
    assert got[("b", "c")] == (1, W_US)            # inclusive at the bound
    assert ("b", "d") not in got                   # just past the bound
    assert got[("a", "e")] == (1, 0)               # tie counted once, id order
    assert ("e", "a") not in got
    # every event also pairs with nearby others; spot-check total sanity
    assert got[("c", "d")] == (1, 1_000_000)


def test_segment_rollup_enriches_and_rolls_up_hourly(spark):
    """Events joined to the customer segment dimension, rolled up per
    (hour, segment) with exact decimal sums; a user with no dimension row
    is dropped by the inner join."""
    import datetime as dt

    from unittest import mock

    from go_readability_spark.plans import relational as R

    def ev(event_id, hh, mm, user, value):
        return (event_id, dt.datetime(2024, 1, 1, hh, mm), user, "click", value)

    events = spark.createDataFrame(
        [
            ev(0, 0, 10, 1, 1.5),
            ev(1, 0, 20, 1, 2.25),
            ev(2, 0, 30, 2, 4.0),
            ev(3, 0, 40, 9, 64.0),  # user 9 has no dim row -> dropped
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    customer = spark.createDataFrame(
        [(1, "BUILDING"), (2, "MACHINERY")], "c_custkey long, c_mktsegment string"
    )
    frames = {"events": events, "customer": customer}
    with mock.patch.object(R, "_t", lambda spark, sf_dir, name: frames[name]):
        got = {
            (r.hour.hour, r.segment): (r.n_events, r.sum_value)
            for r in R.events_segment_rollup(spark, "unused").collect()
        }
    assert got == {(0, "BUILDING"): (2, 3.75), (0, "MACHINERY"): (1, 4.0)}


def test_view_click_interval_join_pairs(spark):
    """Every (view, click) pair of one user with the click at most 30
    minutes after the view: out-of-horizon clicks and other users' clicks
    never pair, and the per-view-hour rollup counts the same pairs."""
    import datetime as dt

    from unittest import mock

    from go_readability_spark.plans import relational as R

    def ev(event_id, hh, mm, user, etype):
        return (event_id, dt.datetime(2024, 1, 1, hh, mm), user, etype)

    events = spark.createDataFrame(
        [
            ev(0, 0, 10, 1, "view"),
            ev(1, 0, 20, 1, "click"),   # +10m -> pairs with view 0
            ev(2, 0, 35, 1, "click"),   # +25m -> pairs with view 0
            ev(3, 0, 50, 1, "click"),   # +40m -> OUT of 30m horizon
            ev(4, 0, 15, 2, "click"),   # other user -> never pairs
            ev(5, 1, 0, 2, "view"),     # no click in horizon
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    pairs = R.view_click_pairs(
        events.filter("event_type = 'view'"), events.filter("event_type = 'click'")
    )
    assert {(r.view_id, r.click_id) for r in pairs.collect()} == {(0, 1), (0, 2)}
    with mock.patch.object(R, "_t", lambda spark, sf_dir, name: events):
        rows = R.view_click_attribution_rollup(spark, "unused").collect()
    assert [(r.hour.hour, r.n_pairs, r.n_attributed_views) for r in rows] == [(0, 2, 1)]


def test_decontaminate_accepts_string_doc_ids(spark):
    """The hygiene job feeds decontaminate STRING doc_ids from the articles
    table; the md5-bucket probe selection must not numeric-cast (a plain
    `doc_id % mod` ANSI-crashes on 'doc-000000001')."""
    from go_readability_spark.textops.textstats import DECON_K, decontaminate

    text = " ".join(f"w{i}" for i in range(DECON_K + 2))
    docs = spark.createDataFrame(
        [(f"doc-{i:09d}", text) for i in range(60)],
        "doc_id string, text string",
    )
    out = decontaminate(docs)
    assert out.columns == ["doc_id", "n_contaminated"]
    rows = out.collect()  # must execute without a cast error
    # identical texts: if ANY doc lands in the probe bucket, all contaminate
    assert len(rows) in (0, 60)


def test_embedding_dedup_groups_rejects_conflicting_args(spark):
    """A prebuilt pairs frame carries its own threshold; passing both must
    raise instead of silently ignoring the requested threshold."""
    import pytest as _pytest

    from go_readability_spark.textops import similarity as S

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    pairs = S.embedding_near_dup_pairs(emb)
    with _pytest.raises(ValueError, match="not both"):
        S.embedding_dedup_groups(emb, threshold=0.99, pairs=pairs)


def test_range_join_matches_bruteforce_on_random_frames(spark):
    """The banded interval join must equal a brute-force O(n^2) reference
    on seeded random event sets — dense ties, duplicate timestamps, and
    bucket-straddling gaps included."""
    import random

    from go_readability_spark.plans import relational as R

    rng = random.Random(42)
    W = R.RANGE_WINDOW_US
    n = 120
    # timestamps clustered so windows overlap heavily; epoch micros ~2024
    base_us = 1_704_067_200_000_000
    events = [
        (
            i,
            base_us + rng.randrange(0, 4 * W) + rng.choice([0, 0, 1]),
            rng.randrange(0, 5),
            rng.choice(["a", "b", "c"]),
        )
        for i in range(n)
    ]
    # brute force over all ordered pairs
    expect: dict[tuple[str, str], tuple[int, int]] = {}
    for id_a, ts_a, u_a, t_a in events:
        for id_b, ts_b, u_b, t_b in events:
            if u_a != u_b:
                continue
            d = ts_b - ts_a
            if not (0 <= d <= W):
                continue
            if not (ts_a < ts_b or (ts_a == ts_b and id_a < id_b)):
                continue
            npairs, gap = expect.get((t_a, t_b), (0, 0))
            expect[(t_a, t_b)] = (npairs + 1, gap + d)

    import datetime as dt

    from unittest import mock

    rows = [
        (i, dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=ts), u, t)
        for i, ts, u, t in events
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    with mock.patch.object(R, "_t", lambda spark, sf_dir, name: {"events": ev}[name]):
        got = {
            (r.type_a, r.type_b): (r.n_pairs, r.sum_gap_us)
            for r in R.event_cooccurrence_range_join(spark, "unused").collect()
        }
    assert got == expect


def test_asof_matches_bruteforce_on_random_frames(spark):
    """The tag-union carry-forward as-of join must equal the brute-force
    'max order date <= event date per customer' reference on seeded random
    frames with same-day collisions and orderless customers."""
    import datetime as dt
    import random

    from unittest import mock

    from go_readability_spark.plans import relational as R

    rng = random.Random(7)
    d0 = dt.date(2024, 1, 1)
    orders = [
        (i, rng.randrange(0, 12), d0 + dt.timedelta(days=rng.randrange(0, 40)))
        for i in range(80)
    ]
    events = [
        (i, rng.randrange(0, 16), d0 + dt.timedelta(days=rng.randrange(0, 40)),
         rng.choice(["x", "y"]))
        for i in range(100)
    ]
    expect: dict[str, list] = {}
    for _, u, ed, et in events:
        best = max((od for _, ou, od in orders if ou == u and od <= ed), default=None)
        n, m, lag = expect.get(et, (0, 0, 0))
        expect[et] = [
            n + 1,
            m + (best is not None),
            lag + ((ed - best).days if best is not None else 0),
        ]
    ev = spark.createDataFrame(
        [(i, dt.datetime.combine(d, dt.time(12)), u, t) for i, u, d, t in events],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    od = spark.createDataFrame(
        [(i, u, dt.datetime.combine(d, dt.time())) for i, u, d in orders],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    frames = {"events": ev, "orders": od}
    with mock.patch.object(R, "_t", lambda spark, sf_dir, name: frames[name]):
        got = {
            r.event_type: [r.n_events, r.n_matched, r.sum_lag_days or 0]
            for r in R.events_asof_orders(spark, "unused").collect()
        }
    assert got == expect


def test_canonical_keep_one_survivor_best_quality(spark):
    """canonical_keep must mark exactly one keep=1 per group, and the
    survivor must be the group's (max quality_hbp, min doc_id) argmax —
    checked against an independent Python reduction over the same rows."""
    from go_readability_spark.textops.dedup import canonical_keep

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    rows = canonical_keep(docs).collect()
    assert rows, "fixture corpus should contain duplicate groups"
    by_group: dict = {}
    for r in rows:
        by_group.setdefault(r.group_id, []).append(r)
    for gid, members in by_group.items():
        kept = [r for r in members if r.keep == 1]
        assert len(kept) == 1, f"group {gid}: {len(kept)} survivors"
        best = min(members, key=lambda r: (-r.quality_hbp, r.doc_id))
        assert kept[0].doc_id == best.doc_id
        assert gid == min(m.doc_id for m in members)  # CC min-label


def test_ngram_coverage_hand_computed(spark):
    """Global duplicated-shingle fractions on a corpus built so the
    boilerplate shingle set is known exactly: docs A and B share one
    3-gram run, doc C is disjoint."""
    from go_readability_spark.textops.dedup import SHINGLE_K, ngram_coverage

    assert SHINGLE_K == 3
    docs = spark.createDataFrame(
        [
            (1, "subscribe to our newsletter today friends", "en", "a", 0),
            (2, "subscribe to our newsletter now please ok", "en", "a", 0),
            (3, "entirely different words compose this one", "en", "a", 0),
            (4, "hi", "en", "a", 0),  # < K words: excluded
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.doc_id: r for r in ngram_coverage(docs).collect()}
    # shared shingles between 1 and 2: "subscribe to our", "to our newsletter"
    assert set(got) == {1, 2, 3}
    assert got[1].n_shingles == 4  # 6 words, K=3
    assert got[2].n_shingles == 5  # 7 words
    assert got[3].n_shingles == 4
    assert got[1].n_dup_shingles == 2 and got[2].n_dup_shingles == 2
    assert got[3].n_dup_shingles == 0
    assert got[1].dup_ngram_bp == 5000  # 10000 * 2 div 4
    assert got[2].dup_ngram_bp == 4000  # 10000 * 2 div 5
    assert got[3].dup_ngram_bp == 0


def test_block_removal_hand_computed(spark):
    """Block-granular exact-substring removal on a corpus where the
    duplicated block set is known exactly (BLOCK_W=8): doc 1 and doc 2
    share their first 8-word block verbatim; doc 3 repeats ITS first
    block inside itself (within-doc duplication counts); doc 4 is clean."""
    from go_readability_spark.textops.dedup import BLOCK_W, block_removal

    assert BLOCK_W == 8
    head = "one two three four five six seven eight"  # exactly 8 words
    tail1 = "alpha beta gamma"
    tail2 = "delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, f"{head} {tail1}", "en", "a", 0),
            (2, f"{head} {tail2}", "en", "a", 0),
            (3, f"{head.replace('one', 'x1')} {head.replace('one', 'x1')}", "en", "a", 0),
            (4, "totally unique words that repeat nowhere else ever", "en", "a", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.doc_id: r for r in block_removal(docs).collect()}
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    # docs 1, 2: head block removed, partial tail block survives
    assert (got[1].n_blocks, got[1].n_removed_blocks) == (2, 1)
    assert got[1].clean_fp == md5(tail1)
    assert (got[2].n_blocks, got[2].n_removed_blocks) == (2, 1)
    assert got[2].clean_fp == md5(tail2)
    # doc 3: 16 words = two identical 8-word blocks → both removed
    assert (got[3].n_blocks, got[3].n_removed_blocks) == (2, 2)
    assert got[3].clean_fp == md5("")
    # doc 4: 8 words = one unique block, untouched
    assert (got[4].n_blocks, got[4].n_removed_blocks) == (1, 0)
    assert got[4].clean_fp == md5(docs.where("doc_id = 4").collect()[0].text)


def test_block_removal_matches_bruteforce_random(spark):
    """block_removal vs an independent Python reduction over a seeded
    random corpus with forced block collisions."""
    import hashlib
    import random

    from go_readability_spark.textops.dedup import BLOCK_W, block_removal

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]  # tiny vocab → natural collisions
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))), "en", "a", 0)
        for i in range(60)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    # brute force: block partition + global occurrence count
    blocks_by_doc = {}
    from collections import Counter

    occ: Counter = Counter()
    for doc_id, text, *_ in rows:
        w = text.split(" ")
        blocks = [
            " ".join(w[i * BLOCK_W : (i + 1) * BLOCK_W])
            for i in range((len(w) + BLOCK_W - 1) // BLOCK_W)
        ]
        blocks_by_doc[doc_id] = blocks
        occ.update(blocks)
    expect = {}
    for doc_id, blocks in blocks_by_doc.items():
        kept = [b for b in blocks if occ[b] < 2]
        expect[doc_id] = (
            len(blocks),
            len(blocks) - len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    got = {
        r.doc_id: (r.n_blocks, r.n_removed_blocks, r.clean_fp)
        for r in block_removal(docs).collect()
    }
    assert got == expect


def test_top_terms_matches_bruteforce_random(spark):
    """top_terms vs an independent Python reduction: per-doc top-3 by
    (tf desc, df asc, term asc) over non-corpus-common terms."""
    import random
    from collections import Counter

    from go_readability_spark.textops.textstats import TOP_TERMS_K, top_terms

    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25))), "en", "a", 0)
        for i in range(40)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tf = {doc_id: Counter(text.split(" ")) for doc_id, text, *_ in rows}
    df = Counter(t for c in tf.values() for t in c)
    n_docs = len(rows)
    expect = set()
    for doc_id, c in tf.items():
        cands = [
            (t, n) for t, n in c.items() if df[t] * 2 <= n_docs
        ]
        cands.sort(key=lambda x: (-x[1], df[x[0]], x[0]))
        for rank, (t, n) in enumerate(cands[:TOP_TERMS_K], start=1):
            expect.add((doc_id, t, n, df[t], rank))
    got = {
        (r.doc_id, r.term, r.tf, r.df, r.rank) for r in top_terms(docs).collect()
    }
    assert got == expect


def test_ngram_coverage_matches_bruteforce_random(spark):
    """ngram_coverage vs an independent Python reduction over a seeded
    random corpus (distinct shingles per doc; df counts documents)."""
    import random
    from collections import Counter

    from go_readability_spark.textops.dedup import SHINGLE_K, ngram_coverage

    rng = random.Random(13)
    vocab = [f"v{i}" for i in range(8)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 20))), "en", "a", 0)
        for i in range(50)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sh = {}
    for doc_id, text, *_ in rows:
        w = text.split(" ")
        if len(w) < SHINGLE_K:
            continue
        seen, ordered = set(), []
        for i in range(len(w) - SHINGLE_K + 1):
            s = " ".join(w[i : i + SHINGLE_K])
            if s not in seen:
                seen.add(s)
                ordered.append(s)
        sh[doc_id] = ordered
    df = Counter(s for v in sh.values() for s in v)
    expect = {
        doc_id: (
            len(v),
            sum(1 for s in v if df[s] >= 2),
            (10000 * sum(1 for s in v if df[s] >= 2)) // len(v),
        )
        for doc_id, v in sh.items()
    }
    got = {
        r.doc_id: (r.n_shingles, r.n_dup_shingles, r.dup_ngram_bp)
        for r in ngram_coverage(docs).collect()
    }
    assert got == expect


def test_url_canonicalization_rules(spark):
    """Each canonicalization rule on a hand case: case folding, default
    vs non-default port, trailing slash (root kept), tracking-param
    stripping (utm_* prefix + exact names), param sorting, fragment
    drop, and a non-http scheme passing through untouched."""
    from pyspark.sql import functions as F

    from go_readability_spark.textops.urls import canonical_url_sql

    cases = {
        "HTTPS://WWW.Ex.COM:443/a/?utm_source=x&b=2&a=1#f": "https://www.ex.com/a?a=1&b=2",
        "http://ex.com:8080/": "http://ex.com:8080/",
        "http://ex.com:80": "http://ex.com/",
        "https://ex.com/p?utm_a=1&ref=tw": "https://ex.com/p",
        "https://ex.com/p/q/?z=1&gclid=abc&y=2": "https://ex.com/p/q?y=2&z=1",
        "ftp://Files.Ex.com:21/pub/": "ftp://files.ex.com:21/pub",
    }
    df = spark.createDataFrame([(u,) for u in cases], ["url"])
    got = {
        r.url: r.canon
        for r in df.select(
            "url", F.expr(canonical_url_sql("url", "spark")).alias("canon")
        ).collect()
    }
    assert got == cases


def test_url_duplicates_keeper_is_min_doc(spark):
    """Collisions group by canonical URL and the keeper is the smallest
    doc_id; singletons are excluded."""
    from go_readability_spark.textops.urls import url_duplicates

    # doc_ids 0 and 60: same source, same path slot (0), same page parity,
    # same scheme-case branch -> identical canonical URL.  doc_id 1 shares
    # nothing at slot 1 with them.
    df = spark.createDataFrame(
        [(0, "srcA"), (60, "srcA"), (1, "srcA")], ["doc_id", "source"]
    )
    rows = url_duplicates(df).collect()
    assert len(rows) == 1
    assert rows[0].n_docs == 2 and rows[0].keep_doc == 0


def test_url_unparseable_kept_verbatim(spark):
    """URLs the pattern can't parse (userinfo, IPv6 literal, garbage)
    must pass through untouched in BOTH engines — without the match
    guard they all collapsed to the constant ':///' and url_duplicates
    merged unrelated pages into one duplicate group."""
    import duckdb
    from pyspark.sql import functions as F

    from go_readability_spark.textops.urls import canonical_url_sql

    bad = ["https://user@a.com/x", "http://[::1]/y", "not a url", ""]
    df = spark.createDataFrame([(u,) for u in bad], ["url"])
    got = [
        r.canon
        for r in df.select(
            F.expr(canonical_url_sql("url", "spark")).alias("canon")
        ).collect()
    ]
    assert got == bad
    for u in bad:
        lit = "'" + u + "'"
        d = duckdb.sql(
            f"select {canonical_url_sql(lit, 'duckdb')} as c"
        ).fetchone()[0]
        assert d == u


def test_canonical_keep_rejects_conflicting_args(spark):
    """A prebuilt groups frame was labeled at its own iteration budget;
    passing max_iters alongside it must raise, not be silently ignored."""
    import pytest

    from go_readability_spark.textops.dedup import canonical_keep

    docs = spark.createDataFrame([(1, "t")], ["doc_id", "text"])
    groups = spark.createDataFrame([(1, 1)], ["doc_id", "canonical_doc_id"])
    with pytest.raises(ValueError, match="max_iters"):
        canonical_keep(docs, max_iters=5, groups=groups)


def test_pii_scrub_hand_case(spark):
    """Each PII class redacts to its token; surrounding text survives;
    scrub order protects dotted quads from the phone pattern."""
    from pyspark.sql import functions as F

    from go_readability_spark.textops.pii import scrub_pii_col

    src = (
        "Mail a.b+c@x-y.co.uk or root@10.0.0.1 now; server 192.168.1.254 up,"
        " call +1 (555) 794-0958 or 555-123-4567 today."
    )
    got = (
        spark.createDataFrame([(src,)], ["t"])
        .select(scrub_pii_col(F.col("t")).alias("s"))
        .collect()[0]
        .s
    )
    assert got == (
        "Mail [EMAIL] or root@[IP] now; server [IP] up,"
        " call [PHONE] or [PHONE] today."
    )


def test_corpus_mixture_budget_and_greedy_prefix(spark):
    """tokens_kept never exceeds the budget; the kept set is the maximal
    prefix in md5-hash admission order (VARIED word counts, so any other
    admission order produces a different (count, tokens) pair); a source
    whose cheapest doc exceeds its budget still gets a zeros row."""
    import hashlib

    from go_readability_spark.textops.textstats import (
        MIXTURE_BASE_BUDGET,
        corpus_mixture,
    )

    # src0 -> budget 400 with varied doc sizes; src1 -> 800, everything
    # fits; src3 -> 400 with only 500-word docs (fully excluded)
    sizes0 = {0: 150, 1: 120, 2: 90, 3: 200, 4: 60, 5: 180}
    rows = (
        [(i, " ".join(["w"] * sizes0[i]), "en", "src0") for i in range(6)]
        + [(10 + i, " ".join(["w"] * 100), "en", "src1") for i in range(6)]
        + [(30 + i, " ".join(["w"] * 500), "en", "src3") for i in range(3)]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    got = {r.source: r for r in corpus_mixture(docs).collect()}
    assert got["src0"].budget_tokens == MIXTURE_BASE_BUDGET
    assert got["src1"].budget_tokens == 2 * MIXTURE_BASE_BUDGET
    assert (got["src1"].n_docs_kept, got["src1"].tokens_kept) == (6, 600)
    # fully-excluded source: present with zeros, not silently dropped
    assert (got["src3"].n_docs_kept, got["src3"].tokens_kept) == (0, 0)

    # greedy prefix in md5 admission order, recomputed host-side — with
    # varied sizes the expected pair differs for other orders
    def key(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)

    afford = total = 0
    for i in sorted(sizes0, key=lambda i: (key(i), i)):
        if total + sizes0[i] > MIXTURE_BASE_BUDGET:
            break
        total += sizes0[i]
        afford += 1
    assert (got["src0"].n_docs_kept, got["src0"].tokens_kept) == (afford, total)
    assert got["src0"].tokens_kept <= MIXTURE_BASE_BUDGET
    # sanity: the admission order genuinely differs from doc_id order
    # AND the doc_id-order prefix gives a different answer
    did_total = did_afford = 0
    for i in range(6):
        if did_total + sizes0[i] > MIXTURE_BASE_BUDGET:
            break
        did_total += sizes0[i]
        did_afford += 1
    assert (did_afford, did_total) != (afford, total)


def test_jaccard_pairs_long_docs_with_proportional_length_gap(spark):
    """A 2000-word doc and its + [~12%] superset have J >= 0.8 but differ
    by thousands of chars — the old fixed-64-char-width bucket blocking
    silently dropped such pairs; pow2 shingle-count buckets must not."""
    from go_readability_spark.textops.dedup import ngram_jaccard_pairs

    words = [f"tok{i}" for i in range(2000)]
    base = " ".join(words)
    superset = " ".join(words + [f"extra{i}" for i in range(300)])
    # shingle counts ~1993 vs ~2293: J ~= 1993/2293 ~= 0.869 >= 0.8
    docs = spark.createDataFrame(
        [("docA", "en", base), ("docB", "en", superset)],
        "doc_id string, lang string, text string",
    )
    pairs = ngram_jaccard_pairs(docs).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [("docA", "docB")]
    assert pairs[0].jaccard >= 0.8


def test_funnel_reports_fully_deduped_source_with_zeros(spark):
    """A mirror source whose every doc loses the cross-source dedup race
    must appear with n_after_dedup=0, not vanish from the funnel."""
    from go_readability_spark.textops.textstats import training_corpus_funnel

    text = "the and is of to in it was for on " * 30
    docs = spark.createDataFrame(
        [(1, "srcA", text), (2, "srcB", text), (3, "srcB", text.upper())],
        ["doc_id", "source", "text"],
    )
    rows = {r.source: r for r in training_corpus_funnel(docs).collect()}
    assert set(rows) == {"srcA", "srcB"}
    # both srcB docs share srcA doc 1's fingerprint (case-insensitive)
    assert (rows["srcB"].n_docs, rows["srcB"].n_after_dedup) == (2, 0)
    assert rows["srcB"].n_kept == 0 and rows["srcB"].kept_tokens == 0
    assert rows["srcA"].n_after_dedup == 1


def test_quality_hbp_sql_lockstep(spark):
    """domains._quality_hbp_sql must stay in lockstep with the staged
    textstats.quality_scores composite (docstring contract): equal on
    every document of the test corpus."""
    from go_readability_spark.textops.domains import _quality_hbp_sql
    from go_readability_spark.textops.textstats import quality_scores

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    inline = docs.selectExpr(
        "doc_id", f"({_quality_hbp_sql('spark')}) AS q_inline"
    )
    staged = quality_scores(docs).select("doc_id", "quality_hbp")
    diff = (
        inline.join(staged, "doc_id")
        .filter("q_inline <> quality_hbp")
        .count()
    )
    assert diff == 0


def test_host_boilerplate_hand_case(spark):
    """A 2-word template recurring in all 4 docs of host A is removed
    from each; the same template in only 2 of host B's 4 docs is below
    BOILER_MIN_DOCS and survives — detection is host-scoped df-ratio,
    not global occurrence count."""
    import hashlib

    from go_readability_spark.textops.domains import host_boilerplate_removal

    docs = spark.createDataFrame(
        [
            (1, "ha", "subscribe now alpha one"),
            (2, "ha", "subscribe now beta two"),
            (3, "ha", "subscribe now gamma three"),
            (4, "ha", "subscribe now delta four"),
            (5, "hb", "subscribe now eps five"),
            (6, "hb", "subscribe now zeta six"),
            (7, "hb", "body seven other words"),
            (8, "hb", "body eight more words"),
        ],
        ["doc_id", "source", "text"],
    )
    rows = {r.doc_id: r for r in host_boilerplate_removal(docs).collect()}
    assert rows[1].host == "ha.example.com"
    for d, body in ((1, "alpha one"), (2, "beta two"), (3, "gamma three"), (4, "delta four")):
        assert (rows[d].n_blocks, rows[d].n_removed_blocks) == (2, 1)
        assert rows[d].clean_fp == hashlib.md5(body.encode()).hexdigest()
    for d in (5, 6, 7, 8):
        assert rows[d].n_removed_blocks == 0


def test_leakage_safe_split_groups_never_straddle(spark):
    """Every near-dup group must land in exactly one split (the whole
    point of keying the bucket draw on the group id, not the doc id) —
    asserted on real sf0.001 groups, which must exist for the test to
    mean anything."""
    from pyspark.sql import functions as F

    from go_readability_spark.textops.dedup import dedup_groups
    from go_readability_spark.textops.domains import split_assignments

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    groups = dedup_groups(docs)
    assigned = split_assignments(docs, groups=groups)
    per_group = (
        assigned.join(groups, "doc_id")
        .groupBy("canonical_doc_id")
        .agg(F.countDistinct("split").alias("n_splits"))
    )
    rows = per_group.collect()
    assert len(rows) > 0  # groups exist at sf0.001
    assert all(r.n_splits == 1 for r in rows)


def test_url_filter_blocklist_hook(spark):
    """The production blocklist face (broadcast join) must agree with the
    literal IN face for the same hosts, and a host only the DataFrame
    names must flip its docs to blocked_host."""
    from go_readability_spark.textops.urls import BLOCKED_HOSTS, url_filter

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    base = {r.doc_id: r for r in url_filter(docs).collect()}

    same = spark.createDataFrame([(h,) for h in BLOCKED_HOSTS], ["host"])
    via_df = {r.doc_id: r for r in url_filter(docs, blocked_hosts=same).collect()}
    assert base == via_df

    extra_host = next(
        r.host for r in base.values() if r.reason == "kept"
    )
    widened = spark.createDataFrame(
        [(h,) for h in (*BLOCKED_HOSTS, extra_host)], ["host"]
    )
    via_wide = {r.doc_id: r for r in url_filter(docs, blocked_hosts=widened).collect()}
    for doc_id, row in via_wide.items():
        if base[doc_id].host == extra_host:
            assert row.reason == "blocked_host"
        else:
            assert row == base[doc_id]
