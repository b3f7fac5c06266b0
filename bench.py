"""Bench harness: headline extraction throughput + per-query timings.

Prints ONE JSON line:
  {"metric": "...", "value": <headline sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "docs_per_sec": ..., "cpus": ...}

Env:
  SPARK_GRAFT_SF_DIR  input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default: the host's core count)
  BENCH_QUERIES       comma-list to restrict (default: all)
  BENCH_REPLICATE     headline-corpus fan-out (default 8: sf0.1 → 40k docs,
                      enough compute that the headline measures the engine,
                      not job startup)

The headline is the flagship extraction pipeline: synthesize the
interleaved-span corpus (mapInArrow page builder) → salted repartition →
Arc90 kernel extraction (mapInArrow) → count.  docs/sec is measured over
the extraction job wall time.  tools/bench_scaling.py runs this at two
parallelism levels for the N→4N scaling-efficiency evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def host_probe_s() -> float:
    """Single-core busy-loop probe (CLAUDE.md hygiene): ~1.1-1.4s on a
    clean window; ≥2s means the host is in an ambient-degradation window
    and the numbers below measure the hypervisor, not the pipeline."""
    t0 = time.perf_counter()
    x = 0
    for i in range(20_000_000):
        x += i * i
    return round(time.perf_counter() - t0, 2)


def host_probe_parallel_s(n_procs: int = 8) -> float:
    """Parallel-delivery probe: wall time for n_procs simultaneous copies
    of the single-core loop.  The host takes degradation windows that hit
    ONLY high-parallelism work (r4: single-core probe 1.2s clean while the
    32-way extraction wall swung 4.9→6.6s), so headline swings are
    interpretable only against this number: clean ≈ the single-core
    probe (perfect delivery); ≥1.5× it means the window is degraded and
    the headline measures the hypervisor."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    t0 = time.perf_counter()
    procs = [ctx.Process(target=_busy) for _ in range(n_procs)]
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    return round(time.perf_counter() - t0, 2)


def _busy() -> None:
    x = 0
    for i in range(20_000_000):
        x += i * i


def main() -> None:
    from go_readability_spark.spark.session import build_session, default_cpus

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    only = {q for q in os.environ.get("BENCH_QUERIES", "").split(",") if q}
    probe_before = host_probe_s()
    probe_par_before = host_probe_parallel_s(cpus)

    import __spark_entry__ as e
    from go_readability_spark.spark.corpus import synthesize_documents
    from go_readability_spark.spark.extract import route_and_extract

    spark = build_session(cpus=cpus, app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # --- headline: extraction throughput ------------------------------
    # Materialize the span corpus first (parquet) so the timed section
    # measures extraction, not synthesis.
    replicate = int(os.environ.get("BENCH_REPLICATE", "8"))
    # cache key includes a hash of the generator source so a synth change
    # can never silently reuse a stale materialized corpus
    import hashlib

    import go_readability_spark.spark.corpus as corpus_mod

    synth_tag = hashlib.md5(
        open(corpus_mod.__file__, "rb").read()
    ).hexdigest()[:8]
    corpus_path = os.path.join(
        os.environ.get("BENCH_TMP", "/tmp"),
        # rstrip: basename of a trailing-slash path is '' — every sf would
        # share one cache dir and silently benchmark the wrong corpus
        f"bench_corpus_{os.path.basename(sf_dir.rstrip('/'))}_x{replicate}_{synth_tag}",
    )
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        # pre-bucketed at write time (the Iceberg bucket(B, doc_id) layout):
        # extraction then reads in place, zero shuffle
        synthesize_documents(spark, sf_dir, replicate=replicate).repartition(
            128, "doc_id"
        ).write.mode("overwrite").parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)
    n_docs = docs.count()
    # warm python workers (steady-state throughput, not import cost)
    route_and_extract(docs.sample(0.02, seed=1).repartition(cpus)).count()

    # min-of-3 by default: the 32-way extraction wall is bimodal across
    # sessions (r4 measured [4.93, 5.50, 5.73]s min-of-2 under CLEAN
    # single-core probes, and 7.1 -> 5.9s monotone improvement across 6
    # consecutive repeats in one session — JVM C2/codegen warm-up plus
    # hypervisor delivery variance the 1-core probe can't see), so two
    # repeats often both land on the warm-up shoulder.  The third repeat
    # costs ~6s and moves the min past the knee; BENCH_HEADLINE_REPEATS
    # restores the old behavior.
    headline_repeats = int(
        os.environ.get(
            "BENCH_HEADLINE_REPEATS",
            max(3, int(os.environ.get("BENCH_REPEATS", "2"))),
        )
    )
    headline_sec = None
    for _ in range(max(1, headline_repeats)):
        t0 = time.time()
        extracted = route_and_extract(docs)
        n_out = extracted.count()
        dt = time.time() - t0
        headline_sec = dt if headline_sec is None else min(headline_sec, dt)
    docs_per_sec = n_out / headline_sec

    # --- per-query timings -------------------------------------------
    # min-of-k per query: this sandbox VM takes intermittent hypervisor
    # steal spikes (measured 8-12x on single queries); the min is the
    # steal-free estimate.  k=1 restores single-shot timing.
    #
    # Warm JVM expression codegen for the embedding family first: its
    # queries are timed single-shot (the shared pair-graph cache makes
    # repeats meaningless), so without this the first embedding query
    # pays one-time Janino compilation of the signature/dot/norm code
    # units — measured 2-18s of pure compile noise at sf0.1 (warm-session
    # steady state is ~2s).  A 64-row limit compiles the identical
    # generated classes; same rationale as the python-worker warmup above.
    if not only or any(
        q.startswith(("similarity", "dedup_embedding")) for q in only
    ):
        from go_readability_spark.textops import similarity as _sim

        _sim.embedding_near_dup_pairs(
            spark.read.parquet(
                os.path.join(sf_dir, "embeddings.parquet")
            ).limit(64)
        ).count()
    # clamp like the headline loop does: BENCH_REPEATS=0 would leave every
    # per-query best as None and crash at the JSON round()
    repeats = max(1, int(os.environ.get("BENCH_REPEATS", "2")))
    timings: dict[str, float] = {}
    for name, fn in e.queries().items():
        if only and name not in only:
            continue
        # extract-chained queries share one persisted articles frame and
        # the embedding-dedup pair share one persisted pair graph
        # (compute-once-consume-many); a repeat of a CONSUMER would time
        # the cache, not the operator, so consumers stay single-shot.
        # The three cache BUILDERS (extract_articles → "articles",
        # dedup_embedding_cosine → "emb_pairs", dedup_groups →
        # "text_groups") instead get min-of-k over genuine builds by
        # evicting their frame before each timed run; the LAST run leaves
        # the cache populated for the consumers that follow.
        builder_tag = {
            "extract_articles": "articles",
            "dedup_embedding_cosine": "emb_pairs",
            "dedup_groups": "text_groups",
        }.get(name)
        n_runs = (
            repeats
            if builder_tag is not None
            else 1
            if name.startswith("extract")
            or name.startswith("dedup_embedding")
            or name == "dedup_canonical_keep"
            else repeats
        )
        best = None
        for _ in range(n_runs):
            if builder_tag is not None:
                for k in [k for k in e._FRAME_CACHE if k[2] == builder_tag]:
                    e._FRAME_CACHE.pop(k).unpersist()
            t0 = time.time()
            fn(spark, sf_dir).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    spark.stop()
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    print(
        json.dumps(
            {
                "metric": "extraction_wall_sec",
                "value": round(headline_sec, 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "docs_per_sec": round(docs_per_sec, 2),
                "n_docs": n_docs,
                "cpus": cpus,
                # host-health evidence (see BENCH/BASELINE.md): clean ≈
                # 1.1-1.4s, ≥2s = degraded window, numbers not comparable
                "host_probe_sec": [probe_before, host_probe_s()],
                # cpus-way delivery probe: the headline's own parallelism.
                # r4 calibration at 32-way: ~1.9s ≈ the host's static
                # oversubscription ceiling with a clean 1-core probe;
                # meaningfully above that = parallel-degradation window
                # (hits the headline even when the 1-core probe is clean)
                "host_probe_par_sec": [probe_par_before, host_probe_parallel_s(cpus)],
            }
        )
    )


if __name__ == "__main__":
    main()
