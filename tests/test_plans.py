"""Physical-plan invariants over the whole query registry.

PLANS.md documents the plans we audited by hand; these tests pin the
load-bearing properties so a refactor can't silently regress them:

- no accidental cross products: only queries that deliberately pair a
  tiny broadcast side (query vectors, centroid tables) may contain a
  nested-loop/cartesian join;
- no row-at-a-time Python: BatchEvalPython (per-row UDF) must never
  appear — the only Python surface is Arrow-batched mapInPandas;
- filters on the base-table scans reach parquet (PushedFilters) for the
  representative pushdown queries.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

# Deliberate tiny-side pairings (broadcast nested loop by design):
# brute-force cosine (8 query vectors × candidates), the banded-LSH and
# IVF stages that pair each vector with the 8-row centroid/band table.
CROSS_OK = {
    "similarity_cosine_topk",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "similarity_quantized_topk",
    "dedup_embedding_cosine",
    "dedup_embedding_groups",
    # 1-row corpus-size broadcast gating the common-term cutoff
    "text_top_terms",
    # 1-row dropped-count digest crossJoined onto the 1-row extraction digest
    "dedup_then_extract",
    # 1-row snapshot-boundary broadcast attaching split_id to every band row
    "dedup_incremental",
}

# Iterative queries run jobs during construction (connected components);
# their per-round plans are audited via the shared core instead.
SKIP = {"dedup_groups", "dedup_embedding_groups", "dedup_canonical_keep"}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _entry():
    import __spark_entry__ as e

    return e


def _all_queries(e):
    # extras: registry-capped faces (driver records at most 50 rows) get
    # the same plan invariants as registered queries
    return {**e.queries(), **e.extra_queries()}


QUERY_NAMES = sorted(set(_all_queries(_entry())) - SKIP)


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_no_accidental_cross_product_or_row_udf(spark, name):
    e = _entry()
    plan = _plan(_all_queries(e)[name](spark, SF_DIR))
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in CROSS_OK:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested-loop join"


def test_pushdown_reaches_scan(spark):
    """Representative pushdown checks: the pricing filter and the
    embedding query-id filters must land in the parquet scan."""
    e = _entry()
    plan = _plan(_all_queries(e)["pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    plan = _plan(e.queries()["similarity_cosine_topk"](spark, SF_DIR))
    assert "LessThan(vec_id,8)" in plan


def test_decontaminate_broadcasts_probes(spark):
    """The benchmark probe set must be the broadcast side (the corpus
    never shuffles to meet it) and the probe filter must reach its scan."""
    e = _entry()
    plan = _plan(e.queries()["text_decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "% 50) = 7" in plan  # probe-side filter pushed to the scan


def test_vocab_topk_uses_partial_topk(spark):
    """Top-k must be TakeOrderedAndProject (per-partition partial top-k),
    never a global sort, and the scan pruned to the text column."""
    e = _entry()
    plan = _plan(e.queries()["text_vocab_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "doc_id" not in plan.split("ReadSchema")[-1]


@pytest.mark.requires_reference
def test_extraction_scan_is_pruned(spark):
    """The extraction operator must read only doc_id/spans/uri, whatever
    else the table carries (column pruning through mapInPandas)."""
    from pyspark.sql import functions as F

    from go_readability_spark.spark.corpus import fixture_documents
    from go_readability_spark.spark.extract import extract_articles

    docs = fixture_documents(spark).limit(3).withColumn("extra", F.lit("x"))
    path = "/tmp/grs_prune_probe"
    docs.write.mode("overwrite").parquet(path)
    plan = _plan(extract_articles(spark.read.parquet(path)))
    assert "extra" not in plan.split("ReadSchema")[-1]
