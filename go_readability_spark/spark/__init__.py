"""Spark-level (cross-document) layer: schemas, extraction operator,
corpus synthesis, and the bucketed/checkpointed pipeline shell.

Everything cross-document is DataFrame/Catalyst; the per-document kernel
(go_readability_spark.kernel) runs only inside Arrow batches via
``mapInArrow`` (SURVEY.md §2.9) — no per-row Python UDFs, no RDDs, and no
pandas: every Python operator of the package reads and writes Arrow
buffers through ``session``.
"""
