"""Table schemas for the extraction engine (FIXTURES.md §1-3).

Input/output document shape is mandated by BASELINE.json ``input_hint``:
``(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)``.
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

SPANS_TYPE = T.ArrayType(SPAN_STRUCT, False)

# Input corpus table (the Iceberg table the engine reads).
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("uri", T.StringType(), True),
        T.StructField("spans", SPANS_TYPE, True),
    ]
)

# Output articles table: result columns mirror the reference Result struct
# (readability.go:130-151) plus status/error for failed parses.
ARTICLES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", SPANS_TYPE, True),
        T.StructField("title", T.StringType(), True),
        T.StructField("byline", T.StringType(), True),
        T.StructField("dir", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("excerpt", T.StringType(), True),
        T.StructField("site_name", T.StringType(), True),
        T.StructField("published_time", T.StringType(), True),
        T.StructField("text_content", T.StringType(), True),
        T.StructField("length", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)

# Checkpoint/lineage table: one row per bucket a wave finished, carrying
# the bucket's counts as the articles write observed them (FIXTURES.md §3).
# The counts are nullable: rows written before they existed read as NULL.
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket_id", T.IntegerType(), False),
        T.StructField("input_snapshot_id", T.LongType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("started_at", T.TimestampType(), True),
        T.StructField("finished_at", T.TimestampType(), True),
        T.StructField("n_docs", T.LongType(), True),
        T.StructField("n_ok", T.LongType(), True),
        T.StructField("n_failed", T.LongType(), True),
        T.StructField("docs_per_sec", T.DoubleType(), True),
    ]
)
