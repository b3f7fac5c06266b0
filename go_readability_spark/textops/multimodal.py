"""Media audit over extracted article spans, in Catalyst only."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def media_ref_stats(articles: DataFrame) -> DataFrame:
    """Spark-only media audit over article spans: per kind, how many media
    anchors survived extraction and how many carry absolute refs."""
    media = articles.select(F.explode("spans").alias("span")).filter(
        F.col("span.kind").isin("img", "video", "audio", "source", "embed", "iframe")
    )
    return (
        media.groupBy(F.col("span.kind").alias("kind"))
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(
                F.col("span.media_ref").rlike("^https?://").cast("long")
            ).alias("n_absolute_refs"),
        )
        .orderBy("kind")
    )
