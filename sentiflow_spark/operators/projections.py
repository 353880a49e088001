"""Per-row projection operators (SURVEY §2.3, P1–P7).

Reference parity notes (citations into /root/reference):
- P2 RedditPost→RawContent: ``internal/producer/fetch.go:184-198`` —
  deterministic sha256 content id (the reference's nested metadata
  struct has no reader here and is not carried).
- P6 JSON (de)serialization: ``internal/utils/kafka_helpers.go:8-26``.
- K3 row shaping for the serving store: ``internal/db/dynamodb.go:191-236``
  (optional fields elided — empty string stored as absent → NULL here).

All are pure Column expressions: they stay inside WholeStageCodegen and
prune/push down through any downstream scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sentiflow_spark.functions.hashing import content_id


def to_raw_content(
    df: DataFrame,
    *,
    topic: Column,
    source: Column,
    post_id: Column,
    text: Column,
) -> DataFrame:
    """P2: canonical RawContent record with deterministic sha256 id.

    ``content_id = hex(sha256(topic:source:post_id))`` — the id is a pure
    function of the key triple, which is what makes the whole pipeline
    idempotent under at-least-once replay (dedup/upsert by id).
    """
    return df.select(
        content_id(topic, source, post_id).alias("content_id"),
        source.alias("source"),
        topic.alias("topic"),
        text.alias("text"),
    )


def request_batch(df: DataFrame) -> DataFrame:
    """P5: strip to the {content_id, text} pairs sent to model services."""
    return df.select("content_id", "text")


def nullify_empty(col: Column) -> Column:
    """K3 optional-attribute semantics: empty string stored as absent."""
    return F.when(col != "", col)


def shape_result(df: DataFrame) -> DataFrame:
    """K3: final serving-store projection with null-elision for optional
    text fields. (created_at/ttl stamping lives in the sink writer, where
    processing time belongs; see streaming.sinks.)"""
    return df.select(
        "content_id",
        "source",
        "topic",
        nullify_empty(F.col("text")).alias("text"),
        nullify_empty(F.col("original_text")).alias("original_text"),
        "was_summarized",
        "sentiment_score",
        nullify_empty(F.col("sentiment_label")).alias("sentiment_label"),
        "confidence",
    )
