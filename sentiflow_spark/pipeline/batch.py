"""The sentiment dataflow (SURVEY §3.2), one function for batch and stream.

The reference runs this as four Kafka-connected consumer processes and
joins model output back by content id (J1/J2) only because its models
sit behind HTTP. Here the models are pure Column stubs
(pipeline/stubs.py), so the whole flow is one filter and one projection
over one scan of the source:

    raw content → keep short rows and long rows with a useful summary
      → (long) swap the summary in → score on-row → zero-value fill
      → result shaping

No join, no union, no exchange: Catalyst compiles it into a single
WholeStageCodegen stage, and every input row yields at most one output
row. The streaming deployment runs this same function
(``streaming.dag.streaming_sentiment_flow`` is bound to it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sentiflow_spark.operators.filters import needs_summary
from sentiflow_spark.operators.projections import shape_result, to_raw_content
from sentiflow_spark.pipeline.stubs import (
    SCORE_MISSING_MOD,
    stub_label_col,
    stub_score_col,
    stub_summary_col,
)


def documents_as_raw_content(documents: DataFrame) -> DataFrame:
    """Adapt the synthetic documents table to the RawContent record:
    topic := lang, source := source, post_id := doc_id."""
    return to_raw_content(
        documents,
        topic=F.col("lang"),
        source=F.col("source"),
        post_id=F.col("doc_id"),
        text=F.col("text"),
    )


# DuckDB rendering of ``documents_as_raw_content`` for the oracles.
DUCK_RAW = (
    "SELECT sha256(concat_ws(':', lang, source, doc_id)) AS content_id, "
    "source, lang AS topic, text FROM documents"
)


def sentiment_pipeline(raw: DataFrame, router_threshold: int = 1024) -> DataFrame:
    """Full dataflow from RawContent to shaped results.

    - F3 length router (``internal/consumers/raw_content_consumer.go:55-58``):
      a row is long when its text exceeds ``router_threshold`` bytes.
    - F2 low-value summary filter (``internal/consumers/summary_consumer.go:100-104``):
      a long row is dropped when its summary is empty or equals its text.
    - P3 RawContent→SentimentInput (``internal/utils/raw_to_sa_input.go:7-13``)
      and P4 summarized-input rebuild
      (``internal/consumers/summary_consumer.go:184-197``):
      a long row carries its summary as ``text``, keeps the original in
      ``original_text`` and is flagged ``was_summarized``.
    - F5 missing-score quirk
      (``internal/consumers/sentiment_analysis_consumer.go:66-78``):
      rows the score stub omits (``length(text) % SCORE_MISSING_MOD == 0``)
      get score 0.0, an empty label and confidence 0.0, not nulls.
    """
    text = F.col("text")
    long = needs_summary(text, router_threshold)
    summary = stub_summary_col(text)
    new_text = F.when(long, summary).otherwise(text)
    score = stub_score_col(new_text)
    missing = F.length(new_text) % SCORE_MISSING_MOD == 0
    kept = raw.filter(~long | ((summary != "") & (summary != text)))
    return shape_result(
        kept.select(
            "content_id",
            "source",
            "topic",
            new_text.alias("text"),
            F.when(long, text).alias("original_text"),
            long.alias("was_summarized"),
            F.when(missing, 0.0).otherwise(score).alias("sentiment_score"),
            F.when(missing, "").otherwise(stub_label_col(score)).alias("sentiment_label"),
            F.when(missing, 0.0).otherwise(F.abs(score)).alias("confidence"),
        )
    )
