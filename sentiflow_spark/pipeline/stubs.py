"""Deterministic stand-ins for the reference's remote model services
(SURVEY §2.9 U1–U3). Real deployments swap these for pandas-UDF
adapters (see pipeline.model_udfs); tests and the DuckDB oracle always
run the stubs, which are pure Column expressions — SQL-expressible in
both engines so every pipeline dataflow is hash-checkable.

Stub contracts (FIXTURES.md §7–8):
- summary  = substr(text, 1, 128)                    (U2 analog)
- score    = ((n * 37 + 11) % 2001 - 1000) / 1000.0  (U3 analog, n = char length)
- a slice of ids is deliberately *omitted* from score output
  (n % 47 == 0) to exercise the missing-score zero-value quirk F5
  (``internal/consumers/sentiment_analysis_consumer.go:66-78``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SUMMARY_PREFIX_LEN = 128
SCORE_MISSING_MOD = 47  # ids where length(text) % 47 == 0 get no score row


def stub_summary_col(text: Column) -> Column:
    return F.substring(text, 1, SUMMARY_PREFIX_LEN)


def stub_summarize(requests: DataFrame) -> DataFrame:
    """U2 stub: {content_id, text} → {content_id, summary}."""
    return requests.select("content_id", stub_summary_col(F.col("text")).alias("summary"))


def stub_score_col(text: Column) -> Column:
    """Deterministic lexicon-free scorer in [-1, 1]."""
    n = F.length(text).cast("long")
    return ((n * 37 + 11) % 2001 - 1000) / F.lit(1000.0)


def stub_label_col(score: Column) -> Column:
    return (
        F.when(score > 0.05, "positive")
        .when(score < -0.05, "negative")
        .otherwise("neutral")
    )


def stub_sentiment(requests: DataFrame) -> DataFrame:
    """U3 stub: {content_id, text} → scores; drops n%47==0 rows to
    simulate the model service returning no result for some ids."""
    score = stub_score_col(F.col("text"))
    return (
        requests.filter(F.length("text") % SCORE_MISSING_MOD != 0)
        .select(
            "content_id",
            score.alias("sentiment_score"),
            stub_label_col(score).alias("sentiment_label"),
            F.abs(score).alias("confidence"),
        )
    )


# Shared DuckDB fragments (kept adjacent to the Spark definitions so the
# two renderings cannot drift).
DUCK_SCORE = "((length(text) * 37 + 11) % 2001 - 1000) / 1000.0"
DUCK_LABEL = (
    "CASE WHEN {s} > 0.05 THEN 'positive' "
    "WHEN {s} < -0.05 THEN 'negative' ELSE 'neutral' END"
)
