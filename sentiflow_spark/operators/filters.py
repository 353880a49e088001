"""Filters and the length router (SURVEY §2.4, F1–F3/F5).

- F1 empty-content filter: ``internal/producer/fetch.go:157``.
- F2 low-value summary filter: ``internal/consumers/summary_consumer.go:100-104``.
- F3 length router (>1024 **bytes** — Go ``len`` counts bytes, so the
  Spark expression is ``octet_length``, not ``length``):
  ``internal/consumers/raw_content_consumer.go:55-58``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ROUTER_THRESHOLD_BYTES = 1024  # reference constant


def useful_summary(df: DataFrame, summary: str = "summary", text: str = "text") -> DataFrame:
    """F2: drop summaries that are empty or identical to the source text."""
    return df.filter((F.col(summary) != "") & (F.col(summary) != F.col(text)))


def needs_summary(col: Column, threshold: int = ROUTER_THRESHOLD_BYTES) -> Column:
    """F3 predicate — byte length, for parity with Go ``len()``."""
    return F.octet_length(col) > threshold


def route_by_length(
    df: DataFrame, col: str = "text", threshold: int = ROUTER_THRESHOLD_BYTES
) -> tuple[DataFrame, DataFrame]:
    """F3: (long_branch, short_branch). Two filtered branches of one
    plan — Catalyst pushes both predicates to the scan; no materialized
    split, no shuffle."""
    pred = needs_summary(F.col(col), threshold)
    return df.filter(pred), df.filter(~pred)
