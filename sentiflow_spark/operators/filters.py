"""The length router (SURVEY §2.4, F3). The F2 summary filter and F5
zero-value fill live in ``pipeline.batch.sentiment_pipeline``.

- F3 length router (>1024 **bytes** — Go ``len`` counts bytes, so the
  Spark expression is ``octet_length``, not ``length``):
  ``internal/consumers/raw_content_consumer.go:55-58``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ROUTER_THRESHOLD_BYTES = 1024  # reference constant


def needs_summary(col: Column, threshold: int = ROUTER_THRESHOLD_BYTES) -> Column:
    """F3 predicate — byte length, for parity with Go ``len()``."""
    return F.octet_length(col) > threshold


def route_by_length(
    df: DataFrame, threshold: int = ROUTER_THRESHOLD_BYTES
) -> tuple[DataFrame, DataFrame]:
    """F3: (long_branch, short_branch). Two filtered branches of one
    plan — Catalyst pushes both predicates to the scan; no materialized
    split, no shuffle."""
    pred = needs_summary(F.col("text"), threshold)
    return df.filter(pred), df.filter(~pred)
