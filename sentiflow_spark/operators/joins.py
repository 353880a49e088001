"""Join operators (SURVEY §2.5, J1–J5).

The reference hand-rolls build-side hash maps per micro-batch — i.e.
broadcast hash equi-joins. Here every join is declared on the DataFrame
API and the small side is hinted with ``broadcast()`` so the plan never
shuffles the big side:

- J1 score join-back (left outer + zero-value fill, the F5 quirk):
  ``internal/consumers/sentiment_analysis_consumer.go:64-79,117-125``.
- J3 category→subreddits dim expansion: ``internal/producer/fetch.go:49-57,77-90``.
- J4/J5 anti-joins (stored topics / processed posts):
  ``internal/topic_generation/topic_generation.go:219-236``,
  ``internal/producer/fetch.go:155-159``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def score_join_back(requests: DataFrame, scores: DataFrame) -> DataFrame:
    """J1 + F5: left join scores onto requests by content_id; a missing
    score yields the reference's zero-value row (score 0.0, empty label,
    confidence 0.0) — NOT null. Scores are one micro-batch of model
    output → always broadcastable."""
    joined = requests.join(F.broadcast(scores), "content_id", "left")
    return (
        joined.withColumn("sentiment_score", F.coalesce("sentiment_score", F.lit(0.0)))
        .withColumn("sentiment_label", F.coalesce("sentiment_label", F.lit("")))
        .withColumn("confidence", F.coalesce("confidence", F.lit(0.0)))
    )


def expand_topics_by_category(topics: DataFrame, category_dim: DataFrame) -> DataFrame:
    """J3: broadcast the static category→subreddits dimension and
    explode to one row per (topic, subreddit)."""
    return topics.join(F.broadcast(category_dim), "category").withColumn(
        "subreddit", F.explode("subreddits")
    ).drop("subreddits")


def anti_join_stored(new_rows: DataFrame, stored: DataFrame, key: str | list[str]) -> DataFrame:
    """J4/J5: drop rows whose key already exists in the stored table.
    At scale the stored side is large → this is a shuffle anti-join;
    AQE converts it to broadcast when the stored side is small."""
    keys = [key] if isinstance(key, str) else list(key)
    return new_rows.join(stored.select(*keys).dropDuplicates(keys), keys, "left_anti")


def binned_range_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_val: str,
    tolerance: float,
    equi_keys: "Sequence[tuple[str, str]]" = (),
) -> DataFrame:
    """Fact-fact proximity join: pairs where
    ``|left_val - right_val| <= tolerance``, without a nested loop.

    The naive theta join is a cartesian at scale (Spark plans
    BroadcastNestedLoop or CartesianProduct for pure non-equi
    conditions — O(n*m) comparisons). Binning makes it an equi-join:
    bucket both sides by ``floor(val / tolerance)``; any qualifying
    pair is at most one bin apart, so exploding the left side into
    its 3 candidate bins and equi-joining on the bin id bounds the
    comparisons to true neighbors. Shuffle is hash(bin) — add the
    residual predicate after the join. The standard trick behind
    range-join optimizers (e.g. the bin-based range joins documented
    for Spark-based lakehouse engines); cost scales with pair
    density, not |L|×|R|.

    ``equi_keys``: (left_col, right_col) pairs to fold into the
    equi-join condition alongside the bin — any exact-match
    constraint (same user, same day) MUST ride the shuffle key, not
    the residual: as a residual it would cross-join everything
    sharing a value bin before filtering, and the shuffle would
    carry the blowup.
    """
    lbin = F.floor(F.col(left_val) / tolerance)
    l3 = left.withColumn(
        "_bin", F.explode(F.array(lbin - 1, lbin, lbin + 1))
    )
    r = right.withColumn("_bin", F.floor(F.col(right_val) / tolerance))
    cond = l3["_bin"] == r["_bin"]
    for lk, rk in equi_keys:
        cond = cond & (l3[lk] == r[rk])
    joined = l3.join(r, cond).drop("_bin")
    return joined.filter(F.abs(F.col(left_val) - F.col(right_val)) <= tolerance)
