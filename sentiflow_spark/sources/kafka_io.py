"""Kafka source/sink wiring (SURVEY §2.1 S1–S3, §2.2 K1).

The reference hand-builds consumers/producers with transactions,
manual commit-after-durable, retry/backoff, and offset tracking
(``internal/clients/kafka_client/consumer.go:10-40``,
``producer.go:53-70,97-208``, ``message_iterator.go:27-73``). On Spark
every one of those concerns is subsumed:

- offsets live in the checkpoint (no consumer-group commits; S2's
  ``auto.offset.reset=earliest`` ≙ ``startingOffsets=earliest``),
- retries/backoff are task retries + source re-reads,
- exactly-once to idempotent sinks = checkpoint + deterministic keys
  (the reference's own design: sha256 content ids + PK-overwrite),
- ``isolation.level=read_committed`` is the Spark Kafka default.

This module is pure configuration plus the wire projections: no
broker runs in the test environment and pyspark ships no
``spark-sql-kafka`` connector, so the jobs stream file sources
(streaming/dag.py) — the reference itself ships the same
escape hatch (``GetTopHeadlinesFromFile``,
``internal/clients/newsapi_client.go:279-297``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Topic names mirror internal/clients/kafka_client/constants.go:5-10.
TOPIC_RAW_CONTENT = "raw-content"
TOPIC_SUMMARY_REQUEST = "summary-request"
TOPIC_SENTIMENT_REQUEST = "sentiment-request"
TOPIC_SENTIMENT_RESULTS = "sentiment-results"


def kafka_source_options(
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """S1/S2 consumer contract as an options dict (unit-testable
    without a broker): earliest offsets ≙ the reference's
    ``auto.offset.reset=earliest`` (consumer.go:10-40), no data-loss
    failure so a pruned topic replays from what remains."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def parse_kafka_json(raw: DataFrame, schema: T.StructType) -> DataFrame:
    """P6 decode of Kafka's wire shape (key/value binary + timestamp)
    into typed columns: apply it to ``spark.readStream.format("kafka")
    .options(**kafka_source_options(...)).load()``. Unit-testable
    without a broker — any DataFrame with Kafka's column layout works."""
    return raw.select(
        F.col("key").cast("string").alias("kafka_key"),
        F.from_json(F.col("value").cast("string"), schema).alias("v"),
        "timestamp",
    ).select("kafka_key", "v.*", F.col("timestamp").alias("kafka_ts"))


def kafka_sink_options(brokers: str, topic: str, checkpoint: str) -> dict[str, str]:
    """K1 producer contract as an options dict (unit-testable without
    a broker)."""
    return {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
        "checkpointLocation": checkpoint,
    }


def keyed_json_payload(df: DataFrame, key_col: str) -> DataFrame:
    """Kafka wire projection for K1 writes: key = the deterministic
    content key (reference keys messages by content_id so downstream
    consumers/serving dedup by PK), value = full-row JSON. Batch
    publishes (jobs.py ingest) and a ``writeStream.format("kafka")``
    with ``kafka_sink_options`` share this wire shape, and tests drive
    it without a broker."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*[c for c in df.columns])).alias("value"),
    )
