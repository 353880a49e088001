"""Declared queries for the sentiflow pipeline operators (SURVEY §2.10).

Each query exercises one (or a chain of) reference operators on the
synthetic tables and carries a DuckDB oracle. The documents table plays
the content stream (topic := lang, source := source, post_id := doc_id);
events plays the generic keyed stream.

Router threshold note: reference routes at 1024 *bytes*
(``internal/consumers/raw_content_consumer.go:55``); the synthetic
documents max out at 558 chars, so declared queries use 256 to keep both
branches non-empty. The operator library default remains 1024.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from sentiflow_spark.operators.filters import route_by_length
from sentiflow_spark.operators.joins import (
    anti_join_stored,
    expand_topics_by_category,
    score_join_back,
)
from sentiflow_spark.operators.projections import request_batch
from sentiflow_spark.pipeline.batch import (
    DUCK_RAW,
    documents_as_raw_content,
    sentiment_pipeline,
)
from sentiflow_spark.pipeline.stubs import (
    DUCK_LABEL,
    DUCK_SCORE,
    stub_sentiment,
)
from sentiflow_spark.queries.registry import register
from sentiflow_spark.tables import load

ROUTER_T = 256


@register(
    "pl_raw_content_projection",
    oracle=f"""
    SELECT content_id, source, topic, text FROM ({DUCK_RAW})
    """,
    tags=("pipeline", "projection", "P2", "E2", "E3"),
    doc="P2: deterministic sha256 content ids (fetch.go:178-198 parity).",
)
def pl_raw_content_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return documents_as_raw_content(load(spark, sf_dir, "documents"))


@register(
    "pl_route_long",
    oracle=f"SELECT content_id, text FROM ({DUCK_RAW}) WHERE strlen(text) > {ROUTER_T}",
    tags=("pipeline", "filter", "F3", "E1"),
    doc="F3 router long branch — byte-length semantics (octet_length).",
)
def pl_route_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = documents_as_raw_content(load(spark, sf_dir, "documents"))
    long_b, _ = route_by_length(raw, threshold=ROUTER_T)
    return long_b.select("content_id", "text")


@register(
    "pl_route_short",
    oracle=f"SELECT content_id, text FROM ({DUCK_RAW}) WHERE strlen(text) <= {ROUTER_T}",
    tags=("pipeline", "filter", "F3", "E1"),
    doc="F3 router short branch.",
)
def pl_route_short(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = documents_as_raw_content(load(spark, sf_dir, "documents"))
    _, short_b = route_by_length(raw, threshold=ROUTER_T)
    return short_b.select("content_id", "text")


@register(
    "pl_score_joinback",
    oracle=f"""
    WITH raw AS ({DUCK_RAW}),
    scores AS (
      SELECT content_id, {DUCK_SCORE} AS sentiment_score,
             {DUCK_LABEL.format(s=DUCK_SCORE)} AS sentiment_label,
             abs({DUCK_SCORE}) AS confidence
      FROM raw WHERE length(text) % 47 <> 0
    )
    SELECT r.content_id,
           coalesce(s.sentiment_score, 0.0) AS sentiment_score,
           coalesce(s.sentiment_label, '') AS sentiment_label,
           coalesce(s.confidence, 0.0) AS confidence
    FROM raw r LEFT JOIN scores s USING (content_id)
    """,
    tags=("pipeline", "join", "J1", "F5", "U3"),
    doc="J1 left score join-back with the F5 zero-value missing-score quirk.",
)
def pl_score_joinback(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = documents_as_raw_content(load(spark, sf_dir, "documents"))
    scores = stub_sentiment(request_batch(raw))
    return score_join_back(raw, scores).select(
        "content_id", "sentiment_score", "sentiment_label", "confidence"
    )


@register(
    "pl_e2e_results",
    oracle=f"""
    WITH raw AS ({DUCK_RAW}),
    sa AS (SELECT *, FALSE AS was_summarized, CAST(NULL AS VARCHAR) AS original_text FROM raw),
    long_b AS (SELECT * FROM sa WHERE strlen(text) > {ROUTER_T}),
    short_b AS (SELECT * FROM sa WHERE strlen(text) <= {ROUTER_T}),
    summaries AS (SELECT content_id, substr(text, 1, 128) AS summary FROM long_b),
    summarized AS (
      SELECT l.content_id, l.source, l.topic, s.summary AS text,
             TRUE AS was_summarized, l.text AS original_text
      FROM long_b l JOIN summaries s USING (content_id)
      WHERE s.summary <> '' AND s.summary <> l.text
    ),
    united AS (
      SELECT content_id, source, topic, text, was_summarized, original_text FROM short_b
      UNION ALL
      SELECT content_id, source, topic, text, was_summarized, original_text FROM summarized
    ),
    scores AS (
      SELECT content_id, {DUCK_SCORE} AS sentiment_score,
             {DUCK_LABEL.format(s=DUCK_SCORE)} AS sentiment_label,
             abs({DUCK_SCORE}) AS confidence
      FROM united WHERE length(text) % 47 <> 0
    )
    SELECT u.content_id, u.source, u.topic,
           nullif(u.text, '') AS text,
           nullif(u.original_text, '') AS original_text,
           u.was_summarized,
           coalesce(s.sentiment_score, 0.0) AS sentiment_score,
           nullif(coalesce(s.sentiment_label, ''), '') AS sentiment_label,
           coalesce(s.confidence, 0.0) AS confidence
    FROM united u LEFT JOIN scores s USING (content_id)
    """,
    tags=("pipeline", "e2e", "flagship"),
    doc="Flagship: the full 4-stage sentiment dataflow as one batch plan.",
)
def pl_e2e_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = documents_as_raw_content(load(spark, sf_dir, "documents"))
    return sentiment_pipeline(raw, router_threshold=ROUTER_T)


@register(
    "pl_topic_expand",
    oracle="""
    WITH dim AS (
      SELECT n_regionkey AS r_regionkey, list(n_name ORDER BY n_name) AS nations
      FROM nation GROUP BY n_regionkey
    )
    SELECT r.r_name AS region_name, unnest(dim.nations) AS nation_name
    FROM region r JOIN dim USING (r_regionkey)
    """,
    tags=("pipeline", "join", "J3", "A1"),
    doc="J3: broadcast dim join + array explode (category→subreddits analog).",
)
def pl_topic_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    dim = nation.groupBy(F.col("n_regionkey").alias("r_regionkey")).agg(
        F.sort_array(F.collect_list("n_name")).alias("subreddits")
    ).withColumnRenamed("r_regionkey", "category")
    topics = region.select(F.col("r_regionkey").alias("category"), F.col("r_name"))
    return expand_topics_by_category(topics, dim).select(
        F.col("r_name").alias("region_name"), F.col("subreddit").alias("nation_name")
    )


@register(
    "pl_anti_join_seen",
    oracle="""
    WITH seen AS (
      SELECT DISTINCT event_type, user_id FROM events WHERE event_id % 7 = 0
    )
    SELECT e.event_id, e.event_type, e.user_id
    FROM events e
    WHERE NOT EXISTS (
      SELECT 1 FROM seen s
      WHERE s.event_type = e.event_type AND s.user_id = e.user_id
    )
    """,
    tags=("pipeline", "join", "J4", "J5"),
    doc="J5: anti-join vs seen-keys state (Valkey processed-posts analog).",
)
def pl_anti_join_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    seen = events.filter(F.col("event_id") % 7 == 0).select("event_type", "user_id")
    return anti_join_stored(events, seen, ["event_type", "user_id"]).select(
        "event_id", "event_type", "user_id"
    )


@register(
    "pl_dedup_first_wins",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    tags=("pipeline", "dedup", "A2"),
    doc="A2: deterministic first-wins dedup by key (row_number tiebreak).",
)
def pl_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy("lang", "source").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


@register(
    "pl_json_extract",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           event_type, value
    FROM events WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
    """,
    tags=("pipeline", "projection", "P6"),
    doc="P6: JSON field extraction + pushdown-friendly filter.",
)
def pl_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return events.select("event_id", k.alias("k"), "event_type", "value").filter(
        F.col("k") > 50
    )


from sentiflow_spark.pipeline.topics import duck_category_from_lang as _duck_cat


@register(
    "pl_topic_generation",
    oracle=f"""
    WITH topics AS (
      SELECT text AS title,
             concat_ws(' ', string_split(text, ' ')[1], string_split(text, ' ')[2])
               AS topic,
             {_duck_cat('lang')} AS category,
             'https://doc/' || doc_id AS url
      FROM documents
    ),
    deduped AS (
      SELECT title, topic, category, url FROM (
        SELECT *, row_number() OVER (PARTITION BY url ORDER BY title) AS rn
        FROM topics WHERE url <> ''
      ) WHERE rn = 1
    ),
    stored AS (SELECT 'https://doc/' || doc_id AS url FROM documents WHERE doc_id % 5 = 0)
    SELECT d.title, d.topic, d.category, d.url
    FROM deduped d
    WHERE NOT EXISTS (SELECT 1 FROM stored s WHERE s.url = d.url)
    """,
    tags=("pipeline", "U1", "A2", "J4", "P7"),
    doc="Topic-generation job: U1 stub extraction → A2 url dedup → J4 "
    "anti-join vs a read-once stored snapshot (topic_generation.go:20-58).",
)
def pl_topic_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.pipeline.topics import generate_topics

    docs = load(spark, sf_dir, "documents")
    stored = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.concat(F.lit("https://doc/"), F.col("doc_id")).alias("url")
    )
    return generate_topics(docs, stored)


@register(
    "pl_result_ttl",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS created_at,
           strftime(ts + INTERVAL 24 HOURS, '%Y-%m-%d %H:%M:%S') AS ttl
    FROM events
    """,
    tags=("pipeline", "projection", "K3", "W2", "E7"),
    doc="W2: 24h TTL stamping (dynamodb.go:34,200-201 parity).",
)
def pl_result_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("created_at"),
        F.date_format(
            F.col("ts") + F.expr("INTERVAL 24 HOURS"), "yyyy-MM-dd HH:mm:ss"
        ).alias("ttl"),
    )


@register(
    "pl_nested_flatten",
    oracle="SELECT event_type, event_id, user_id FROM events",
    tags=("pipeline", "projection", "P1", "nested"),
    doc="P1 parity (reddit_client.go:220-244): pack rows into an "
    "array-of-structs per key (the data.children[].data shape), then "
    "flatten back with explode + struct-field projection. The oracle "
    "is the identity — pack followed by unpack must lose nothing; "
    "sort_array makes the nested ordering deterministic.",
)
def pl_nested_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    packed = ev.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("event_id", "user_id"))).alias(
            "children"
        )
    )
    return packed.select("event_type", F.explode("children").alias("c")).select(
        "event_type", F.col("c.event_id").alias("event_id"),
        F.col("c.user_id").alias("user_id")
    )


@register(
    "pl_datasource_reddit_search",
    oracle="""
    SELECT s.sub AS subreddit, t.topic,
           s.sub || '-' || t.topic || '-' || p.page || '-' || i.i AS post_id,
           t.topic || ' post ' || i.i || ' on r/' || s.sub
             || ' (page ' || p.page || ')' AS title,
           'body ' || s.sub || '/' || t.topic || '/' || p.page || '/' || i.i
             AS selftext,
           'u' || i.i AS author,
           CAST(1700000000.0 + p.page * 100 + i.i AS DOUBLE) AS created_utc,
           CAST(p.page AS INT) AS page_idx
    FROM (VALUES ('golang'), ('dataengineering')) s(sub)
    CROSS JOIN (VALUES ('spark'), ('duckdb')) t(topic)
    CROSS JOIN (SELECT unnest(range(0, 3)) AS page) p
    CROSS JOIN (SELECT unnest(range(0, 5)) AS i) i
    """,
    tags=("pipeline", "S4", "datasource"),
    doc="S4 executed through the PySpark 4 custom DataSource "
    "(sources/http_source.py): spark.read.format('reddit_search') "
    "with one InputPartition per (subreddit, topic) pagination chain, "
    "the fixture transport answering from the REAL "
    "build_reddit_search_url request URLs. The fixture is a pure "
    "function of the crawl plan, so the oracle GENERATES the exact "
    "expected rows in SQL — a full value-hash check of the "
    "distributed source path (partitioning, cursor chains, schema), "
    "not just a row count. sf_dir is unused: the source under test is "
    "the HTTP-shaped one, not the tables.",
)
def pl_datasource_reddit_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.sources.http_source import RedditSearchDataSource

    spark.dataSource.register(RedditSearchDataSource)
    return (
        spark.read.format("reddit_search")
        .option("subreddits", "golang,dataengineering")
        .option("topics", "spark,duckdb")
        .option("transport", "fixture")
        .load()
    )
