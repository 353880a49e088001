"""K2/K3/W2 sink semantics: keyed MERGE upsert, idempotent replay,
TTL stamping + retention sweep, and the streaming foreachBatch path."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from sentiflow_spark.streaming.dag import load_stream
from sentiflow_spark.streaming.sinks import merge_upsert, results_sink, stamp_ttl


def _read(spark, path):
    return spark.read.parquet(path)


def test_merge_upsert_insert_then_update(spark):
    path = os.path.join(tempfile.mkdtemp(), "tbl")
    b1 = spark.createDataFrame(
        [("a", 1), ("b", 2)], ["content_id", "v"]
    )
    merge_upsert(spark, b1, path, "content_id")
    assert {(r.content_id, r.v) for r in _read(spark, path).collect()} == {
        ("a", 1),
        ("b", 2),
    }
    # update a, insert c
    b2 = spark.createDataFrame([("a", 10), ("c", 3)], ["content_id", "v"])
    merge_upsert(spark, b2, path, "content_id")
    assert {(r.content_id, r.v) for r in _read(spark, path).collect()} == {
        ("a", 10),
        ("b", 2),
        ("c", 3),
    }


def test_merge_upsert_replay_idempotent(spark):
    """At-least-once replay of the same batch converges (exactly-once
    to the serving table — the reference's K1+K2 design goal)."""
    path = os.path.join(tempfile.mkdtemp(), "tbl")
    batch = spark.createDataFrame([("a", 1), ("b", 2)], ["content_id", "v"])
    merge_upsert(spark, batch, path, "content_id")
    once = sorted((r.content_id, r.v) for r in _read(spark, path).collect())
    merge_upsert(spark, batch, path, "content_id")
    twice = sorted((r.content_id, r.v) for r in _read(spark, path).collect())
    assert once == twice == [("a", 1), ("b", 2)]


def test_merge_upsert_leaves_untouched_buckets_alone(spark):
    """The scale property of the bucket-scoped merge: a batch touching
    one key must not read or rewrite bucket partitions that key doesn't
    live in — their files (names, bytes, mtimes) stay identical."""
    import glob

    path = os.path.join(tempfile.mkdtemp(), "tbl")
    keys = [f"k{i}" for i in range(200)]
    b1 = spark.createDataFrame([(k, 1) for k in keys], ["content_id", "v"])
    merge_upsert(spark, b1, path, "content_id")
    dirs = glob.glob(f"{path}/_bucket=*")
    assert len(dirs) > 4  # 200 keys spread over many buckets

    def snapshot():
        return {
            f: (os.path.getmtime(f), os.path.getsize(f))
            for f in glob.glob(f"{path}/_bucket=*/part-*")
        }

    before = snapshot()
    merge_upsert(
        spark, spark.createDataFrame([("k0", 99)], ["content_id", "v"]), path, "content_id"
    )
    after = snapshot()

    hit = spark.createDataFrame([("k0",)], ["content_id"]).select(
        F.pmod(F.hash("content_id"), F.lit(64)).alias("b")
    ).collect()[0]["b"]
    untouched_before = {f: v for f, v in before.items() if f"/_bucket={hit}/" not in f}
    untouched_after = {f: v for f, v in after.items() if f"/_bucket={hit}/" not in f}
    assert untouched_before == untouched_after  # bytes+mtime identical
    # and the update really landed
    got = {(r.content_id, r.v) for r in _read(spark, path).collect()}
    assert ("k0", 99) in got and len(got) == 200


def test_merge_upsert_partition_col_converges_to_fold(spark):
    """Convergence property of the clustered MERGE with a domain
    partition column: applying ANY sequence of batches (unique keys
    within a batch; a key's partition fixed across batches — the
    documented contract) leaves the table equal to the last-write-wins
    dict fold of the batches. Randomized over batch count, batch
    composition, and key→partition assignment; replaying the final
    batch must be a no-op (idempotence under at-least-once delivery)."""
    import random

    rng = random.Random(0xC0FFEE)
    keys = [f"k{i}" for i in range(40)]
    for trial in range(3):
        part_of = {k: rng.randrange(5) for k in keys}  # fixed per key
        path = os.path.join(tempfile.mkdtemp(), "tbl")
        model: dict[str, int] = {}
        batches = []
        for b in range(rng.randint(2, 5)):
            batch_keys = rng.sample(keys, rng.randint(1, 25))
            rows = [(k, part_of[k], rng.randrange(1000)) for k in batch_keys]
            batches.append(rows)
            for k, _, v in rows:
                model[k] = v
        for rows in batches:
            merge_upsert(
                spark,
                spark.createDataFrame(rows, ["key", "part", "v"]),
                path,
                key="key",
                partition_col="part",
            )
        got = {(r.key, r.part, r.v) for r in _read(spark, path).collect()}
        want = {(k, part_of[k], v) for k, v in model.items()}
        assert got == want, f"trial {trial}: fold mismatch"
        # at-least-once replay of the last batch converges
        merge_upsert(
            spark,
            spark.createDataFrame(batches[-1], ["key", "part", "v"]),
            path,
            key="key",
            partition_col="part",
        )
        assert {(r.key, r.part, r.v) for r in _read(spark, path).collect()} == want


def _bucket_count(df, key="content_id"):
    return df.select(F.pmod(F.hash(key), F.lit(64))).distinct().count()


def _tree(path):
    """Every file under ``path`` (hidden ones too) → (size, mtime)."""
    return {
        os.path.join(d, f): (os.path.getsize(os.path.join(d, f)),
                             os.path.getmtime(os.path.join(d, f)))
        for d, _, fs in os.walk(path)
        for f in fs
    }


def test_merge_upsert_file_uri_table_path(spark):
    """A ``file://`` table path is recognised as an existing table: the
    second merge folds into the first instead of overwriting the
    batch's buckets with only its own rows."""
    path = "file://" + os.path.join(tempfile.mkdtemp(), "tbl")
    keys = [f"k{i}" for i in range(200)]
    merge_upsert(
        spark, spark.createDataFrame([(k, 1) for k in keys], ["content_id", "v"]),
        path, "content_id",
    )
    merge_upsert(
        spark, spark.createDataFrame([("k0", 2), ("new", 3)], ["content_id", "v"]),
        path, "content_id",
    )
    got = {(r.content_id, r.v) for r in _read(spark, path).collect()}
    assert got == {(k, 1) for k in keys[1:]} | {("k0", 2), ("new", 3)}


def test_load_stream_file_uri_parts_table(spark, sf_dir):
    """A ``file://`` directory-of-parts table streams every row: the
    layout check asks the Hadoop FileSystem, not ``os.path``."""
    from sentiflow_spark.streaming.dag import run_to_table
    from sentiflow_spark.tables import load

    root = tempfile.mkdtemp(prefix="sf_uri_parts_")
    try:
        docs = load(spark, sf_dir, "documents")
        docs.repartition(3).write.parquet(f"{root}/documents.parquet")
        uri = "file://" + root
        n = docs.count()
        assert load(spark, uri, "documents").count() == n
        assert run_to_table(load_stream(spark, uri, "documents")).count() == n
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_sentiment_pipeline_one_row_per_kept_input(spark):
    """Each routing case of the flow on hand-built rows, at a 150-byte
    threshold: a short row is scored as is; a long row carries its
    128-char summary; a long row whose summary equals its text is
    dropped (F2: 100 two-byte chars are 200 bytes but only 100 chars);
    a 47-char row gets the zero-value fill (F5); and a content_id sent
    twice yields one output row per input row, not a join fan-out."""
    from sentiflow_spark.pipeline.batch import sentiment_pipeline

    def scored(n):
        s = ((n * 37 + 11) % 2001 - 1000) / 1000.0
        label = "positive" if s > 0.05 else "negative" if s < -0.05 else "neutral"
        return s, label, abs(s)

    rows = [
        ("short", "good day"),
        ("long", "a" * 300),
        ("f2", "\u00e9" * 100),
        ("f5", "x" * 47),
        ("dup", "one"),
        ("dup", "three"),
    ]
    raw = spark.createDataFrame(
        [(cid, "src", "topic", text) for cid, text in rows],
        ["content_id", "source", "topic", "text"],
    )
    got = sentiment_pipeline(raw, router_threshold=150).collect()
    want = {
        ("short", "good day", None, False, *scored(8)),
        ("long", "a" * 128, "a" * 300, True, *scored(128)),
        ("f5", "x" * 47, None, False, 0.0, None, 0.0),
        ("dup", "one", None, False, *scored(3)),
        ("dup", "three", None, False, *scored(5)),
    }
    assert len(got) == len(want)
    assert {
        (r.content_id, r.text, r.original_text, r.was_summarized,
         r.sentiment_score, r.sentiment_label, r.confidence)
        for r in got
    } == want


def test_merge_upsert_single_pass_job_budget(spark):
    """A merge into an existing 64-bucket table, with a batch touching
    every bucket, runs exactly 3 Spark jobs (the pin of the batch, the
    write's shuffle map and result stages; the table's 64 directories
    are listed on the driver and its columns come from the batch, so
    neither the listing nor the schema runs a job) and evaluates the
    batch's plan exactly once: a Python UDF in ``new_rows`` sees each
    input row one time."""
    import uuid

    sc = spark.sparkContext
    path = os.path.join(tempfile.mkdtemp(), "tbl")
    merge_upsert(
        spark,
        spark.createDataFrame([(f"k{i}", 1) for i in range(2000)], ["content_id", "v"]),
        path,
        "content_id",
    )
    rows = [(f"k{i}", 2) for i in range(0, 2000, 2)] + [(f"n{i}", 3) for i in range(200)]
    batch = spark.createDataFrame(rows, ["content_id", "v"])
    assert _bucket_count(batch) == 64

    calls = sc.accumulator(0)

    def tap(k):
        calls.add(1)
        return k

    # the key goes through the UDF, so no plan that needs the touched
    # buckets can prune it away
    new_rows = batch.withColumn("content_id", F.udf(tap, "string")("content_id"))
    group = f"merge-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "merge_upsert job budget")
    try:
        merge_upsert(spark, new_rows, path, "content_id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs == 3, f"merge ran {n_jobs} Spark jobs"
    assert calls.value == len(rows), f"flow ran {calls.value / len(rows):g}x"
    got = dict(_read(spark, path).select("content_id", "v").collect())
    assert len(got) == 2200 and got["k0"] == 2 and got["k1"] == 1 and got["n0"] == 3


def test_merge_upsert_column_mismatch_raises(spark):
    """A batch whose columns differ from the table's — one extra, one
    missing — is refused before anything is written: the merge raises,
    and every file of the table keeps its bytes and mtime."""
    import pytest
    from pyspark.errors import AnalysisException

    path = os.path.join(tempfile.mkdtemp(), "tbl")
    merge_upsert(
        spark,
        spark.createDataFrame([(f"k{i}", 1) for i in range(300)], ["content_id", "v"]),
        path,
        "content_id",
    )

    def contents():
        tree = _tree(path)
        return {f: (stat, open(f, "rb").read()) for f, stat in tree.items()}

    before = contents()
    extra = spark.createDataFrame([("k1", 2, "x")], ["content_id", "v", "extra"])
    missing = spark.createDataFrame([("k2",), ("new",)], ["content_id"])
    for batch in (extra, missing):
        with pytest.raises((ValueError, AnalysisException)):
            merge_upsert(spark, batch, path, "content_id")
        assert contents() == before
    assert dict(_read(spark, path).select("content_id", "v").collect())["k1"] == 1


def test_merge_upsert_empty_batch_leaves_table_untouched(spark):
    """An empty batch rewrites nothing: every file of the table — part
    files, markers and checksums — keeps its name, size and mtime. The
    batch is empty only at run time, as a micro-batch whose rows were
    all filtered out is, so the merge's write path runs."""
    path = os.path.join(tempfile.mkdtemp(), "tbl")
    merge_upsert(
        spark,
        spark.createDataFrame([(f"k{i}", 1) for i in range(300)], ["content_id", "v"]),
        path,
        "content_id",
    )
    before = _tree(path)
    empty = spark.range(10).selectExpr("cast(id as string) content_id", "id v")
    merge_upsert(spark, empty.filter("v > 100"), path, "content_id")
    assert _tree(path) == before
    assert _read(spark, path).count() == 300


def test_merge_upsert_default_buckets_converges_to_fold(spark):
    """The in-place rewrite of every bucket at once (a batch touching
    all 64 default buckets, as a busy stream's micro-batch does) still
    equals the last-write-wins fold of the batches, replaying the last
    batch changes nothing, and no dynamic-overwrite staging directory
    is left behind."""
    import random

    rng = random.Random(0x5EED)
    keys = [f"k{i}" for i in range(1500)]
    path = os.path.join(tempfile.mkdtemp(), "tbl")
    model: dict[str, int] = {}
    batches = []
    for _ in range(3):
        rows = [(k, rng.randrange(10**6)) for k in rng.sample(keys, rng.randint(400, 900))]
        batches.append(rows)
        model.update(rows)
    for rows in batches:
        batch = spark.createDataFrame(rows, ["content_id", "v"])
        assert _bucket_count(batch) == 64
        merge_upsert(spark, batch, path, "content_id")
    got = sorted(map(tuple, _read(spark, path).select("content_id", "v").collect()))
    assert got == sorted(model.items())
    merge_upsert(
        spark, spark.createDataFrame(batches[-1], ["content_id", "v"]), path, "content_id"
    )
    again = sorted(map(tuple, _read(spark, path).select("content_id", "v").collect()))
    assert again == got
    assert not [n for n in os.listdir(path) if n.startswith(".spark-staging")]


def test_managed_ivf_index_reuse_and_rebuild(spark, sf_dir):
    """sim_ivf_served's managed index lifecycle: the first build
    commits Spark's _SUCCESS marker; a second invocation REUSES the
    index without rewriting a single file; a missing marker (killed
    partial build) forces a rebuild instead of serving partial bytes."""
    import glob

    from sentiflow_spark.queries.similarity_queries import (
        _managed_index_path,
        sim_ivf_served,
    )

    idx = _managed_index_path(sf_dir, "ivf_index")
    shutil.rmtree(idx, ignore_errors=True)
    n1 = sim_ivf_served(spark, sf_dir).count()
    snap = {f: os.path.getmtime(f) for f in glob.glob(f"{idx}/label=*/part-*")}
    assert snap and os.path.isfile(os.path.join(idx, "_SUCCESS"))
    assert sim_ivf_served(spark, sf_dir).count() == n1
    assert snap == {
        f: os.path.getmtime(f) for f in glob.glob(f"{idx}/label=*/part-*")
    }, "reuse path rewrote index files"
    os.remove(os.path.join(idx, "_SUCCESS"))  # simulate a killed build
    assert sim_ivf_served(spark, sf_dir).count() == n1
    assert os.path.isfile(os.path.join(idx, "_SUCCESS"))
    after = {f: os.path.getmtime(f) for f in glob.glob(f"{idx}/label=*/part-*")}
    assert after != snap, "missing commit marker did not trigger a rebuild"


def test_warm_streaming_engine_runs_and_cleans_up(spark):
    """The harness warm-up (bench.py / oracle_sweep run it before
    their clocks start) must execute end-to-end and leave no scratch
    dirs behind."""
    import glob

    from sentiflow_spark.streaming.dag import warm_streaming_engine

    pat = os.path.join(tempfile.gettempdir(), "sf_warmup_stream_*")
    before = set(glob.glob(pat))
    warm_streaming_engine(spark)
    assert set(glob.glob(pat)) == before


def test_ivf_upsert_rewrites_only_delta_labels(spark):
    """merge_upsert with a DOMAIN partition column (the sim_ivf_upsert
    path: partition_col='label', the IVF coarse bucket): a delta
    confined to two labels must leave every other label partition's
    files byte-identical, and the upserted table must equal the
    from-scratch rebuild over base∪delta with delta winning by key —
    the convergence property incremental index maintenance needs."""
    import glob

    path = os.path.join(tempfile.mkdtemp(), "idx")
    base = spark.createDataFrame(
        [(i, i % 8, 10 + i) for i in range(400)], ["vec_id", "label", "v"]
    )
    base.write.partitionBy("label").parquet(path)

    def snapshot():
        return {
            f: (os.path.getmtime(f), os.path.getsize(f))
            for f in glob.glob(f"{path}/label=*/part-*")
        }

    before = snapshot()
    # delta: update 3 vectors in label 0, insert 2 new ones in label 1
    delta = spark.createDataFrame(
        [(0, 0, 99), (8, 0, 99), (16, 0, 99), (1000, 1, 7), (1001, 1, 7)],
        ["vec_id", "label", "v"],
    )
    merge_upsert(spark, delta, path, key="vec_id", partition_col="label")
    after = snapshot()
    untouched_b = {f: v for f, v in before.items()
                   if "/label=0/" not in f and "/label=1/" not in f}
    untouched_a = {f: v for f, v in after.items()
                   if "/label=0/" not in f and "/label=1/" not in f}
    assert untouched_b and untouched_b == untouched_a
    got = {(r.vec_id, r.label, r.v) for r in _read(spark, path).collect()}
    want = {
        (i, i % 8, 99 if i in (0, 8, 16) else 10 + i) for i in range(400)
    } | {(1000, 1, 7), (1001, 1, 7)}
    assert got == want
    # replay converges (idempotent per batch)
    merge_upsert(spark, delta, path, key="vec_id", partition_col="label")
    assert {(r.vec_id, r.label, r.v) for r in _read(spark, path).collect()} == want
    # a pre-existing table missing the domain column is a caller error,
    # not a silent hash-bucket migration
    flat = os.path.join(tempfile.mkdtemp(), "flat")
    base.drop("label").write.parquet(flat)
    import pytest

    with pytest.raises(ValueError, match="lacks partition column"):
        merge_upsert(spark, delta, flat, key="vec_id", partition_col="label")


def test_ttl_stamp_and_retention(spark):
    path = os.path.join(tempfile.mkdtemp(), "tbl")
    old = stamp_ttl(
        spark.createDataFrame([("old", 1)], ["content_id", "v"]),
        now_expr="timestamp'2020-01-01 00:00:00'",
    )
    merge_upsert(spark, old, path, "content_id")
    fresh = stamp_ttl(spark.createDataFrame([("new", 2)], ["content_id", "v"]))
    # retention sweep drops rows whose ttl already passed
    merge_upsert(
        spark, fresh, path, "content_id", retention_cutoff_expr="current_timestamp()"
    )
    rows = _read(spark, path).collect()
    assert [r.content_id for r in rows] == ["new"]
    assert rows[0].ttl > rows[0].created_at


def test_streaming_foreach_batch_sink(spark, sf_dir):
    """events stream → foreachBatch MERGE → serving table has one row
    per key and carries created_at/ttl."""
    path = os.path.join(tempfile.mkdtemp(), "serving")
    ev = load_stream(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("content_id"), "event_type", "value"
    )
    q = (
        ev.writeStream.foreachBatch(results_sink(path))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_sink_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = _read(spark, path)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert got.count() == n_events
    assert got.filter(F.col("ttl") <= F.col("created_at")).count() == 0


def test_parse_kafka_json_wire_roundtrip(spark):
    """S1/P6: the Kafka value-decode projection, driven with a
    synthetic DataFrame in Kafka's wire layout (no broker needed) —
    to_json → parse round-trips keys, typed fields, and nulls."""
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from sentiflow_spark.sources.kafka_io import parse_kafka_json

    schema = T.StructType(
        [
            T.StructField("content_id", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("n", T.LongType()),
        ]
    )
    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("a", '{"content_id":"a","score":0.5,"n":1}', ts),
        ("b", '{"content_id":"b","score":-0.25,"n":2}', ts),
        ("c", '{"content_id":"c","n":3}', ts),  # score absent → null
    ]
    wire = spark.createDataFrame(rows, "key STRING, value STRING, timestamp TIMESTAMP").select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        "timestamp",
    )
    out = parse_kafka_json(wire, schema).orderBy("kafka_key").collect()
    assert [r["kafka_key"] for r in out] == ["a", "b", "c"]
    assert [r["n"] for r in out] == [1, 2, 3]
    assert out[0]["score"] == 0.5 and out[2]["score"] is None
    assert all(r["kafka_ts"] == ts for r in out)


def test_json_file_source_roundtrip(spark, sf_dir):
    """S6 (GetTopHeadlinesFromFile analog): write headlines as JSON
    lines, read back with a DECLARED schema (no inference — schema
    inference requires an extra full pass at 100 TB), and verify
    nothing is lost, including nested array-of-struct shapes."""
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from sentiflow_spark.tables import load

    d = tempfile.mkdtemp(prefix="sf_json_")
    try:
        # filter, not limit: bare limit's row pick is partition-order
        # dependent and may differ between the write and compare jobs
        docs = load(spark, sf_dir, "documents").filter("doc_id < 100")
        # NewsAPI-ish nested shape: {status, articles: [{title, url}]}
        nested = docs.groupBy("lang").agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("text").alias("title"),
                        F.concat(F.lit("https://doc/"), F.col("doc_id")).alias("url"),
                    )
                )
            ).alias("articles")
        ).withColumn("status", F.lit("ok"))
        nested.write.mode("overwrite").json(d)

        schema = T.StructType(
            [
                T.StructField("lang", T.StringType()),
                T.StructField(
                    "articles",
                    T.ArrayType(
                        T.StructType(
                            [
                                T.StructField("title", T.StringType()),
                                T.StructField("url", T.StringType()),
                            ]
                        )
                    ),
                ),
                T.StructField("status", T.StringType()),
            ]
        )
        back = spark.read.schema(schema).json(d)
        flat_in = nested.select("lang", F.explode("articles").alias("a")).select(
            "lang", "a.title", "a.url"
        )
        flat_out = back.select("lang", F.explode("articles").alias("a")).select(
            "lang", "a.title", "a.url"
        )
        assert flat_out.exceptAll(flat_in).count() == 0
        assert flat_in.exceptAll(flat_out).count() == 0
        # eqNullSafe: a schema misread decodes status as NULL, and
        # NULL != 'ok' would drop those rows and pass vacuously
        assert back.filter(~F.col("status").eqNullSafe("ok")).count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compact_fixes_small_files_and_preserves_rows(spark, sf_dir):
    """200 tiny input files -> size-targeted output; row multiset
    unchanged; sorted variant writes disjoint key ranges per file."""
    import glob
    import tempfile

    from pyspark.sql import functions as F

    from sentiflow_spark.sources.files import compact
    from sentiflow_spark.tables import load

    src = tempfile.mkdtemp(prefix="sf_frag_")
    dest = tempfile.mkdtemp(prefix="sf_compact_")
    try:
        li = load(spark, sf_dir, "lineitem")
        li.repartition(200).write.mode("overwrite").parquet(src)
        assert len(glob.glob(f"{src}/part-*")) == 200

        n = compact(spark, src, dest, sort_by=["l_shipdate"])
        out_files = glob.glob(f"{dest}/part-*")
        assert len(out_files) == n < 200

        back = spark.read.parquet(dest)
        assert back.count() == li.count()
        assert back.exceptAll(li).count() == 0

        # range-partitioned output: per-file [min,max] shipdate windows
        # don't interleave (what makes file-level skipping effective)
        spans = (
            back.withColumn("f", F.input_file_name())
            .groupBy("f")
            .agg(F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi"))
            .collect()
        )
        spans = sorted([(r["lo"], r["hi"]) for r in spans])
        for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
            assert hi_prev <= lo_next
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(dest, ignore_errors=True)


def test_streaming_checkpoint_incremental_recovery(spark, sf_dir):
    """The reference hand-manages Kafka offsets + transactional
    producers for exactly-once (internal/clients/kafka_client/
    producer.go:58-61); Structured Streaming's checkpoint replaces all
    of it. Pin that: run a file-source stream to a parquet sink with
    availableNow, add new input, rerun with the SAME checkpoint — the
    second run must process ONLY the new files (no reprocessing, no
    duplicates, no loss)."""
    import glob
    import tempfile

    from sentiflow_spark.tables import load

    src = tempfile.mkdtemp(prefix="sf_ck_src_")
    out = tempfile.mkdtemp(prefix="sf_ck_out_")
    ckpt = tempfile.mkdtemp(prefix="sf_ck_ckpt_")
    try:
        docs = load(spark, sf_dir, "documents")
        schema = docs.schema
        docs.filter("doc_id < 200").coalesce(1).write.mode("append").parquet(src)

        def run_once():
            q = (
                spark.readStream.schema(schema)
                .parquet(src)
                .withColumn("text_len", F.length("text"))
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_once()
        first = spark.read.parquet(out)
        n_first = first.count()
        assert n_first == docs.filter("doc_id < 200").count()
        files_after_first = set(glob.glob(f"{out}/part-*"))

        docs.filter("doc_id >= 200").coalesce(1).write.mode("append").parquet(src)
        run_once()

        final = spark.read.parquet(out)
        assert final.count() == docs.count()  # no loss
        assert final.select("doc_id").distinct().count() == docs.count()  # no dupes
        # run 2 wrote only the new slice
        new_files = set(glob.glob(f"{out}/part-*")) - files_after_first
        n_new = spark.read.parquet(*new_files).count() if new_files else 0
        assert n_new == docs.filter("doc_id >= 200").count()
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_merge_upsert_migrates_legacy_flat_table(spark):
    """A pre-bucketed (flat parquet) table is migrated in one merge:
    rows survive exactly once, the update lands, and the table is now
    bucket-partitioned (no flat part-files left at the root)."""
    import glob

    path = os.path.join(tempfile.mkdtemp(), "tbl")
    legacy = spark.createDataFrame(
        [(f"k{i}", i) for i in range(50)], ["content_id", "v"]
    )
    legacy.write.mode("overwrite").parquet(path)  # flat, no _bucket
    assert glob.glob(f"{path}/part-*")

    batch = spark.createDataFrame([("k1", 999), ("new", 1)], ["content_id", "v"])
    merge_upsert(spark, batch, path, "content_id")

    got = {(r.content_id, r.v) for r in _read(spark, path).collect()}
    assert len(got) == 51 and ("k1", 999) in got and ("new", 1) in got
    assert not glob.glob(f"{path}/part-*")  # flat files cleaned up
    assert glob.glob(f"{path}/_bucket=*")

    # and the NEXT merge is bucket-scoped again: one update (k2 exists
    # in the legacy rows) + one true insert
    merge_upsert(
        spark,
        spark.createDataFrame([("k2", 77), ("zz_fresh", 5)], ["content_id", "v"]),
        path,
        "content_id",
    )
    got2 = {(r.content_id, r.v) for r in _read(spark, path).collect()}
    assert len(got2) == 52 and ("k2", 77) in got2 and ("zz_fresh", 5) in got2
    assert ("k2", 2) not in got2


def test_parquet_schema_evolution_merge_on_read(spark):
    """Schema evolution on an append-only parquet table: a later batch
    adds a column; mergeSchema reads the union schema with NULL
    backfill for old files, and a plain read of the new files alone
    still sees the new column. At 100 TB this is how a corpus gains a
    quality_score column without rewriting history — evolution happens
    at READ planning (footer merge), not by touching old data files."""
    d = tempfile.mkdtemp(prefix="sf_evolve_")
    try:
        v1 = spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], "doc_id long, text string"
        )
        v1.write.mode("append").parquet(d)
        v2 = spark.createDataFrame(
            [(3, "gamma", 0.9)], "doc_id long, text string, quality double"
        )
        v2.write.mode("append").parquet(d)

        merged = spark.read.option("mergeSchema", "true").parquet(d)
        assert set(merged.columns) == {"doc_id", "text", "quality"}
        rows = {r.doc_id: r for r in merged.collect()}
        assert rows[1].quality is None and rows[2].quality is None
        assert rows[3].quality == 0.9

        # old files are untouched: a read pinned to the original schema
        # still works and never sees the new column
        narrow = spark.read.schema("doc_id long, text string").parquet(d)
        assert set(narrow.columns) == {"doc_id", "text"}
        assert narrow.count() == 3
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_state_store_reader_exposes_dedup_marks(spark, sf_dir):
    """K4 (state-store dedup marks): the watermarked-dedup operator's
    streaming state IS the reference's Valkey mark set, and Spark 4's
    statestore reader makes it directly queryable — one state row per
    distinct key within the watermark, inspectable after the run like
    redis-cli SCAN over the marks."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from sentiflow_spark.streaming.dag import (
        load_stream,
        read_state_store,
        watermarked_dedup,
    )
    from sentiflow_spark.tables import load

    ckpt = tempfile.mkdtemp(prefix="sf_state_ckpt_")
    name = f"t_state_{uuid.uuid4().hex[:8]}"
    try:
        ev = load_stream(spark, sf_dir, "events")
        dedup = watermarked_dedup(
            ev, ["user_id", "event_type"], retention="720 hours"
        ).select("user_id", "event_type")
        q = (
            dedup.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        marks = read_state_store(spark, ckpt)
        # every distinct (user_id, event_type) within the 720h
        # watermark holds exactly one mark in the store
        expected = (
            load(spark, sf_dir, "events")
            .select("user_id", "event_type")
            .distinct()
            .count()
        )
        assert marks.count() == expected
        # and the marks carry the actual key values, not opaque bytes
        keys = {
            (r["key"]["user_id"], r["key"]["event_type"])
            for r in marks.select("key").collect()
        }
        some = load(spark, sf_dir, "events").select(
            "user_id", "event_type"
        ).first()
        assert (some["user_id"], some["event_type"]) in keys
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_crash_resume_exactly_once_vs_batch(spark, sf_dir):
    """Chaos-shaped exactly-once: run the full 4-stage sentiment
    topology (st_pipeline_e2e's flow) as a MULTI-micro-batch stream
    (maxFilesPerTrigger=1 over a 10-file source), kill the query
    mid-stream, resume from the same checkpoint to completion, and
    assert the file-sink output is row-for-row identical to the batch
    plan — no loss, no duplicates, despite the interruption. This is
    the Structured Streaming replacement for the reference's
    commit-after-durable Kafka semantics (internal/clients/
    kafka_client/commit_handler.go:25-75): the checkpoint + file-sink
    commit log together give what hand-managed offset commits +
    transactional producers gave the reference."""
    import time

    from sentiflow_spark.operators.projections import to_raw_content
    from sentiflow_spark.pipeline.batch import sentiment_pipeline
    from sentiflow_spark.tables import load

    src = tempfile.mkdtemp(prefix="sf_crash_src_")
    out = tempfile.mkdtemp(prefix="sf_crash_out_")
    ckpt = tempfile.mkdtemp(prefix="sf_crash_ckpt_")
    try:
        docs = load(spark, sf_dir, "documents")
        schema = docs.schema

        # 10 single-part files → 10 micro-batches at maxFilesPerTrigger=1.
        # Staged in two halves: run 1 only ever SEES the first 5 files,
        # so its output is strictly partial no matter how the stop()
        # races the scheduler — the resume in run 2 always has real
        # work to do (deterministic, per round-7 ADVICE).
        def write_files(los):
            for lo in los:
                docs.filter(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 50)
                ).coalesce(1).write.mode("append").parquet(src)

        write_files(range(0, 250, 50))

        def flow(df):
            raw = to_raw_content(
                df,
                topic=F.col("lang"),
                source=F.col("source"),
                post_id=F.col("doc_id"),
                text=F.col("text"),
            )
            return sentiment_pipeline(raw, router_threshold=1024)

        def start(available_now: bool):
            reader = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            w = (
                flow(reader)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
            )
            if available_now:
                w = w.trigger(availableNow=True)
            return w.start()

        # run 1: continuous trigger over the FIRST HALF only; kill as
        # soon as some batch has committed (batch N may be half-flight
        # when stop() lands — that chaos is the point and is safe to
        # keep, because partiality no longer depends on winning it)
        q = start(available_now=False)
        deadline = time.time() + 120
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["batchId"] >= 1:
                break
            time.sleep(0.05)
        q.stop()  # mid-stream kill (batch N may be half-flight)
        q.awaitTermination()
        partial = spark.read.parquet(out).count()

        # second half lands only now — run 1 could not have seen it
        write_files(range(250, 500, 50))

        # run 2: SAME checkpoint, drain to completion
        q2 = start(available_now=True)
        q2.awaitTermination()

        got = spark.read.parquet(out)
        want = flow(docs)
        # Deterministic partiality: run 1 saw at most half the source,
        # so the resume MUST have committed the remainder.
        assert partial < want.count(), (
            "run 1 output should be strictly partial by construction"
        )
        assert got.count() == want.count()
        assert got.select("content_id").distinct().count() == want.count()
        assert (
            got.unionByName(want).distinct().count() == want.count()
        ), "streaming output differs from the batch plan"
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stateful_crash_resume_windowed_counts(spark, sf_dir):
    """Chaos-shaped STATEFUL recovery — the companion to the stateless
    pipeline test above: a watermarked tumbling-window aggregation
    (state store carrying open windows across micro-batches) is killed
    mid-stream and resumed from the same checkpoint; the final append-
    mode output must be row-for-row identical to an uninterrupted run
    over the same 10-file source. This is the state-store half of the
    reference's durability story: open-window state survives the crash
    via the checkpoint, not via replaying already-committed batches."""
    import time

    from sentiflow_spark.streaming.dag import windowed_counts
    from sentiflow_spark.tables import load

    src = tempfile.mkdtemp(prefix="sf_state_src_")
    out_a = tempfile.mkdtemp(prefix="sf_state_outa_")
    out_b = tempfile.mkdtemp(prefix="sf_state_outb_")
    ckpt_a = tempfile.mkdtemp(prefix="sf_state_ckpta_")
    ckpt_b = tempfile.mkdtemp(prefix="sf_state_ckptb_")
    try:
        ev = load(spark, sf_dir, "events").orderBy("event_id")
        rows = ev.withColumn(
            "_part", (F.col("event_id") % 10).cast("int")
        )
        schema = ev.schema
        for p in range(10):
            rows.filter(F.col("_part") == p).drop("_part").coalesce(
                1
            ).write.mode("append").parquet(src)

        def start(out, ckpt, available_now):
            reader = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            w = (
                windowed_counts(reader)
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", ckpt)
            )
            if available_now:
                w = w.trigger(availableNow=True)
            return w.start()

        # control: uninterrupted drain
        qa = start(out_a, ckpt_a, available_now=True)
        qa.awaitTermination()

        # chaos run: kill after >= 2 committed batches, then resume
        qb = start(out_b, ckpt_b, available_now=False)
        deadline = time.time() + 120
        while time.time() < deadline:
            p = qb.lastProgress
            if p and p["batchId"] >= 2:
                break
            time.sleep(0.05)
        qb.stop()
        qb.awaitTermination()
        qb2 = start(out_b, ckpt_b, available_now=True)
        qb2.awaitTermination()

        got_a = spark.read.parquet(out_a)
        got_b = spark.read.parquet(out_b)
        assert got_a.count() > 0
        assert got_b.count() == got_a.count()
        assert (
            got_b.unionByName(got_a).distinct().count()
            == got_a.distinct().count()
        ), "crash-resumed stateful output differs from the uninterrupted run"
    finally:
        for d in (src, out_a, out_b, ckpt_a, ckpt_b):
            shutil.rmtree(d, ignore_errors=True)


def test_curation_admit_state_bounded_per_fingerprint(spark, sf_dir):
    """st_curation_admit's streaming state is ONE mark per distinct
    admitted content fingerprint — the bounded-per-key guarantee the
    round-6 verdict asked for, verified directly through the
    statestore reader rather than inferred from the operator docs."""
    import tempfile
    import uuid

    from sentiflow_spark.queries.streaming_queries import (
        curation_admit_flow,
        curation_admit_gate,
    )
    from sentiflow_spark.streaming.dag import load_stream, read_state_store
    from sentiflow_spark.tables import load

    ckpt = tempfile.mkdtemp(prefix="sf_admit_ckpt_")
    name = f"t_admit_{uuid.uuid4().hex[:8]}"
    try:
        docs = load_stream(spark, sf_dir, "documents")
        deduped = curation_admit_flow(docs)
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.table(name)
        # batch truth: distinct admitted fingerprints (the gate is
        # stateless, so it runs unchanged on the batch frame)
        n_distinct = (
            curation_admit_gate(load(spark, sf_dir, "documents"))
            .select("fp")
            .distinct()
            .count()
        )
        assert got.count() == n_distinct
        marks = read_state_store(spark, ckpt)
        assert marks.count() == n_distinct  # one mark per fingerprint
        keys = {r["key"]["fp"] for r in marks.select("key").collect()}
        assert keys == {r["fp"] for r in got.select("fp").collect()}
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_curation_admit_state_survives_restart(spark, sf_dir):
    """Exactly-once ADMISSION across restarts — the dedup-mark
    durability the reference gets from Valkey persistence: run the
    admission flow over half the corpus, stop, then feed the second
    half SPIKED WITH COPIES of already-admitted content and resume
    from the same checkpoint. The copies must NOT re-emit — their
    fingerprints live in the carried state store, not in the new
    micro-batch — and the union of both runs' output must equal the
    batch DISTINCT over everything admitted, with zero duplicate
    fingerprints."""
    from pyspark.sql import functions as F

    from sentiflow_spark.queries.streaming_queries import (
        curation_admit_flow,
        curation_admit_gate,
    )
    from sentiflow_spark.tables import load

    src = tempfile.mkdtemp(prefix="sf_admit_src_")
    out = tempfile.mkdtemp(prefix="sf_admit_out_")
    ckpt = tempfile.mkdtemp(prefix="sf_admit_rck_")
    try:
        docs = load(spark, sf_dir, "documents")
        schema = docs.schema
        half_a = docs.filter(F.col("doc_id") < 250)
        # half B: the rest, plus verbatim copies of 100 half-A docs
        # under fresh ids — guaranteed cross-restart duplicates
        copies = half_a.filter(F.col("doc_id") < 100).withColumn(
            "doc_id", F.col("doc_id") + 100000
        )
        half_b = docs.filter(F.col("doc_id") >= 250).unionByName(copies)

        def run_once():
            reader = spark.readStream.schema(schema).parquet(src)
            q = (
                curation_admit_flow(reader)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        half_a.coalesce(1).write.mode("append").parquet(src)
        run_once()
        n_run1 = spark.read.parquet(out).count()
        half_b.coalesce(1).write.mode("append").parquet(src)
        run_once()

        got = spark.read.parquet(out)
        # batch truth over everything that ever hit the stream
        want = curation_admit_gate(half_a.unionByName(half_b)).distinct()
        n_want = want.count()
        assert n_run1 < n_want  # run 1 saw only half the content
        assert got.count() == n_want  # resume admitted ONLY the new
        # zero duplicate fingerprints across the restart boundary —
        # the copies were suppressed by carried state, not luck
        assert got.select("fp").distinct().count() == n_want
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_curation_admit_punctuation_variant_parity(spark):
    """The round-7 ADVICE soundness fix, pinned on its exact failure
    corpus: fingerprint-equal texts whose SURFACE forms tokenize
    differently ('foo-bar' vs 'foo bar' — here a 60-word document vs
    the same document hyphenated into ONE \\S+ token). Before the fix
    the gate metrics ran on the NFC text, so the hyphenated variant
    carried n_words=1 (failing the gate) while the spaced variant
    passed — making both the emitted row and the admission decision
    arrival-order-dependent. Now the metrics are computed on the
    fingerprint-canonical string, so BOTH variants produce the
    identical row and the stream's output equals the batch DISTINCT
    regardless of which variant arrives first (both arrival orders
    exercised)."""
    from pyspark.sql import functions as F

    from sentiflow_spark.queries.streaming_queries import (
        curation_admit_flow,
        curation_admit_gate,
    )

    words = [
        "the", "quick", "brown", "fox", "and",
        "that", "have", "with", "to", "of",
    ] * 6
    spaced = " ".join(words)  # 60 \S+ tokens, passes every Gopher rule
    hyphened = "-".join(w.upper() for w in words)  # ONE \S+ token
    assert len(hyphened.split()) == 1

    def run_order(first: str, second: str):
        src = tempfile.mkdtemp(prefix="sf_admit_pv_src_")
        ckpt = tempfile.mkdtemp(prefix="sf_admit_pv_ck_")
        out = tempfile.mkdtemp(prefix="sf_admit_pv_out_")
        try:
            df1 = spark.createDataFrame([(0, first)], "doc_id long, text string")
            df2 = spark.createDataFrame([(1, second)], "doc_id long, text string")
            # two separate files fed through ONE availableNow run in
            # maxFilesPerTrigger order — 'first' is in the earlier batch
            df1.coalesce(1).write.mode("append").parquet(src)
            df2.coalesce(1).write.mode("append").parquet(src)
            reader = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            q = (
                curation_admit_flow(reader)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.read.parquet(out).collect()
        finally:
            shutil.rmtree(src, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)
            shutil.rmtree(out, ignore_errors=True)

    got_ab = run_order(spaced, hyphened)
    got_ba = run_order(hyphened, spaced)
    # one admitted row per fingerprint, identical under both orders
    assert len(got_ab) == len(got_ba) == 1
    assert got_ab[0] == got_ba[0]
    assert got_ab[0]["n_words"] == 60  # the canonical-string count
    # and it equals the batch DISTINCT truth
    both = spark.createDataFrame(
        [(0, spaced), (1, hyphened)], "doc_id long, text string"
    )
    want = curation_admit_gate(both).distinct().collect()
    assert len(want) == 1 and got_ab[0] == want[0]
    # both variants hash to one fingerprint — the premise of the corpus
    from sentiflow_spark.functions.text import fingerprint

    fps = (
        both.select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .count()
    )
    assert fps == 1


def test_curation_manifest_two_run_drip(spark, sf_dir):
    """The full ingest loop (J5→K1→K4) gated end-to-end: admission
    feeds the K2 MERGE sink across a TWO-RUN DRIP with a duplicate
    spike — run 1 ingests half the corpus, run 2 resumes from the same
    checkpoint with the other half SPIKED with verbatim copies of
    already-manifested content. Gates: (1) manifest rows == the batch
    DISTINCT admitted fingerprints over everything that ever hit the
    stream (the copies upserted nothing new), (2) REPLAY CONVERGENCE —
    wiping the checkpoint and re-ingesting the entire source from
    scratch into the SAME manifest leaves it unchanged (the fp-keyed
    MERGE is idempotent, so recovery-time batch replays cannot double
    rows; reference parity: internal/producer/fetch.go:146-176's
    skip-seen → publish → mark)."""
    from pyspark.sql import functions as F

    from sentiflow_spark.queries.streaming_queries import (
        curation_admit_flow,
        curation_admit_gate,
    )
    from sentiflow_spark.streaming.sinks import curation_manifest_sink
    from sentiflow_spark.tables import load

    src = tempfile.mkdtemp(prefix="sf_mani_src_")
    manifest = tempfile.mkdtemp(prefix="sf_mani_tbl_") + "/manifest"
    ckpt = tempfile.mkdtemp(prefix="sf_mani_ck_")
    try:
        docs = load(spark, sf_dir, "documents")
        schema = docs.schema
        half_a = docs.filter(F.col("doc_id") < 250)
        copies = half_a.filter(F.col("doc_id") < 100).withColumn(
            "doc_id", F.col("doc_id") + 100000
        )
        half_b = docs.filter(F.col("doc_id") >= 250).unionByName(copies)

        def run_once():
            reader = spark.readStream.schema(schema).parquet(src)
            q = (
                curation_admit_flow(reader)
                .writeStream.foreachBatch(curation_manifest_sink(manifest))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        half_a.coalesce(1).write.mode("append").parquet(src)
        run_once()
        n_run1 = spark.read.parquet(manifest).count()
        half_b.coalesce(1).write.mode("append").parquet(src)
        run_once()

        got = spark.read.parquet(manifest).select("fp", "n_words")
        want = curation_admit_gate(half_a.unionByName(half_b)).distinct()
        n_want = want.count()
        assert n_run1 < n_want  # the drip really was incremental
        assert got.count() == n_want  # spike upserted nothing new
        assert got.select("fp").distinct().count() == n_want
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        # TTL stamping (K3/W2) rode along on every manifest row
        full = spark.read.parquet(manifest)
        assert {"created_at", "ttl"} <= set(full.columns)
        assert full.filter(F.col("ttl").isNull()).count() == 0

        # replay convergence: lose the checkpoint, re-ingest EVERYTHING
        # from scratch into the same manifest — rows must not change
        shutil.rmtree(ckpt, ignore_errors=True)
        run_once()
        replayed = spark.read.parquet(manifest).select("fp", "n_words")
        assert replayed.count() == n_want
        assert replayed.exceptAll(want).count() == 0
        assert want.exceptAll(replayed).count() == 0
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(os.path.dirname(manifest), ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_ivf_pruned_serve_sink_equals_plain_serve(spark, sf_dir):
    """The DPP-fallback serve (ivf_pruned_serve_sink: probe rows in the
    stream, per-batch join against an index read filtered to the
    batch's buckets with literal partition values) returns EXACTLY the
    registered st_ivf_served plain stream-static serve — the
    correctness half of the --st-serve probe's measurement."""
    import shutil
    import tempfile

    from sentiflow_spark.operators.similarity import with_quantized
    from sentiflow_spark.queries.registry import load_all
    from sentiflow_spark.queries.similarity_queries import (
        N_PROBES,
        _ensure_ivf_index,
        ivf_pruned_serve_sink,
    )
    from sentiflow_spark.streaming.dag import load_stream

    idx_path = _ensure_ivf_index(spark, sf_dir)
    scratch = tempfile.mkdtemp(prefix="sf_pruned_serve_")
    out, ckpt = f"{scratch}/topk", f"{scratch}/ckpt"
    try:
        probes = with_quantized(
            load_stream(spark, sf_dir, "embeddings")
        ).filter(F.col("vec_id") < N_PROBES).select(
            F.col("vec_id").alias("probe_id"),
            F.col("label").alias("bucket"),
            F.col("qvec").alias("p_qvec"),
            F.col("qnorm").alias("p_qnorm"),
        )
        q = (
            probes.writeStream.foreachBatch(
                ivf_pruned_serve_sink(idx_path, out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        pruned = sorted(
            tuple(r) for r in spark.read.parquet(out).collect()
        )
        plain = sorted(
            tuple(r)
            for r in load_all()["st_ivf_served"].fn(spark, sf_dir).collect()
        )
        assert pruned == plain and len(pruned) > 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
