"""The job CLI (python -m sentiflow_spark.jobs ...) — the reference's
three binaries. Run in-process against temp sinks; idempotence of the
MERGE path is asserted by re-running."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from sentiflow_spark.jobs import main


def _run(argv):
    return main(argv)


def _run_counting_jobs(spark, argv):
    """(result, Spark jobs launched) of one in-process job call, counted
    in its own job group through Spark's status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, argv[0])
    try:
        result = main(argv)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ingest_then_pipeline(spark, sf_dir):
    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        r1 = _run(["ingest", "--sf-dir", sf_dir, "--out", f"{d}/raw"])
        assert r1["rows"] == 500
        r2 = _run(["pipeline", "--sf-dir", sf_dir, "--out", f"{d}/results"])
        assert r2["rows"] == 500
        # MERGE idempotence: replaying the job converges, no duplicates
        r3 = _run(["pipeline", "--sf-dir", sf_dir, "--out", f"{d}/results"])
        assert r3["rows"] == 500
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_job_matches_batch(spark, sf_dir):
    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        rb = _run(["pipeline", "--sf-dir", sf_dir, "--out", f"{d}/batch"])
        rs = _run(["stream", "--sf-dir", sf_dir, "--out", f"{d}/stream"])
        assert rs["rows"] == rb["rows"]
        b = spark.read.parquet(f"{d}/batch").select(
            "content_id", "sentiment_score", "sentiment_label", "was_summarized"
        )
        s = spark.read.parquet(f"{d}/stream").select(
            "content_id", "sentiment_score", "sentiment_label", "was_summarized"
        )
        assert b.exceptAll(s).count() == 0
        assert s.exceptAll(b).count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_job_without_checkpoint_leaves_no_temp_dir(spark, sf_dir, monkeypatch):
    """Without --checkpoint the stream job's checkpoint is scratch: it is
    removed when the job returns, so the temp dir is left as it was,
    and the result reports no checkpoint path."""
    d = tempfile.mkdtemp(prefix="sf_jobs_")
    tmp = os.path.join(d, "tmp")
    os.mkdir(tmp)
    try:
        monkeypatch.setattr(tempfile, "tempdir", tmp)
        rs = _run(["stream", "--sf-dir", sf_dir, "--out", f"{d}/stream"])
        assert rs["rows"] > 0 and rs["checkpoint"] is None
        assert os.listdir(tmp) == []
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_job_survives_empty_first_batch(spark, sf_dir):
    """A zero-row first micro-batch leaves the serving table as a
    directory holding no parquet file. That run reports 0 rows, and the
    next run over the same checkpoint merges into the directory as a
    new table instead of failing to infer a schema from it."""
    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        src = f"{d}/sf"
        table = f"{src}/documents.parquet"
        docs.limit(0).coalesce(1).write.parquet(table)
        argv = ["stream", "--sf-dir", src, "--out", f"{d}/out",
                "--checkpoint", f"{d}/ckpt"]
        assert _run(argv)["rows"] == 0
        docs.limit(50).coalesce(1).write.mode("append").parquet(table)
        rs = _run(argv)
        rb = _run(["pipeline", "--sf-dir", src, "--out", f"{d}/batch"])
        assert rs["rows"] == rb["rows"] > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_job_refuses_kafka_brokers(spark, sf_dir):
    """--kafka-brokers has no Kafka source behind it in the stream job:
    the call fails and says so, instead of streaming the --sf-dir files
    as if the flag had been honoured, and nothing is written."""
    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        with pytest.raises(SystemExit, match="spark-sql-kafka"):
            _run([
                "stream", "--sf-dir", sf_dir, "--out", f"{d}/stream",
                "--checkpoint", f"{d}/ckpt", "--kafka-brokers", "b:9092",
            ])
        assert os.listdir(d) == []
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_topics_job_anti_join_semantics(spark, sf_dir):
    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        r1 = _run(["topics", "--sf-dir", sf_dir, "--out", f"{d}/topics"])
        assert r1["rows"] > 0
        # second run with the first run's output as the stored snapshot:
        # every url is already stored → anti-join drops everything, and
        # the MERGE leaves the table unchanged
        r2 = _run([
            "topics", "--sf-dir", sf_dir, "--out", f"{d}/topics",
            "--stored", f"{d}/topics",
        ])
        assert r2["rows"] == r1["rows"]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_topics_job_reads_file_uri_stored_snapshot(spark, sf_dir):
    """A ``file://`` stored snapshot is read, not taken for a missing
    one: its 10 urls are anti-joined out of the new run's output."""
    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        r1 = _run(["topics", "--sf-dir", sf_dir, "--out", f"{d}/all"])
        spark.read.parquet(f"{d}/all").select("url").limit(10).write.parquet(
            f"{d}/stored"
        )
        r2 = _run([
            "topics", "--sf-dir", sf_dir, "--out", f"{d}/rest",
            "--stored", f"file://{d}/stored",
        ])
        assert r2["rows"] == r1["rows"] - 10
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compact_job_rewrites_fragmented_dir(spark, sf_dir):
    """CLI wiring for the maintenance job: a 64-file fragmented copy of
    lineitem is rewritten to size-targeted files with rows preserved."""
    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        src = f"{d}/fragmented"
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        li.repartition(64).write.parquet(src)
        r = _run([
            "compact", "--src", src, "--out", f"{d}/compacted",
            "--sort-by", "l_shipdate", "--target-file-mb", "128",
        ])
        assert r["files_out"] >= 1
        assert r["bytes"] > 0
        out = spark.read.parquet(f"{d}/compacted")
        assert out.count() == li.count()
        import glob

        assert len(glob.glob(f"{d}/compacted/*.parquet")) == r["files_out"] < 64
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_dedup_job_matches_cluster_query(spark, sf_dir):
    """The dedup job's survivor set = one doc per cluster of the
    oracle-checked dd_duplicate_clusters query (lowest doc_id wins),
    and survivors carry their cluster_id for audit."""
    from pyspark.sql import functions as F

    from sentiflow_spark.queries.registry import load_all

    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        r = _run(["dedup", "--sf-dir", sf_dir, "--out", f"{d}/dedup"])
        assert r["rows_in"] == 500
        assert r["rows_in"] == r["rows_out"] + r["removed"]

        clusters = load_all()["dd_duplicate_clusters"].fn(spark, sf_dir)
        expected = {
            row["m"]
            for row in clusters.groupBy("cluster_id")
            .agg(F.min("doc_id").alias("m"))
            .collect()
        }
        out = spark.read.parquet(f"{d}/dedup")
        got = {row["doc_id"] for row in out.select("doc_id").collect()}
        assert got == expected
        # every survivor is the minimum of its own cluster label
        assert out.filter(F.col("doc_id") != F.col("cluster_id")).count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_health_gated_stream_skips_then_resumes(spark, sf_dir):
    """F4: unhealthy rounds start no streaming query (batches skipped,
    input retained), healthy rounds drain everything pending — skip
    then resume loses nothing (summary_consumer.go:67-71 parity)."""
    import os

    from pyspark.sql import functions as F

    from sentiflow_spark.jobs import run_gated_rounds
    from sentiflow_spark.tables import load

    d = tempfile.mkdtemp(prefix="sf_gate_")
    src, out, ckpt = f"{d}/src", f"{d}/out", f"{d}/ckpt"
    try:
        docs = load(spark, sf_dir, "documents")
        docs.filter("doc_id < 100").write.mode("append").parquet(src)

        schema = docs.schema
        starts = []

        def make_query():
            starts.append(1)
            return (
                spark.readStream.schema(schema)
                .parquet(src)
                .withColumn("text_len", F.length("text"))
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        health = iter([False, False, True, False, True])
        naps = []
        outcomes = run_gated_rounds(
            make_query,
            probe=lambda: next(health),
            rounds=3,
            poll_s=15.0,
            sleep=naps.append,
        )
        # two unhealthy probes -> no query started, two poll sleeps
        assert outcomes == ["skipped", "skipped", "ran"]
        assert len(starts) == 1 and naps == [15.0, 15.0]
        n1 = spark.read.parquet(out).count()
        assert n1 == 100  # resume drained everything buffered while down

        # more input while unhealthy again; next healthy round picks it up
        docs.filter("doc_id >= 100").write.mode("append").parquet(src)
        outcomes2 = run_gated_rounds(
            make_query, probe=lambda: next(health), rounds=2,
            poll_s=15.0, sleep=naps.append,
        )
        assert outcomes2 == ["skipped", "ran"]
        assert spark.read.parquet(out).count() == docs.count()
        assert os.path.isdir(ckpt)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_ingest_total_is_opt_in(spark, sf_dir):
    """Default ingest must not re-scan its own output, nor run its
    projection a second time to count it: the write is its one Spark
    job. --report-total restores the cumulative count."""
    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        r1, n_jobs = _run_counting_jobs(
            spark, ["ingest", "--sf-dir", sf_dir, "--out", f"{d}/raw"]
        )
        assert r1["rows"] == 500 and "rows_total" not in r1
        assert n_jobs == 1, f"ingest ran {n_jobs} Spark jobs"
        r2 = _run(["ingest", "--sf-dir", sf_dir, "--out", f"{d}/raw", "--report-total"])
        assert r2["rows"] == 500 and r2["rows_total"] == 1000  # appended twice
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_kafka_contract_options_and_payload(spark):
    """S1/S2/K1 contract without a broker: option dicts encode the
    reference consumer/producer semantics (earliest offsets ≙
    auto.offset.reset=earliest, consumer.go:10-40; keyed writes by
    content_id) and topic names match constants.go:5-10."""
    from pyspark.sql import functions as F

    from sentiflow_spark.sources.kafka_io import (
        TOPIC_RAW_CONTENT,
        TOPIC_SENTIMENT_REQUEST,
        TOPIC_SENTIMENT_RESULTS,
        TOPIC_SUMMARY_REQUEST,
        kafka_sink_options,
        kafka_source_options,
        keyed_json_payload,
    )

    assert TOPIC_RAW_CONTENT == "raw-content"
    assert TOPIC_SUMMARY_REQUEST == "summary-request"
    assert TOPIC_SENTIMENT_REQUEST == "sentiment-request"
    assert TOPIC_SENTIMENT_RESULTS == "sentiment-results"

    src = kafka_source_options("b1:9092,b2:9092", TOPIC_RAW_CONTENT)
    assert src["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert src["subscribe"] == "raw-content"
    assert src["startingOffsets"] == "earliest"  # reference default
    assert src["failOnDataLoss"] == "false"
    assert "maxOffsetsPerTrigger" not in src
    capped = kafka_source_options("b", TOPIC_RAW_CONTENT, max_offsets_per_trigger=500)
    assert capped["maxOffsetsPerTrigger"] == "500"

    snk = kafka_sink_options("b:9092", TOPIC_SENTIMENT_RESULTS, "/ckpt")
    assert snk == {
        "kafka.bootstrap.servers": "b:9092",
        "topic": "sentiment-results",
        "checkpointLocation": "/ckpt",
    }

    df = spark.createDataFrame(
        [("c1", 0.5, "pos"), ("c2", -0.1, "neg")],
        ["content_id", "sentiment_score", "sentiment_label"],
    )
    wire = keyed_json_payload(df, "content_id")
    assert wire.columns == ["key", "value"]
    rows = {r["key"]: r["value"] for r in wire.collect()}
    assert set(rows) == {"c1", "c2"}
    import json as _json

    v = _json.loads(rows["c1"])
    assert v == {"content_id": "c1", "sentiment_score": 0.5, "sentiment_label": "pos"}


def test_curate_job_writes_partitioned_corpus(spark, sf_dir):
    """curate job: the full curation DAG lands a split-partitioned
    corpus plus a per-doc disposition table; funnel counts match the
    oracle-checked declared query."""
    import glob

    from pyspark.sql import functions as F

    from sentiflow_spark.queries.registry import load_all

    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        r = _run(["curate", "--sf-dir", sf_dir, "--out", f"{d}/cur"])
        assert r["rows_in"] == 500
        disp = load_all()["txt_curation_dag"].fn(spark, sf_dir)
        expected = {
            row["stage"]: row["n"]
            for row in disp.groupBy("stage")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert r["funnel"] == expected
        assert r["rows_out"] == expected.get("kept", 0) > 0
        assert sum(expected.values()) == 500  # every input doc disposed
        splits = glob.glob(f"{d}/cur/corpus/split=*")
        assert len(splits) >= 1  # split-partitioned layout for trainers
        corpus = spark.read.parquet(f"{d}/cur/corpus")
        assert corpus.count() == r["rows_out"]
        assert "clean_text" in corpus.columns
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_curate_job_spark_job_budget(spark, sf_dir):
    """One warm curate call runs at most 40 Spark jobs. The exact-dedup
    survivors, the near-dup losers, the contamination spans and the
    post-cut text are pinned once, so later stages read them instead of
    re-running the dedup window, the LSH pair pipeline, the island
    windows and the cut; the disposition, with the domain cap, the
    grouped split and the packing, is one doc_id aggregation over
    unioned facts, not a chain of joins; the corpus write is a filter
    of the pinned disposition; and the input count and the funnel ride
    the pin and the disposition write instead of their own jobs."""
    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        _run(["curate", "--sf-dir", sf_dir, "--out", f"{d}/warm"])
        r, n_jobs = _run_counting_jobs(
            spark, ["curate", "--sf-dir", sf_dir, "--out", f"{d}/cur"]
        )
        assert sum(r["funnel"].values()) == r["rows_in"] == 500
        assert n_jobs <= 40, f"curate ran {n_jobs} Spark jobs"
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_curate_job_corpus_is_the_cut_text_of_the_kept_docs(spark, sf_dir):
    """The written corpus holds exactly the disposition's kept doc_ids,
    and each one's clean_text is its exact-and-near-dedup survivor
    text with the contamination spans cut out."""
    from pyspark.sql import functions as F

    from sentiflow_spark.operators.dedup import cut_spans
    from sentiflow_spark.queries.curation_dag import curation_stages

    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        _run(["curate", "--sf-dir", sf_dir, "--out", f"{d}/cur"])
        corpus = spark.read.parquet(f"{d}/cur/corpus")
        kept = spark.read.parquet(f"{d}/cur/disposition").filter(
            F.col("stage") == "kept"
        )
        got = {r["doc_id"]: r["clean_text"] for r in corpus.collect()}
        assert set(got) == {r["doc_id"] for r in kept.select("doc_id").collect()}
        st = curation_stages(spark, sf_dir)
        want = {
            r["doc_id"]: r["clean_text"]
            for r in cut_spans(st["s5"], st["spans"]).collect()
        }
        assert got == {i: want[i] for i in got}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_curate_job_refuses_a_funnel_short_of_its_input(spark, sf_dir, tmp_path):
    """A documents table with one row twice is 501 rows in, but the
    disposition has one row per doc_id (500): curate raises once its
    writes are done instead of reporting a funnel that misses a row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    src = tmp_path / "sf"
    src.mkdir()
    pq.write_table(
        pa.concat_tables([docs, docs.slice(0, 1)]), src / "documents.parquet"
    )
    out = tmp_path / "cur"
    with pytest.raises(ValueError, match="501 input rows"):
        _run(["curate", "--sf-dir", str(src), "--out", str(out)])
    assert spark.read.parquet(f"{out}/disposition").count() == 500


@pytest.mark.parametrize(
    "argv", [["curate"], ["curate-delta", "--batches", "2"]], ids=lambda a: a[0]
)
def test_curate_funnel_equals_written_disposition(spark, sf_dir, argv):
    """The funnel a curation job reports (counted on the disposition
    write) equals a group-by of the disposition it wrote, and holds no
    stage with a zero count."""
    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        r = _run([*argv, "--sf-dir", sf_dir, "--out", f"{d}/out"])
        written = {
            row["stage"]: row["count"]
            for row in spark.read.parquet(f"{d}/out/disposition")
            .groupBy("stage")
            .count()
            .collect()
        }
        assert r["funnel"] == written
        assert all(n > 0 for n in r["funnel"].values())
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_write_disposition_refuses_an_unbalanced_funnel(spark, tmp_path):
    """A disposition row whose stage is not one of the funnel's labels
    is counted in the total but in no stage, and the write raises."""
    from sentiflow_spark.jobs import _write_disposition

    disp = spark.createDataFrame(
        [(1, "kept"), (2, "quality"), (3, "not_a_stage")],
        "doc_id long, stage string",
    )
    with pytest.raises(ValueError, match="does not balance"):
        _write_disposition(disp, str(tmp_path))


def test_curate_job_artifacts_equal_query(spark):
    """Round-7 gate (r6 verdict ask #2): the curate job's WRITTEN
    artifacts — not just its funnel counts — equal the oracle-checked
    txt_curation_dag query at sf0.01. Three checks: the disposition
    parquet is row-for-row identical to the declared query (same
    canonicalized compare the driver uses), the corpus carries exactly
    the kept dispositions' (doc_id, split, seq_id) with non-null clean
    text, and the physical split=... partition layout matches the
    query's per-split counts (the layout trainers shard on)."""
    import glob
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), os.pardir, "tools")
    )
    from pandas_canon import canon_pdf

    from sentiflow_spark.queries.registry import load_all

    sf01 = "/root/testdata/sf0.01"
    d = tempfile.mkdtemp(prefix="sf_jobs_art_")
    try:
        _run(["curate", "--sf-dir", sf01, "--out", f"{d}/cur"])

        disp_q = load_all()["txt_curation_dag"].fn(spark, sf01)
        disp_j = spark.read.parquet(f"{d}/cur/disposition")
        qc, _, qrows = canon_pdf(disp_q.toPandas())
        jc, _, jrows = canon_pdf(disp_j.toPandas())
        assert jc == qc
        assert jrows == qrows, "disposition artifact differs from query"

        corpus = spark.read.parquet(f"{d}/cur/corpus")
        kept = disp_q.filter(F.col("stage") == "kept")
        _, _, crows = canon_pdf(
            corpus.select("doc_id", "split", "seq_id").toPandas()
        )
        _, _, krows = canon_pdf(
            kept.select("doc_id", "split", "seq_id").toPandas()
        )
        assert crows == krows, "corpus rows differ from kept dispositions"
        assert corpus.filter(F.col("clean_text").isNull()).count() == 0

        per_split = {
            r["split"]: r["n"]
            for r in kept.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        on_disk = {
            os.path.basename(p).split("=", 1)[1]
            for p in glob.glob(f"{d}/cur/corpus/split=*")
        }
        assert on_disk == set(per_split)
        for s, n in per_split.items():
            assert spark.read.parquet(f"{d}/cur/corpus/split={s}").count() == n
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_watermark_late_data_semantics(spark):
    """A3/W4 late-data contract, pinned by a two-run drip feed: a row
    later than its window's finalized watermark is DROPPED; a late row
    whose window is still open is COUNTED; finalized windows never
    change retroactively. (The one-shot st_* oracle queries execute in
    a single availableNow pass, so they cannot observe cross-batch
    lateness — this test drives two runs through one checkpoint.)"""
    import datetime as dt
    import glob

    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="sf_late_")
    src, out, ckpt = f"{d}/src", f"{d}/out", f"{d}/ckpt"

    def ts(h, m):
        return dt.datetime(2024, 3, 1, h, m, 0)

    def run_once(schema):
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("win_start"), "n")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.win_start.hour, r.n)
            for r in spark.read.parquet(out).collect()
        }

    try:
        b1 = spark.createDataFrame(
            [(ts(10, 5),), (ts(10, 10),), (ts(10, 20),), (ts(11, 15),), (ts(12, 0),)],
            "ts timestamp",
        )
        b1.coalesce(1).write.mode("append").parquet(src)
        got1 = run_once(b1.schema)
        # watermark after run 1 = 12:00 - 1h = 11:00 -> only the 10:00
        # window (end 11:00 <= wm) is finalized and emitted
        assert got1 == {(10, 3)}

        b2 = spark.createDataFrame(
            [
                (ts(10, 30),),  # too late: its window closed at wm 11:00 -> dropped
                (ts(11, 30),),  # late but window 11-12 still open -> counted
                (ts(13, 0),),   # advances wm to 12:00 -> finalizes window 11
            ],
            "ts timestamp",
        )
        b2.coalesce(1).write.mode("append").parquet(src)
        got2 = run_once(b1.schema)
        # window 10 unchanged (still n=3: the 10:30 straggler is gone
        # forever), window 11 emitted with the late-but-in-time row
        assert got2 == {(10, 3), (11, 2)}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_kmv_state_merges_across_batches(spark):
    """The streaming KMV sketch must converge to the one-shot sketch no
    matter how the input is micro-batched: two drip-fed runs through
    one checkpoint end at exactly the estimate a single pass over all
    data produces (KMV's keep-k-smallest merge is exact)."""
    import hashlib

    from pyspark.sql import functions as F

    from sentiflow_spark.streaming.dag import streaming_kmv_distinct

    d = tempfile.mkdtemp(prefix="sf_kmv_")
    src, out, ckpt = f"{d}/src", f"{d}/out", f"{d}/ckpt"

    def run_once(schema):
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .transform(streaming_kmv_distinct, "event_type", "user_id", 16)
            .withColumn("run_ts", F.current_timestamp())
            .writeStream.foreachBatch(
                lambda df, bid: df.withColumn("b", F.lit(bid))
                .write.mode("append")
                .parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        b1 = spark.createDataFrame(
            [("click", i) for i in range(100)], "event_type string, user_id long"
        )
        b1.coalesce(1).write.mode("append").parquet(src)
        run_once(b1.schema)
        b2 = spark.createDataFrame(
            [("click", i) for i in range(50, 250)], "event_type string, user_id long"
        )
        b2.coalesce(1).write.mode("append").parquet(src)
        run_once(b1.schema)

        rows = spark.read.parquet(out).collect()
        final = max(rows, key=lambda r: r.b)
        assert final.event_type == "click"

        # one-shot expectation computed directly: k smallest hashes of
        # the distinct union (0..249)
        hs = sorted(
            int(hashlib.md5(f"kmv:{u}".encode()).hexdigest()[:15], 16)
            for u in range(250)
        )[:16]
        assert final.n_seen == 16 and final.h_k == hs[-1]
        assert final.kmv_estimate == int(round(15 * float(2**60) / hs[-1]))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_sql_views_match_dataframe_api(spark, sf_dir):
    """S7/ad-hoc SQL surface: the oracle-style SQL a reference user
    brings runs verbatim over the registered views and matches the
    DataFrame plan's result."""
    from pyspark.sql import functions as F

    from sentiflow_spark.sql import run_sql
    from sentiflow_spark.tables import load

    got = {
        (r["lang"], r["n"], r["chars"])
        for r in run_sql(
            spark,
            sf_dir,
            """
            SELECT d.lang, COUNT(*) AS n,
                   CAST(SUM(d.n_chars) AS BIGINT) AS chars
            FROM documents d
            WHERE d.source IN ('src0', 'src1')
            GROUP BY d.lang
            """,
        ).collect()
    }
    docs = load(spark, sf_dir, "documents")
    want = {
        (r["lang"], r["n"], r["chars"])
        for r in docs.filter(F.col("source").isin("src0", "src1"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .collect()
    }
    assert got == want and got


def test_sql_job_prints_rows(spark, sf_dir, tmp_path):
    """CLI: the sql job materializes a statement's result to parquet."""
    from sentiflow_spark import jobs

    out = str(tmp_path / "sqlout")
    res = jobs.main(
        [
            "sql",
            "--sf-dir",
            sf_dir,
            "--out",
            out,
            "-e",
            "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
        ]
    )
    assert res["job"] == "sql" and res["rows"] == 5
    assert spark.read.parquet(out).count() == 5


def test_audit_job_gates_on_violations(spark, sf_dir, tmp_path):
    """The audit job passes on clean fixtures and writes the report."""
    from sentiflow_spark import jobs

    out = str(tmp_path / "audit")
    res = jobs.main(["audit", "--sf-dir", sf_dir, "--out", out])
    assert res["job"] == "audit" and res["ok"] is True
    assert set(res["checks"]) == {
        "orders_custkey_fk",
        "lineitem_orderkey_fk",
        "lineitem_quantity_range",
        "documents_docid_unique",
        "events_value_not_null",
        "events_ts_in_range",
    }
    assert spark.read.parquet(out).count() == 6


def test_audit_job_fails_on_violations(spark, sf_dir, tmp_path, monkeypatch):
    """The gate path itself: a report with ANY violation must exit
    nonzero unless --allow-violations. The audit query is stubbed via
    the registry so the failure branch runs against a real written
    report."""
    import pytest

    from sentiflow_spark import jobs
    from sentiflow_spark.queries import registry as reg_mod
    from sentiflow_spark.queries.registry import Query

    def fake_fn(s, sf):
        return s.createDataFrame(
            [("orders_custkey_fk", 0), ("events_value_not_null", 3)],
            "check_name: string, n_violations: long",
        )

    monkeypatch.setattr(
        reg_mod,
        "load_all",
        lambda: {"rel_dq_audit": Query("rel_dq_audit", fake_fn, None)},
    )
    out = str(tmp_path / "audit_bad")
    with pytest.raises(SystemExit) as exc:
        jobs.main(["audit", "--sf-dir", sf_dir, "--out", out])
    assert exc.value.code == 1
    # --allow-violations reports without failing
    res = jobs.main(
        ["audit", "--sf-dir", sf_dir, "--out", out, "--allow-violations"]
    )
    assert res["ok"] is False and res["failed"] == ["events_value_not_null"]


def test_streaming_trending_counts_merge_across_batches(spark):
    """st_trending_topk's stateful stage is the windowed (window, key)
    count — it must converge to the one-shot batch counts no matter how
    the input is micro-batched, because count state is additive and the
    rank cut is a stateless post-pass. Two drip-fed runs through one
    checkpoint must end at the batch groupBy result."""
    import datetime

    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="sf_trend_")
    src, out, ckpt = f"{d}/src", f"{d}/out", f"{d}/ckpt"

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (base + datetime.timedelta(minutes=7 * i), '{"k": %d}' % (i % 3))
        for i in range(60)  # spans 7 hours, k in {0,1,2}
    ]
    schema = "ts timestamp, props string"

    def counts_stage(df):
        return (
            df.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "k")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "k",
                "n",
            )
        )

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .transform(counts_stage)
            .writeStream.foreachBatch(
                lambda df, bid: df.withColumn("b", F.lit(bid))
                .write.mode("append")
                .parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        half1 = spark.createDataFrame(rows[:30], schema)
        half2 = spark.createDataFrame(rows[30:], schema)
        half1.coalesce(1).write.mode("append").parquet(src)
        run_once()
        half2.coalesce(1).write.mode("append").parquet(src)
        run_once()

        emitted = spark.read.parquet(out).collect()
        # last emission per (window, k) is the converged count
        final = {}
        for r in emitted:
            key = (r.window_start, r.k)
            if key not in final or r.b > final[key][1]:
                final[key] = (r.n, r.b)
        got = {k: v[0] for k, v in final.items()}

        expect = {
            (r.window_start, r.k): r.n
            for r in counts_stage(half1.unionAll(half2)).collect()
        }
        assert got == expect
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP"),
    reason="no Kafka broker in this environment (set "
    "SPARK_GRAFT_KAFKA_BOOTSTRAP=host:port to run; also requires the "
    "spark-sql-kafka connector on the classpath)",
)
def test_kafka_broker_e2e_keyed_roundtrip(spark):
    """Executes the real K1/S1 wire path once when a broker exists:
    keyed-JSON batch write to a fresh topic, batch read back, payloads
    and keys intact. Everything else about the Kafka path (options,
    payload shape, offsets-in-checkpoint) is pinned by the
    broker-free contract tests above; this closes the loop on the one
    thing those cannot execute — the connector itself."""
    import uuid

    from pyspark.sql import functions as F

    from sentiflow_spark.sources.kafka_io import (
        keyed_json_payload,
        parse_kafka_json,
    )

    brokers = os.environ["SPARK_GRAFT_KAFKA_BOOTSTRAP"]
    topic = f"sf-e2e-{uuid.uuid4().hex[:8]}"
    src = spark.createDataFrame(
        [("id-1", "hello", 1), ("id-2", "world", 2)],
        "content_id string, body string, n int",
    )
    (
        keyed_json_payload(src, "content_id")
        .write.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .save()
    )
    raw = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    got = parse_kafka_json(raw, src.schema).orderBy("content_id").collect()
    assert [(r.kafka_key, r.content_id, r.body, r.n) for r in got] == [
        ("id-1", "id-1", "hello", 1),
        ("id-2", "id-2", "world", 2),
    ]


def test_curate_job_cli_subprocess_stdout_contract(sf_dir):
    """The job CLI as a user actually invokes it — a REAL subprocess
    (`python -m sentiflow_spark.jobs curate ...`) with its own
    SparkSession bring-up, not an in-process main() call like the
    tests above: argument wiring, module entrypoint, and the stdout
    contract (the result JSON is the last stdout line; Spark noise
    stays on stderr) all verified end to end."""
    import json
    import subprocess
    import sys

    d = tempfile.mkdtemp(prefix="sf_cli_")
    try:
        proc = subprocess.run(
            [sys.executable, "-m", "sentiflow_spark.jobs", "curate",
             "--sf-dir", sf_dir, "--out", f"{d}/cur"],
            capture_output=True, text=True, timeout=300,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
        assert lines, "no stdout from the job CLI"
        result = json.loads(lines[-1])
        assert result["job"] == "curate"
        assert result["rows_in"] == 500
        assert sum(result["funnel"].values()) == 500
        assert result["rows_out"] == result["funnel"]["kept"] > 0
        assert os.path.isdir(f"{d}/cur/corpus")
        assert os.path.isdir(f"{d}/cur/disposition")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_gate_media_job_artifacts_equal_query(spark, sf_dir):
    """The gate-media job's WRITTEN artifacts equal the oracle-checked
    mm_curation_gate query: the manifest parquet is row-for-row the
    declared query's output (partitioned by modality), the rejects
    summary re-aggregates from it exactly, and the returned funnel
    matches both."""
    from pyspark.sql import functions as F

    from sentiflow_spark.queries.registry import load_all

    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        r = _run(["gate-media", "--sf-dir", sf_dir, "--out", f"{d}/gm"])
        q = load_all()["mm_curation_gate"].fn(spark, sf_dir)
        expected = {(x["doc_id"]): (x["modality"], x["admitted"], x["reason"])
                    for x in q.collect()}
        manifest = spark.read.parquet(f"{d}/gm/manifest")
        got = {(x["doc_id"]): (x["modality"], x["admitted"], x["reason"])
               for x in manifest.collect()}
        assert got == expected
        assert r["rows_in"] == len(expected)
        assert r["rows_out"] == sum(1 for v in expected.values() if v[1])
        rej = {
            (x["modality"], x["reason"]): x["n"]
            for x in spark.read.parquet(f"{d}/gm/rejects").collect()
        }
        want_rej: dict = {}
        for mod, ok, reason in expected.values():
            if not ok:
                want_rej[(mod, reason)] = want_rej.get((mod, reason), 0) + 1
        assert rej == want_rej
        assert r["rejected"] == {f"{m}/{re}": n for (m, re), n in rej.items()}
        # modality-partitioned layout: one dir per detected container
        # plus 'unknown' (the malformed-family empty blobs, r10)
        import glob as _g
        assert len(_g.glob(f"{d}/gm/manifest/modality=*")) == 4
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_curate_delta_job_as_of_gen_restricts_universe(spark, sf_dir):
    """curate-delta --as-of-gen G must disposition ONLY the docs of
    batches <= G (publish()'s as-of contract): a later-batch doc has
    no feature row as of G and would otherwise fall through the stage
    when-chain to a bogus 'exact_dup' in the written parquet and the
    reported funnel. The job now derives the batch-G doc bound with
    run_delta_batches' range arithmetic and passes it as the publish
    universe — the disposition must cover exactly doc_id < bound and
    equal the full run's disposition restricted to those docs (the
    as-of release over a prefix-admitted state IS that prefix's
    release; batch 2 here adds no threshold crossings at sf0.001)."""
    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        r = _run([
            "curate-delta", "--sf-dir", sf_dir, "--out", f"{d}/cd",
            "--batches", "3", "--as-of-gen", "1",
        ])
        assert r["as_of_gen"] == 1
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
        bound = hi * 2 // 3
        disp = spark.read.parquet(f"{d}/cd/disposition")
        assert disp.count() == bound
        assert disp.filter(F.col("doc_id") >= bound).count() == 0
        assert sum(r["funnel"].values()) == bound
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_curate_delta_job_horizon_compact_with_asof(spark, sf_dir):
    """--compact and --as-of-gen coexist through --horizon: a compact
    at horizon 1 keeps generation-1 releases addressable (the funnel
    covers exactly the first two batches' docs), while the same
    combination without a horizon — or with the release below it — is
    refused up front."""
    import pytest
    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        with pytest.raises(SystemExit):
            _run([
                "curate-delta", "--sf-dir", sf_dir, "--out", f"{d}/x",
                "--compact", "--as-of-gen", "1",
            ])
        with pytest.raises(SystemExit):
            _run([
                "curate-delta", "--sf-dir", sf_dir, "--out", f"{d}/x",
                "--compact", "--horizon", "2", "--as-of-gen", "1",
            ])
        r = _run([
            "curate-delta", "--sf-dir", sf_dir, "--out", f"{d}/cd",
            "--batches", "3", "--compact", "--horizon", "1",
            "--as-of-gen", "1",
        ])
        assert r["compacted"]["features"] > 0
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
        assert sum(r["funnel"].values()) == hi * 2 // 3
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_curate_delta_job_auto_compact_flag(spark, sf_dir):
    """--auto-compact-gens K wires through to the ingestion loop: the
    written state ends bounded at K+1 generation partitions and the
    funnel matches an uncompacted run (rolling compaction is
    publish-preserving)."""
    import glob

    d = tempfile.mkdtemp(prefix="sf_jobs_")
    try:
        r1 = _run([
            "curate-delta", "--sf-dir", sf_dir, "--out", f"{d}/a",
            "--batches", "4", "--auto-compact-gens", "1",
        ])
        r2 = _run([
            "curate-delta", "--sf-dir", sf_dir, "--out", f"{d}/b",
            "--batches", "4",
        ])
        assert r1["funnel"] == r2["funnel"]
        gens = glob.glob(f"{d}/a/state/features/_gen=*")
        assert len(gens) == 2  # base + newest K=1
        assert len(glob.glob(f"{d}/b/state/features/_gen=*")) == 4
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_curate_delta_job_file_uri_out_uses_its_state_root(
    spark, sf_dir, tmp_path, monkeypatch
):
    """--out file://<dir> puts the state at <dir>/state, and the job
    empties, lists and fences THAT directory: a stale generation-0
    feature partition planted there is removed before admission, so
    the funnel equals the one-shot DAG's. (Read as a relative path, the
    URI left the stale rows in place — two disposition rows per doc —
    and created a ./file: tree in the working directory.) Any other
    scheme is refused before Spark starts."""
    from pyspark.sql import functions as F

    from sentiflow_spark.queries.curation_delta import _SIG_COLS
    from sentiflow_spark.queries.registry import load_all

    out = tmp_path / "out"
    ids = [r[0] for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
           .select("doc_id").collect()]
    ddl = (
        "doc_id bigint, lang string, bp_kept boolean, passes_all boolean, "
        "fp string, " + ", ".join(f"{c} bigint" for c in _SIG_COLS)
        + ", wfps array<bigint>, text_bp string, len_bp bigint, "
        "n_tokens_bp bigint"
    )
    n_null = len(_SIG_COLS) + 6
    spark.createDataFrame(
        [(i, "en", False, *([None] * n_null)) for i in ids], ddl
    ).write.parquet(f"{out}/state/features/_gen=0")
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)

    r = _run([
        "curate-delta", "--sf-dir", sf_dir, "--out", f"file://{out}",
        "--batches", "1",
    ])
    disp = load_all()["txt_curation_dag"].fn(spark, sf_dir)
    expected = {
        row["stage"]: row["n"]
        for row in disp.groupBy("stage").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert r["funnel"] == expected
    written = spark.read.parquet(f"{out}/disposition")
    assert written.count() == written.select("doc_id").distinct().count() == len(ids)
    assert os.listdir(cwd) == []

    with pytest.raises(SystemExit, match="local filesystem"):
        _run([
            "curate-delta", "--sf-dir", sf_dir, "--out", "s3a://bucket/cd",
        ])


def test_curate_delta_job_prevalidates_asof_vs_auto_compact(sf_dir):
    """--auto-compact-gens K with --as-of-gen G below the final rolling
    horizon (batches-1-K) fails UP FRONT with SystemExit, not with
    VacuumedGenerationError after the whole ingestion has run; a G at
    the boundary is accepted by the validator (r11 ADVICE)."""
    import pytest

    # batches=4, K=1 -> final horizon 2; as-of 1 would be vacuumed
    with pytest.raises(SystemExit):
        _run([
            "curate-delta", "--sf-dir", sf_dir, "--out", "/tmp/never",
            "--batches", "4", "--auto-compact-gens", "1",
            "--as-of-gen", "1",
        ])


def test_curate_delta_job_prevalidates_horizon_vs_auto_compact(sf_dir):
    """--compact --horizon H below the final rolling horizon that
    --auto-compact-gens reaches during ingestion fails UP FRONT with
    SystemExit (the closing compact_state would otherwise refuse with
    VacuumedGenerationError after the whole run)."""
    import pytest

    # batches=4, K=1 -> rolling horizon ends at 2; --horizon 1 refuses
    with pytest.raises(SystemExit):
        _run([
            "curate-delta", "--sf-dir", sf_dir, "--out", "/tmp/never",
            "--batches", "4", "--auto-compact-gens", "1",
            "--compact", "--horizon", "1",
        ])
