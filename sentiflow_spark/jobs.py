"""Runnable job entry points — the reference's three binaries
(``cmd/producer``, ``cmd/consumer``, ``cmd/topic-generator``,
SURVEY §3) as one CLI:

    python -m sentiflow_spark.jobs ingest   --sf-dir D --out PATH
    python -m sentiflow_spark.jobs pipeline --sf-dir D --out PATH
    python -m sentiflow_spark.jobs stream   --sf-dir D --out PATH
    python -m sentiflow_spark.jobs topics   --sf-dir D --out PATH [--stored PATH]

- **ingest** (producer analog): documents → RawContent projection
  (sha256 content ids, nested metadata) → parquet append. With
  ``--kafka-brokers`` it writes the same rows to the raw-content topic
  instead (sources/kafka_io.py), which is the production wiring.
- **pipeline** (consumer DAG, batch deployment): RawContent → route →
  summarize → score → shape → TTL stamp → idempotent MERGE into the
  serving table (streaming/sinks.py) — replayable: re-running converges
  to the same table state.
- **stream** (consumer DAG, streaming deployment): the same
  ``sentiment_pipeline`` function under Structured Streaming with an
  ``availableNow`` trigger and a ``foreachBatch`` MERGE sink, over the
  ``--sf-dir`` file source. It refuses ``--kafka-brokers``: no Kafka
  source is wired into it, and pyspark ships no ``spark-sql-kafka``
  connector.
- **topics** (topic-generator analog): headlines → stub/LLM topic
  extraction → dedup → anti-join vs the stored snapshot (read-once, the
  reference's staleness semantics) → MERGE upsert.

Every job prints one JSON line with row counts so orchestrators can
assert on output. Each output is written by one execution of its
dataflow, and its count rides that write as an ``Observation`` on the
frame being written, not a second execution or a re-read. The
exceptions are deliberate: pipeline, stream and topics re-read their
table, because they report its size after a MERGE that sees only part
of it. curate's input count rides its disposition pin and its funnel
rides the disposition write; a funnel that does not add up to the
input count raises.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import urllib.parse

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _spark(app: str) -> SparkSession:
    from sentiflow_spark.session import get_spark

    return get_spark(app)


def job_ingest(args: argparse.Namespace) -> dict:
    from sentiflow_spark.pipeline.batch import documents_as_raw_content
    from sentiflow_spark.tables import load

    spark = _spark("sentiflow-ingest")
    written = Observation()
    raw = documents_as_raw_content(load(spark, args.sf_dir, "documents")).observe(
        written, F.count(F.lit(1)).alias("rows")
    )
    if args.kafka_brokers:
        from sentiflow_spark.sources.kafka_io import TOPIC_RAW_CONTENT, keyed_json_payload

        # K1 batch publish: keyed JSON, at-least-once + deterministic
        # keys (downstream dedups by content_id, SURVEY §3.1)
        (
            keyed_json_payload(raw, "content_id")
            .write.format("kafka")
            .option("kafka.bootstrap.servers", args.kafka_brokers)
            .option("topic", TOPIC_RAW_CONTENT)
            .save()
        )
        return {"job": "ingest", "rows": written.get["rows"], "sink": "kafka"}
    raw.write.mode("append").parquet(args.out)
    # "rows" is ALWAYS this run's batch size (same semantics as the
    # Kafka branch). Append mirrors the producer's at-least-once publish
    # — replays duplicate content_ids and downstream dedups by key
    # (SURVEY §3.1). The cumulative table count costs a full re-scan of
    # the output, so it's opt-in (--report-total); the default path
    # never reads the table it just wrote.
    result = {"job": "ingest", "rows": written.get["rows"], "sink": args.out}
    if args.report_total:
        result["rows_total"] = spark.read.parquet(args.out).count()
    return result


def _table_rows(spark: SparkSession, path: str) -> int:
    """Row count of a serving table a job merged into: 0 for a directory
    holding no parquet file, which a zero-row first merge leaves."""
    from sentiflow_spark.sources.files import TableDir

    if not TableDir(spark, path).has_parquet():
        return 0
    return spark.read.parquet(path).count()


def job_pipeline(args: argparse.Namespace) -> dict:
    from sentiflow_spark.pipeline.batch import (
        documents_as_raw_content,
        sentiment_pipeline,
    )
    from sentiflow_spark.streaming.sinks import merge_upsert, stamp_ttl
    from sentiflow_spark.tables import load

    spark = _spark("sentiflow-pipeline")
    raw = documents_as_raw_content(load(spark, args.sf_dir, "documents"))
    results = stamp_ttl(sentiment_pipeline(raw, router_threshold=args.router_threshold))
    merge_upsert(spark, results, args.out, key="content_id")
    return {"job": "pipeline", "rows": _table_rows(spark, args.out),
            "sink": args.out}


def run_gated_rounds(
    make_query,
    probe,
    rounds: int,
    poll_s: float = 15.0,
    sleep=None,
) -> list[str]:
    """F4 health gate around a sequence of ``availableNow`` runs: each
    round first asks ``probe()`` whether the model service is healthy;
    an unhealthy round is SKIPPED (no query started — pending input
    stays queued in the source/checkpoint, nothing is lost) and the
    loop sleeps one poll interval (the reference probes every 15 s,
    internal/monitoring/ai_healthchecks.go:12-48, and skips batches
    while unhealthy, internal/consumers/summary_consumer.go:67-71).
    Returns the per-round outcome list ("ran"/"skipped")."""
    import time as _time

    sleep = sleep or _time.sleep
    outcomes: list[str] = []
    for _ in range(rounds):
        if probe():
            q = make_query()
            q.awaitTermination()
            outcomes.append("ran")
        else:
            sleep(poll_s)
            outcomes.append("skipped")
    return outcomes


def job_stream(args: argparse.Namespace) -> dict:
    import contextlib
    import tempfile

    from sentiflow_spark.pipeline.batch import (
        documents_as_raw_content,
        sentiment_pipeline,
    )
    from sentiflow_spark.streaming.dag import load_stream
    from sentiflow_spark.streaming.sinks import results_sink

    if args.kafka_brokers:
        raise SystemExit(
            "stream: --kafka-brokers is not supported; no Kafka source is "
            "wired into the stream job, and this pyspark ships no "
            "spark-sql-kafka connector. The job streams --sf-dir files."
        )
    spark = _spark("sentiflow-stream")
    # Without --checkpoint the run resumes nothing, so its checkpoint is
    # scratch: removed when the job returns, and reported as null.
    with (
        contextlib.nullcontext(args.checkpoint)
        if args.checkpoint
        else tempfile.TemporaryDirectory(prefix="sf_ckpt_")
    ) as ckpt:

        def make_query():
            docs = load_stream(spark, args.sf_dir, "documents")
            flow = sentiment_pipeline(
                documents_as_raw_content(docs), router_threshold=args.router_threshold
            )
            return (
                flow.writeStream.foreachBatch(results_sink(args.out))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        if args.health_url:
            from sentiflow_spark.pipeline.model_udfs import probe_health

            outcomes = run_gated_rounds(
                make_query,
                probe=lambda: probe_health(args.health_url),
                rounds=args.health_rounds,
            )
        else:
            outcomes = run_gated_rounds(make_query, probe=lambda: True, rounds=1)
    return {"job": "stream", "rows": _table_rows(spark, args.out),
            "sink": args.out, "checkpoint": args.checkpoint, "rounds": outcomes}


def job_topics(args: argparse.Namespace) -> dict:
    from sentiflow_spark.pipeline.topics import generate_topics
    from sentiflow_spark.sources.files import TableDir
    from sentiflow_spark.streaming.sinks import merge_upsert
    from sentiflow_spark.tables import load

    spark = _spark("sentiflow-topics")
    headlines = load(spark, args.sf_dir, "documents")
    if args.stored and TableDir(spark, args.stored).has_parquet():
        stored = spark.read.parquet(args.stored)
    else:  # first run: empty snapshot with the right schema
        stored = spark.createDataFrame([], "url STRING")
    topics = generate_topics(headlines, stored)
    merge_upsert(spark, topics, args.out, key="url")
    return {"job": "topics", "rows": _table_rows(spark, args.out),
            "sink": args.out}


def job_dedup(args: argparse.Namespace) -> dict:
    """Corpus near-duplicate removal as a runnable job (the
    training-data-pipeline extension, SURVEY §7.2 M5): the
    oracle-checked dd_duplicate_clusters query (MinHash-LSH near pairs
    at Jaccard >= 0.9, connected components, cluster id = smallest
    member doc_id) is the whole pipeline. The survivor of each cluster
    is the doc whose doc_id equals its cluster_id; survivors are
    written with every document column plus the cluster id for
    audit."""
    from sentiflow_spark.queries.dedup_queries import dd_duplicate_clusters
    from sentiflow_spark.tables import load

    spark = _spark("sentiflow-dedup")
    seen, written = Observation(), Observation()
    docs = load(spark, args.sf_dir, "documents")
    heads = dd_duplicate_clusters(spark, args.sf_dir).filter(
        F.col("doc_id") == F.col("cluster_id")
    )
    survivors = (
        docs.observe(seen, F.count(F.lit(1)).alias("n"))
        .join(heads, "doc_id")
        .select(*docs.columns, "cluster_id")
        .observe(written, F.count(F.lit(1)).alias("n"))
    )
    survivors.write.mode("overwrite").parquet(args.out)
    n_in, n_out = seen.get["n"], written.get["n"]
    return {"job": "dedup", "rows_in": n_in, "rows_out": n_out,
            "removed": n_in - n_out, "sink": args.out}


def job_curate(args: argparse.Namespace) -> dict:
    """Full production curation DAG as a runnable job (SURVEY §7.2 M5,
    round-6 composition): NFC normalize → bench holdout → Gopher gates
    → exact dedup → MinHash near dedup → span decontamination → domain
    cap → grouped split → sequence packing
    (queries/curation_dag.py::txt_curation_dag, oracle-checked e2e).
    Writes TWO artifacts under --out: corpus/ (kept docs' clean text +
    shard assignment, partitioned by split) and disposition/ (one
    audit row per input doc), and returns the funnel counts; raises
    ValueError once both are written if the funnel does not add up to
    the input rows."""
    from sentiflow_spark.queries.curation_dag import (
        curation_stages,
        disposition,
    )

    spark = _spark("sentiflow-curate")
    with _job_description(spark, "curate: curation_stages"):
        st = curation_stages(spark, args.sf_dir)  # ONE pipeline pass
    # The input count rides the disposition pin on its docs arm, not the
    # funnel: it is the independent side of sum(funnel) == rows_in.
    rows_in = Observation()
    st["docs"] = st["docs"].select("doc_id", "lang").observe(
        rows_in, F.count(F.lit(1)).alias("rows")
    )
    with _job_description(spark, "curate: disposition"):
        disp = disposition(st).localCheckpoint()
    # The kept rows of the pin carry their post-cut text, so the corpus
    # write is a filter of it: the funnel's tail and the text cut run
    # once per call.
    with _job_description(spark, "curate: corpus_write"):
        disp.filter(F.col("stage") == "kept").select(
            "doc_id", "split", "n_tokens", "cut_chars", "seq_id", "clean_text"
        ).write.mode("overwrite").partitionBy("split").parquet(f"{args.out}/corpus")
    with _job_description(spark, "curate: disposition_write"):
        funnel = _write_disposition(disp.drop("clean_text"), args.out)
    n_in = rows_in.get["rows"]
    if sum(funnel.values()) != n_in:
        raise ValueError(
            f"curate: the disposition funnel {funnel} does not account for "
            f"the {n_in} input rows of {args.sf_dir}"
        )
    return {"job": "curate", "rows_in": n_in,
            "rows_out": funnel.get("kept", 0), "funnel": funnel,
            "sink": args.out}


@contextlib.contextmanager
def _job_description(spark: SparkSession, text: str):
    """Name the Spark jobs this thread launches inside the block, then
    restore the caller's description. The job group is left alone:
    callers count a whole call by it."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(caller)


def _write_disposition(disp: DataFrame, out: str) -> dict[str, int]:
    """Write the disposition under ``out`` and return its funnel: the
    row count per stage, stages with no rows left out. The counts ride
    the write as an ``Observation``, with the total row count beside
    them; a row whose stage is not a funnel label breaks the balance
    and raises ``ValueError`` once the write is done (the check runs no
    job of its own)."""
    from sentiflow_spark.queries.curation_dag import STAGES

    seen = Observation()
    disp.observe(
        seen,
        F.count(F.lit(1)).alias("_rows"),
        *(F.count_if(F.col("stage") == s).alias(s) for s in STAGES),
    ).write.mode("overwrite").parquet(f"{out}/disposition")
    counts = seen.get
    funnel = {s: counts[s] for s in STAGES if counts[s]}
    if sum(funnel.values()) != counts["_rows"]:
        raise ValueError(
            f"disposition funnel {funnel} does not balance: "
            f"{counts['_rows']} rows written under {out}/disposition"
        )
    return funnel


def _local_dir(out: str) -> str:
    """``--out`` as a local directory path: a ``file:`` URI maps to its
    path, and any other scheme is refused. The curation state under it
    is host-local by design — its writer fence is a kernel flock and
    its generation ids come from a directory listing — so the job
    reaches it with ``os``/``shutil``, which would read a URI as a
    relative path."""
    url = urllib.parse.urlparse(out)
    if url.scheme == "file":
        return url.path
    if url.scheme:
        raise SystemExit(
            f"curate-delta: --out {out}: the curation state must be on a "
            "local filesystem (its single-writer fence is a kernel flock "
            "and generation ids come from a directory listing); pass a "
            "local path or a file: URI"
        )
    return out


def job_curate_delta(args: argparse.Namespace) -> dict:
    """The INCREMENTAL form of job_curate — the steady-state production
    arrangement (reference: the 300 s fetch loop,
    cmd/producer/main.go:43-49, at curation-DAG fidelity): admit the
    corpus as --batches ascending delta batches against standing
    manifest-backed state under --out/state (additive segment-count
    MERGE, bench-hash set union, per-doc feature MERGE for delta ∪
    boilerplate-stale docs), then PUBLISH the release disposition from
    the manifests. The feature manifest doubles as the curated-corpus
    text store (post-boilerplate text per admitted doc). Converges to
    job_curate exactly — proved by txt_curation_delta's oracle entry
    hash-matching the one-shot DAG oracle."""
    import shutil

    from sentiflow_spark.queries.curation_delta import (
        compact_state,
        publish,
        run_delta_batches,
    )

    if args.compact and args.as_of_gen is not None and (
        args.horizon is None or args.as_of_gen < args.horizon
    ):
        raise SystemExit(
            "curate-delta: --compact vacuums generations below the "
            "retention horizon; pass --horizon H <= --as-of-gen to keep "
            "the release addressable (full --compact keeps no history)"
        )
    if (
        args.auto_compact_gens is not None
        and args.as_of_gen is not None
        and args.as_of_gen < args.batches - 1 - args.auto_compact_gens
    ):
        # fail BEFORE the ingestion, not with VacuumedGenerationError
        # after it: rolling compaction's final horizon is
        # (batches-1) - K, so any as-of read below that is vacuumed by
        # the time publish runs
        raise SystemExit(
            "curate-delta: --auto-compact-gens "
            f"{args.auto_compact_gens} leaves a final rolling horizon "
            f"of {args.batches - 1 - args.auto_compact_gens}; "
            f"--as-of-gen {args.as_of_gen} would be vacuumed before "
            "publish — raise --as-of-gen or --auto-compact-gens"
        )
    if (
        args.auto_compact_gens is not None
        and args.compact
        and args.horizon is not None
        and args.horizon < args.batches - 1 - args.auto_compact_gens
    ):
        # same fail-early rule for the post-ingestion compaction: a
        # re-compaction below the rolling horizon the loop already
        # advanced to raises VacuumedGenerationError only AFTER the
        # whole run
        raise SystemExit(
            "curate-delta: --horizon "
            f"{args.horizon} is below the final rolling horizon "
            f"{args.batches - 1 - args.auto_compact_gens} that "
            f"--auto-compact-gens {args.auto_compact_gens} reaches "
            "during ingestion; the closing --compact would refuse — "
            "raise --horizon (or drop it for a full compact)"
        )
    state = os.path.join(_local_dir(args.out), "state")
    spark = _spark("sentiflow-curate-delta")
    shutil.rmtree(state, ignore_errors=True)
    stats = run_delta_batches(
        spark, args.sf_dir, state, n_batches=args.batches,
        collect_stats=True, auto_compact_gens=args.auto_compact_gens,
    )
    compacted = (
        compact_state(spark, state, horizon=args.horizon)
        if args.compact
        else None
    )
    # An as-of publish must restrict the document universe to the
    # batches <= G (publish()'s contract): docs admitted in later
    # batches have no feature row as of G and would fall through the
    # stage when-chain to a bogus 'exact_dup'. The bound is
    # run_delta_batches' own range arithmetic for batch G's upper edge.
    universe = None
    if args.as_of_gen is not None:
        from sentiflow_spark.tables import load

        docs = load(spark, args.sf_dir, "documents")
        hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
        bound = hi * (args.as_of_gen + 1) // args.batches
        universe = docs.filter(F.col("doc_id") < bound)
    disp = publish(
        spark, args.sf_dir, state, as_of_gen=args.as_of_gen,
        universe=universe,
    ).localCheckpoint()
    funnel = _write_disposition(disp, args.out)
    out = {"job": "curate-delta", "batches": stats, "funnel": funnel,
           "rows_out": funnel.get("kept", 0), "sink": args.out}
    if compacted is not None:
        out["compacted"] = compacted
    if args.as_of_gen is not None:
        out["as_of_gen"] = args.as_of_gen
    return out


def job_gate_media(args: argparse.Namespace) -> dict:
    """Multimodal admission as a runnable job — the media twin of
    job_curate: run the composed gate (magic-byte container detection
    → builtin-only header parse → modality bounds;
    queries/multimodal_queries.py::mm_gate_flow, oracle-checked e2e
    batch AND streaming) and write TWO artifacts under --out:
    manifest/ (one dispositioned row per blob, partitioned by
    modality) and a rejects/ summary (drop counts per
    modality × reason — what a crawl operator tunes thresholds from).
    Returns the admission funnel."""
    from sentiflow_spark.queries.multimodal_queries import mm_gate_flow
    from sentiflow_spark.tables import load

    spark = _spark("sentiflow-gate-media")
    seen, written = Observation(), Observation()
    docs = (
        load(spark, args.sf_dir, "documents")
        .select("doc_id")
        .observe(seen, F.count(F.lit(1)).alias("n"))
    )
    gate = mm_gate_flow(docs).localCheckpoint()
    gate.observe(
        written, F.count_if(F.col("admitted")).alias("n")
    ).write.mode("overwrite").partitionBy("modality").parquet(
        f"{args.out}/manifest"
    )
    rejects = (
        gate.filter(~F.col("admitted"))
        .groupBy("modality", "reason")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rejects.write.mode("overwrite").parquet(f"{args.out}/rejects")
    funnel = {
        f"{r['modality']}/{r['reason']}": r["n"] for r in rejects.collect()
    }
    return {"job": "gate-media", "rows_in": seen.get["n"],
            "rows_out": written.get["n"],
            "rejected": funnel, "sink": args.out}


def job_compact(args: argparse.Namespace) -> dict:
    """Small-file maintenance as a runnable job: rewrite --src into
    size-targeted files at --out (sources/files.py::compact), sorted
    by --sort-by when given for min/max file skipping."""
    from sentiflow_spark.sources.files import TableDir, compact

    spark = _spark("sentiflow-compact")
    if not args.src:
        raise SystemExit("compact requires --src")
    sort_by = args.sort_by.split(",") if args.sort_by else ()
    n = compact(
        spark, args.src, args.out,
        target_file_mb=args.target_file_mb, sort_by=sort_by,
    )
    return {"job": "compact", "files_out": n,
            "bytes": TableDir(spark, args.out).size_bytes(), "sink": args.out}


def job_audit(args: argparse.Namespace) -> dict:
    """Data-quality gate as a runnable job: run the rel_dq_audit
    expectation suite, write the report, and fail (exit code 1) when
    any check reports violations — the publish gate a pipeline runs
    before promoting a snapshot."""
    from sentiflow_spark.queries.registry import load_all

    spark = _spark("sentiflow-audit")
    report = load_all()["rel_dq_audit"].fn(spark, args.sf_dir)
    report.write.mode("overwrite").parquet(args.out)
    # gate on the 6-row parquet just written — never re-execute the
    # five-table audit plan a second time
    rows = {
        r["check_name"]: r["n_violations"]
        for r in spark.read.parquet(args.out).collect()
    }
    failed = {k: v for k, v in rows.items() if v > 0}
    result = {"job": "audit", "checks": rows, "failed": sorted(failed),
              "ok": not failed, "sink": args.out}
    if failed and not args.allow_violations:
        print(json.dumps(result))
        raise SystemExit(1)
    return result


def job_sql(args: argparse.Namespace) -> dict:
    """Ad-hoc SQL as a runnable job: register the synthetic tables as
    views (sentiflow_spark/sql.py), run one statement, write the result
    to parquet. The switch-and-keep-your-SQL path for portable ANSI
    statements (the registry's oracle strings are DuckDB dialect and
    are not guaranteed to parse here — see sentiflow_spark/sql.py)."""
    from sentiflow_spark.sql import run_sql

    if not args.execute:
        raise SystemExit("sql job requires -e/--execute STATEMENT")
    spark = _spark("sentiflow-sql")
    written = Observation()
    df = run_sql(spark, args.sf_dir, args.execute)
    df.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(args.out)
    return {
        "job": "sql",
        "rows": written.get["rows"],
        "columns": df.columns,
        "sink": args.out,
    }


JOBS = {
    "audit": job_audit,
    "compact": job_compact,
    "curate": job_curate,
    "curate-delta": job_curate_delta,
    "gate-media": job_gate_media,
    "dedup": job_dedup,
    "ingest": job_ingest,
    "pipeline": job_pipeline,
    "sql": job_sql,
    "stream": job_stream,
    "topics": job_topics,
}


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(prog="sentiflow_spark.jobs")
    ap.add_argument("job", choices=sorted(JOBS))
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR))
    ap.add_argument("--out", required=True, help="output table path")
    ap.add_argument("--stored", default=None, help="stored-topics snapshot path")
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--router-threshold", type=int, default=256)
    ap.add_argument("--kafka-brokers", default=None)
    ap.add_argument("--health-url", default=None,
                    help="model health endpoint; gates stream rounds (F4)")
    ap.add_argument("--health-rounds", type=int, default=1,
                    help="number of gated availableNow rounds (stream job)")
    ap.add_argument("--report-total", action="store_true",
                    help="ingest: also report cumulative table count (extra scan)")
    ap.add_argument("--batches", type=int, default=3,
                    help="delta batches (curate-delta job)")
    ap.add_argument("--as-of-gen", type=int, default=None,
                    help="publish the release as of admission "
                         "generation G (curate-delta job)")
    ap.add_argument("--compact", action="store_true",
                    help="LSM-compact the standing state before "
                         "publish (curate-delta job; without "
                         "--horizon, discards all as-of history)")
    ap.add_argument("--horizon", type=int, default=None,
                    help="retention horizon for --compact: collapse "
                         "generations <= H into the base, keep later "
                         "ones as-of addressable (curate-delta job)")
    ap.add_argument("--auto-compact-gens", type=int, default=None,
                    help="rolling LSM compaction during ingestion: "
                         "whenever the state exceeds K+1 generation "
                         "partitions, compact all but the newest K "
                         "into the base (curate-delta job)")
    ap.add_argument("--src", default=None, help="input directory (compact job)")
    ap.add_argument("--sort-by", default=None, help="comma-separated sort keys (compact job)")
    ap.add_argument("--target-file-mb", type=int, default=128)
    ap.add_argument("-e", "--execute", default=None,
                    help="SQL statement to run over the table views (sql job)")
    ap.add_argument("--allow-violations", action="store_true",
                    help="audit: report violations without failing")
    args = ap.parse_args(argv)
    result = JOBS[args.job](args)
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
