"""Benchmark harness: run the headline declared queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

JVM/session bring-up (~10 s: SparkContext start, first file-index
build, shuffle/window/codegen machinery) is measured separately as
``init_s`` by probe jobs before the clock starts. Each query then runs
TWICE (raw passes in ``pass1_queries``/``pass2_queries``); the
headline ``queries``/``value`` is the per-query best-of-2. Pass 1 pays
the query's own whole-stage-codegen class compile + JIT (0.5-3.5 s of
one-time cost), and GC pauses land on random queries in either pass,
so a single-pass figure has 2-4x outliers that read as phantom
regressions round-over-round; best-of-2 is stable and is what
execution amortizes to on a long-running cluster.
"""

from __future__ import annotations

import json
import os
import sys
import time

from sentiflow_spark.queries.registry import load_all
from sentiflow_spark.session import get_spark, local_cpus

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: flagship pipeline + the heaviest operator families.
HEADLINE_TAGS = {"flagship", "bench"}


def _cpu_probe_s() -> float:
    """Fixed single-core CPU probe (~0.1 s nominal on an idle host):
    pure-Python integer work whose wall time scales directly with host
    contention, so a contended bench run is machine-detectable from
    the committed artifact alone (r9 verdict: BENCH_r09 was captured
    at load 13 with nothing running and read as a 1.22x phantom
    regression). Compare against the committed nominal band, not zero."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return round(time.perf_counter() - t0, 4)


def main() -> None:
    load1_start = round(os.getloadavg()[0], 2)
    cpu_probe = _cpu_probe_s()
    t_init = time.perf_counter()
    spark = get_spark("sentiflow-bench")
    # two trivial jobs: SparkContext start + scheduler warm-up, then a
    # 1-row scan that pays the first parquet reader/codegen bring-up —
    # otherwise the first suite query absorbs both one-time costs
    spark.range(1).count()
    from sentiflow_spark.tables import load

    load(spark, SF_DIR, "documents").limit(1).count()
    # warm the shuffle subsystem + HashAggregate/Exchange codegen: the
    # first shuffling query otherwise absorbs ~1 s of one-time cost
    from pyspark.sql import functions as F

    spark.range(1000).groupBy((F.col("id") % 8).alias("k")).count().count()
    # ... and the window/sort + regexp/md5 expression machinery, which
    # otherwise lands on whichever suite query runs first (the suite
    # runs in registration order; without this warm-up the first
    # query's number would carry this one-time cost)
    from pyspark.sql import Window as _W

    (
        spark.range(64)
        .select("id", F.md5(F.regexp_replace(F.col("id").cast("string"), "[0-9]", "x")).alias("fp"))
        .withColumn("rn", F.row_number().over(_W.partitionBy("fp").orderBy("id")))
        .count()
    )
    registry = load_all()
    names = [
        n for n, q in registry.items() if HEADLINE_TAGS.intersection(q.tags)
    ] or list(registry)
    # ... and the streaming engine + Arrow python workers, which
    # otherwise land on the first st_* query in suite order (~8-10 s of
    # one-time cost misattributed to that query). ONLY when the
    # selected set actually contains a streaming query: the current
    # headline set has none (tags are static registrations, unlike the
    # driver's rotating correctness window), so for the bench this
    # warm-up was ~8-10 s of init_s warming machinery no timed query
    # touches. init_s is outside the timed value by contract; the
    # timed region below is unchanged. (r13; the Arrow python-worker
    # warm-up for BATCH pandas/Arrow stages stays unconditional below
    # — several headline queries run Arrow stages.)
    if any("streaming" in registry[n].tags for n in names):
        from sentiflow_spark.streaming.dag import warm_streaming_engine

        warm_streaming_engine(spark)
    else:
        # batch half of the streaming warm-up: first Arrow
        # python-worker launch (~1-2 s) otherwise lands on the first
        # arrow-udf suite query
        from sentiflow_spark.queries.curation_queries import nfc_norm_expr

        spark.range(8).select(
            nfc_norm_expr(F.col("id").cast("string")).alias("t")
        ).count()
    init_s = round(time.perf_counter() - t_init, 4)

    # Two passes per query. The FIRST pass pays query-specific one-time
    # cost (whole-stage-codegen class compile, JIT) of 0.5-3.5 s with
    # high run-to-run variance; the SECOND is steady state (stable to
    # ~10%), which is what a 1000-executor run amortizes to — so warm
    # numbers are the headline and cold numbers are reported alongside.
    # In-run interference sampler (r12): the endpoint probe pair can
    # straddle bursty host interference entirely (see
    # tools/host_sentinel.py) — sample throughout the timed passes so
    # the committed artifact proves mid-run bursts too.
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
    )
    from host_sentinel import InRunSampler

    sampler = InRunSampler()
    sampler.start()
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for passes in (cold, warm):
        for name in names:
            t0 = time.perf_counter()
            registry[name].fn(spark, SF_DIR).count()
            passes[name] = round(time.perf_counter() - t0, 4)
    in_run = sampler.stop()
    # best-of-2 per query (the "min of N runs" convention BASELINE.md's
    # probes already use): GC pauses land on random queries in a 70-job
    # run, so either single pass has 2-4x outliers the other doesn't.
    timings = {n: round(min(cold[n], warm[n]), 3) for n in names}
    total = round(sum(timings.values()), 3)
    host = {
        "load1_start": load1_start,
        "load1_end": round(os.getloadavg()[0], 2),
        "cpu_probe_s": cpu_probe,
        # compact in-run keys only on the size-capped stdout line (the
        # gate key is in_run_bursts); the full summary — sample count,
        # median, burst offsets, io stall — goes to BENCH_DETAIL.json
        "in_run_bursts": in_run.get("in_run_bursts", 0),
        "in_run_probe_max_s": in_run.get("in_run_probe_max_s"),
    }

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Raw per-pass timings go to a FILE; stdout stays ONE compact JSON
    # line. Round 2 lost its machine-readable headline because the
    # one-line JSON (with pass1/pass2 dicts) outgrew the driver's ~2 KB
    # stdout tail capture — the final line must stay well under that
    # (tools/verify.py asserts < 1500 bytes).
    detail_obj = {"init_s": init_s, "sf": sf_val, "host": {**host, **in_run},
                  "cpus": local_cpus(),
                  "pass1_queries": cold,
                  "pass2_queries": warm, "queries": timings, "value": total}
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    # legacy fixed path (kept for driver compatibility) PLUS a
    # per-core-count path: the r12 driver's 8-core scaling run
    # overwrote the 32-core per-query detail at the fixed path, which
    # emptied PERF_r12's per_query table — the per-cpus file makes
    # every run's detail survive (additions-only harness change).
    for detail_path in (
        os.path.join(repo_dir, "BENCH_DETAIL.json"),
        os.path.join(repo_dir, f"BENCH_DETAIL_c{detail_obj['cpus']}.json"),
    ):
        with open(detail_path, "w") as fh:
            json.dump(detail_obj, fh, indent=1)
    line = json.dumps(
        {
            "metric": "suite wall time, best of 2 passes",
            "value": total,
            "unit": "sec",
            "init_s": init_s,
            "host": host,
            "n_queries": len(names),
            "sf": sf_val,
            "queries": timings,
        },
        separators=(",", ":"),
    )
    if len(line) > 1480:  # keep the driver-parse contract even if the
        # headline set grows: drop per-query detail last (it survives
        # in BENCH_DETAIL.json), never the totals
        line = json.dumps(
            {
                "metric": "suite wall time, best of 2 passes",
                "value": total,
                "unit": "sec",
                "init_s": init_s,
                "host": host,
                "n_queries": len(names),
                "sf": sf_val,
                "queries": {"_detail": "BENCH_DETAIL.json"},
            },
            separators=(",", ":"),
        )
    print(line)


if __name__ == "__main__":
    main()
