"""The measurement tooling itself (tools/regress.py's contention gate,
tools/oracle_sweep.py's host sentinel): the r10 rounds proved twice
that host contention — sometimes invisible to guest loadavg — reads as
phantom per-query regressions, so the comparison tool must refuse to
flag when either side's committed artifact proves it was contended.
Pure-subprocess tests; no Spark session needed."""

from __future__ import annotations

import json
import os
import subprocess
import sys

TOOLS = os.path.join(os.path.dirname(__file__), os.pardir, "tools")


def _regress(tmp_path, old, new, threshold="1.5"):
    po, pn = f"{tmp_path}/old.json", f"{tmp_path}/new.json"
    json.dump(old, open(po, "w"))
    json.dump(new, open(pn, "w"))
    return subprocess.run(
        [sys.executable, os.path.join(TOOLS, "regress.py"), po, pn,
         threshold],
        capture_output=True, text=True,
    )


def test_regress_flags_real_regression_on_quiet_hosts(tmp_path):
    """Baseline behavior: both sides quiet (probe in band) — a 3x
    per-query drift is flagged and the exit code is 1."""
    old = {"sf": "x", "host": {"load1_start": 1.0, "cpu_probe_s": 0.09},
           "queries": {"q_a": 1.0, "q_b": 2.0}}
    new = {"sf": "x",
           "host": {"load1_start": 1.2, "cpu_probe_start_s": 0.091,
                    "cpu_probe_end_s": 0.095},
           "queries": {"q_a": 3.0, "q_b": 2.1}}
    r = _regress(tmp_path, old, new)
    assert r.returncode == 1
    assert "REGRESSED q_a" in r.stdout
    assert "CONTENDED" not in r.stdout


def test_regress_suppresses_flags_when_either_side_contended(tmp_path):
    """The planted-fixture gate (r10 verdict ask): the NEW side's
    sentinel reads a 0.22 s probe — the exact hypervisor-contention
    signature r10 measured (load1 can even look quiet) — so the 3x
    drift must NOT be flagged; instead a loud CONTENDED banner and
    exit code 3 ('re-run on a quiet host', distinct from regressed=1
    and clean=0)."""
    old = {"sf": "x", "host": {"load1_start": 1.0, "cpu_probe_s": 0.09},
           "queries": {"q_a": 1.0, "q_b": 2.0}}
    new = {"sf": "x",
           "host": {"load1_start": 0.05, "cpu_probe_start_s": 0.22,
                    "cpu_probe_end_s": 0.1},
           "queries": {"q_a": 3.0, "q_b": 2.1}}
    r = _regress(tmp_path, old, new)
    assert r.returncode == 3
    assert "CONTENDED" in r.stdout and "NEW" in r.stdout
    assert "REGRESSED" not in r.stdout
    # ... and symmetrically when the OLD side was the contended one
    # (a contended baseline reads as a phantom IMPROVEMENT)
    r2 = _regress(tmp_path, new, old)
    assert r2.returncode == 3 and "OLD" in r2.stdout


def test_regress_ungated_without_host_block(tmp_path):
    """Pre-r11 artifacts carry no host block: compared ungated, exactly
    as before (no banner, flags live)."""
    old = {"sf": "x", "queries": {"q_a": 1.0}}
    new = {"sf": "x", "queries": {"q_a": 3.0}}
    r = _regress(tmp_path, old, new)
    assert r.returncode == 1
    assert "REGRESSED q_a" in r.stdout
    assert "CONTENDED" not in r.stdout


def test_regress_reads_host_block_under_driver_parsed_wrapper(tmp_path):
    """The driver wraps bench.py's JSON under "parsed": the sentinel
    must be found there too, so BENCH_r{N}.json comparisons are gated
    the same way as raw bench output."""
    old = {"parsed": {"host": {"cpu_probe_s": 0.19},
                      "queries": {"q_a": 1.0}}}
    new = {"sf": "x", "host": {"cpu_probe_s": 0.09},
           "queries": {"q_a": 3.0}}
    r = _regress(tmp_path, old, new)
    assert r.returncode == 3
    assert "CONTENDED" in r.stdout and "OLD" in r.stdout


def test_regress_skips_non_numeric_detail_pointer(tmp_path):
    """bench.py's stdout line may carry {"_detail": "BENCH_DETAIL.json"}
    instead of inline numbers: regress must skip non-numeric entries
    rather than crash, and still compare whatever numeric names remain."""
    old = {"sf": "x", "queries": {"_detail": "BENCH_DETAIL.json",
                                  "q_a": 1.0}}
    new = {"sf": "x", "queries": {"q_a": 1.1}}
    r = _regress(tmp_path, old, new)
    assert r.returncode == 0
    assert "shared 1 queries" in r.stdout


def test_regress_suppresses_flags_on_in_run_bursts(tmp_path):
    """r12 bursty gate: both endpoint probes quiet, but the in-run
    sampler caught interference mid-run (probe >= 0.15 s while the
    host was not saturated by the workload) — flags suppressed, exit 3,
    distinct banner."""
    old = {"sf": "x", "host": {"cpu_probe_start_s": 0.09,
                               "cpu_probe_end_s": 0.10},
           "queries": {"q_a": 1.0}}
    new = {"sf": "x",
           "host": {"cpu_probe_start_s": 0.097, "cpu_probe_end_s": 0.102,
                    "in_run_n": 25, "in_run_probe_med_s": 0.11,
                    "in_run_probe_max_s": 0.31, "in_run_bursts": 3},
           "queries": {"q_a": 9.0}}
    r = _regress(tmp_path, old, new)
    assert r.returncode == 3
    assert "BURSTY" in r.stdout and "NEW" in r.stdout
    assert "REGRESSED" not in r.stdout
    # symmetric: a bursty BASELINE also poisons the comparison
    r2 = _regress(tmp_path, new, old)
    assert r2.returncode == 3 and "OLD" in r2.stdout


def test_regress_in_run_quiet_sweep_is_ungated(tmp_path):
    """An in-run summary with zero bursts must NOT gate — elevated
    samples taken while the workload itself saturated the host are
    ordinary fair-share scheduling, already excluded by the sampler's
    runnable-count condition."""
    old = {"sf": "x", "host": {"cpu_probe_start_s": 0.09},
           "queries": {"q_a": 1.0}}
    new = {"sf": "x",
           "host": {"cpu_probe_start_s": 0.10, "cpu_probe_end_s": 0.09,
                    "in_run_n": 25, "in_run_probe_med_s": 0.10,
                    "in_run_probe_max_s": 0.29, "in_run_bursts": 0},
           "queries": {"q_a": 3.0}}
    r = _regress(tmp_path, old, new)
    assert r.returncode == 1
    assert "REGRESSED q_a" in r.stdout and "BURSTY" not in r.stdout


def test_host_sentinel_burst_classification(tmp_path):
    """InRunSampler.stop() summarization on a planted sample series:
    contended-probe samples count as bursts ONLY at low runnable;
    the io-stall cumulative rides along from the last sample."""
    sys.path.insert(0, TOOLS)
    try:
        from host_sentinel import InRunSampler
    finally:
        sys.path.pop(0)
    s = InRunSampler(period_s=999)
    planted = [
        {"offset_s": 20.0, "probe_s": 0.10, "runnable": 2,
         "io_stall_s": 0.5},
        # elevated probe but host saturated by the workload: NOT a burst
        {"offset_s": 40.0, "probe_s": 0.22, "runnable": 33,
         "io_stall_s": 1.0},
        # elevated probe at low runnable: burst
        {"offset_s": 60.0, "probe_s": 0.18, "runnable": 3,
         "io_stall_s": 2.5},
    ]
    with open(s._path, "w") as fh:
        for rec in planted:
            fh.write(json.dumps(rec) + "\n")
    out = s.stop(ncpus=32)
    assert out["in_run_n"] == 3
    assert out["in_run_bursts"] == 1
    assert out["in_run_burst_offsets_s"] == [60.0]
    assert out["in_run_probe_max_s"] == 0.22
    assert out["in_run_io_stall_s"] == 2.5


def test_host_sentinel_live_smoke():
    """The real child subprocess produces samples with the expected
    keys on this host (fast period, ~1 s window)."""
    import time as _time

    sys.path.insert(0, TOOLS)
    try:
        from host_sentinel import InRunSampler
    finally:
        sys.path.pop(0)
    s = InRunSampler(period_s=0.2)
    s.start()
    _time.sleep(1.2)
    out = s.stop(ncpus=32)
    assert out["in_run_n"] >= 1
    assert 0 < out["in_run_probe_med_s"] < 5


def test_regress_selective_burst_exclusion(tmp_path):
    """A bursty side WITH per-query offsets: only queries whose run
    window overlaps a burst (+/- 25 s margin) are excluded; a clean-
    window regression elsewhere is still flagged and the excluded set
    is listed as status-unknown."""
    old = {"sf": "x", "host": {"cpu_probe_start_s": 0.09},
           "queries": {"q_hit": 2.0, "q_clean": 1.0, "q_ok": 1.0}}
    new = {"sf": "x",
           "host": {"cpu_probe_start_s": 0.10, "cpu_probe_end_s": 0.10,
                    "in_run_bursts": 1,
                    "in_run_probe_max_s": 0.25,
                    "in_run_burst_offsets_s": [100.0]},
           # q_hit runs 90->96 s (overlaps 100 with margin); q_clean
           # runs 200->209 s (clean window, 3x = real flag); q_ok clean
           "queries": {"q_hit": 6.0, "q_clean": 3.0, "q_ok": 1.1},
           "offsets": {"q_hit": 90.0, "q_clean": 200.0, "q_ok": 300.0}}
    r = _regress(tmp_path, old, new)
    assert r.returncode == 1
    assert "BURST-EXCLUDED (1)" in r.stdout and "q_hit" in r.stdout
    assert "REGRESSED q_clean" in r.stdout
    assert "REGRESSED q_hit" not in r.stdout
    assert "shared 2 queries" in r.stdout  # totals over the clean set


def test_regress_bursty_without_offsets_still_fully_suppresses(tmp_path):
    """Backward compatibility: a bursty artifact with no offsets map
    (pre-r12 shape, or bench.py's compact line) cannot localize the
    burst — whole comparison suppressed, exit 3."""
    old = {"sf": "x", "host": {"cpu_probe_start_s": 0.09},
           "queries": {"q_a": 1.0}}
    new = {"sf": "x",
           "host": {"cpu_probe_start_s": 0.10, "in_run_bursts": 2,
                    "in_run_probe_max_s": 0.3,
                    "in_run_burst_offsets_s": [50.0]},
           "queries": {"q_a": 3.0}}  # no "offsets"
    r = _regress(tmp_path, old, new)
    assert r.returncode == 3
    assert "BURSTY" in r.stdout and "REGRESSED" not in r.stdout


def test_host_sentinel_child_exits_when_orphaned(tmp_path):
    """A parent that dies WITHOUT stop() (hard crash) must not leave
    the sampler child looping forever: it self-exits on reparenting —
    including the race where the parent dies before the child's
    interpreter boots (ppid already 1 at first read) — and removes its
    own output file."""
    import textwrap
    import time as _time

    code = textwrap.dedent("""
        import os, sys
        sys.path.insert(0, %r)
        from host_sentinel import InRunSampler
        s = InRunSampler(period_s=0.2)
        s.start()
        print(s._proc.pid, s._path, flush=True)
        os._exit(9)
    """ % os.path.abspath(TOOLS))
    p = subprocess.run([sys.executable, "-c", code],
                       capture_output=True, text=True)
    pid, path = p.stdout.split()
    deadline = _time.time() + 5
    while _time.time() < deadline and os.path.exists(f"/proc/{pid}"):
        _time.sleep(0.2)
    assert not os.path.exists(f"/proc/{pid}")
    assert not os.path.exists(path)


def test_regress_exclusion_without_flags_is_not_clean(tmp_path):
    """If burst exclusion removes the only drifted queries, the
    comparison is PARTIAL: zero flags must exit 3 (re-run to cover),
    never 0 — exit-code callers would otherwise record a round as
    clean on queries that were never compared."""
    old = {"sf": "x", "host": {"cpu_probe_start_s": 0.09},
           "queries": {"q_hit": 2.0, "q_ok": 1.0}}
    new = {"sf": "x",
           "host": {"cpu_probe_start_s": 0.10, "in_run_bursts": 1,
                    "in_run_probe_max_s": 0.25,
                    "in_run_burst_offsets_s": [100.0]},
           "queries": {"q_hit": 9.0, "q_ok": 1.05},
           "offsets": {"q_hit": 95.0, "q_ok": 300.0}}
    r = _regress(tmp_path, old, new)
    assert r.returncode == 3
    assert "BURST-EXCLUDED (1)" in r.stdout and "q_hit" in r.stdout
    assert "STATUS-UNKNOWN" in r.stdout
    assert "REGRESSED" not in r.stdout


def test_regress_truncated_burst_offsets_fully_suppress(tmp_path):
    """The artifact caps in_run_burst_offsets_s (host-block size); when
    in_run_bursts exceeds the localized list, un-localized bursts could
    have hit ANY query — selective exclusion is unsound and the whole
    comparison must suppress (exit 3)."""
    old = {"sf": "x", "host": {"cpu_probe_start_s": 0.09},
           "queries": {"q_a": 1.0}}
    new = {"sf": "x",
           "host": {"cpu_probe_start_s": 0.10, "in_run_bursts": 25,
                    "in_run_probe_max_s": 0.3,
                    "in_run_burst_offsets_s": [float(i) for i in
                                               range(20)]},
           "queries": {"q_a": 3.0},
           "offsets": {"q_a": 500.0}}
    r = _regress(tmp_path, old, new)
    assert r.returncode == 3
    assert "BURSTY" in r.stdout and "REGRESSED" not in r.stdout


# Defaulted parameters that stay settable with no caller setting them:
# deployment settings of the external adapters, which an operator sets
# per environment rather than per call.
UNSET_PARAMS_ALLOWED = {
    # request batching against the external LLM service
    ("sentiflow_spark/pipeline/model_udfs.py", "extract_topics_via_llm", "batch_size"),
    # health-probe timeout against the external model service
    ("sentiflow_spark/pipeline/model_udfs.py", "probe_health", "timeout_s"),
    # where a Kafka consumer starts reading
    ("sentiflow_spark/sources/kafka_io.py", "kafka_source_options", "starting_offsets"),
}


def _unset_params(root):
    r = subprocess.run(
        [sys.executable, os.path.join(TOOLS, "unset_params.py"), str(root)],
        capture_output=True, text=True,
    )
    assert r.returncode in (0, 1), r.stderr
    return {tuple(line.split()) for line in r.stdout.splitlines()}


def test_engine_has_no_unset_defaulted_params():
    """Every defaulted parameter of an engine function is set by some
    call in the repository (tools/unset_params.py, iterated to its
    fixpoint); a parameter no call sets is the constant it always is."""
    root = os.path.join(os.path.dirname(__file__), os.pardir)
    assert _unset_params(root) - UNSET_PARAMS_ALLOWED == set()


def test_unset_params_scan_follows_forwarding_aliases_and_transform(tmp_path):
    """The scan finds a parameter only ever forwarded from an unset one,
    and counts calls made through an import alias or
    ``DataFrame.transform`` as setting their arguments."""
    pkg = tmp_path / "sentiflow_spark"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "def inner(df, col='a'):\n    return df\n\n"
        "def outer(df, col='a'):\n    return inner(df, col)\n\n"
        "def aliased(df, n=1):\n    return df\n\n"
        "def piped(df, k=2):\n    return df\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "t.py").write_text(
        "from sentiflow_spark.m import aliased as al, outer, piped\n"
        "outer(1)\nal(1, n=3)\nx.transform(piped, 4)\n"
    )
    assert _unset_params(tmp_path) == {
        ("sentiflow_spark/m.py", "inner", "col"),
        ("sentiflow_spark/m.py", "outer", "col"),
    }
