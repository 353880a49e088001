"""Regression-rotation planner: pick which ALREADY-VERIFIED queries the
next driver CORRECTNESS window should re-verify.

Every registered query has a green driver row (round 5 closed the
registry), so the ~50-slot window is free each round. The highest-value
use of it is guarding against regressions: a query verified in round N
whose transitive implementing sources changed in a LATER commit is
running code the driver has never hash-checked. This tool derives that
set mechanically and writes ROTATION_PLAN.json (repo root), which
``__spark_entry__.queries()`` fronts between the rows-only queries and
the rest of the verified set.

Derivation:
1. last-verified round per query <- committed CORRECTNESS_r*.json
   (green hash rows only; rows-only stays in the window every round
   via ``__spark_entry__``'s window ordering),
2. verified-at date per query <- the driver's "round N:" boundary
   commit timestamps,
3. per-query source set <- the query family module plus its TRANSITIVE
   sentiflow_spark imports (static scan; function-local imports
   included since the scan is textual),
4. stale if any source file has a commit after the verified-at date;
   ordering: explicit --must names first (queries whose semantics
   changed this round and MUST get a fresh driver row), then the AGE
   FLOOR — any query whose last green row is >= AGE_FLOOR_ROUNDS old
   fronts regardless of source-touch recency, oldest verification
   first (a quarter of the post-must window stays reserved for young
   stale queries so they are never crowded out entirely) — then the
   remaining stale by most-recently-touched sources, then
   oldest-verified padding.

The age floor exists because pure touch-recency ranking structurally
STARVES queries whose implementing code never changes: the round-7
verdict found the 50-query round-1 bucket had not seen a driver row in
six rounds while shared cores evolved, precisely because its sources
were never the most-recently-touched. Staleness-major for old-enough
rows fixes that; touch-recency still orders the young stale set.

Run: python tools/rotation_plan.py [--write] [--cap N] [--must NAME ...]
Without --write it prints the plan; with --write it writes
ROTATION_PLAN.json. Re-run each round after the driver commits the new
CORRECTNESS file.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "sentiflow_spark")
sys.path.insert(0, ROOT)


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout


def round_boundaries() -> dict[int, int]:
    """round number -> unix timestamp of the driver's boundary commit."""
    out: dict[int, int] = {}
    for line in _git("log", "--format=%ct %s").splitlines():
        m = re.match(r"(\d+) round (\d+):", line)
        if m:
            out[int(m.group(2))] = int(m.group(1))
    return out


def last_verified_round() -> dict[str, int]:
    """query -> highest round with a green HASH row (rows-only rows are
    excluded: the registry already re-fronts those every round)."""
    seen: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        try:
            rows = json.load(open(path))
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if (
                isinstance(row, dict)
                and row.get("err") is None
                and row.get("rows_match")
                and row.get("hash_match")
            ):
                seen[name] = max(seen.get(name, 0), rnd)
    return seen


_IMPORT_RE = re.compile(
    r"^\s*(?:from|import)\s+(sentiflow_spark(?:\.[\w.]+)?)", re.MULTILINE
)


def _module_file(mod: str) -> str | None:
    rel = mod.replace(".", os.sep)
    for cand in (
        os.path.join(ROOT, rel + ".py"),
        os.path.join(ROOT, rel, "__init__.py"),
    ):
        if os.path.isfile(cand):
            return os.path.relpath(cand, ROOT)
    return None


# Universal plumbing every query imports: a commit here (e.g. adding a
# module to _QUERY_MODULES) would mark ALL 240+ queries stale with the
# SAME timestamp, collapsing the most-recently-touched ordering into a
# tie. Registry-wide changes are instead guarded by the 50-query window
# itself re-verifying every round.
_INFRA = {"sentiflow_spark.queries.registry"}


def transitive_sources(mod: str, memo: dict[str, set[str]]) -> set[str]:
    if mod in memo:
        return memo[mod]
    memo[mod] = set()  # cycle guard
    if mod in _INFRA:
        return memo[mod]
    f = _module_file(mod)
    if f is None:
        return memo[mod]
    files = {f}
    text = open(os.path.join(ROOT, f)).read()
    for dep in _IMPORT_RE.findall(text):
        files |= transitive_sources(dep, memo)
    memo[mod] = files
    return files


def file_last_commit_ts(files: set[str]) -> int:
    ts = 0
    for f in sorted(files):
        out = _git("log", "-1", "--format=%ct", "--", f).strip()
        if out:
            ts = max(ts, int(out))
    return ts


# A verified query whose green row is this many rounds old fronts the
# plan regardless of how recently its sources were touched (the
# anti-starvation floor — see module docstring).
AGE_FLOOR_ROUNDS = 5


def build_plan(cap: int, must: tuple[str, ...] = ()) -> dict:
    from sentiflow_spark.queries.registry import load_all

    reg = load_all()
    verified = last_verified_round()
    bounds = round_boundaries()
    cur_round = max(bounds) if bounds else 0
    memo: dict[str, set[str]] = {}
    file_ts_cache: dict[frozenset, int] = {}

    unknown = [m for m in must if m not in reg]
    if unknown:
        raise SystemExit(f"--must names not in registry: {unknown}")

    recs = []
    for name, q in reg.items():
        if name not in verified:
            continue  # unverified / rows-only: the registry fronts these itself
        rnd = verified[name]
        verified_ts = bounds.get(rnd, 0)
        srcs = frozenset(transitive_sources(q.fn.__module__, memo))
        if srcs not in file_ts_cache:
            file_ts_cache[srcs] = file_last_commit_ts(set(srcs))
        src_ts = file_ts_cache[srcs]
        recs.append(
            {
                "name": name,
                "verified_round": rnd,
                "source_ts": src_ts,
                "stale": src_ts > verified_ts,
                "aged": cur_round - rnd >= AGE_FLOOR_ROUNDS,
            }
        )

    must_set = set(must)
    must_recs = sorted(
        (r for r in recs if r["name"] in must_set),
        key=lambda r: must.index(r["name"]),
    )
    rest = [r for r in recs if r["name"] not in must_set]
    # age floor: old-enough rows front oldest-first, stale or not
    aged = sorted(
        (r for r in rest if r["aged"]),
        key=lambda r: (r["verified_round"], r["name"]),
    )
    young = [r for r in rest if not r["aged"]]
    # young stale: most-recently-touched sources first, then oldest
    stale = sorted(
        (r for r in young if r["stale"]),
        key=lambda r: (-r["source_ts"], r["verified_round"]),
    )
    # if the above don't fill the window, pad with oldest-verified
    fresh = sorted(
        (r for r in young if not r["stale"]),
        key=lambda r: (r["verified_round"], r["name"]),
    )
    # The aged block fronts, but may not STARVE young-stale queries
    # (source-touched this round) out of the window entirely: a quarter
    # of the post-must room is reserved for young-stale whenever any
    # exist, so every round re-verifies at least some of what just
    # changed (round-8 ADVICE) while a large aged backlog still drains
    # at full speed (capping aged at half would stretch the staleness
    # retirement the age floor exists to finish).
    room = max(0, cap - len(must_recs))
    reserve = min(len(stale), room // 4)
    aged_take = min(len(aged), room - reserve)
    picked = (must_recs + aged[:aged_take] + stale + aged[aged_take:] + fresh)[
        :cap
    ]
    return {
        "generated_from_round": cur_round,
        "stale_count": sum(r["stale"] for r in recs),
        "aged_count": len(aged),
        "front": [r["name"] for r in picked],
        "detail": {
            r["name"]: {
                "verified_round": r["verified_round"],
                "stale": r["stale"],
                "aged": r["aged"],
            }
            for r in picked
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    ap.add_argument("--cap", type=int, default=48)
    ap.add_argument("--must", nargs="*", default=[])
    args = ap.parse_args()
    plan = build_plan(args.cap, tuple(args.must))
    if args.write:
        with open(os.path.join(ROOT, "ROTATION_PLAN.json"), "w") as fh:
            json.dump(plan, fh, indent=1)
        print(f"wrote ROTATION_PLAN.json: {len(plan['front'])} fronted "
              f"({plan['stale_count']} stale)")
    else:
        print(json.dumps(plan, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
