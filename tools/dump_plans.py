"""Regenerate PLANS.md: physical-plan evidence for the headline
queries (shuffle/broadcast counts, scan pruning, pushed filters) plus
the full formatted plan for a few exemplars.

Run: python tools/dump_plans.py   (writes PLANS.md at the repo root)
     python tools/dump_plans.py <round_dir> <suffix> <query> [...]
       (writes ``.explain("formatted")`` of each named query to
       plans/<round_dir>/<query>_<suffix>.txt, e.g.
       ``python tools/dump_plans.py r13 before dd_boilerplate_lines``)

This is the human-readable companion to tests/test_plans.py — the
tests FAIL when a plan regresses; this file lets a reviewer see the
current shapes without running anything.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from sentiflow_spark.plans import introspect as I  # noqa: E402
from sentiflow_spark.queries.registry import load_all  # noqa: E402
from sentiflow_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
EXEMPLARS = ("pl_e2e_results", "rel_q3_shipping_priority", "dd_minhash_lsh_pairs")


def dump_formatted(round_dir: str, suffix: str, names: list[str]) -> None:
    out_dir = os.path.join(ROOT, "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    registry = load_all()
    for n in names:
        df = registry[n].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{n}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(path)


def write_plans_md() -> None:
    spark = get_spark("dump-plans")
    registry = load_all()
    names = sorted(
        n for n, q in registry.items()
        if {"bench", "flagship"} & set(q.tags)
    )
    lines = [
        "# PLANS — physical-plan evidence (generated by tools/dump_plans.py)",
        "",
        f"Headline queries at {SF_DIR}, AQE on, 32 shuffle partitions.",
        "`Exch` = shuffle exchanges (broadcast exchanges excluded);",
        "`BHJ` = broadcast hash joins; `Cart` = cartesian products",
        "(must be 0); `PyRow` = pickled row-at-a-time Python UDF nodes",
        "(BatchEvalPython, must be 0); `Arrow` = vectorized",
        "ArrowEvalPython stages (non-zero ONLY for queries declaring",
        "the `arrow-udf` tag, where Spark has no builtin — pinned by",
        "tests/test_plans.py). Regenerate after plan-affecting changes.",
        "",
        "| Query | Exch | BHJ | Cart | PyRow | Arrow |",
        "|---|---|---|---|---|---|",
    ]
    for n in names:
        q = registry[n]
        if "streaming" in q.tags or "iterative" in q.tags:
            continue
        df = q.fn(spark, SF_DIR)
        lines.append(
            f"| `{n}` | {I.count_exchanges(df)} | "
            f"{I.count_broadcast_joins(df)} | "
            f"{int(I.has_cartesian(df))} | {I.pickled_eval_count(df)} | "
            f"{I.arrow_eval_count(df)} |"
        )
    for n in EXEMPLARS:
        df = registry[n].fn(spark, SF_DIR)
        lines += [
            "",
            f"## {n}",
            "",
            "```",
            I.simple_plan(df).strip(),
            "```",
        ]
    lines += [
        "",
        "## merge_upsert (K2 serving sink) — I/O shape, not a declared query",
        "",
        "Bucket-scoped MERGE (`streaming/sinks.py::merge_upsert`): table laid",
        "out as `_bucket=pmod(hash(key), 64)` partitions. Per micro-batch the",
        "read side is pruned to the buckets present in the batch (plus buckets",
        "holding expired rows when a retention sweep runs) via a partition",
        "filter on `_bucket`; the write side rewrites only those partitions",
        "(`partitionOverwriteMode=dynamic`) straight from the merge plan: the",
        "key window's shuffle reads the old files before the staged commit swaps",
        "them, and the incoming batch is pinned once so its plan runs once.",
        "The table is read with the batch's schema, checked against one",
        "stored footer on the driver, and its 64 bucket directories are",
        "listed on the driver: into an existing table a merge runs 3 Spark",
        "jobs (the pin, the write's shuffle map and result stages).",
        "Per-batch I/O is O(touched buckets) ≈ O(batch keys)",
        "— previously the whole table was read, shuffled through a global",
        "row_number window, and written twice per batch.",
        "`tests/test_sinks.py::test_merge_upsert_leaves_untouched_buckets_alone`",
        "pins the property (untouched bucket files byte- and mtime-identical).",
    ]
    out = os.path.join(ROOT, "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(names)} queries)")


def main() -> None:
    if len(sys.argv) == 1:
        write_plans_md()
    elif len(sys.argv) >= 4:
        round_dir, suffix, *names = sys.argv[1:]
        dump_formatted(round_dir, suffix, names)
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main()
