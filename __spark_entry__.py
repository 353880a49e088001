"""Driver contract for the spark-graft builder (PySpark target).

Thin view over the engine's declared-query registry
(``sentiflow_spark.queries.registry``): every implemented operator from
SURVEY.md §2 (plus the large-scale training-data extensions) registers a
Spark callable and, where SQL-expressible, a DuckDB oracle string.

The CORRECTNESS window covers the first ~50 entries of the
``queries()`` dict, so this module (not the registry) orders the
entries for that window from the committed ``CORRECTNESS_r*.json``
results and the ``ROTATION_PLAN.json`` rotation plan.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sentiflow_spark.queries.registry import Query, load_all

FLAGSHIP = "pl_e2e_results"

_ROOT = os.path.dirname(os.path.abspath(__file__))

# DRIVER-UNVERIFIED queries go first, so the window self-rotates onto
# fresh families every round as the driver commits CORRECTNESS_r{N}.json
# back into the repo. Within the unverified set, families are fronted in
# this fixed order (round 3: corpus_queries' 48 + the 2-query pandas
# tail fill the window exactly; round 4 inherits streaming + text +
# expression_extra + the rel/tpch tail). The full family→round ledger
# lives in COVERAGE.md.
_ROTATION = (
    "corpus_queries",
    "pandas_udf_queries",
    "streaming_queries",
    "text_queries",
    "expression_extra",
    "relational",
    "tpch_extra",
    "pipeline_queries",
)


def _driver_verified() -> tuple[frozenset[str], frozenset[str]]:
    """Query names with a green row in any committed driver
    CORRECTNESS_r*.json, split by the strength of the check:
    ``(hash_verified, rows_only_seen)``.  Rows-only queries (declared
    no-oracle ops — the driver only confirms they run and produce
    rows) never reach the hash-verified set: they stay in the driver
    rotation at reduced priority so every round re-exercises them,
    rather than permanently leaving the window on a weak signal."""
    seen: set[str] = set()
    rows_only: set[str] = set()
    for path in sorted(glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("err") == "no_oracle":
                # declared rows-only contract: the driver saw it run
                # and produce rows — a weaker state than hash-verified
                if (row.get("spark_rows") or 0) > 0:
                    rows_only.add(name)
            elif (
                row.get("err") is None
                and row.get("rows_match")
                and row.get("hash_match")
            ):
                # hash-fail rows stay UNverified so they re-enter the
                # driver window after their oracle/representation fix
                # (round 3 shipped 4 value-identical hash-fails caused
                # by pandas canonicalization; see tools/pandas_canon.py)
                seen.add(name)
    return frozenset(seen), frozenset(rows_only - seen)


def _reverify_front() -> dict[str, int]:
    """name -> rank from ROTATION_PLAN.json (tools/rotation_plan.py):
    already-verified queries whose transitive implementing sources
    changed since their last driver row, most-recently-touched first.
    With the registry fully driver-verified (round 5), these fill the
    otherwise-idle CORRECTNESS window as a regression rotation."""
    try:
        with open(os.path.join(_ROOT, "ROTATION_PLAN.json")) as fh:
            plan = json.load(fh)
        return {name: i for i, name in enumerate(plan.get("front", []))}
    except (OSError, ValueError):
        return {}


def _window_ordered() -> dict[str, Query]:
    """The registry ordered for the driver's ~50-entry CORRECTNESS
    window: never-checked first (see _ROTATION), then rows-only (weak
    check, re-exercised every round), then the ROTATION_PLAN.json
    regression-rotation picks (verified queries whose sources changed
    since their driver row), then the remaining verified set."""
    registry = load_all()
    verified, rows_only = _driver_verified()
    refront = _reverify_front()
    insertion = {name: i for i, name in enumerate(registry)}

    def key(name: str) -> tuple[int, int, int]:
        # 0 = never driver-checked, 1 = rows-only (weak check: keep in
        # the window every round), 2 = verified but fronted for
        # re-verification by the committed rotation plan, 3 = verified
        if name not in verified:
            state = 1 if name in rows_only else 0
        elif name in refront:
            return (2, refront[name], insertion[name])
        else:
            state = 3
        family = registry[name].fn.__module__.rsplit(".", 1)[-1]
        fam_rank = (
            _ROTATION.index(family) if family in _ROTATION else len(_ROTATION)
        )
        return (state, fam_rank, insertion[name])

    return {name: registry[name] for name in sorted(registry, key=key)}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's full
    4-stage sentiment dataflow (route → summarize → score → join-back →
    shape) expressed as one batch DataFrame plan."""
    registry = load_all()
    return registry[FLAGSHIP].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator (SURVEY.md §2 / §7)."""
    return {name: q.fn for name, q in _window_ordered().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted for non-SQL-expressible
    operators (driver falls back to a rows-only check)."""
    return {
        name: q.oracle
        for name, q in _window_ordered().items()
        if q.oracle is not None
    }


def oracle_sql_big() -> dict[str, str]:
    """Cheaper oracle overrides for LARGE scale factors (local sweeps
    at sf0.1+). Where `oracle_sql()` registers a deliberately
    brute-force proof-carrying oracle (e.g. dd_edit_prefix_pairs'
    all-pairs levenshtein), this returns an equivalent mirrored-
    blocking form so big-sf sweeps stay fast; the driver (sf0.01)
    keeps the proof-carrying originals."""
    return {
        name: q.oracle_big
        for name, q in _window_ordered().items()
        if q.oracle_big is not None
    }
