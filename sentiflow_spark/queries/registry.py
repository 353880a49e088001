"""Declared-query registry — the correctness surface of the engine.

Every operator the engine claims (SURVEY.md §2 inventory plus the
large-scale training-data extensions) registers here with:

- ``fn(spark, sf_dir) -> DataFrame`` — the Spark-first implementation,
- ``oracle`` — an equivalent ANSI-SQL string DuckDB can run on the same
  parquet tables (``None`` for genuinely non-SQL-expressible ops, which
  get a weaker rows-only check),
- ``tags`` — operator families for selection in tests/bench.

The registry is a plain registration table: ``load_all()`` imports the
query modules and returns every entry in registration order. It reads
no files. Callers that want another order sort the result themselves
(``__spark_entry__.queries()`` orders it for the CORRECTNESS window).

The driver executes both sides at sf=0.01 and compares row count,
schema, and an order-insensitive value hash; ``sentiflow_spark.oracle``
implements the same comparison for local tests.

Cross-engine determinism rules every registered query follows:

1. Aggregates over doubles go through DECIMAL (exact, order-independent)
   and the final value is cast back to DOUBLE — bitwise identical in
   both engines. This applies to the OUTPUT representation too: a raw
   DECIMAL output column reaches the driver as Python ``Decimal``
   objects on the Spark side vs float64 on the DuckDB side (exact
   sums that must stay exact ship as strings instead).
2. Timestamps in output are formatted to strings (or cast to DATE).
3. Any "pick one row per key" uses an explicit row_number tiebreak,
   never dropDuplicates (whose pick is partition-order dependent).
4. Column names are aliased identically on both sides.
5. Collection-typed (array/map) output columns are serialized to
   strings on both sides (``array_join`` vs ``array_to_string``, and
   each engine's struct-to-text function for maps) — list cells crash
   pandas ``sort_values`` canonicalization.
6. Integer-valued oracle aggregates are cast to BIGINT: DuckDB
   ``SUM(int)`` returns HUGEINT, which pandas coerces to float64 and
   the driver then hashes ``0.0`` against Spark's ``0``.

Rules 5-6 (and the pandas path generally) are enforced locally by
tools/pandas_canon.py / tools/oracle_sweep.py, which canonicalize
exactly like the driver; round 3 shipped 5 value-identical red rows
because the old tuple-based sweep could not see this class.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: SparkQuery
    oracle: str | None
    tags: tuple[str, ...] = field(default=())
    doc: str = ""
    # Optional cheaper oracle for LARGE scale factors in local sweeps
    # (e.g. a mirrored-blocking variant where `oracle` is deliberately
    # brute-force). The driver always gets `oracle` (it runs sf0.01,
    # where the expensive proof-carrying form is affordable).
    oracle_big: str | None = None


REGISTRY: dict[str, Query] = {}

# Modules that define queries; imported lazily by load_all() so that
# importing the registry itself stays cheap.
_QUERY_MODULES = (
    "sentiflow_spark.queries.repair_queries",
    "sentiflow_spark.queries.dedup_queries",
    "sentiflow_spark.queries.curation_queries",
    "sentiflow_spark.queries.curation_dag",
    "sentiflow_spark.queries.curation_delta",
    "sentiflow_spark.queries.similarity_queries",
    "sentiflow_spark.queries.retrieval_queries",
    "sentiflow_spark.queries.multimodal_queries",
    "sentiflow_spark.queries.window_queries",
    "sentiflow_spark.queries.pandas_udf_queries",
    "sentiflow_spark.queries.expression_extra",
    "sentiflow_spark.queries.text_queries",
    "sentiflow_spark.queries.streaming_queries",
    "sentiflow_spark.queries.pipeline_queries",
    "sentiflow_spark.queries.relational",
    "sentiflow_spark.queries.tpch_extra",
    "sentiflow_spark.queries.corpus_queries",
)

# ---------------------------------------------------------------------------
# Prepared-plan memo (r12 optimization round).
#
# Profiling the bench showed that for the expression-heavy declared
# queries, 0.2-1.3 s per invocation goes into CONSTRUCTING the
# DataFrame — thousands of py4j round-trips building the Column tree —
# before Spark runs a single task (mm_curation_gate: 1.28 s build,
# 0 jobs). A production engine prepares a statement once and executes
# it many times; this memo is exactly that, and nothing more: it
# caches the ANALYZED LOGICAL PLAN (a data-free expression tree) per
# (applicationId, sf_dir, query) and wraps it in a FRESH Dataset via
# Dataset.ofRows on every call, so each call gets a fresh
# QueryExecution — fresh optimization, fresh stages, fresh RDDs, a
# full recompute from the parquet inputs. No result, partition, or
# shuffle output is ever reused (reusing the SAME DataFrame object
# would let AQE reuse materialized stages — that is precisely what the
# fresh ofRows wrap prevents).
#
# Guard rails — a query is memoized ONLY when its construction is
# provably pure plan-building:
#   * tag-exempt: streaming / iterative / sink queries execute or
#     mutate state while building;
#   * runtime-exempt: the first build must launch ZERO Spark jobs
#     (catches metadata counts, index materialization, eager
#     localCheckpoints) and the analyzed plan must contain no
#     LogicalRDD / InMemoryRelation node (pinned data would otherwise
#     be carried across calls — the result-caching line this repo
#     does not cross).
# The analyzed (not optimized) plan is cached, so time-dependent
# expressions (now(), current_date) are still stamped per execution by
# the optimizer's ComputeCurrentTime rule, and temp-view references
# are resolved at build time against the sf_dir in the cache key.
#
# STALENESS CONTRACT (r13, closing the r12 verdict's caveat): the
# cached analyzed plan embeds the parquet FILE-INDEX SNAPSHOT taken
# when the plan was first built — files appended to a table directory
# afterwards are INVISIBLE to later calls of the same
# (applicationId, sf_dir, query) key, exactly like a prepared
# statement over a static file listing. This is correct for the
# engine's contract (the sf_dir corpora are immutable inputs; stores
# that DO grow — the curation LSM state, IVF upserts — are built by
# iterative/sink-tagged queries the memo already exempts). Pointing a
# memoized query at a GROWING directory table requires invalidating
# the key first: new SparkSession (applicationId changes) or
# registry._PLAN_MEMO.pop(key). Pinned by
# test_memo_snapshot_static_inputs_contract.
# ---------------------------------------------------------------------------

_PLAN_EXEMPT_TAGS = frozenset({"streaming", "iterative", "sink"})
_PLAN_MEMO: dict[tuple[str, str, str], object] = {}
_PLAN_SKIP: set[tuple[str, str, str]] = set()


def _prepared(name: str, tags: tuple[str, ...], fn: SparkQuery) -> SparkQuery:
    if _PLAN_EXEMPT_TAGS & set(tags):
        return fn

    import functools

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        try:
            sc = spark.sparkContext
            key = (sc.applicationId, sf_dir.rstrip("/"), name)
            jplan = _PLAN_MEMO.get(key)
            if jplan is not None:
                from pyspark.sql.classic.dataframe import DataFrame as _CDF

                jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                    spark._jsparkSession, jplan
                )
                return _CDF(jdf, spark)
            probe = sc._jsc.sc().dagScheduler().nextJobId
            j0 = probe()
        except Exception:  # non-classic session / private-API drift:
            return fn(spark, sf_dir)  # plain construction, no memo
        from sentiflow_spark import tables as _tables

        m0 = _tables._MISS_COUNT
        df = fn(spark, sf_dir)
        try:
            if key in _PLAN_SKIP:
                return df
            jobs = probe() - j0
            if jobs:
                # Jobs during a build are either tables.load()'s
                # one-time parquet schema inference (first load of a
                # table this session — the table-memo miss counter
                # moved) or genuinely eager query work (counts,
                # index materialization). Only the former is worth a
                # probe rebuild: the table memo is now warm, so the
                # rebuild is job-free and memoizable. Rebuilding an
                # eager query just to discover it launches jobs again
                # would DOUBLE its one-shot cost — skip it outright.
                if jobs > 4 or _tables._MISS_COUNT == m0:
                    _PLAN_SKIP.add(key)
                    return df
                j1 = probe()
                df = fn(spark, sf_dir)
                if probe() != j1:
                    _PLAN_SKIP.add(key)
                    return df
            jplan = df._jdf.queryExecution().analyzed()
            s = jplan.toString()
            if "LogicalRDD" in s or "InMemoryRelation" in s:
                _PLAN_SKIP.add(key)
                return df
            _PLAN_MEMO[key] = jplan
        except Exception:
            _PLAN_SKIP.add(key)
        return df

    return wrapped


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
    oracle_big: str | None = None,
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        wrapped = _prepared(name, tags, fn)
        REGISTRY[name] = Query(name=name, fn=wrapped, oracle=oracle,
                               tags=tags,
                               doc=doc or (fn.__doc__ or ""),
                               oracle_big=oracle_big)
        return wrapped

    return deco


def load_all() -> dict[str, Query]:
    """Import every query module and return the full registry in
    registration order (the order the ``register`` decorators ran)."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return dict(REGISTRY)
