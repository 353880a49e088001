"""Physical-plan introspection: the guardrails that keep every operator
scale-shaped. Tests assert on these instead of eyeballing .explain():

- filters/column pruning reached the parquet scan (PushedFilters /
  ReadSchema),
- dimension joins went broadcast (no shuffle of the fact side),
- the hot path stays inside WholeStageCodegen (no Python row loop),
- no CartesianProduct sneaks into a plan that should be an equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if some scan's PushedFilters mentions the fragment."""
    plan = formatted_plan(df)
    return any(
        fragment in line
        for line in plan.splitlines()
        if "PushedFilters" in line
    )


def scan_read_columns(df: DataFrame) -> list[list[str]]:
    """Top-level ReadSchema column lists for each parquet scan (column
    pruning). Splits only on depth-0 commas so nested struct columns
    (a:struct<b:int,c:int>) stay one entry."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("ReadSchema"):
            body = line.split("struct<", 1)[-1].rstrip(">")
            cols, depth, cur = [], 0, ""
            for ch in body:
                if ch == "<":
                    depth += 1
                elif ch == ">":
                    depth -= 1
                elif ch == "," and depth == 0:
                    cols.append(cur)
                    cur = ""
                    continue
                cur += ch
            if cur:
                cols.append(cur)
            out.append([c.split(":")[0].strip() for c in cols if c.strip()])
    return out


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count (Exchange nodes, minus broadcast exchanges)."""
    plan = simple_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    )


def count_broadcast_joins(df: DataFrame) -> int:
    return simple_plan(df).count("BroadcastHashJoin")


def has_cartesian(df: DataFrame) -> bool:
    return "CartesianProduct" in simple_plan(df)


def python_eval_count(df: DataFrame) -> int:
    """Row-at-a-time Python UDF evaluation nodes — should be 0
    everywhere. Counts BatchEvalPython AND ArrowEvalPython: with
    spark.sql.execution.pythonUDF.arrow.enabled a banned @udf plans as
    ArrowEvalPython, which is still a per-row Python loop; the
    sanctioned Arrow-batch path (mapInPandas) plans as MapInPandas and
    is not matched. Queries with a deliberate vectorized @pandas_udf
    stage (also an ArrowEvalPython node) carry the 'arrow-udf' tag and
    are exempted from the zero check — use pickled_eval_count /
    arrow_eval_count for the split."""
    plan = simple_plan(df)
    return plan.count("BatchEvalPython") + plan.count("ArrowEvalPython")


def pickled_eval_count(df: DataFrame) -> int:
    """BatchEvalPython nodes only — pickled row-at-a-time evaluation,
    banned without exception."""
    return simple_plan(df).count("BatchEvalPython")


def unpartitioned_window_specs(df: DataFrame) -> list[str]:
    """Window-family physical nodes (WindowExec, WindowInPandasExec,
    WindowGroupLimitExec) whose partitionSpec is EMPTY — each one is a
    single-task global sort at scale, the plan shape that silently
    stops scaling past one executor. Returns one node description per
    offender; [] is the healthy answer. Walks the JVM plan tree (the
    windowspecdefinition string is too comma-laden to parse) and
    descends into AQE wrappers via their initial plan."""
    out: list[str] = []

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.initialPlan())
            return
        if cls in (
            "WindowExec",
            "WindowInPandasExec",
            "WindowGroupLimitExec",
        ) and node.partitionSpec().isEmpty():
            out.append(node.simpleString(80))
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def arrow_eval_count(df: DataFrame) -> int:
    """ArrowEvalPython nodes — the vectorized @pandas_udf surface.
    Legitimate exactly where a query declares the 'arrow-udf' tag
    (Spark genuinely can't express the stage); 0 everywhere else."""
    return simple_plan(df).count("ArrowEvalPython")


def duplicated_python_udfs(df: DataFrame) -> list[str]:
    """Python UDF names that appear in MORE THAN ONE ArrowEvalPython
    node of the optimized plan — each extra node is a full extra
    Python round-trip per row that no JVM-side subexpression
    elimination can recover (unlike duplicated JVM expressions, which
    whole-stage codegen CSEs at runtime). The round-8 admission-gate
    audit found predicate pushdown silently planting a second NFC UDF
    evaluation this way; [] is the healthy answer."""
    import re
    from collections import Counter

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    per_node_names = [
        set(re.findall(r"(\w+)\(", m.group(1)))
        for m in re.finditer(r"ArrowEvalPython \[([^\]]*)\]", plan)
    ]
    counts = Counter(n for names in per_node_names for n in names)
    return sorted(n for n, c in counts.items() if c > 1)


# signature column -> testdata table, for classifying unpathed
# `Relation [...] parquet` nodes in logical plans
_TABLE_SIG = {
    "l_orderkey": "lineitem",
    "o_orderkey": "orders",
    "c_custkey": "customer",
    "s_suppkey": "supplier",
    "p_partkey": "part",
    "r_regionkey": "region",
    "n_nationkey": "nation",
    "event_id": "events",
    "doc_id": "documents",
    "vec_id": "embeddings",
}


def table_relation_counts(df: DataFrame) -> dict[str, int]:
    """How many times each base table appears as a parquet Relation in
    the OPTIMIZED LOGICAL plan — the structural scan-fanout number.
    Execution may collapse some via exchange reuse, but growth here is
    how the txt_drift_psi regression (12 corpus FileScans for a
    metadata-sized aggregate, r7) entered: each new lineage branch
    re-expanded to its own corpus scan. Tables are recognized by a
    signature column since logical Relations print without paths;
    unrecognized relations count under '?'."""
    import re
    from collections import Counter

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    c: Counter = Counter()
    for m in re.finditer(r"Relation \[([^\]]*)\] parquet", plan):
        cols = {x.split("#")[0] for x in m.group(1).split(",")}
        for sig, t in _TABLE_SIG.items():
            if sig in cols:
                c[t] += 1
                break
        else:
            c["?"] += 1
    return dict(c)
