"""Plan-shape guardrails: these tests pin the physical properties that
make the operators scale — if a refactor adds a shuffle, drops a
broadcast, un-pushes a filter, or introduces a Python row loop or a
cartesian product, this fails before any benchmark notices."""

from __future__ import annotations

import pytest

from sentiflow_spark.plans import introspect as I
from sentiflow_spark.queries.registry import load_all

REGISTRY = load_all()


def q(spark, sf_dir, name):
    return REGISTRY[name].fn(spark, sf_dir)


def test_flagship_pipeline_shuffle_free(spark, sf_dir):
    """The whole 4-stage sentiment dataflow is one map stage: the model
    stubs score on-row, so nothing joins or repartitions the content
    stream."""
    df = q(spark, sf_dir, "pl_e2e_results")
    assert I.count_exchanges(df) == 0
    assert "Join" not in I.simple_plan(df)
    assert not I.has_cartesian(df)


def test_q1_single_shuffle_pruned_scan(spark, sf_dir):
    df = q(spark, sf_dir, "rel_q1_pricing_summary")
    assert I.count_exchanges(df) == 1  # just the final aggregation
    cols = I.scan_read_columns(df)[0]
    assert set(cols) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }  # 7 of 11 columns — pruning reached the scan


def test_q6_filters_pushed(spark, sf_dir):
    df = q(spark, sf_dir, "rel_q6_forecast_revenue")
    assert I.has_pushed_filter(df, "l_shipdate")
    assert I.has_pushed_filter(df, "l_discount")
    assert I.has_pushed_filter(df, "l_quantity")


def test_q5_star_join_broadcasts_dims(spark, sf_dir):
    df = q(spark, sf_dir, "rel_q5_local_supplier")
    assert I.count_broadcast_joins(df) >= 3  # supplier/nation/region at minimum
    assert I.count_exchanges(df) <= 3
    assert not I.has_cartesian(df)


def test_lsh_pairs_no_cartesian(spark, sf_dir):
    """LSH candidate generation must stay an equi-join on band buckets."""
    df = q(spark, sf_dir, "dd_minhash_lsh_pairs")
    assert not I.has_cartesian(df)


def test_simhash_pairs_no_cartesian(spark, sf_dir):
    df = q(spark, sf_dir, "dd_simhash_near_pairs")
    assert not I.has_cartesian(df)


# ---------------------------------------------------------------------
# ONE shared scan for every registry-wide lint. Building a query's fn
# is not free (several queries localCheckpoint stages eagerly; the
# streaming/iterative ones execute outright), so the five registry-wide
# lints share a single build pass instead of five. The conf snapshot is
# taken around each build here because it must wrap the ONLY build.
# ---------------------------------------------------------------------

# Session confs a query may legitimately change, and keep changed, for
# the rest of the session. Anything else leaking out of a registry
# entry's build fails the conf lint (the round-6 verdict's ask #4:
# rel_agg_pushdown's leak was adjudicated safe, but only a lint makes
# the next one impossible to land silently).
CONF_LEAK_ALLOWLIST = {
    # consulted at PLAN time (V2ScanRelationPushDown), cannot be
    # restored around a lazy read without killing the pushdown; inert
    # elsewhere because useV1SourceList is restored (and the stray-V2
    # lint proves no other query plans a parquet BatchScan)
    "rel_agg_pushdown": {"spark.sql.parquet.aggregatePushdown"},
}
# session-lifetime confs set once by shared infrastructure, not leaks:
# tables.load flips nanosAsLong on the first events.parquet read
CONF_GLOBAL_OK = {"spark.sql.legacy.parquet.nanosAsLong"}


def _sql_confs(spark) -> dict:
    return {r["key"]: r["value"] for r in spark.sql("SET").collect()}


@pytest.fixture(scope="module")
def plan_scan(spark, sf_dir):
    """name -> (df, conf_keys_changed_by_the_build). Built once for the
    whole module; every registry-wide lint below reads from it."""
    from sentiflow_spark.tables import load

    # warm the known session-lifetime conf so it never shows as a diff
    load(spark, sf_dir, "events")
    out = {}
    for name, entry in REGISTRY.items():
        before = _sql_confs(spark)
        df = entry.fn(spark, sf_dir)
        after = _sql_confs(spark)
        changed = {
            k
            for k in set(before) | set(after)
            if before.get(k) != after.get(k) and k not in CONF_GLOBAL_OK
        }
        out[name] = (df, changed)
    return out


def _lazy(entry) -> bool:
    return "streaming" not in entry.tags and "iterative" not in entry.tags


def test_no_python_row_udfs_anywhere(plan_scan):
    """Row-at-a-time Python UDFs are banned from every declared query;
    the only Python is Arrow-batched (mapInPandas, @pandas_udf, Arrow
    UDTF — the latter two carry the 'arrow-udf' tag and are checked
    separately below). Streaming/iterative entries execute eagerly, so
    only the lazily-planned ones are inspectable."""
    for name, entry in REGISTRY.items():
        if not _lazy(entry) or "arrow-udf" in entry.tags:
            continue
        assert I.python_eval_count(plan_scan[name][0]) == 0, name


def test_arrow_udf_queries_stay_on_arrow_path(plan_scan):
    """The declared Python-surface queries must plan as Arrow
    evaluation (ArrowEvalPython / ArrowEvalPythonUDTF / a Python UDAF
    inside a real two-stage aggregate) — never pickled-row
    BatchEvalPython."""
    checked = 0
    for name, entry in REGISTRY.items():
        if "arrow-udf" not in entry.tags or not _lazy(entry):
            continue
        plan = I.simple_plan(plan_scan[name][0])
        assert "BatchEvalPython" not in plan, name
        checked += 1
    assert checked >= 3


@pytest.mark.parametrize("name", ["rel_topk_global", "rel_q3_shipping_priority"])
def test_topk_uses_take_ordered(spark, sf_dir, name):
    """Global LIMIT+ORDER BY compiles to TakeOrderedAndProject — a
    per-partition top-k + merge, not a total sort."""
    df = q(spark, sf_dir, name)
    assert "TakeOrderedAndProject" in I.simple_plan(df)


def test_asof_join_single_shuffle(spark, sf_dir):
    """The union+window as-of pattern shuffles once on user_id —
    no row-explosion, no join node at all."""
    df = q(spark, sf_dir, "rel_asof_join")
    assert I.count_exchanges(df) <= 2
    assert not I.has_cartesian(df)


def test_salted_join_is_shuffled_hash(spark, sf_dir):
    """Salting must produce a shuffled hash join on (key, salt) — not a
    broadcast (which would defeat the demo) or a cartesian."""
    df = q(spark, sf_dir, "rel_skew_salted_join")
    plan = I.simple_plan(df)
    assert "ShuffledHashJoin" in plan
    assert not I.has_cartesian(df)


def test_frame_sample_prunes_before_udf(spark, sf_dir):
    """mapInPandas input is pruned to (doc_id, payload): Arrow ships
    only the needed bytes."""
    df = q(spark, sf_dir, "mm_frame_sample")
    cols = I.scan_read_columns(df)[0]
    assert set(cols) == {"doc_id", "text"}


# queries that intentionally contain a (broadcast-bounded) cross join:
# tiny probe/centroid sets against the corpus, or a deliberate CROSS
# JOIN demo query
CARTESIAN_OK = {"rel_join_cross", "rel_scalar_subquery"}


def test_no_unbounded_cartesian_anywhere(plan_scan):
    """Registry-wide sweep: no query may plan a CartesianProduct unless
    whitelisted as an intentional bounded cross join — pair generation
    must always be an equi-join (LSH bands, chunks, buckets)."""
    for name, entry in REGISTRY.items():
        if not _lazy(entry) or name in CARTESIAN_OK:
            continue
        assert not I.has_cartesian(plan_scan[name][0]), name


def test_q4_semi_join_with_residual(spark, sf_dir):
    """The correlated EXISTS plans as ONE left-semi join carrying the
    non-equi shipdate residual — not a join + distinct, and never a
    per-row re-scan."""
    plan = I.simple_plan(q(spark, sf_dir, "rel_q4_order_priority"))
    assert "LeftSemi" in plan
    assert "INTERVAL '30' DAY" in plan  # residual rides the semi join
    assert plan.count("Join") == 1


def test_q17_window_decorrelation_single_extra_shuffle(spark, sf_dir):
    """The per-part AVG subquery costs exactly one partkey shuffle (the
    window), not a re-aggregation join."""
    df = q(spark, sf_dir, "rel_q17_small_quantity")
    assert I.count_exchanges(df) <= 2  # window partition + final 1-row agg
    assert "Window" in I.simple_plan(df)


def test_q18_semi_join_and_take_ordered(spark, sf_dir):
    plan = I.simple_plan(q(spark, sf_dir, "rel_q18_large_volume"))
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_q19_equi_join_with_bracket_residual(spark, sf_dir):
    """The OR-of-ANDs bracket predicate stays a residual on a partkey
    equi-join, and the derivable brand filter is pushed into the
    part scan."""
    df = q(spark, sf_dir, "rel_q19_bracket_join")
    assert not I.has_cartesian(df)
    assert I.has_pushed_filter(df, "p_brand")


def test_q21_decorrelated_no_cartesian(spark, sf_dir):
    """EXISTS + NOT EXISTS become aggregate joins on orderkey: no
    cartesian, no nested-loop, and a deterministic top-k."""
    df = q(spark, sf_dir, "rel_q21_waiting_suppliers")
    plan = I.simple_plan(df)
    assert not I.has_cartesian(df)
    assert "NestedLoop" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q13_join_side_filter_pushed_to_scan(spark, sf_dir):
    """The ON-clause filter on the outer join's right side prunes the
    orders scan (outer-join semantics preserved, filter still pushed)."""
    df = q(spark, sf_dir, "rel_q13_customer_distribution")
    assert I.has_pushed_filter(df, "o_orderpriority")
    assert "LeftOuter" in I.simple_plan(df)


def test_tfidf_df_has_no_term_window(spark, sf_dir):
    """Document frequency must come from a partial-aggregated
    groupBy+join, never a Window partitioned by term: a term window
    pins every posting of a stopword term into one buffering task at
    corpus scale. Guards the de-skewed shape of ret_tfidf_topk /
    ret_bm25_topk (the only Window allowed is the bounded per-doc /
    per-query top-k rank)."""
    reg = load_all()
    for name, part_key in (("ret_tfidf_topk", "doc_id"), ("ret_bm25_topk", None)):
        plan = I.simple_plan(reg[name].fn(spark, sf_dir))
        for line in plan.splitlines():
            if "Window" not in line or "WindowGroupLimit" in line:
                continue
            assert "term" not in line.split("windowspecdefinition")[-1].split("]")[0] or (
                part_key and f"{part_key}#" in line
            ), f"{name} has a term-partitioned window:\n{line}"


def test_aqe_skew_join_splits_hot_partition(spark):
    """The session enables spark.sql.adaptive.skewJoin — prove it DOES
    something: a sort-merge join with one hot key, run with the skew
    thresholds lowered to test scale, must show skew-split partitions
    in the final adaptive plan (the runtime defense rel_skew_salted_*
    complements with explicit salting)."""
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")

        from pyspark.sql import functions as F

        left = spark.range(300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("pad"),
        )
        right = spark.range(2_000).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        joined = left.join(right, "k")
        # collect() executes joined's OWN QueryExecution (count() would
        # build a different one and leave this plan un-finalized)
        assert len(joined.collect()) > 0
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_segment_dedup_pruned_scan_no_seg_window(spark, sf_dir):
    """dd_segment_dedup must (1) prune the documents scan to
    (doc_id, text) — the corpus is the 100 TB input and extra columns
    ride every explode row — and (2) never plan a Window over the
    segment value (global first-wins ownership must be the
    partial-aggregated min, or hot boilerplate segments single-task)."""
    df = q(spark, sf_dir, "dd_segment_dedup")
    for cols in I.scan_read_columns(df):
        assert set(cols) <= {"doc_id", "text"}, cols
    plan = I.simple_plan(df)
    for line in plan.splitlines():
        assert not (
            "Window" in line and "seg#" in line.split("windowspecdefinition")[-1][:60]
        ), f"segment-partitioned window:\n{line}"


def test_gapfill_spine_is_pergroup_sequence(spark, sf_dir):
    """win_gapfill_locf's dense spine comes from a per-series min/max
    aggregate exploded map-side — a Generate over sequence(), never a
    cartesian with a calendar table."""
    df = q(spark, sf_dir, "win_gapfill_locf")
    assert not I.has_cartesian(df)
    plan = I.simple_plan(df)
    assert "Generate explode(sequence" in plan.replace("  ", " ")


def test_interval_overlap_is_bin_equijoin(spark, sf_dir):
    """rel_interval_overlap_join must realize the overlap predicate as
    a bin equi-join + residual filter, never a cartesian/broadcast
    nested loop over the raw predicate."""
    df = q(spark, sf_dir, "rel_interval_overlap_join")
    assert not I.has_cartesian(df)
    plan = I.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bin" in I.simple_plan(df)


def test_ewma_unrolled_no_window(spark, sf_dir):
    """The EWMA recurrence is unrolled to a lag equi-join + partial agg
    — if a refactor reintroduces a Window (sequential per-series scan)
    or loses the broadcast on the 12-row lag table, this fails."""
    df = q(spark, sf_dir, "win_ewma_halflife")
    plan = I.simple_plan(df)
    assert "Window" not in plan
    assert I.count_broadcast_joins(df) >= 1  # the lag-weights table


def test_curation_funnel_single_scan(spark, sf_dir):
    """The whole funnel is ONE scan + one conditional-sum aggregate —
    never a per-stage re-scan."""
    df = q(spark, sf_dir, "txt_curation_funnel")
    plan = I.simple_plan(df)
    assert plan.count("FileScan") == 1
    assert I.count_exchanges(df) <= 1  # the single-row final agg


def test_weighted_sample_take_ordered(spark, sf_dir):
    """Top-k by priority is a distributed TakeOrdered (per-partition
    partial top-k), not a global sort."""
    df = q(spark, sf_dir, "txt_weighted_sample")
    plan = I.simple_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_sq8_recall_no_cartesian_blowup(spark, sf_dir):
    """Both ranking arms stay broadcast-probe shaped (bounded probe set
    against the corpus), never a shuffled cross product."""
    df = q(spark, sf_dir, "sim_sq8_recall")
    assert not I.has_cartesian(df)


def test_prf_expansion_broadcast_bounded(spark, sf_dir):
    """Both PRF passes stay broadcast-bounded: the feedback semi join
    and the expansion-dictionary join must be broadcast (k and 5 rows
    respectively), and the final cut a TakeOrdered — a shuffle on
    either tiny side means the two-pass loop stopped scaling."""
    df = q(spark, sf_dir, "ret_prf_expansion")
    plan = I.simple_plan(df)
    assert I.count_broadcast_joins(df) >= 2
    assert "TakeOrderedAndProject" in plan
    assert not I.has_cartesian(df)


def test_doc_sim_topk_df_capped_join(spark, sf_dir):
    """The similarity-neighbor pair join must run over the df-capped
    posting lists: the cap shows up as a semi join against the
    document-frequency filter before the pair self-join (the shape the
    20x probe showed converting quadratic 292 s to linear 18.6 s)."""
    # r12: the registered query pins the shingle stream, which hides
    # the operator's internals behind the checkpoint boundary — so the
    # shape guard reads the SAME single-sourced operator unpinned
    # (every consumer shares it, so a shape regression surfaces here)
    from sentiflow_spark.operators.dedup import shingle_pair_counts
    from sentiflow_spark.queries.corpus_queries import DOC_SIM_DF_CAP
    from sentiflow_spark.tables import load as _load

    docs = _load(spark, sf_dir, "documents")
    pairs = shingle_pair_counts(docs, df_cap=DOC_SIM_DF_CAP, pin=False)
    plan = I.simple_plan(pairs)
    assert "LeftSemi" in plan  # the df-cap filter application
    assert not I.has_cartesian(pairs)
    assert not I.has_cartesian(q(spark, sf_dir, "dd_doc_sim_topk"))


def test_lsh_calibration_exact_side_is_candidate_bounded(spark, sf_dir):
    """Round-3 fix pin: dd_lsh_calibration's exact Jaccard must come
    from per-candidate array_intersect over joined shingle SETS, never
    the uncapped all-pairs inverted-index self-join (>580s at the 50x
    probe vs 41s for the bounded shape, identical values)."""
    df = q(spark, sf_dir, "dd_lsh_calibration")
    plan = I.simple_plan(df)
    assert "array_intersect" in plan


def test_threshold_curve_runs_on_doc_sample(spark, sf_dir):
    """Round-3 fix pin: dd_threshold_curve's pair truth is computed on
    the deterministic md5 doc sample (the sampled-slice practice its
    docstring invokes), so the filter must appear in the plan before
    the pair join."""
    # r12: the sampled-slice truth lineage sits behind the registered
    # query's checkpoint pin — assert the sample filter on the same
    # construction unpinned (single-sourced operator + the query's own
    # sample predicate)
    from pyspark.sql import functions as F

    from sentiflow_spark.operators.dedup import shingle_pair_counts
    from sentiflow_spark.queries.corpus_queries import LSH_RECALL_SAMPLE_HEX
    from sentiflow_spark.tables import load as _load

    docs = _load(spark, sf_dir, "documents").filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
            *LSH_RECALL_SAMPLE_HEX
        )
    )
    plan = I.simple_plan(shingle_pair_counts(docs, pin=False))
    assert "md5" in plan and "substring" in plan


def test_smb_bucketed_join_zero_shuffle(spark, sf_dir):
    """rel_smb_bucketed_join's entire point: with both sides bucketed
    on the join key, the sort-merge join AND the per-order aggregate
    need no shuffle exchange (broadcast disabled so the SMJ path is
    what gets planned, as it would be at fact-fact scale)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q(spark, sf_dir, "rel_smb_bucketed_join")
        plan = I.formatted_plan(df)
        assert I.count_exchanges(df) == 0, plan
        assert "SortMergeJoin" in plan, plan
        assert not I.has_cartesian(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_agg_pushdown_reads_no_table_columns(spark, sf_dir):
    """rel_agg_pushdown must be answered from parquet footer stats:
    the V2 BatchScan advertises PushedAggregation and its ReadSchema
    is the aggregate result row — no table column is ever read."""
    df = q(spark, sf_dir, "rel_agg_pushdown")
    plan = I.formatted_plan(df)
    assert "PushedAggregation: [COUNT(*)" in plan, plan
    assert "BatchScan" in plan, plan


# Unpartitioned Window nodes move EVERY row through one task — the plan
# shape that silently stops scaling. Every allowed instance must have a
# bounded-input justification; anything new fails the lint below.
UNPARTITIONED_WINDOW_ALLOWLIST = {
    "rel_kmv_set_ops": "merged KMV sketch is <= 2k rows (k=128) by construction",
    "ret_hybrid_rrf": "ranks only the fused union of two top-k candidate lists",
    "ret_prf_expansion": "ranks only the expanded-query top-k candidate set",
    "ret_rerank_stub": "ranks only the k BM25 candidates fed to the reranker",
    "txt_vocab_build": "rank over the min-count-filtered vocabulary, "
    "Zipf-bounded (<< corpus size; df >= min_count terms only)",
    "win_percent_rank": "cumulative offsets over <= 64 bucket-count rows "
    "(the two-pass ranking's tiny pass-1 side; the row-scale sort is "
    "partitioned by bucket)",
}


def test_no_unpartitioned_windows_outside_allowlist(plan_scan):
    """Registry-wide lint: an unpartitioned WindowExec over a non-allow-
    listed input cannot land silently (the round-5 verdict's ask). Also
    fails when an allow-list entry goes stale (query no longer plans an
    unpartitioned window) so the list can't rot."""
    offenders = {}
    for name, entry in REGISTRY.items():
        if not _lazy(entry):
            continue  # same execution-model exclusions as the UDF lint
        specs = I.unpartitioned_window_specs(plan_scan[name][0])
        if specs:
            offenders[name] = specs
    unexplained = {
        n: s for n, s in offenders.items()
        if n not in UNPARTITIONED_WINDOW_ALLOWLIST
    }
    assert not unexplained, (
        "unpartitioned Window over non-allow-listed input: "
        f"{ {n: s[0][:120] for n, s in unexplained.items()} }"
    )
    stale = set(UNPARTITIONED_WINDOW_ALLOWLIST) - set(offenders)
    assert not stale, f"allow-list entries no longer needed: {stale}"


def test_no_session_conf_leaks_and_no_stray_v2_scans(spark, plan_scan):
    """Registry-wide double lint. (1) Building any registry entry must
    leave the session SQL-conf surface unchanged, except the allow-
    listed documented cases — this is what keeps rel_agg_pushdown's
    session-wide aggregatePushdown=true INERT: it only matters to V2
    scans, so (2) no other entry may plan a V2 parquet BatchScan
    (everything else reads via the restored V1 source list). A future
    query that clears useV1SourceList without restoring it trips lint
    1; one that restores it but plans through V2 anyway trips lint 2."""
    leaks, stray_v2 = {}, {}
    for name, entry in REGISTRY.items():
        df, changed = plan_scan[name]
        extra = changed - CONF_LEAK_ALLOWLIST.get(name, set())
        if extra:
            leaks[name] = sorted(extra)
        if _lazy(entry) and name != "rel_agg_pushdown":
            plan = I.formatted_plan(df)
            # custom Python DataSources (pl_datasource_*) are DSv2 by
            # construction and not parquet — only a V2 PARQUET scan
            # would inherit the parquet aggregatePushdown conf
            if "BatchScan parquet" in plan:
                stray_v2[name] = True
    assert not leaks, f"session-conf leaks outside the allow-list: {leaks}"
    assert not stray_v2, (
        "queries planning V2 BatchScans (would inherit aggregatePushdown "
        f"and change plan shape silently): {sorted(stray_v2)}"
    )
    # the allow-list can't rot: rel_agg_pushdown must actually still
    # need its exception (it sets the conf only if unset/false, so a
    # pre-set session shows no diff — assert the conf is engaged)
    assert (
        spark.conf.get("spark.sql.parquet.aggregatePushdown") == "true"
    ), "allow-list entry rel_agg_pushdown no longer sets its conf"


# ---------------------------------------------------------------------------
# DuckDB oracle-SQL lambda lint (round-7 verdict ask #3)
#
# In this sandbox's DuckDB 1.0.0, reduce() (the 2-arg lambda fold)
# returns NONDETERMINISTIC results when the accumulator is list-typed
# or the lambda captures outer columns AND the input has multiple rows
# with ragged list lengths (found round 6 writing the wordpiece oracle;
# single-row probes always pass, which hides it in development). The
# sanctioned patterns for per-row dynamic programs are the lambda-free
# RECURSIVE JOIN CTE (see _duck_wordpiece_oracle) or a chain of LATERAL
# COLUMN ALIASES for bounded within-row folds (_duck_dtw_oracle,
# _duck_unigram_oracle). list_transform/list_filter with outer capture
# of same-row columns (elementwise maps, no accumulator) has shown no
# instability across hundreds of sweep runs — those uses are FROZEN in
# the allow-list below; any NEW outer-capture lambda must be measured
# and consciously added here, or rewritten to the recursive-join form.

_SQL_LAMBDA_KEYWORDS = {
    "as", "cast", "case", "when", "then", "else", "end", "and", "or",
    "not", "in", "is", "null", "true", "false", "bigint", "int",
    "integer", "double", "varchar", "boolean", "decimal", "interval",
    "date", "timestamp", "smallint", "tinyint", "float", "real",
    "between", "like", "distinct",
}


def _strip_sql_noise(sql: str) -> str:
    """Drop -- comments and single-quoted literals so a mention of
    reduce( in prose or a string can't trip the lint."""
    import re

    sql = re.sub(r"--[^\n]*", " ", sql)
    return re.sub(r"'(?:[^']|'')*'", "''", sql)


def _oracle_lambda_findings(sql: str):
    """Yield ('reduce',) for any reduce( call, and ('capture', ids)
    for each SQL lambda whose body references identifiers beyond its
    own parameters (function calls and := named-argument fields are
    not captures)."""
    import re

    s = _strip_sql_noise(sql)
    if re.search(r"\breduce\s*\(", s, re.I):
        yield ("reduce",)
    for m in re.finditer(r"(?:\(([\w\s,]+)\)|(\b\w+))\s*->", s):
        params = {p.strip() for p in (m.group(1) or m.group(2)).split(",")}
        i, depth, chars = m.end(), 0, []
        while i < len(s):
            c = s[i]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    break
                depth -= 1
            elif c == "," and depth == 0:
                break
            chars.append(c)
            i += 1
        body = "".join(chars)
        caps = set()
        for t in re.finditer(r"([A-Za-z_]\w*)(\s*(?:\(|:=))?", body):
            name, suffix = t.group(1), t.group(2)
            if suffix:  # function call or := named-argument field
                continue
            if name.lower() in _SQL_LAMBDA_KEYWORDS or name in params:
                continue
            caps.add(name)
        if caps:
            yield ("capture", tuple(sorted(caps)))


# Frozen set of measured-stable outer-capture lambdas: every entry is
# an elementwise list_transform/list_filter over same-row columns
# (shingle windows t[i]..t[i+k], winnow key slices ks[j:j+w], quantize
# scales) — no accumulator anywhere. Additions require a determinism
# measurement (re-run the oracle 3x on ragged multi-row input).
ORACLE_CAPTURE_ALLOWLIST = {
    ("dd_cluster_reps", ("t",)),
    ("dd_cluster_size_hist", ("t",)),
    ("dd_clusters_sparse", ("t",)),
    ("dd_containment_capped", ("t",)),
    ("dd_containment_pairs", ("t",)),
    ("dd_decontaminate", ("text",)),
    ("dd_decontaminate_spans", ("ks",)),
    ("dd_decontaminate_spans", ("t",)),
    ("dd_doc_sim_topk", ("t",)),
    ("dd_duplicate_clusters", ("t",)),
    ("dd_exact_substring_spans", ("ks",)),
    ("dd_exact_substring_spans", ("t",)),
    ("dd_intradoc_repeat_spans", ("ks",)),
    ("dd_intradoc_repeat_spans", ("t",)),
    ("dd_lsh_calibration", ("t",)),
    ("dd_lsh_recall", ("t",)),
    ("dd_method_compare", ("t",)),
    ("dd_minhash_1bit_est", ("t",)),
    ("dd_minhash_dedup_survivors", ("t",)),
    ("dd_minhash_lsh_pairs", ("t",)),
    ("dd_minhash_signatures", ("t",)),
    ("dd_multi_signal_pairs", ("t",)),
    ("dd_ngram_jaccard", ("t",)),
    ("dd_ngram_jaccard_capped", ("t",)),
    ("dd_pagerank_dupgraph", ("t",)),
    ("dd_sparse_cluster_gate", ("t",)),
    ("dd_substring_dedup_apply", ("ks",)),
    ("dd_substring_dedup_apply", ("t",)),
    ("dd_substring_recall", ("ks",)),
    ("dd_substring_recall", ("t",)),
    ("dd_threshold_curve", ("t",)),
    ("dd_winnow_fingerprints", ("ks",)),
    ("dd_winnow_fingerprints", ("t",)),
    ("dd_winnow_pairs", ("ks",)),
    ("dd_winnow_pairs", ("t",)),
    ("mm_bytes_simhash_pairs", ("hx",)),
    ("sim_ivfpq_mp_recall", ("cent", "pp", "q", "qvec")),
    ("sim_ivfpq_mp_recall", ("cent", "qvec")),
    ("sim_ivfpq_multiprobe", ("cent", "pp", "q", "qvec")),
    ("sim_ivfpq_multiprobe", ("cent", "qvec")),
    ("sim_ivfpq_recall", ("cent", "qvec")),
    ("sim_ivfpq_topk", ("cent", "qvec")),
    ("sim_multiprobe_knn", ("rp_bucket",)),
    ("sim_multiprobe_recall", ("rp_bucket",)),
    ("sim_sq8_recall", ("scale",)),
    ("st_neardup_alert", ("t",)),
    ("txt_bpe_encode", ("li",)),
    ("txt_bpe_pairs", ("w",)),
    ("txt_curation_dag", ("ks",)),
    ("txt_curation_dag", ("t",)),
    # same oracle STRING as txt_curation_dag (the convergence proof is
    # hash-matching the one-shot oracle), so the same vetted lambdas;
    # the asof variant is that string with the universe parameterized
    ("txt_curation_delta", ("ks",)),
    ("txt_curation_delta", ("t",)),
    ("txt_curation_asof", ("ks",)),
    ("txt_curation_asof", ("t",)),
    # the release-diff oracle embeds BOTH parameterized DAG statements
    # as derived tables — same frozen lambdas, twice
    ("txt_release_diff", ("ks",)),
    ("txt_release_diff", ("t",)),
    ("st_curation_delta", ("ks",)),
    ("st_curation_delta", ("t",)),
    ("txt_dsir_weights", ("t",)),
    ("txt_grouped_split", ("t",)),
    ("txt_ngram_counts", ("t",)),
    ("txt_perplexity_bucket", ("t",)),
}

_LAMBDA_LINT_HINT = (
    "DuckDB 1.0 reduce() is nondeterministic with list accumulators / "
    "outer capture on ragged multi-row inputs — rewrite as a "
    "lambda-free RECURSIVE JOIN CTE (_duck_wordpiece_oracle) or "
    "chained lateral column aliases (_duck_dtw_oracle); new "
    "outer-capture list_transform maps need a 3x determinism "
    "measurement before joining ORACLE_CAPTURE_ALLOWLIST"
)


def test_oracle_sql_lambda_lint_registry_wide():
    """No reduce() anywhere in registered oracle SQL, and every
    outer-capture lambda is a frozen, measured-stable elementwise map.
    The allow-list is exact-match both ways, so it cannot rot: an
    entry whose oracle drops its lambda must leave the list."""
    found = set()
    reduces = []
    for name, entry in REGISTRY.items():
        if not entry.oracle:
            continue
        for f in _oracle_lambda_findings(entry.oracle):
            if f[0] == "reduce":
                reduces.append(name)
            else:
                found.add((name, f[1]))
    assert not reduces, f"reduce() in oracle SQL of {reduces}: {_LAMBDA_LINT_HINT}"
    new = found - ORACLE_CAPTURE_ALLOWLIST
    assert not new, f"unvetted outer-capture lambdas {sorted(new)}: {_LAMBDA_LINT_HINT}"
    gone = ORACLE_CAPTURE_ALLOWLIST - found
    assert not gone, f"stale allow-list entries (oracle no longer captures): {sorted(gone)}"


def test_oracle_lambda_lint_catches_planted_offenders():
    """The lint itself works: a reduce() fold flags, a novel capture
    flags, and mentions inside comments or string literals do not."""
    assert ("reduce",) in set(
        _oracle_lambda_findings("SELECT reduce(l, 0, (a, b) -> a + b) FROM t")
    )
    caps = [
        f for f in _oracle_lambda_findings(
            "SELECT list_transform(r, i -> zz[i] + 1) FROM t"
        )
    ]
    assert ("capture", ("zz",)) in caps
    clean = list(
        _oracle_lambda_findings(
            "-- reduce( is banned, see note\n"
            "SELECT 'call reduce( here' AS doc, "
            "list_transform(xs, x -> x + 1) AS y FROM t"
        )
    )
    assert clean == []


def test_no_duplicated_python_udf_evaluation(plan_scan):
    """No optimized plan may evaluate the same Python UDF in more than
    one ArrowEvalPython node: each extra node is a full extra Python
    round-trip per row that JVM-side subexpression elimination cannot
    recover. The round-8 admission-gate audit caught predicate
    pushdown planting a second NFC evaluation exactly this way (fixed
    with an explode-barrier); this pins the property registry-wide.
    Streaming/iterative entries execute eagerly and are audited by
    their own probes."""
    offenders = {}
    for name, entry in REGISTRY.items():
        if not _lazy(entry):
            continue
        dups = I.duplicated_python_udfs(plan_scan[name][0])
        if dups:
            offenders[name] = dups
    assert not offenders, (
        f"same Python UDF evaluated in multiple plan nodes: {offenders} "
        "— pin the producing projection (localCheckpoint at a stage "
        "boundary, or an explode-barrier when mid-stream) so pushdown "
        "cannot re-plant the UDF"
    )


# ---------------------------------------------------------------------------
# Structural scan-fanout baseline
#
# How the txt_drift_psi regression entered in r7: each new lineage
# branch over an un-materialized frame re-expanded to its own corpus
# scan, and the plan silently reached 12 corpus FileScans for a
# metadata-sized aggregate. This freeze mechanizes that audit: every
# lazy query's per-table parquet-Relation count in the optimized
# logical plan must not EXCEED its pinned value (3+ scans are pinned;
# everything else must stay under 3). Deliberate multi-pass shapes are
# priced in and documented — e.g. the self-contained ANN index
# lifecycle (sample-train codebooks → assign all vectors → build LUTs
# → query + brute-force truth) is inherently multi-pass as ONE query;
# a production deployment materializes the index after the build pass
# and pays the corpus once per phase. A count DROPPING below its pin
# also fails, so the baseline records reality rather than rotting.
SCAN_FANOUT_BASELINE = {
    # the shingle_pair_counts family dropped to 0 visible scans when
    # the shingle stream was pinned inside the operator (r12): sizes
    # and both self-join sides read the one checkpointed explode
    # 3 narrow pruned re-scans (r13): strip_with_boiler rebuilds clean
    # text MAP-SIDE from flagged segment positions (the corpus text no
    # longer crosses the per-doc collect_list exchange at all); the
    # price is one extra parquet scan of documents for the reassembly
    # base — the deliberately cheaper side of the materialize/recompute
    # trade (re-scanning pruned columns beats shuffling the corpus)
    "dd_boilerplate_lines": {"documents": 3},
    "dd_containment_capped": {"documents": 0},
    "dd_containment_pairs": {"documents": 0},
    "dd_decontaminate": {"documents": 3},
    "dd_doc_sim_topk": {"documents": 0},
    "dd_edit_prefix_pairs": {"documents": 4},
    "dd_lsh_recall": {"documents": 0},
    "dd_ngram_jaccard": {"documents": 0},
    "dd_ngram_jaccard_capped": {"documents": 0},
    "dd_segment_dedup": {"documents": 3},
    "dd_semantic_dedup": {"embeddings": 3},
    # dropped 5 → 1: the truth arm's gram explosion pinned (r12);
    # the visible scan left is the winnow method arm (independent by
    # design — it is the method under evaluation)
    "dd_substring_recall": {"documents": 1},
    "dd_threshold_curve": {"documents": 0},
    "pl_e2e_results": {"documents": 1},
    "rel_column_stats": {"lineitem": 3},
    "ret_bm25_topk": {"documents": 3},
    "ret_hybrid_rrf": {"documents": 3},
    # 5 scans incl. the token stream twice, deliberately unpinned:
    # the r12 A/B measured the pinned variant ~1.15× slower warm
    "ret_prf_expansion": {"documents": 5},
    "ret_query_likelihood": {"documents": 3},
    "ret_rerank_stub": {"documents": 4},
    # dropped 3 → 1 when the (doc, term, tf) postings table was pinned
    # (r12): one tokenize feeds both the df dictionary and the scoring
    # join (that single scan sits behind the checkpoint boundary, so
    # the plan no longer shows it); the one visible scan left is the
    # corpus-count scalar
    "ret_tfidf_topk": {"documents": 1},
    # dropped 6 → 0: daily rollup + densified series pinned (r12)
    "sim_dtw_topk": {"events": 0},
    "sim_ivf_recall": {"embeddings": 4},
    # 3 = the materialized index read (classified as embeddings via its
    # vec_id signature) + the 5-row probe scan + dynamic partition
    # pruning's deliberate duplicate of that probe scan (the runtime
    # filter that makes the index read nprobe/nlist — the whole point)
    "sim_ivf_served": {"embeddings": 3},
    # same serve shape as sim_ivf_served: probe scan + index read
    # (vec_id signature) + the DPP subquery's duplicate of the probe
    # side — the pruning filter itself
    "sim_ivf_upsert": {"embeddings": 3},
    # 4 = head-stage corpus + head-stage probes + full-vector corpus
    # rerank join + full-vector probe join: the ids-only candidate
    # stage deliberately re-reads full vectors ONLY for the shortlist
    # (the whole point of truncate-then-rerank); fusing the stages
    # would carry 64-dim vectors through the candidate rank
    "sim_matryoshka_rerank": {"embeddings": 4},
    # rerank's 4 + brute-force ground truth (corpus + probes)
    "sim_matryoshka_recall": {"embeddings": 6},
    # the ivfpq family dropped 12/10/14/12 → 4/2/2/0 when the residual
    # table was pinned (r12): codebook, encode and the label joins all
    # read the one checkpointed residual index instead of re-deriving
    # corpus + centroids + subtraction; the remaining visible scans are
    # the centroid/ground-truth/probe sides that never touch resid
    "sim_ivfpq_mp_recall": {"embeddings": 4},
    "sim_ivfpq_multiprobe": {"embeddings": 2},
    "sim_ivfpq_recall": {"embeddings": 2},
    "sim_ivfpq_topk": {"embeddings": 0},
    # dropped 4 → 3 when knn_graph's within-bucket self-join (two
    # embeddings scans) became one grouped vectorized top-k pass (r12)
    "sim_multiprobe_recall": {"embeddings": 3},
    "sim_pq_recall": {"embeddings": 6},
    "sim_pq_topk": {"embeddings": 4},
    "sim_sq8_recall": {"embeddings": 4},
    # dropped 7 → 0: positional postings + unigram table pinned (r12)
    "txt_cooccur_pmi": {"documents": 0},
    # dropped 5 → 0: the hashed-bigram feature stream pinned (r12)
    "txt_dsir_weights": {"documents": 0},
    "txt_lang_rebalance": {"documents": 3},
    "txt_mix_temperature": {"documents": 4},
    # dropped 8 → 2 when the bigram table was pinned (r12): the
    # reference-count branch and the scoring join read the checkpoint;
    # the visible scans left are the vocab scalar's tokenize
    "txt_perplexity_bucket": {"documents": 2},
    "txt_robust_outliers": {"documents": 4},
    "txt_unigram_logprob": {"documents": 3},
    # dropped 5 → 2: positional piece explosion + vocab pinned (r12)
    "txt_unigram_tokenize": {"documents": 2},
    # dropped 4 → 2: positional piece explosion pinned (r12)
    "txt_wordpiece_encode": {"documents": 2},
    # 4 narrow event re-scans, deliberately unpinned: the r12 A/B
    # measured the localCheckpoint variant 1.3× SLOWER warm at sf0.1
    # (barrier + memo eviction > cheap rollup recompute)
    "win_ewma_halflife": {"events": 4},
    "win_percent_rank": {"customer": 4},
}


def test_scan_fanout_frozen(plan_scan):
    """No lazy query's per-table relation count may exceed its pinned
    baseline (or 2 when unpinned); counts below a pin fail too so the
    baseline tracks reality. Catches the silent-fanout regression
    class mechanically instead of by per-round manual audit."""
    # a pin for a renamed/retired query would otherwise sit silently
    # dead — the loop below only visits live lazy entries
    lazy_names = {name for name, entry in REGISTRY.items() if _lazy(entry)}
    dead_pins = set(SCAN_FANOUT_BASELINE) - lazy_names
    assert not dead_pins, (
        f"SCAN_FANOUT_BASELINE pins queries that are no longer lazy "
        f"registry entries: {sorted(dead_pins)} — remove or rename the pins"
    )
    grew, shrank = {}, {}
    for name, entry in REGISTRY.items():
        if not _lazy(entry):
            continue
        counts = I.table_relation_counts(plan_scan[name][0])
        pinned = SCAN_FANOUT_BASELINE.get(name, {})
        for t, c in counts.items():
            cap = pinned.get(t, 2)
            if c > cap:
                grew[(name, t)] = (c, cap)
        for t, cap in pinned.items():
            if counts.get(t, 0) != cap:
                shrank[(name, t)] = (counts.get(t, 0), cap)
    assert not grew, (
        f"scan fanout grew past baseline {grew} — a new lineage branch "
        "is re-scanning a base table; pin the shared frame "
        "(localCheckpoint(eager=False)) or restructure, and only then "
        "consciously raise the pin"
    )
    assert not shrank, (
        f"stale fanout pins (plan now scans fewer times) {shrank} — "
        "update SCAN_FANOUT_BASELINE to the improved counts"
    )


def test_eager_query_construction_leaves_no_scratch(spark, sf_dir):
    """Constructing (and, for streaming/sink entries, EXECUTING) every
    eager query must leave no scratch dirs in the system tempdir — the
    leak class round-8 ADVICE flagged twice (sim_ivf_served index
    copies, st_curation_manifest manifest+checkpoint pairs per
    invocation) and round 9 fixed. Package scratch uses the sf_*/ckpt_*
    prefixes; reusable managed artifacts live under the repo's .tmp/
    instead (exempt). jobs.py's CLI checkpoint is user-facing resume
    state and not constructed here."""
    import glob
    import os
    import tempfile

    pats = [os.path.join(tempfile.gettempdir(), p) for p in ("sf_*", "ckpt_*")]

    def snap():
        return {f for p in pats for f in glob.glob(p)}

    before = snap()
    for name, entry in REGISTRY.items():
        if {"streaming", "sink"} & set(entry.tags):
            entry.fn(spark, sf_dir)
    leaked = snap() - before
    assert not leaked, (
        f"query construction leaked scratch dirs: {sorted(leaked)[:10]} — "
        "clean up after awaitTermination/materialization (see "
        "run_to_table / st_curation_manifest for the pattern)"
    )


def test_ivf_served_scan_is_dynamically_pruned(spark, sf_dir):
    """The materialized-index serving path must actually prune: the
    index table is partitioned by the coarse bucket, and the probe
    join on that column must plant a dynamicpruningexpression in the
    index FileScan's PartitionFilters — a probe batch reads only its
    buckets' directories, never the whole index. (Executed plan, after
    a real collect, so AQE's final shape is what's asserted.)"""
    import re

    df = q(spark, sf_dir, "sim_ivf_served")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    idx_chunks = [
        c
        for c in re.split(r"\n(?=[:+\s]*\+?-? ?FileScan)", plan)
        if "ivf_index_" in c and "FileScan" in c
    ]
    assert idx_chunks, "index scan not found in executed plan"
    assert all(
        "dynamicpruningexpression" in c for c in idx_chunks
    ), "index scan is NOT dynamically pruned — serving reads the full index"


def test_st_ivf_served_stream_static_dpp_note(spark, sf_dir):
    """Pins the DOCUMENTED NEGATIVE in st_ivf_served's docstring (the
    r9 verdict asked for this finding either way): dynamic partition
    pruning does NOT survive into a stream-static join — the
    micro-batch execution plans the same probe↔index join WITHOUT a
    dynamicpruning filter on the index scan, while the identical batch
    join gets one (test above). If a Spark upgrade starts pruning
    here, this test fails and the docstring's fallback guidance
    (explicit per-batch partition-value filter in foreachBatch) should
    be retired."""
    import contextlib
    import io
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from sentiflow_spark.operators.similarity import with_quantized
    from sentiflow_spark.queries.similarity_queries import (
        N_PROBES,
        _ensure_ivf_index,
    )
    from sentiflow_spark.streaming.dag import load_stream

    index = spark.read.parquet(_ensure_ivf_index(spark, sf_dir))
    probes = with_quantized(load_stream(spark, sf_dir, "embeddings")).filter(
        F.col("vec_id") < N_PROBES
    )
    joined = (
        probes.select(
            F.col("vec_id").alias("probe_id"), F.col("label").alias("bucket")
        )
        .join(
            index.select(
                F.col("vec_id").alias("cand_id"),
                F.col("label").alias("bucket"),
            ),
            "bucket",
        )
        .filter(F.col("cand_id") != F.col("probe_id"))
    )
    ck = tempfile.mkdtemp(prefix="ckpt_dpp_note_")
    try:
        sq = (
            joined.writeStream.format("noop")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            sq.explain(True)
        plan = buf.getvalue()
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    assert "ivf_index_" in plan, "index scan missing from micro-batch plan"
    assert "dynamicpruning" not in plan.lower(), (
        "stream-static join now gets DPP — update st_ivf_served's "
        "docstring note and drop the foreachBatch fallback guidance"
    )
