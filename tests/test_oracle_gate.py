"""Negative controls for the correctness gate itself: compare() must
FAIL on wrong results, or every green query in test_parity is
meaningless. Each control perturbs one dimension the gate claims to
check (values, row count, column names, row multiplicity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sentiflow_spark.oracle import compare
from sentiflow_spark.tables import load

ORACLE = "SELECT r_regionkey, r_name FROM region"


def test_gate_passes_on_equal(spark, sf_dir):
    df = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    assert compare("ctl", df, ORACLE, sf_dir).ok


def test_gate_catches_wrong_value(spark, sf_dir):
    df = load(spark, sf_dir, "region").select(
        (F.col("r_regionkey") + 1).alias("r_regionkey"), "r_name"
    )
    assert not compare("ctl", df, ORACLE, sf_dir).ok


def test_gate_catches_missing_row(spark, sf_dir):
    df = (
        load(spark, sf_dir, "region")
        .filter("r_regionkey < 4")
        .select("r_regionkey", "r_name")
    )
    assert not compare("ctl", df, ORACLE, sf_dir).ok


def test_gate_catches_renamed_column(spark, sf_dir):
    df = load(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("regionkey"), "r_name"
    )
    assert not compare("ctl", df, ORACLE, sf_dir).ok


def test_gate_catches_duplicated_row(spark, sf_dir):
    """Order-insensitive must still be multiplicity-sensitive: a
    UNION ALL self-duplicate is NOT equal to the base table."""
    base = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    df = base.union(base.limit(1))
    assert not compare("ctl", df, ORACLE, sf_dir).ok


def test_gate_catches_null_vs_value(spark, sf_dir):
    df = load(spark, sf_dir, "region").select(
        "r_regionkey",
        F.when(F.col("r_regionkey") == 0, None)
        .otherwise(F.col("r_name"))
        .alias("r_name"),
    )
    assert not compare("ctl", df, ORACLE, sf_dir).ok


def test_gate_catches_float_drift(spark, sf_dir):
    """A last-ulp float difference must fail — the determinism rules
    (decimal-exact aggregates) exist precisely so exact comparison is
    achievable; tolerance would mask real ordering bugs."""
    oracle = "SELECT r_regionkey, CAST(r_regionkey AS DOUBLE) / 7.0 AS x FROM region"
    good = load(spark, sf_dir, "region").select(
        "r_regionkey", (F.col("r_regionkey").cast("double") / 7.0).alias("x")
    )
    assert compare("ctl", good, oracle, sf_dir).ok
    import math

    drift = F.udf(lambda v: math.nextafter(v, math.inf), "double")
    # row-at-a-time UDF is fine here: 5 rows, test-only, not a plan
    bad = good.select("r_regionkey", drift("x").alias("x"))
    assert not compare("ctl", bad, oracle, sf_dir).ok


# ---- round-4 classes: the driver's pandas canonicalization ----
# Round 3 shipped 5 red driver rows that the old .collect()-based gate
# called green; each class below must now FAIL the gate.


def test_gate_catches_int_vs_float_dtype(spark, sf_dir):
    """DuckDB HUGEINT sums coerce to float64 in pandas while Spark
    emits int64 — equal values, different dtype kind, driver red."""
    oracle = "SELECT r_regionkey, SUM(r_regionkey) AS s FROM region GROUP BY r_regionkey"
    # DuckDB SUM(int) -> HUGEINT -> pandas float64; Spark emits long
    df = load(spark, sf_dir, "region").groupBy("r_regionkey").agg(
        F.sum("r_regionkey").alias("s")
    )
    rep = compare("ctl", df, oracle, sf_dir)
    assert not rep.ok
    assert rep.type_mismatch, "dtype-kind divergence must be flagged"
    # and the CAST BIGINT fix makes it pass
    fixed = oracle.replace("SUM(r_regionkey)", "CAST(SUM(r_regionkey) AS BIGINT)")
    assert compare("ctl", df, fixed, sf_dir).ok


def test_gate_crashes_on_list_cells_like_the_driver(spark, sf_dir):
    """List-typed output cells crash the driver's pandas sort_values
    ('unhashable type: list', CORRECTNESS_r03 ret_build_index) — the
    gate must record a canon error, not silently pass."""
    oracle = "SELECT r_regionkey, [r_name] AS names FROM region"
    df = load(spark, sf_dir, "region").select(
        "r_regionkey", F.array("r_name").alias("names")
    )
    rep = compare("ctl", df, oracle, sf_dir)
    assert not rep.ok
    assert rep.canon_err is not None


def test_gate_catches_decimal_object_output(spark, sf_dir):
    """Spark DECIMAL outputs survive toPandas() as Decimal objects in
    an object-dtype column while the oracle emits float64 — flagged."""
    oracle = "SELECT r_regionkey, CAST(r_regionkey AS DECIMAL(10,2)) / 2 AS half FROM region"
    df = load(spark, sf_dir, "region").select(
        "r_regionkey",
        (F.col("r_regionkey").cast("decimal(10,2)") / 2).alias("half"),
    )
    rep = compare("ctl", df, oracle, sf_dir)
    assert not rep.ok


def test_gate_catches_negative_zero(spark, sf_dir):
    """-0.0 and 0.0 hash differently through repr — the class the
    sf0.1 sweep caught on txt_dsir_weights."""
    # DuckDB's double round keeps the sign of a tiny negative (-0.0);
    # Spark's round goes through BigDecimal and emits +0.0
    oracle = (
        "SELECT r_regionkey,"
        " round(CAST(-0.0000001 AS DOUBLE) * (r_regionkey + 1), 3) AS z"
        " FROM region"
    )
    df = load(spark, sf_dir, "region").select(
        "r_regionkey",
        F.round(F.lit(-0.0000001) * (F.col("r_regionkey") + 1), 3).alias("z"),
    )
    rep = compare("ctl", df, oracle, sf_dir)
    assert not rep.ok
    # and the +0.0 normalization fix (the txt_dsir_weights fix) passes
    fixed_df = load(spark, sf_dir, "region").select(
        "r_regionkey",
        (
            F.round(F.lit(-0.0000001) * (F.col("r_regionkey") + 1), 3)
            + F.lit(0.0)
        ).alias("z"),
    )
    fixed_oracle = oracle.replace(", 3) AS z", ", 3) + 0.0 AS z")
    assert compare("ctl", fixed_df, fixed_oracle, sf_dir).ok


def test_registry_window_ordering():
    """The CORRECTNESS window composition contract of
    ``__spark_entry__.queries()``: never-checked queries first, then
    rows-only (re-exercised every round), then the ROTATION_PLAN.json
    regression-rotation picks in plan order, then the long-verified
    rest."""
    import json
    import os

    import __spark_entry__ as entry_mod
    from __spark_entry__ import _driver_verified
    from sentiflow_spark.queries.registry import load_all

    names = list(entry_mod.queries())
    verified, rows_only = _driver_verified()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plan_path = os.path.join(root, "ROTATION_PLAN.json")
    front = (
        json.load(open(plan_path)).get("front", [])
        if os.path.exists(plan_path)
        else []
    )

    def state(n):
        if n not in verified:
            return 1 if n in rows_only else 0
        return 2 if n in front else 3

    states = [state(n) for n in names]
    assert states == sorted(states), "window states out of order"
    # rotation picks keep the plan's own order (most-recently-touched
    # sources first)
    picked = [n for n in names if state(n) == 2]
    assert picked == [n for n in front if n in set(picked)]
    # the window order is a permutation of the registry, nothing more
    assert sorted(names) == sorted(load_all())


def test_load_all_is_registration_order():
    """load_all() is the plain registration table: all 268 declared
    queries, in the order their ``register`` decorators ran."""
    from sentiflow_spark.queries.registry import REGISTRY, load_all

    names = list(load_all())
    assert len(names) == 268
    assert names == list(REGISTRY)


def test_registry_reads_no_repo_root_files(monkeypatch):
    """The registry reads no committed result files (CORRECTNESS_r*.json,
    ROTATION_PLAN.json) or any other repo-root file: the window order
    is __spark_entry__'s business."""
    import builtins
    import inspect
    import os

    from sentiflow_spark.queries import registry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    opened = []
    real_open = builtins.open

    def spy(file, *a, **kw):
        opened.append(os.path.abspath(str(file)))
        return real_open(file, *a, **kw)

    monkeypatch.setattr(builtins, "open", spy)
    registry.load_all()
    monkeypatch.undo()
    assert [p for p in opened if os.path.dirname(p) == root] == []
    src = inspect.getsource(registry)
    assert "CORRECTNESS_r" not in src and "ROTATION_PLAN" not in src
