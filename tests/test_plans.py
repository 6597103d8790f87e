"""Physical-plan hygiene: the properties SURVEY.md §4 promises Catalyst
delivers must actually show up in `.explain`, and the north rule's
no-per-row-Python constraint (R6) is enforced mechanically.
"""

from __future__ import annotations

import contextlib
import io
import os
import re

from pyspark.sql import functions as F

from crgp_spark.derive import derive_edge_turns, prepare_turns
from crgp_spark.generator import synthetic_transcripts

ENGINE_ROOT = os.path.join(os.path.dirname(os.path.dirname(__file__)), "crgp_spark")


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_no_per_row_python_in_engine():
    """North rule / SURVEY R6: no row-at-a-time Python UDFs and no RDD
    code in the engine — only vectorized pandas/Arrow kernels."""
    bad = re.compile(r"F\.udf\(|@udf\b|\.rdd\b|sc\.parallelize|\bRDD\b")
    allowed = re.compile(r"applyInPandas|mapInPandas|pandas_udf|applyInArrow")
    offenders = []
    for root, _dirs, files in os.walk(ENGINE_ROOT):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    if bad.search(line) and not allowed.search(line):
                        offenders.append(f"{path}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_influence_rule_written_once():
    """The influence predicate lives in ``derive.py`` alone: every other
    derivation path (the incremental epochs among them) must call
    ``derive.influence_edges`` instead of re-typing the rule."""
    rule = re.compile(r'F\.col\("act_ts"\)\s*<\s*F\.col\("ts"\)')
    offenders = []
    for root, _dirs, files in os.walk(ENGINE_ROOT):
        for fn in files:
            path = os.path.join(root, fn)
            if not fn.endswith(".py") or path == os.path.join(
                ENGINE_ROOT, "derive.py"
            ):
                continue
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    if rule.search(line):
                        offenders.append(f"{path}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_lineage_row_built_once():
    """Lineage rows are built in ``plans/checkpoint.py`` alone: operators
    hand over ``(partition_id, edges_scanned, messages_sent,
    frontier_size)`` tuples and never re-type the ``schemas.LINEAGE`` row
    (its ``frontier_size`` column) themselves."""
    allowed = {
        os.path.join(ENGINE_ROOT, "plans", "checkpoint.py"),
        os.path.join(ENGINE_ROOT, "schemas.py"),
    }
    offenders = []
    for root, _dirs, files in os.walk(ENGINE_ROOT):
        for fn in files:
            path = os.path.join(root, fn)
            if not fn.endswith(".py") or path in allowed:
                continue
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    if "frontier_size" in line:
                        offenders.append(f"{path}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_filter_pushdown_and_column_pruning(spark, tmp_path):
    """A conv_id filter over the parquet transcripts must reach the scan
    (PushedFilters) and unused wide columns (text) must be pruned from
    ReadSchema."""
    p = str(tmp_path / "t")
    synthetic_transcripts(spark, n_convs=20, seed=3).write.parquet(p)
    t = spark.read.parquet(p)
    q = prepare_turns(t.filter(F.col("conv_id") == "conv_00000003"))
    plan = _explain(q)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters:.*conv_id", plan), plan
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m and "text" not in m.group(1), m.group(0) if m else plan


def test_derivation_has_no_cartesian_or_nested_loop(spark, tmp_path):
    """The derivation must stay equi-join shaped (hash/sort-merge/
    broadcast) — a cartesian or nested-loop plan would be quadratic at
    10^12 turns."""
    p = str(tmp_path / "t2")
    synthetic_transcripts(spark, n_convs=50, seed=4).write.parquet(p)
    t = spark.read.parquet(p)
    plan = _explain(derive_edge_turns(t))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_derivation_aggregates_are_partial(spark, tmp_path):
    """Activation/originator aggregations must have a map-side partial
    phase (HashAggregate appears in pairs around the exchange) so the
    shuffle carries combined rows, not raw turns."""
    p = str(tmp_path / "t3")
    synthetic_transcripts(spark, n_convs=50, seed=5).write.parquet(p)
    t = spark.read.parquet(p)
    plan = _explain(derive_edge_turns(t))
    # at least one partial_min before the final min aggregation
    assert "partial_min" in plan, plan


def test_whole_stage_codegen_covers_derivation(spark, tmp_path):
    """The derivation pipeline must run inside whole-stage codegen
    spans (no Python evaluation nodes anywhere)."""
    p = str(tmp_path / "t4")
    synthetic_transcripts(spark, n_convs=50, seed=6).write.parquet(p)
    t = spark.read.parquet(p)
    # AQE's pre-execution explain shows AdaptiveSparkPlan without the
    # codegen spans; disable it for this one assertion so the actual
    # WholeStageCodegen grouping is visible.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _explain(derive_edge_turns(t))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # formatted explain marks codegen'd operators with a `*` prefix
    assert re.search(r"\* (Project|HashAggregate|BroadcastHashJoin)", plan), plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_gale_leaf_collapse_to_one_logical_plan(spark, tmp_path):
    """The reference's GALE (broadcast) vs LEAF (partitioned 2-hop
    shuffle) variants are physical shapes of one logical query
    (SURVEY.md §2.1): with a small activation side Catalyst picks a
    broadcast hash join (GALE); with broadcasting disabled it switches
    to a shuffle join (LEAF) — same logical pipeline, no code change."""
    p = str(tmp_path / "t5")
    synthetic_transcripts(spark, n_convs=60, seed=8).write.parquet(p)
    t = spark.read.parquet(p)

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        gale = _explain(derive_edge_turns(t))
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            leaf = _explain(derive_edge_turns(t))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")

    assert "BroadcastHashJoin" in gale
    assert "BroadcastHashJoin" not in leaf
    assert "SortMergeJoin" in leaf or "ShuffledHashJoin" in leaf


def test_leaf_shuffle_variant_output_identical(spark):
    """Completing the GALE/LEAF physical-variant parity story (VERDICT
    r1): with broadcasting disabled (the forced LEAF/shuffle shape) the
    derivation output is IDENTICAL to the default plan — the golden
    7-edge reference fixture both ways."""
    from crgp_spark.golden import (
        GOLDEN_EDGE_TURNS,
        golden_friendships,
        golden_transcripts,
    )

    t = golden_transcripts(spark)
    f = golden_friendships(spark)

    def edge_set():
        return {
            (r.conv_id, r.src_turn, r.dst_turn, r.ts // 1_000_000)
            for r in derive_edge_turns(t, f).collect()
        }

    default = edge_set()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        leaf = edge_set()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert default == leaf == GOLDEN_EDGE_TURNS


def test_reset_stats_stops_selfjoin_stats_squaring(spark):
    """Catalyst's size-only stats visitor multiplies children's
    sizeInBytes at every join, and localCheckpoint INHERITS the origin
    plan's stats — so a superstep that self-joins its own state squares
    the estimate each iteration (digit count doubles; by step ~17 the
    driver spends minutes in BigInteger multiplication inside stats
    estimation, then OOMs). ``reset_stats`` must pin the estimate flat
    across supersteps while preserving the rows."""
    from pyspark.sql import functions as F

    from crgp_spark.plans.superstep import reset_stats

    def digits(df):
        return len(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )

    cur = (
        spark.range(16)
        .select(F.col("id").alias("vid"), F.col("id").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    seen = []
    for _ in range(14):
        jump = cur.select(F.col("vid").alias("lbl"), F.col("lbl").alias("_j"))
        cur = reset_stats(
            cur.join(jump, "lbl", "left")
            .select(
                "vid",
                F.least("lbl", F.coalesce("_j", "lbl")).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        seen.append(digits(cur))
    # un-reset, digits after 14 squarings would be ~19 * 2**13 > 150000
    assert max(seen) <= 24, seen
    # the reset frame still carries the data (identity jump = fixpoint)
    assert sorted(r.lbl for r in cur.collect()) == list(range(16))
