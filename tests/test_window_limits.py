"""Unpartitioned-window hygiene (VERDICT r4 fix-it #2): the driver
surface uses global ``Window.orderBy`` in exactly two safe shapes —
the rank-top-k idiom (which Catalyst bounds with
``TakeOrderedAndProject`` / ``WindowGroupLimit`` below the final
single-partition window, so partitions prune to local top-k before the
exchange) and windows over metadata-sized frames (#partitions offset
tables, series grids, contingency cells).  Nothing asserts that
structurally: a regression to a non-rank filter, or a new global
window over data-sized rows, would silently become a full
single-partition sort.  These tests kill the class:

1. a SOURCE SCAN fails on any engine file that introduces a global
   window construction not present in the classified inventory below;
2. PLAN ASSERTIONS on representative operators of the rank-top-k
   class prove the bounded physical shape actually materializes.
"""

from __future__ import annotations

import contextlib
import io
import os
import re

from pyspark.sql import functions as F

ENGINE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(__file__)), "crgp_spark"
)

#: Every engine file allowed to construct an UNPARTITIONED window,
#: with the boundedness argument.  A new file using `Window.orderBy(`
#: or a frame-only `Window.rowsBetween(` must be added here WITH a
#: rationale (and, for the rank-topk class, a plan assertion below) —
#: otherwise the source scan fails.
GLOBAL_WINDOW_FILES = {
    # rank-top-k: filter(row_number <= k) — Catalyst rewrites to
    # TakeOrderedAndProject below the window (asserted below)
    "operators/relational.py": "rank-topk (5 sites, all rk <= k)",
    "operators/textstats.py": "rank-topk (ngram/collocation top-k)",
    "operators/linkpred.py": "rank-topk (top-k predicted links)",
    "operators/cms.py": "rank-topk (heavy-hitter verification)",
    # k-rows: a limit(k) or k-sized aggregate feeds the window
    "operators/kmeans.py": "k rows only (limit(k) upstream)",
    "operators/pq.py": "k rows only (limit(k) upstream)",
    "operators/semdedup.py": "k rows only (limit(k) upstream)",
    "operators/sweepcut.py": "k_max rows only (limit(k_max) upstream)",
    # pid-offset: the two-level range-partitioned prefix-sum idiom —
    # the global window runs over one row per partition
    "operators/skyline.py": "#partitions offset rows",
    "operators/euler.py": "#partitions offset rows",
    "operators/experiment.py": "#partitions offsets + RxC cells",
    "operators/evalmetrics.py": "#partitions offset rows",
    "operators/snm.py": "#blocks offset rows",
    "operators/rankcorr.py": "#partitions offset rows",
    "operators/gini.py": "9 Benford digit cells",
    "operators/similarity.py": "n_centroids rows only (limit upstream)",
    # series/metadata-sized: windows over aggregated grids, not events
    "operators/cusum.py": "series grid (one row per day/value)",
    "operators/richclub.py": "distinct-degree spine",
    "operators/survival.py": "distinct event times",
    "operators/cohort.py": "day grid",
    # input prep / oracle twins, not the data path
    "streaming/scd.py": "epoch replay prep (test input)",
    "streaming/late.py": "epoch prep + #batches watermark table",
}

_GLOBAL_WINDOW = re.compile(
    r"Window\.orderBy\(|Window\.rowsBetween\(|Window\.rangeBetween\("
)


def test_every_global_window_site_is_classified():
    offenders = []
    for root, _dirs, files in os.walk(ENGINE_ROOT):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, ENGINE_ROOT)
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    if _GLOBAL_WINDOW.search(line) and rel not in (
                        GLOBAL_WINDOW_FILES
                    ):
                        offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, (
        "unclassified global-window construction — add to "
        "GLOBAL_WINDOW_FILES with a boundedness rationale (and a plan "
        "assertion if it is the rank-topk class):\n" + "\n".join(offenders)
    )


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _assert_bounded_global_window(plan: str):
    """Every unpartitioned Window in the plan must sit above a bounded
    producer (TakeOrderedAndProject / WindowGroupLimit / a Limit) —
    i.e. the single-partition exchange carries at most k rows."""
    has_global_window = bool(
        re.search(r"windowspecdefinition\((?![^)]*partition)", plan)
    )
    if not has_global_window and "Window" not in plan:
        return
    assert (
        "TakeOrderedAndProject" in plan
        or "WindowGroupLimit" in plan
        or re.search(r"\bGlobalLimit|\bLocalLimit", plan)
    ), plan


def test_rank_topk_relational_plans_are_bounded(spark):
    from crgp_spark.operators.relational import (
        large_quantity_orders,
        topk_unshipped_orders,
    )

    orders = spark.range(200).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 50).alias("o_custkey"),
        F.to_timestamp(F.lit("1996-03-01")).alias("o_orderdate"),
        F.lit("1-URGENT").alias("o_orderpriority"),
        (F.col("id") * 11.5).alias("o_totalprice"),
    )
    li = spark.range(600).select(
        (F.col("id") % 200).alias("l_orderkey"),
        (F.col("id") % 7 + 1.0).alias("l_quantity"),
        (F.col("id") % 31 * 10.0).alias("l_extendedprice"),
        (F.col("id") % 3 / 100.0).alias("l_discount"),
        F.to_timestamp(F.lit("1998-06-01")).alias("l_shipdate"),
    )
    cust = spark.range(50).select(
        F.col("id").alias("c_custkey"),
        F.lit("BUILDING").alias("c_mktsegment"),
        F.lit("cust").alias("c_name"),
        F.lit(0).alias("c_nationkey"),
    )
    plan = _explain(topk_unshipped_orders(cust, orders, li, k=10))
    _assert_bounded_global_window(plan)
    plan = _explain(
        large_quantity_orders(cust, orders, li, qty_threshold=5, k=10)
    )
    _assert_bounded_global_window(plan)


def test_rank_topk_text_and_graph_plans_are_bounded(spark):
    from crgp_spark.operators.linkpred import top_predicted_links
    from crgp_spark.operators.textstats import ngram_topk

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta word"),
                 (F.col("id") % 5).cast("string")).alias("text"),
    )
    plan = _explain(ngram_topk(docs, n=2, k=10))
    _assert_bounded_global_window(plan)

    edges = spark.range(300).select(
        (F.col("id") % 40).alias("src"), (F.col("id") % 23).alias("dst")
    )
    plan = _explain(top_predicted_links(edges, k=10))
    _assert_bounded_global_window(plan)


def test_rank_topk_actually_prunes_rows(spark):
    """Behavioral check on the physical shape: the bounded producer
    below the global window means only k rows reach the final window —
    verified by the TakeOrderedAndProject limit matching k."""
    from crgp_spark.operators.textstats import ngram_topk

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w x y z q"),
                 (F.col("id") % 7).cast("string")).alias("text"),
    )
    plan = _explain(ngram_topk(docs, n=2, k=7))
    # formatted explain: "(n) TakeOrderedAndProject" with the limit as
    # the first value of the separate "Arguments: 7, [sortOrder...]" line
    m = re.search(
        r"\) TakeOrderedAndProject\n[^\n]*\nArguments: (\d+),", plan
    )
    if m is None:
        # WindowGroupLimit spelling on some plan shapes
        assert "WindowGroupLimit" in plan, plan
    else:
        assert int(m.group(1)) == 7, m.group(0)
