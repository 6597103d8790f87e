"""Label propagation (synchronous, deterministic) — north-rule extension.

Per superstep every vertex adopts the most frequent label among its
neighbors (undirected view of the edge table), ties broken by the
SMALLEST label — a fixed ordering, so the result is exactly reproducible
across parallelism levels (the reference's worker-count-invariance test
philosophy, ``tests/algorithm_execution.rs:82-126``, applied to our
extension). Runs on the superstep harness → delta checkpoints, lineage,
resume.

Plan shape per superstep: one exchange-free join of the cached adjacency
against the label state, one ``groupBy(vertex, label).count`` (partial
aggregation map-side), one argmax via ``max_by`` — all JVM codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crgp_spark.config import EngineConfig
from crgp_spark.plans.checkpoint import partition_counts
from crgp_spark.plans.superstep import (
    LoopResult,
    StepOutcome,
    run_loop,
    state_hint,
)


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
    resume: bool = False,
    fixed_iterations: int | None = None,
    algo_name: str = "labelprop",
) -> LoopResult:
    """Returns state ``(vid, label)``. ``fixed_iterations`` runs exactly
    that many supersteps (used for oracle comparison; synchronous LP can
    oscillate on bipartite structures, so production runs cap at
    ``cfg.max_iterations`` and report convergence honestly)."""
    cfg = cfg or EngineConfig()

    und = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    nbrs = (
        und.unionByName(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .repartition(cfg.shuffle_partitions, "dst")
        .persist()
    )
    nbrs.count()
    verts = (
        nbrs.select(F.col("src").alias("vid"))
        .distinct()
        .repartition(cfg.shuffle_partitions, "vid")
        .persist()
    )
    n = verts.count()

    def init_state() -> DataFrame:
        return verts.select("vid", F.col("vid").alias("label"))

    def step(state: DataFrame, it: int) -> StepOutcome:
        # neighbor label histogram: edge (src <- dst's label).
        # Size-adaptive hint on the per-superstep state tables: broadcast
        # only below the shared carve-out, shuffle_hash otherwise
        # (plans/superstep.state_hint — the broadcast-OOM rule)
        msgs = nbrs.join(state_hint(state, n), nbrs["dst"] == state["vid"]).select(
            F.col("src").alias("v"), "label"
        )
        hist = msgs.groupBy("v", "label").agg(F.count(F.lit(1)).alias("cnt"))
        picked = hist.groupBy("v").agg(
            F.max_by(
                F.col("label"), F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
            ).alias("new_label")
        )
        new_state = (
            state.select("vid", F.col("label").alias("old_label"))
            .join(state_hint(picked, n), state["vid"] == picked["v"], "left")
            .select(
                "vid",
                F.coalesce(F.col("new_label"), F.col("old_label")).alias("label"),
                (
                    F.coalesce(F.col("new_label"), F.col("old_label"))
                    != F.col("old_label")
                ).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        # one job: per-partition changed counts; their sum is the frontier
        changed = partition_counts(
            new_state.filter("_changed"), "vid", cfg.graph_partitions
        )
        frontier = sum(c for _, c in changed)
        lineage = [(p, 0, c, c) for p, c in changed]
        if fixed_iterations is not None:
            converged = it >= fixed_iterations - 1
        else:
            converged = frontier == 0
        metrics = {"frontier": frontier, "converged": converged}
        return StepOutcome(new_state, lineage, metrics)

    result = run_loop(
        spark,
        algo_name,
        cfg,
        init_state,
        step,
        resume=resume,
        max_iterations=fixed_iterations,
    )
    nbrs.unpersist()
    verts.unpersist()
    return result
