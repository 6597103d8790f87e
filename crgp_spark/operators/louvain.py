"""Deterministic parallel Louvain community detection.

The modularity-OPTIMIZING step the graph family was missing:
`graphstats.py::modularity` scores a given partition; Louvain (Blondel
et al. 2008) finds one. Downstream of a link graph it is the standard
"communities of a conversation network" operator — topic clusters of
the actor-succession graph, sub-thread structure of the derived
influence edges (reference cascade semantics, ``reconstruct.rs:37-134``)
— and the coarsening it produces is the multi-resolution summary a
100 TB graph is actually browsed through.

Sequential Louvain is inherently order-dependent (each vertex moves
greedily against the CURRENT partition), which is useless for a
distributed engine that must give the same answer at every parallelism
level. Naive synchronous moves oscillate: adjacent vertices co-move
toward each other's communities and swap forever (observed on a K5
within two rounds). This variant schedules movers as a
ROTATING-PRIORITY INDEPENDENT SET — the Jones–Plassmann idea
(`coloring.py`) applied to community moves:

- round ``r`` gives every vertex the priority
  ``md5(vid || ':' || r)``; a vertex may move only when its priority is
  a strict minimum over its neighborhood. Movers form an independent
  set, so no two ADJACENT vertices ever move in the same round — each
  accepted move's computed gain is its true gain against the partition
  it was evaluated on, and the swap cycles of the synchronous scheme
  cannot occur. Rotation re-salts the priorities each round so every
  vertex keeps getting turns (a static priority would let the same
  local minimum hog the schedule);
- a movable vertex ``v`` evaluates every NEIGHBOR community ``c`` plus
  staying put. With ``W`` the total edge weight, ``d(v)`` the weighted
  degree (self-loops counted twice), ``tot(c)`` the degree mass of
  ``c`` and ``k(v,c)`` the weight from ``v`` into ``c``, the move gain
  ordering of classic Louvain is exactly the ordering of the INTEGER
  score ``2·W·k(v,c) − d(v)·(tot(c) − [c = comm(v)]·d(v))`` (the
  ``ΔQ·2W²`` cross-multiplication — same exact-rational trick as
  `graphstats.py::modularity`, so Spark and the DuckDB oracle agree on
  every comparison, no float epsilon anywhere);
- argmax prefers the CURRENT community on score ties (a vertex moves
  only on strictly positive gain — no zero-gain churn), then breaks
  remaining ties toward the smallest community id; fixed ``rounds`` so
  the oracle can unroll. Non-adjacent movers can still interact through
  a shared target community, so like synchronous label propagation the
  engine runs a fixed round budget and reports the frontier honestly
  rather than promising a fixpoint.

Weights and self-loops are first-class because level ≥ 2 of Louvain
runs on the CONTRACTED graph (`contract_communities`): communities
become supervertices, intra-community mass becomes a self-loop whose
weight enters ``d`` twice — exactly Blondel's phase-2 graph, so one
move kernel serves every level.

Plan shape per round (all JVM codegen, no per-row Python): one
adjacency×state join + ``groupBy(v, comm)`` sum for ``k``; one
state×degree ``groupBy(comm)`` for ``tot`` (metadata-sized); one
union-fold for the stay-put candidate; one ``max_by`` argmax; state
follows the shared ``state_hint`` broadcast/shuffle-hash policy and
``localCheckpoint``s per round on the superstep harness (delta
checkpoints, lineage, resume — reference epoch loop ``run.rs:118-129``).

Overflow envelope: scores are bounded by ``4·W²`` — BIGINT is exact to
``W < 1.5·10⁹`` total weight; past that cast the two score operands to
DECIMAL(38,0), same plan (the `modularity` rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crgp_spark.config import EngineConfig
from crgp_spark.functions import md5_num60
from crgp_spark.plans.checkpoint import partition_counts
from crgp_spark.plans.superstep import (
    LoopResult,
    StepOutcome,
    run_loop,
    state_hint,
)


def _normalize(edges: DataFrame, weight_col: str | None):
    """Canonical undirected weighted form: ``und (u < v, w)`` with
    parallel edges collapsed (summed when weighted, deduped when not)
    plus per-vertex self-loop mass ``selfs (vid, s)``. Unweighted input
    follows the engine's simple-graph convention (self-loops dropped,
    like `labelprop`/`triangles`); weighted input keeps them — they are
    the contracted intra-community mass."""
    w = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    base = edges.select(
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
        w.alias("w"),
    )
    if weight_col is None:
        und = (
            base.filter(F.col("u") != F.col("v"))
            .select("u", "v")
            .distinct()
            .select("u", "v", F.lit(1).cast("long").alias("w"))
        )
        selfs = und.limit(0).select(
            F.col("u").alias("vid"), F.col("w").alias("s")
        )
    else:
        und = (
            base.filter(F.col("u") != F.col("v"))
            .groupBy("u", "v")
            .agg(F.sum("w").alias("w"))
        )
        selfs = (
            base.filter(F.col("u") == F.col("v"))
            .groupBy(F.col("u").alias("vid"))
            .agg(F.sum("w").alias("s"))
        )
    return und, selfs


def _round_pri(col, it: int) -> F.Column:
    """Rotating move-schedule priority: the engine's deterministic
    60-bit md5 integer of ``vid || ':' || round`` (oracle twin:
    `_hex15_num` over ``MD5(CAST(vid AS VARCHAR) || ':<r>')``).
    Collision-free enough at 60 bits that strict-minimum tests never
    hinge on hash luck in practice; a collision only shrinks the mover
    set (both sides fail the strict test), never breaks independence."""
    return md5_num60(
        F.concat(col.cast("string"), F.lit(f":{it}"))
    )


def louvain_moves(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
    rounds: int = 4,
    weight_col: str | None = None,
    resume: bool = False,
    algo_name: str = "louvain",
) -> LoopResult:
    """One Louvain level: ``rounds`` parity-scheduled synchronous move
    sweeps. Returns state ``(vid, comm)``."""
    cfg = cfg or EngineConfig()
    und, selfs = _normalize(edges, weight_col)

    adj = (
        und.select("u", "v", "w")
        .unionByName(
            und.select(
                F.col("v").alias("u"), F.col("u").alias("v"), "w"
            )
        )
        .select(F.col("u").alias("v"), F.col("v").alias("u"), "w")
        .repartition(cfg.shuffle_partitions, "u")
        .persist()
    )
    adj.count()
    # weighted degree: adjacency strength + twice the self-loop mass;
    # full outer so self-loop-only supervertices stay in the graph
    deg = (
        adj.groupBy("v")
        .agg(F.sum("w").alias("dw"))
        .select(F.col("v").alias("vid"), "dw")
        .join(selfs, "vid", "full_outer")
        .select(
            "vid",
            (
                F.coalesce(F.col("dw"), F.lit(0))
                + 2 * F.coalesce(F.col("s"), F.lit(0))
            ).alias("d"),
        )
        .repartition(cfg.shuffle_partitions, "vid")
        .persist()
    )
    n = deg.count()
    # loop-invariant scalar: total weight W (one O(1) driver metadata
    # read, like labelprop's vertex count — not a data-path collect)
    row = und.agg(F.sum("w").alias("uw")).first()
    srow = selfs.agg(F.sum("s").alias("sw")).first()
    total_w = int(row["uw"] or 0) + int(srow["sw"] or 0)

    def init_state() -> DataFrame:
        return deg.select("vid", F.col("vid").alias("comm"))

    def step(state: DataFrame, it: int) -> StepOutcome:
        st = state_hint(state, n)
        # rotating-priority independent set: v moves this round only if
        # its salted priority strictly beats every neighbor's
        pri = deg.select("vid", _round_pri(F.col("vid"), it).alias("pri"))
        nbr_min = (
            adj.join(
                state_hint(
                    pri.select(F.col("vid").alias("u"), "pri"), n
                ),
                "u",
            )
            .groupBy("v")
            .agg(F.min("pri").alias("nbr_min"))
        )
        movable = (
            pri.join(nbr_min, pri["vid"] == nbr_min["v"], "left")
            .select(
                "vid",
                (
                    F.col("nbr_min").isNull()
                    | (F.col("pri") < F.col("nbr_min"))
                ).alias("mov"),
            )
        )
        # k(v, c): weight from v into each neighbor community
        k = (
            adj.join(st, adj["u"] == st["vid"])
            .groupBy(F.col("v"), F.col("comm").alias("c"))
            .agg(F.sum("w").alias("k"))
        )
        # tot(c): community degree mass (metadata-sized result)
        tot = (
            st.join(deg.withColumnRenamed("vid", "dvid"),
                    st["vid"] == F.col("dvid"))
            .groupBy(F.col("comm").alias("c"))
            .agg(F.sum("d").alias("tot"))
        )
        # candidates = neighbor communities ∪ stay-put (k contribution 0)
        cand = (
            k.unionByName(
                st.select(
                    F.col("vid").alias("v"),
                    F.col("comm").alias("c"),
                    F.lit(0).cast("long").alias("k"),
                )
            )
            .groupBy("v", "c")
            .agg(F.sum("k").alias("k"))
        )
        own = st.select(F.col("vid").alias("v"), F.col("comm").alias("own"))
        dv = deg.select(F.col("vid").alias("v"), "d")
        sc = (
            cand.join(state_hint(dv, n), "v")
            .join(state_hint(own, n), "v")
            .join(state_hint(tot, n), "c")
            .select(
                "v",
                "c",
                (F.col("c") == F.col("own")).cast("int").alias("is_own"),
                (
                    F.lit(2 * total_w) * F.col("k")
                    - F.col("d")
                    * (
                        F.col("tot")
                        - F.when(F.col("c") == F.col("own"), F.col("d"))
                        .otherwise(F.lit(0))
                    )
                ).alias("score"),
            )
        )
        # argmax: highest score; ties prefer staying put (strict-gain
        # moves only), then the smallest community id
        best = sc.groupBy("v").agg(
            F.max_by(
                F.col("c"),
                F.struct(
                    F.col("score"),
                    F.col("is_own"),
                    (-F.col("c")).alias("nc"),
                ),
            ).alias("best_c")
        )
        new_state = (
            state.select("vid", F.col("comm").alias("old_comm"))
            .join(state_hint(best, n), state["vid"] == best["v"], "left")
            .join(state_hint(movable, n), "vid", "left")
            .select(
                "vid",
                F.when(
                    F.coalesce(F.col("mov"), F.lit(False)),
                    F.coalesce(F.col("best_c"), F.col("old_comm")),
                )
                .otherwise(F.col("old_comm"))
                .alias("comm"),
                F.col("old_comm"),
            )
            .select(
                "vid",
                "comm",
                (F.col("comm") != F.col("old_comm")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        # one job: per-partition changed counts; their sum is the frontier
        changed = partition_counts(
            new_state.filter("_changed"), "vid", cfg.graph_partitions
        )
        frontier = sum(c for _, c in changed)
        lineage = [(p, 0, c, c) for p, c in changed]
        converged = it >= rounds - 1
        metrics = {"frontier": frontier, "converged": converged}
        return StepOutcome(new_state, lineage, metrics)

    result = run_loop(
        spark,
        algo_name,
        cfg,
        init_state,
        step,
        resume=resume,
        max_iterations=rounds,
    )
    adj.unpersist()
    deg.unpersist()
    return result


def contract_communities(
    edges: DataFrame,
    assign: DataFrame,
    weight_col: str | None = None,
) -> DataFrame:
    """Blondel phase 2: collapse each community of ``assign
    (vid, comm)`` to a supervertex. Returns the weighted coarse edge
    table ``(src, dst, weight)`` with ``src <= dst`` and ``src == dst``
    rows carrying the intra-community mass (each internal edge once —
    `louvain_moves` counts self-loops twice into ``d``, so modularity
    is preserved across the contraction). One groupBy after two
    state-sized joins — the scan-shaped coarsening."""
    und, selfs = _normalize(edges, weight_col)
    cu = assign.select(F.col("vid").alias("u"), F.col("comm").alias("cu"))
    cv = assign.select(F.col("vid").alias("v"), F.col("comm").alias("cv"))
    mapped = (
        und.join(cu, "u").join(cv, "v").select(
            F.least("cu", "cv").alias("src"),
            F.greatest("cu", "cv").alias("dst"),
            "w",
        )
    )
    mapped_selfs = (
        selfs.join(
            assign.withColumnRenamed("vid", "svid"),
            selfs["vid"] == F.col("svid"),
        ).select(
            F.col("comm").alias("src"),
            F.col("comm").alias("dst"),
            F.col("s").alias("w"),
        )
    )
    return (
        mapped.unionByName(mapped_selfs)
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("weight"))
    )


def louvain(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
    levels: int = 2,
    rounds: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Full multi-level Louvain: move phase, contract, repeat on the
    coarse graph; returns the original-vertex assignment ``(vid, comm)``
    after composing every level's mapping."""
    cfg = cfg or EngineConfig()
    g, wc = edges, weight_col
    assign: DataFrame | None = None
    for lv in range(levels):
        res = louvain_moves(
            spark, g, cfg, rounds=rounds, weight_col=wc,
            algo_name=f"louvain_l{lv}",
        )
        comm = res.state.select("vid", "comm")
        if assign is None:
            assign = comm
        else:
            nxt = comm.select(
                F.col("vid").alias("pcomm"), F.col("comm").alias("ncomm")
            )
            assign = (
                assign.join(nxt, assign["comm"] == nxt["pcomm"])
                .select("vid", F.col("ncomm").alias("comm"))
                .localCheckpoint(eager=True)
            )
        if lv + 1 < levels:
            g = contract_communities(g, comm, weight_col=wc)
            wc = "weight"
    return assign


def refine_partition(
    spark: SparkSession,
    edges: DataFrame,
    assign: DataFrame,
    cfg: EngineConfig | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Leiden refinement (Traag, Waltman & van Eck 2019): split every
    community of ``assign (vid, comm)`` into its CONNECTED parts —
    components of the community-induced subgraph, labeled by their
    minimum vid.

    Louvain can leave a community internally disconnected (its
    documented pathology: a bridge vertex moves away and strands the
    two sides, Traag et al. Fig. 2); Leiden's refinement phase is the
    fix, and the guarantee its paper proves — every community is
    connected — comes exactly from never letting a refined community
    span a disconnection.  This engine's refinement is the
    DETERMINISTIC core of Traag's: a pure connectivity split (their
    randomized gain-proportional singleton re-merge only redistributes
    quality among already-connected splits, so skipping it preserves
    the connectedness theorem and keeps the engine bit-reproducible —
    the same determinism trade as the rotating-priority move
    schedule).

    One intra-community edge filter + the audited
    `connected_components`; vertices isolated within their community
    keep their own vid as label."""
    from crgp_spark.operators.components import connected_components

    cfg = cfg or EngineConfig()
    und, _selfs = _normalize(edges, weight_col)
    cu = assign.select(F.col("vid").alias("u"), F.col("comm").alias("cu"))
    cv = assign.select(F.col("vid").alias("v"), F.col("comm").alias("cv"))
    intra = (
        und.join(cu, "u")
        .join(cv, "v")
        .filter(F.col("cu") == F.col("cv"))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )
    comp = connected_components(
        spark, intra, cfg, algo_name="leiden_refine"
    )
    return (
        assign.select("vid")
        .join(comp, "vid", "left")
        .select(
            "vid", F.coalesce("component", F.col("vid")).alias("comm")
        )
    )


def leiden(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
    levels: int = 2,
    rounds: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Multi-level Leiden: Louvain move phase, connectivity
    refinement, aggregate on the REFINED partition (Traag's loop
    structure), repeat.  Returns the original-vertex assignment
    ``(vid, comm)`` with every community guaranteed internally
    connected — the property plain `louvain` cannot promise."""
    cfg = cfg or EngineConfig()
    g, wc = edges, weight_col
    assign: DataFrame | None = None
    for lv in range(levels):
        res = louvain_moves(
            spark, g, cfg, rounds=rounds, weight_col=wc,
            algo_name=f"leiden_l{lv}",
        )
        ref = refine_partition(
            spark, g, res.state.select("vid", "comm"), cfg, weight_col=wc
        ).localCheckpoint(eager=True)
        if assign is None:
            assign = ref
        else:
            nxt = ref.select(
                F.col("vid").alias("pcomm"), F.col("comm").alias("ncomm")
            )
            assign = (
                assign.join(nxt, assign["comm"] == nxt["pcomm"])
                .select("vid", F.col("ncomm").alias("comm"))
                .localCheckpoint(eager=True)
            )
        if lv + 1 < levels:
            g = contract_communities(g, ref, weight_col=wc)
            wc = "weight"
    return assign
