"""Connected components via alternating small-star / large-star hashing
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
— the north-rule algorithm choice; exact min-vertex component labels.

Both phases are pure DataFrame group-by/join rounds (map-side combinable
aggregations + broadcast-free equi-joins), which is why this algorithm
scales: per round the edge set only shrinks toward the final star forest,
and no per-vertex state bigger than an id is carried. O(log^2 n) rounds
on adversarial graphs, a handful in practice.

    large-star(u): connect every neighbor v > u to m = min(Γ(u) ∪ {u})
    small-star(u): for u > its neighbors: connect every neighbor (and u)
                   to the minimum of them

State between rounds is the current edge multiset, checkpointed as full
snapshots (the edge set IS the delta — it shrinks), resumable mid-run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crgp_spark.config import EngineConfig
from crgp_spark.plans.checkpoint import CheckpointManager, vertex_partition
from crgp_spark.plans.superstep import reset_stats, state_hint


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected, self-loop-free, deduplicated (u, v) with u != v."""
    return (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame, n: int) -> DataFrame:
    """For every vertex u: attach strictly-larger neighbors to
    min(Γ(u) ∪ {u}). ``n`` = upper bound on the round's vertex count,
    sizing the state-join hint."""
    nbrs = e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(F.min("v").alias("_mn")).select(
        "u", F.least("_mn", "u").alias("m")
    )
    # mins is a per-round |V|-row state table: size-adaptive hint
    # (plans/superstep.state_hint) — broadcasting it every round OOMs
    # bounded executor heaps once |V| is large
    return (
        nbrs.join(state_hint(mins, n), "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame, n: int) -> DataFrame:
    """Orient edges large->small; for every vertex u attach all its
    smaller neighbors (and u itself) to their minimum."""
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        oriented.join(state_hint(mins, n), "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    self_edges = mins.select("u", F.col("m").alias("v"))
    return moved.unionByName(self_edges).distinct()


def _checksum(e: DataFrame, partitions: int):
    """``((edges, digest), [(partition_id, edges), ...])`` of a round's
    edge set in one job: per-partition ``count`` + ``bit_xor``, summed and
    XORed on the driver. bit_xor: order-insensitive, overflow-free (ANSI
    mode) set digest; valid because the edge set is deduplicated each
    round."""
    rows = (
        e.groupBy(vertex_partition("u", partitions).alias("p"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(F.least("u", "v"), F.greatest("u", "v"))).alias("h"),
        )
        .collect()
    )
    digest = 0
    for r in rows:
        digest ^= r["h"]
    counts = {r["p"]: r["n"] for r in rows}
    per_part = [(p, counts.get(p, 0)) for p in range(partitions)]
    return (sum(counts.values()), digest), per_part


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
    resume: bool = False,
    algo_name: str = "components",
) -> DataFrame:
    """Exact connected components; returns ``(vid, component)`` where
    ``component`` is the minimum vertex id of the component. Isolated
    vertices present in the input edge list cannot exist (edges define
    the universe); callers with isolated vertices union them in as
    self-components afterwards."""
    cfg = cfg or EngineConfig()
    cm = CheckpointManager(cfg.checkpoint_dir, algo_name, cfg.snapshot_every)

    start_it, converged = 0, False
    last = cm.latest() if resume else None
    if last is not None:
        # a converged checkpoint already holds the final star forest
        e = cm.load_state(spark, last).persist()
        start_it, converged = last.iteration + 1, last.converged
    else:
        e = _canon(edges).repartition(cfg.shuffle_partitions, "u").persist()

    P = cfg.graph_partitions
    prev_sum = None if converged else _checksum(e, P)[0]
    rounds = () if converged else range(start_it, cfg.max_iterations)
    for it in rounds:
        # |V| <= 2*edges of the shrinking round edge set — a cheap upper
        # bound for the state-join hint, refreshed from the checksum
        n_bound = 2 * prev_sum[0]
        # localCheckpoint truncates the per-round plan (see superstep.py);
        # reset_stats drops the inherited size estimate — each star phase
        # joins two frames derived from the same round state, so the
        # size-only stats visitor grows the estimate ~4x per round
        # (digit count doubles twice), which at O(log |V|) rounds on a
        # 10^12-vertex graph is a driver-side BigInteger blowup (see
        # plans/superstep.reset_stats).
        e2 = reset_stats(
            _small_star(_large_star(e, n_bound), n_bound).localCheckpoint(
                eager=True
            )
        )
        cur_sum, per_part = _checksum(e2, P)
        converged = cur_sum == prev_sum

        if it % cfg.checkpoint_every == 0 or converged:
            lineage = [(p, c, c, cur_sum[0]) for p, c in per_part]
            cm.commit(
                it,
                e2,
                lineage,
                "full",
                converged,
                {"edges": cur_sum[0], "converged": converged},
            )
        e.unpersist()
        e = e2
        prev_sum = cur_sum
        if converged:
            break

    # Final star forest: every edge points child -> root (u > v = root).
    roots = e.select(F.col("v").alias("vid")).distinct().select(
        "vid", F.col("vid").alias("component")
    )
    children = e.select(F.col("u").alias("vid"), F.col("v").alias("component"))
    out = children.unionByName(roots).groupBy("vid").agg(
        F.min("component").alias("component")
    )
    return out


def bipartite_check(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
    max_iterations: int = 100,
) -> DataFrame:
    """Per-component bipartiteness: ``(component, n_vertices, n_edges,
    odd_edges, bipartite)`` over the undirected simple graph.

    A component is bipartite iff a 2-coloring exists iff NO edge joins
    two vertices at the same BFS-parity from any fixed root — so the
    test is: exact min-vid components (this module), one undirected
    multi-source BFS from each component's root (``bfs.py``; the
    frontier empties within the diameter, ``max_iterations`` is the
    same safety cap as the gated ``bfs`` entry), then one edge-level
    parity join. ``odd_edges`` counts the conflict edges (each one
    closes an odd cycle through the BFS tree), so the report says not
    just "no" but "how far from bipartite" — the graph-quality probe
    for "is this interaction graph two-sided" (user↔item,
    asker↔answerer) before running bipartite-only operators
    (``butterfly.py``, ``project.py``).

    Plan shape: everything reuses audited kernels; the new work is one
    parity join keyed on vertex id and a component rollup."""
    und = _canon(edges)
    sym = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("src"), F.col("v").alias("dst"))
    # checkpoint both reused states: comp feeds three downstream
    # branches and dist two — without truncation each branch would
    # re-execute the whole fixpoint lineage
    comp = connected_components(spark, edges, cfg).localCheckpoint(
        eager=True
    )
    roots = comp.groupBy("component").agg(F.min("vid").alias("vid"))
    from crgp_spark.operators.bfs import bfs_hops

    dist = bfs_hops(
        spark, sym, roots.select("vid"), cfg, max_iterations
    ).localCheckpoint(eager=True)
    da = dist.withColumnsRenamed({"vid": "u", "dist": "da"})
    db = dist.withColumnsRenamed({"vid": "v", "dist": "db"})
    ed = (
        und.join(da.hint("shuffle_hash"), "u")
        .join(db.hint("shuffle_hash"), "v")
        .join(
            comp.withColumnsRenamed({"vid": "u"}).hint("shuffle_hash"),
            "u",
        )
    )
    per_edge = ed.select(
        "component",
        F.when(
            F.pmod(F.col("da") + F.col("db"), F.lit(2)) == 0, 1
        )
        .otherwise(0)
        .alias("odd"),
    )
    edge_roll = per_edge.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum("odd").cast("long").alias("odd_edges"),
    )
    vert_roll = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_vertices")
    )
    return (
        vert_roll.join(edge_roll.hint("shuffle_hash"), "component", "left")
        .select(
            "component",
            "n_vertices",
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.coalesce("odd_edges", F.lit(0)).alias("odd_edges"),
            (F.coalesce("odd_edges", F.lit(0)) == 0).alias("bipartite"),
        )
        .orderBy("component")
    )
