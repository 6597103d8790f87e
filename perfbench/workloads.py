"""The benchmark's workloads.

Each workload makes its inputs from the seed with
``generator.synthetic_transcripts`` and hands the engine only the written
parquet files. ``prepare`` runs once per set-up repetition and returns the
inputs; ``op`` runs one timed operation on them and returns its seconds and
whether its outputs passed the checks, which run after the clock stops;
``warm_up`` runs the operation's first steps once on a small input of the
same shape, so timed operations start with the JIT and the Python workers
warm. Why each workload exists, and which layer metric should move which
end-to-end metric on it, is in README.md.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, replace

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import oracles
from crgp_spark.config import EngineConfig
from crgp_spark.derive import derive_edge_turns, derive_edges
from crgp_spark.functions import vid
from crgp_spark.generator import synthetic_transcripts

#: Conversations in the warm-up input.
WARM_UP_CONVS = 200


@dataclass
class Ctx:
    spark: object
    tracer: object
    run_dir: str
    seed: int
    #: shuffle and graph partitions (= the cores of the fixed ``local[N]``)
    partitions: int

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def engine_config(self, ckpt: str, **kw) -> EngineConfig:
        p = self.partitions
        return EngineConfig(
            shuffle_partitions=p, graph_partitions=p, checkpoint_dir=ckpt,
            tol_mode="scaled", checkpoint_every=1, **kw,
        )


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """(rows, order-free row hash sum): equal multisets give equal values."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1 << 31))).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"] or 0)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


@contextlib.contextmanager
def timed_op(tracer):
    """Time one operation; in a traced run it is also the root ``op`` span."""
    box = {}
    with tracer.span("op"):
        t0 = time.perf_counter()
        yield box
        box["s"] = time.perf_counter() - t0


def generate(ctx: Ctx, name: str, **shape) -> dict:
    """Write seeded transcripts; return their path, turn count and checksum
    (identical for identical seeds and shapes)."""
    path = ctx.path(name)
    shutil.rmtree(path, ignore_errors=True)
    synthetic_transcripts(ctx.spark, seed=ctx.seed, **shape).write.parquet(path)
    n, h = fingerprint(ctx.spark.read.parquet(path))
    return {"transcripts": path, "turns": n, "checksum": f"{n}:{h}",
            "n_convs": shape["n_convs"]}


class DeriveStream:
    """One operation derives the whole input as one batch job (transcripts
    -> influence-edge parquet table), then replays the same input cut into
    epochs in ts order through ``IncrementalDeriver.process_batch``: one
    client, closed loop, each epoch starting after the previous commit."""

    name = "derive_stream"
    shape = dict(alpha=1.5, max_turns=256)
    n_convs = 10_000
    epochs = 6
    #: conversations whose batch edges the pandas oracle re-derives
    sample_convs = 300

    def __init__(self):
        self.reference: dict = {}

    def prepare(self, ctx: Ctx, name: str, n_convs: int | None = None) -> dict:
        inp = generate(ctx, name, n_convs=n_convs or self.n_convs, **self.shape)
        w = Window.orderBy("ts", "conv_id", "turn_idx")
        inp["epochs"] = inp["transcripts"] + "_epochs"
        shutil.rmtree(inp["epochs"], ignore_errors=True)
        (
            ctx.spark.read.parquet(inp["transcripts"])
            .withColumn("epoch", F.ntile(self.epochs).over(w) - 1)
            .write.partitionBy("epoch").parquet(inp["epochs"])
        )
        return inp

    def warm_up(self, ctx: Ctx) -> None:
        """The operation's batch job and first two epochs (one without, one
        with prior state) on a small input."""
        self.op(ctx, "warm", self.prepare(ctx, "warm", WARM_UP_CONVS), epochs=2)

    def op(self, ctx: Ctx, tag: str, inp: dict, epochs: int | None = None) -> tuple[float, bool]:
        from crgp_spark.streaming.incremental import IncrementalDeriver

        spark, tr = ctx.spark, ctx.tracer
        out, state = ctx.path(f"edges_{tag}"), ctx.path(f"stream_{tag}")
        deriver = IncrementalDeriver(spark, state)
        with timed_op(tr) as t:
            with tr.span("derive.derive_edges") as d:
                derive_edges(spark.read.parquet(inp["transcripts"])).write.parquet(out)
            for k in range(epochs or self.epochs):
                batch = spark.read.parquet(os.path.join(inp["epochs"], f"epoch={k}"))
                with tr.span("incremental.process_batch", epoch=k) as s:
                    deriver.process_batch(batch, k)
                if s["traced"]:
                    s["state_bytes"] = sum(
                        dir_bytes(os.path.join(state, "state", f"{kind}_{k}"))
                        for kind in ("acts", "origs")
                    )
        batch_fp = fingerprint(spark.read.parquet(out))
        d["edges_out"] = batch_fp[0]
        # a warm-up runs a partial operation, which has nothing to check
        ok = epochs is not None or (
            self._check_batch(ctx, inp, out, batch_fp)
            and self._check_epochs(ctx, inp, deriver)
        )
        shutil.rmtree(out)
        shutil.rmtree(state)
        return t["s"], ok

    def _check_batch(self, ctx, inp, out, fp) -> bool:
        """The first batch output must match the pandas oracle on a sample
        of conversations; every later one must equal the first."""
        if "batch" not in self.reference:
            self.reference["batch"] = fp if self._oracle_sample(ctx, inp, out) else None
        return fp == self.reference["batch"]

    def _oracle_sample(self, ctx, inp, out) -> bool:
        rng = np.random.default_rng(ctx.seed)
        ids = [f"conv_{c:08d}" for c in
               rng.choice(inp["n_convs"], self.sample_convs, replace=False)]
        spark = ctx.spark
        turns = (
            spark.read.parquet(inp["transcripts"])
            .filter(F.col("conv_id").isin(ids))
            .select("conv_id", "turn_idx", "role", "tool", "ts",
                    vid("conv_id", "turn_idx").alias("vid"))
            .toPandas()
        )
        turns["ts_us"] = turns["ts"].astype("int64") // 1000
        edges = spark.read.parquet(out).filter(F.col("conv_id").isin(ids)).toPandas()
        turn_of = dict(zip(turns["vid"], turns["turn_idx"]))
        got = sorted(
            (c, turn_of.get(s), turn_of.get(d), int(t), turn_of.get(o))
            for c, s, d, t, o, ti in zip(
                edges["conv_id"], edges["src"], edges["dst"], edges["ts"],
                edges["orig"], edges["turn_idx"],
            )
            if turn_of.get(d) == ti
        )
        return len(got) == len(edges) and got == oracles.influence_edges(turns)

    def _check_epochs(self, ctx, inp, deriver) -> bool:
        """The union of the epoch outputs equals the batch derivation: per
        epoch, the edges whose influenced turn arrived in that epoch."""
        if "epochs" not in self.reference:
            turns = ctx.spark.read.parquet(inp["epochs"])
            epoch_of = turns.select("conv_id", F.col("turn_idx").alias("dst_turn"), "epoch")
            self.reference["epochs"] = _fingerprints_by_epoch(
                derive_edge_turns(turns.drop("epoch")).join(epoch_of, ["conv_id", "dst_turn"])
            )
        return _fingerprints_by_epoch(deriver.edges()) == self.reference["epochs"]


class Iterate:
    """One operation runs the iterative layers over an edge table derived
    during set-up. Generic salted-source layout: ``pack_csr``, then PageRank
    with a checkpoint every superstep, stopped after ``stop_after``
    supersteps and resumed from its checkpoint up to ``supersteps``, then
    connected components. Cascade-local layout: ``pack_cascade`` with a hub
    threshold that splits the largest conversations into salted sub-blocks,
    then the single-pass components and triangle kernels."""

    name = "iterate"
    shape = dict(alpha=1.5, max_turns=512)
    n_convs = 6_000
    stop_after = 2
    supersteps = 4
    hub_degree_threshold = 500

    def __init__(self):
        self._edges_np: dict = {}

    def prepare(self, ctx: Ctx, name: str) -> dict:
        inp = generate(ctx, name, n_convs=self.n_convs, **self.shape)
        inp["edges"] = inp["transcripts"] + "_edges"
        shutil.rmtree(inp["edges"], ignore_errors=True)
        with ctx.tracer.span("derive.derive_edges") as s:
            derive_edges(ctx.spark.read.parquet(inp["transcripts"])).write.parquet(inp["edges"])
        inp["n_edges"] = s["edges_out"] = ctx.spark.read.parquet(inp["edges"]).count()
        return inp

    def warm_up(self, ctx: Ctx) -> None:
        """A small job through the Arrow path, which starts the Python
        workers every kernel of the operation runs in."""
        df = ctx.spark.range(64).withColumn("g", F.col("id") % ctx.partitions)
        df.groupBy("g").applyInPandas(lambda pdf: pdf, df.schema).count()

    def op(self, ctx: Ctx, tag: str, inp: dict) -> tuple[float, bool]:
        from crgp_spark.operators.cascade import pack_cascade
        from crgp_spark.operators.cascade_algos import (
            cascade_components, cascade_triangles,
        )
        from crgp_spark.operators.components import connected_components
        from crgp_spark.operators.pack import pack_csr
        from crgp_spark.operators.pagerank import pagerank

        spark, tr = ctx.spark, ctx.tracer
        ckpt = ctx.path(f"op_{tag}")
        cfg = ctx.engine_config(ckpt, hub_degree_threshold=self.hub_degree_threshold)
        cpack = os.path.join(ckpt, "cascade", "graph")
        reuse = dict(pack_path=cpack, reuse_pack=True)
        edges = spark.read.parquet(inp["edges"])
        pairs = edges.select("src", "dst")
        with timed_op(tr) as t:
            with tr.span("pack.pack_csr") as s:
                stats = pack_csr(pairs, cfg, os.path.join(ckpt, "pagerank", "graph"))
            with tr.span("pagerank.pagerank"):
                pagerank(spark, edges, replace(cfg, max_iterations=self.stop_after),
                         reuse_pack=True)
            with tr.span("pagerank.pagerank", resume=True) as p:
                res = pagerank(spark, edges, replace(cfg, max_iterations=self.supersteps),
                               resume=True)
                ranks = res.state.toPandas()
            with tr.span("components.connected_components") as c:
                comp = connected_components(spark, pairs, cfg).toPandas()
            with tr.span("cascade.pack_cascade") as cs:
                cstats = pack_cascade(edges, cfg, cpack)
            with tr.span("cascade.cascade_components"):
                ccomp = cascade_components(spark, edges, cfg, **reuse).toPandas()
            with tr.span("cascade.cascade_triangles"):
                total, per_vertex = cascade_triangles(spark, edges, cfg, **reuse)
                per_vertex = per_vertex.toPandas()
        s["skew_ratio"] = stats["skew_ratio"]
        p["messages"] = [h.get("messages", 0) for h in res.history]
        c["rounds"] = _commits(os.path.join(ckpt, "components"))
        cs["skew_ratio"] = cstats["skew_ratio"]
        cs["replicas"] = cstats["n_replicas"]
        ok = (
            res.iterations == self.supersteps
            and self._check_ranks(inp, ranks, res.iterations)
            and self._check_components(inp, comp)
            and self._check_components(inp, ccomp)
            and self._check_triangles(inp, total, per_vertex)
        )
        shutil.rmtree(ckpt)
        return t["s"], ok

    def _edges(self, inp) -> tuple[np.ndarray, np.ndarray]:
        if inp["edges"] not in self._edges_np:
            import pyarrow.parquet as pq

            tbl = pq.read_table(inp["edges"], columns=["src", "dst"])
            self._edges_np[inp["edges"]] = (tbl["src"].to_numpy(), tbl["dst"].to_numpy())
        return self._edges_np[inp["edges"]]

    def _check_ranks(self, inp, ranks, iterations: int) -> bool:
        """Ranks after ``iterations`` supersteps match the NumPy power
        iteration, and the rank mass is 1."""
        vids, want = oracles.pagerank(*self._edges(inp), iterations)
        got = ranks.set_index("vid")["rank"].reindex(vids).to_numpy()
        return (
            len(ranks) == len(vids)
            and abs(float(ranks["rank"].sum()) - 1.0) < 1e-9
            and np.allclose(got, want, rtol=1e-6, atol=1e-12)
        )

    def _check_components(self, inp, comp) -> bool:
        want = oracles.components(*self._edges(inp))
        got = dict(zip(comp["vid"].tolist(), comp["component"].tolist()))
        return len(comp) == len(want) and got == want

    def _check_triangles(self, inp, total, per_vertex) -> bool:
        want = {v: n for v, n in oracles.triangles(*self._edges(inp)).items() if n}
        got = {v: n for v, n in zip(per_vertex["vid"].tolist(),
                                    per_vertex["triangles"].tolist()) if n}
        return total * 3 == sum(want.values()) and got == want


def _fingerprints_by_epoch(edges: DataFrame) -> dict[int, tuple[int, int]]:
    cols = ["conv_id", "src_turn", "src_participant", "dst_turn",
            "dst_participant", "ts", "orig_turn"]
    rows = edges.groupBy("epoch").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 31))).alias("h"),
    ).collect()
    return {int(r["epoch"]): (int(r["n"]), int(r["h"])) for r in rows}


def _commits(algo_dir: str) -> int:
    if not os.path.isdir(algo_dir):
        return 0
    return sum(
        os.path.exists(os.path.join(algo_dir, d, "manifest.json"))
        for d in os.listdir(algo_dir)
    )


WORKLOADS = {w.name: w for w in (DeriveStream, Iterate)}
