from __future__ import annotations

import os

import pytest

from crgp_spark.config import EngineConfig
from crgp_spark.operators.pagerank import pagerank, pagerank_df
from tests.oracles import pagerank_oracle, random_edges


@pytest.fixture(scope="module")
def graph(spark):
    pdf = random_edges(200, 1500, seed=5, power_law=True)
    return spark.createDataFrame(pdf).persist(), pdf


def _cfg(tmp_path, **kw):
    base = dict(
        graph_partitions=4,
        shuffle_partitions=8,
        hub_degree_threshold=50,
        max_salt=4,
        checkpoint_dir=str(tmp_path),
    )
    base.update(kw)
    return EngineConfig(**base)


def test_csr_matches_oracle(spark, graph, tmp_path):
    edges, pdf = graph
    res = pagerank(spark, edges, _cfg(tmp_path))
    assert res.converged
    got = {r.vid: r.rank for r in res.state.collect()}
    want = pagerank_oracle(pdf)
    assert set(got) == set(want)
    assert all(abs(got[v] - want[v]) < 1e-6 for v in want)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_df_variant_matches_csr(spark, graph, tmp_path):
    edges, pdf = graph
    res = pagerank(spark, edges, _cfg(tmp_path / "a"))
    df_ranks = {r.vid: r.rank for r in pagerank_df(spark, edges, _cfg(tmp_path)).collect()}
    csr_ranks = {r.vid: r.rank for r in res.state.collect()}
    assert all(abs(df_ranks[v] - csr_ranks[v]) < 1e-9 for v in csr_ranks)


def test_lineage_written(spark, graph, tmp_path):
    edges, _ = graph
    cfg = _cfg(tmp_path)
    res = pagerank(spark, edges, cfg, algo_name="pr_lineage")
    from crgp_spark.plans.checkpoint import CheckpointManager

    cm = CheckpointManager(cfg.checkpoint_dir, "pr_lineage")
    lin = cm.lineage(spark)
    assert lin is not None
    rows = lin.collect()
    assert len(rows) > 0
    # every committed iteration has per-partition rows with positive scans
    iters = {r.iteration for r in rows}
    assert max(iters) == res.iterations - 1
    assert all(r.edges_scanned > 0 for r in rows)
    assert all(r.skew_ratio > 0 for r in rows)


def test_resume_equivalence(spark, graph, tmp_path):
    """Kill after a few supersteps; resume must converge to the same
    ranks as a straight-through run (north-rule resumability)."""
    edges, pdf = graph
    cfg_a = _cfg(tmp_path / "straight")
    full = pagerank(spark, edges, cfg_a, algo_name="pr_full")

    cfg_b = _cfg(tmp_path / "resumed", snapshot_every=3)
    partial = pagerank(
        spark, edges, cfg_b, algo_name="pr_resume"
    )
    # simulate a crash: delete checkpoints after iteration 4, then resume
    import re
    import shutil

    algo_dir = os.path.join(cfg_b.checkpoint_dir, "pr_resume")
    for name in os.listdir(algo_dir):
        m = re.match(r"iter_(\d+)", name)
        if m and int(m.group(1)) > 4:
            shutil.rmtree(os.path.join(algo_dir, name))
    resumed = pagerank(spark, edges, cfg_b, resume=True, algo_name="pr_resume")
    assert resumed.resumed_from == 4
    assert resumed.converged

    a = {r.vid: r.rank for r in full.state.collect()}
    b = {r.vid: r.rank for r in resumed.state.collect()}
    assert set(a) == set(b)
    assert all(abs(a[v] - b[v]) < 1e-9 for v in a)
    assert partial.converged


def test_resume_after_partition_change(spark, graph, tmp_path):
    """A resume under another ``graph_partitions`` must repack: the stored
    pack's blocks disagree with the new run's placement, and reusing them
    converges to wrong ranks with mass 1."""
    edges, pdf = graph
    stopped = pagerank(
        spark, edges, _cfg(tmp_path, graph_partitions=8, max_iterations=3),
        algo_name="pr_repart",
    )
    assert not stopped.converged
    res = pagerank(spark, edges, _cfg(tmp_path), resume=True, algo_name="pr_repart")
    assert res.resumed_from == 2 and res.converged
    got = {r.vid: r.rank for r in res.state.collect()}
    want = pagerank_oracle(pdf)
    assert set(got) == set(want)
    assert max(abs(got[v] - want[v]) for v in want) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_resume_from_lineage_parquet_layout(spark, graph, tmp_path):
    """A checkpoint dir in the earlier layout (lineage as a ``lineage/``
    parquet dir per commit, no ``"lineage"`` manifest key, pack stats
    without the salting knobs) resumes to the straight-through ranks."""
    import json

    from crgp_spark.plans.checkpoint import CheckpointManager
    from crgp_spark.schemas import LINEAGE

    edges, _ = graph
    full = pagerank(spark, edges, _cfg(tmp_path / "straight"), algo_name="pr_full")

    cfg = _cfg(tmp_path / "old", max_iterations=3)
    pagerank(spark, edges, cfg, algo_name="pr_old")
    cm = CheckpointManager(cfg.checkpoint_dir, "pr_old")
    for ck in cm.checkpoints():
        mf = os.path.join(ck.path, "manifest.json")
        with open(mf) as f:
            meta = json.load(f)
        rows = [tuple(r) for r in meta.pop("lineage")]
        spark.createDataFrame(rows, LINEAGE).write.parquet(os.path.join(ck.path, "lineage"))
        with open(mf, "w") as f:
            json.dump(meta, f)
    stats_file = os.path.join(cfg.checkpoint_dir, "pr_old", "graph", "_pack_stats.json")
    with open(stats_file) as f:
        stats = json.load(f)
    del stats["hub_degree_threshold"], stats["max_salt"]
    with open(stats_file, "w") as f:
        json.dump(stats, f)
    assert cm.lineage(spark) is None

    resumed = pagerank(spark, edges, _cfg(tmp_path / "old"), resume=True, algo_name="pr_old")
    assert resumed.resumed_from == 2 and resumed.converged
    a = {r.vid: r.rank for r in full.state.collect()}
    b = {r.vid: r.rank for r in resumed.state.collect()}
    assert set(a) == set(b)
    assert all(abs(a[v] - b[v]) < 1e-9 for v in a)
    # only the commits made after the resume carry manifest lineage
    assert {r.iteration for r in cm.lineage(spark).collect()} == set(
        range(3, resumed.iterations)
    )


def test_parallelism_invariance(spark, graph, tmp_path):
    """Same input, different partition counts -> allclose(1e-6)
    (SURVEY.md R2; evidences scaling-correctness at two widths)."""
    edges, _ = graph
    r1 = pagerank(
        spark, edges, _cfg(tmp_path / "p2", graph_partitions=2, shuffle_partitions=2),
        algo_name="pr_p2",
    )
    r2 = pagerank(
        spark, edges, _cfg(tmp_path / "p8", graph_partitions=8, shuffle_partitions=16),
        algo_name="pr_p8",
    )
    a = {r.vid: r.rank for r in r1.state.collect()}
    b = {r.vid: r.rank for r in r2.state.collect()}
    assert all(abs(a[v] - b[v]) < 1e-6 for v in a)
