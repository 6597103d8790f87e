"""Cascade-local components/labelprop/triangles == generic paths."""

from __future__ import annotations

import pytest

from crgp_spark.config import EngineConfig
from crgp_spark.derive import derive_edges
from crgp_spark.generator import synthetic_transcripts
from crgp_spark.operators.cascade_algos import (
    cascade_components,
    cascade_labelprop,
    cascade_triangles,
)
from crgp_spark.operators.components import connected_components
from crgp_spark.operators.labelprop import label_propagation
from crgp_spark.operators.triangles import triangles


@pytest.fixture(scope="module")
def conv_edges(spark):
    t = synthetic_transcripts(spark, n_convs=50, seed=33, max_turns=48)
    return derive_edges(t).select("src", "dst", "conv_id").persist()


def _cfg(tmp_path, **kw):
    return EngineConfig(
        shuffle_partitions=8,
        graph_partitions=8,
        checkpoint_dir=str(tmp_path),
        **kw,
    )


def test_components_match(spark, conv_edges, tmp_path):
    got = {
        r["vid"]: r["component"]
        for r in cascade_components(spark, conv_edges, _cfg(tmp_path)).collect()
    }
    want = {
        r["vid"]: r["component"]
        for r in connected_components(
            spark, conv_edges.select("src", "dst"), _cfg(tmp_path / "g")
        ).collect()
    }
    assert got == want


def test_components_match_with_forced_splits(spark, conv_edges, tmp_path):
    cfg = _cfg(tmp_path, hub_degree_threshold=40, max_salt=4)
    got = {
        r["vid"]: r["component"]
        for r in cascade_components(
            spark, conv_edges, cfg, algo_name="cc_split"
        ).collect()
    }
    want = {
        r["vid"]: r["component"]
        for r in connected_components(
            spark, conv_edges.select("src", "dst"), _cfg(tmp_path / "g2")
        ).collect()
    }
    assert got == want


def test_labelprop_matches(spark, conv_edges, tmp_path):
    got = {
        r["vid"]: r["label"]
        for r in cascade_labelprop(
            spark, conv_edges, _cfg(tmp_path), fixed_iterations=3
        ).collect()
    }
    want = {
        r["vid"]: r["label"]
        for r in label_propagation(
            spark,
            conv_edges.select("src", "dst"),
            _cfg(tmp_path / "g"),
            fixed_iterations=3,
        ).state.collect()
    }
    assert got == want


def test_triangles_match(spark, conv_edges, tmp_path):
    t1, pv1 = cascade_triangles(spark, conv_edges, _cfg(tmp_path))
    t2, pv2 = triangles(spark, conv_edges.select("src", "dst"))
    assert t1 == t2
    got = {r["vid"]: r["triangles"] for r in pv1.collect()}
    want = {r["vid"]: r["triangles"] for r in pv2.collect()}
    # generic path reports 0-triangle vertices explicitly; cascade path
    # reports every block vertex too — compare non-zero + keys
    assert {k: v for k, v in got.items() if v} == {
        k: v for k, v in want.items() if v
    }
    assert set(got) == set(want)


def test_repack_same_path_different_graph_not_stale(spark, tmp_path):
    """Two different edge tables through the same cfg/path must not
    reuse the first graph's pack or worker-cached CSR blocks (ADVICE r1:
    the cascade pack helper reused any existing pack; _BLOCK_CACHE lacked a pack
    fingerprint)."""
    t1 = synthetic_transcripts(spark, n_convs=12, seed=1, max_turns=16)
    t2 = synthetic_transcripts(spark, n_convs=20, seed=2, max_turns=24)
    e1 = derive_edges(t1).select("src", "dst", "conv_id")
    e2 = derive_edges(t2).select("src", "dst", "conv_id")
    cfg = _cfg(tmp_path)

    first = {
        r["vid"]: r["component"]
        for r in cascade_components(spark, e1, cfg).collect()
    }
    second = {
        r["vid"]: r["component"]
        for r in cascade_components(spark, e2, cfg).collect()
    }
    want = {
        r["vid"]: r["component"]
        for r in connected_components(
            spark, e2.select("src", "dst"), _cfg(tmp_path / "w")
        ).collect()
    }
    assert second == want
    assert set(second) != set(first)  # genuinely a different graph


def test_pagerank_cascade_repack_not_stale(spark, tmp_path):
    """pagerank_cascade twice at the same checkpoint_dir with different
    edges: reused Python workers must load the NEW pack (pack_id in the
    cache key), not serve the old CSR blocks."""
    from crgp_spark.operators.cascade import pagerank_cascade
    from crgp_spark.operators.pagerank import pagerank_df

    t1 = synthetic_transcripts(spark, n_convs=10, seed=5, max_turns=12)
    t2 = synthetic_transcripts(spark, n_convs=16, seed=6, max_turns=20)
    e1 = derive_edges(t1).select("src", "dst", "conv_id")
    e2 = derive_edges(t2).select("src", "dst", "conv_id")
    cfg = _cfg(tmp_path, max_iterations=3)

    pagerank_cascade(spark, e1, cfg)
    got = {
        r["vid"]: r["rank"]
        for r in pagerank_cascade(spark, e2, cfg).state.collect()
    }
    want = {
        r["vid"]: r["rank"]
        for r in pagerank_df(
            spark, e2.select("src", "dst"), _cfg(tmp_path / "w", max_iterations=3),
            fixed_iterations=3,
        ).collect()
    }
    assert set(got) == set(want)
    assert all(abs(got[v] - want[v]) < 1e-9 for v in want)
