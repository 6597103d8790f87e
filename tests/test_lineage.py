"""Per-superstep lineage rows committed inside the checkpoint manifest:
every iterative operator on ``CheckpointManager`` reports one row per
committed iteration and graph partition, and a commit directory holds
nothing but the state and its manifest."""

from __future__ import annotations

import os

import pytest

from crgp_spark.config import EngineConfig
from crgp_spark.operators.components import connected_components
from crgp_spark.operators.labelprop import label_propagation
from crgp_spark.operators.louvain import louvain_moves
from crgp_spark.operators.scc import strongly_connected_components
from crgp_spark.plans.checkpoint import CheckpointManager
from crgp_spark.schemas import LINEAGE
from tests.oracles import random_edges

PARTITIONS = 4

RUNS = {
    "labelprop": lambda spark, e, cfg: label_propagation(spark, e, cfg, algo_name="lin"),
    "louvain": lambda spark, e, cfg: louvain_moves(spark, e, cfg, rounds=4, algo_name="lin"),
    "components": lambda spark, e, cfg: connected_components(spark, e, cfg, algo_name="lin"),
    "scc": lambda spark, e, cfg: strongly_connected_components(spark, e, cfg, algo_name="lin"),
}


@pytest.mark.parametrize("op", sorted(RUNS))
def test_lineage_row_per_committed_iteration(spark, tmp_path, op):
    edges = spark.createDataFrame(random_edges(60, 90, seed=4))
    cfg = EngineConfig(
        graph_partitions=PARTITIONS, shuffle_partitions=4, checkpoint_dir=str(tmp_path)
    )
    RUNS[op](spark, edges, cfg)

    cm = CheckpointManager(cfg.checkpoint_dir, "lin")
    committed = [c.iteration for c in cm.checkpoints()]
    assert committed
    for c in cm.checkpoints():
        assert sorted(os.listdir(c.path)) == ["manifest.json", "state"]

    lin = cm.lineage(spark)
    assert lin.schema == LINEAGE
    rows = lin.collect()
    assert {r.algo for r in rows} == {"lin"}
    for it in committed:
        mine = [r for r in rows if r.iteration == it]
        assert sorted(r.partition_id for r in mine) == list(range(PARTITIONS))
    assert len(rows) == len(committed) * PARTITIONS
    assert all(r.skew_ratio >= 0 for r in rows)
