from __future__ import annotations

import pandas as pd
import pytest

from crgp_spark.config import EngineConfig
from crgp_spark.operators.components import connected_components
from tests.oracles import components_oracle, random_edges


def _cfg(tmp_path):
    return EngineConfig(
        graph_partitions=4, shuffle_partitions=8, checkpoint_dir=str(tmp_path)
    )


@pytest.mark.parametrize("seed,n,m,pl", [(1, 120, 80, False), (2, 400, 500, True), (3, 60, 20, False)])
def test_matches_union_find(spark, tmp_path, seed, n, m, pl):
    pdf = random_edges(n, m, seed=seed, power_law=pl)
    edges = spark.createDataFrame(pdf)
    got = {
        r.vid: r.component
        for r in connected_components(
            spark, edges, _cfg(tmp_path / str(seed)), algo_name=f"cc{seed}"
        ).collect()
    }
    want = components_oracle(pdf)
    assert got == want


def test_chain_graph(spark, tmp_path):
    """A long path is the worst case for propagation-style CC; star
    hashing must still converge quickly and exactly."""
    pdf = pd.DataFrame({"src": list(range(200, 0, -1)), "dst": list(range(199, -1, -1))})
    edges = spark.createDataFrame(pdf)
    got = {
        r.vid: r.component
        for r in connected_components(
            spark, edges, _cfg(tmp_path), algo_name="cc_chain"
        ).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == 201


def test_resume(spark, tmp_path):
    pdf = random_edges(300, 400, seed=9)
    edges = spark.createDataFrame(pdf)
    cfg = _cfg(tmp_path)
    full = {
        r.vid: r.component
        for r in connected_components(spark, edges, cfg, algo_name="cc_r").collect()
    }
    # wipe later checkpoints, resume from iteration 1
    import os
    import re
    import shutil

    d = os.path.join(cfg.checkpoint_dir, "cc_r")
    for name in os.listdir(d):
        m = re.match(r"iter_(\d+)", name)
        if m and int(m.group(1)) > 1:
            shutil.rmtree(os.path.join(d, name))
    resumed = {
        r.vid: r.component
        for r in connected_components(
            spark, edges, cfg, resume=True, algo_name="cc_r"
        ).collect()
    }
    assert resumed == full

    # resuming the now-converged run returns its labels without running
    # or committing another round
    def manifests():
        out = {}
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name, "manifest.json")) as f:
                out[name] = f.read()
        return out

    before = manifests()
    again = {
        r.vid: r.component
        for r in connected_components(
            spark, edges, cfg, resume=True, algo_name="cc_r"
        ).collect()
    }
    assert manifests() == before
    assert again == full
