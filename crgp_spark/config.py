"""Engine configuration.

Mirrors the role of the reference's builder-style ``Configuration``
(``crgp-lib/src/configuration/main.rs:57-252``) but holds Spark-level
knobs instead of timely worker/process topology: parallelism maps to
Spark's master/partitions, the reference's ``batch_size`` (50 000
retweets per epoch, ``configuration/main.rs:44``) maps to our superstep
checkpoint cadence, and GALE-vs-LEAF algorithm selection
(``configuration/algorithm.rs:13-24``) is intentionally absent — both are
physical plan shapes of one logical query, chosen by Catalyst/AQE.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass
class EngineConfig:
    """Knobs for the engine. All defaults are safe for local[32]."""

    # Parallelism / layout -------------------------------------------------
    #: number of shuffle partitions; on a real cluster set to 2-3x total cores
    shuffle_partitions: int = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    #: number of CSR blocks (graph partitions); on a cluster ~2x executors
    graph_partitions: int = 32
    #: out-degree above which a source vertex's adjacency is salted across
    #: multiple partitions (hub-skew mitigation, SURVEY.md R1)
    hub_degree_threshold: int = 10_000
    #: maximum number of salt replicas for one hub vertex
    max_salt: int = 16

    # Iteration / checkpointing -------------------------------------------
    damping: float = 0.85
    tol: float = 1e-6
    #: "abs": converge when max per-vertex |delta| < tol (the literal
    #: north-rule criterion; right for oracle-scale graphs).
    #: "scaled": converge when max |delta| * n_vertices < tol — the
    #: scale-free reading: at 10^12 vertices every score is < 1e-6, so
    #: only a tolerance relative to the uniform mass 1/n resolves the
    #: scores themselves. Benchmarks use "scaled".
    tol_mode: str = "abs"
    max_iterations: int = 100
    #: write a checkpoint every N supersteps (1 = every superstep, the
    #: north-rule default; raise for throughput benchmarking)
    checkpoint_every: int = 1
    #: write a full state snapshot every N checkpoints (deltas in between)
    snapshot_every: int = 5
    checkpoint_dir: str = field(
        default_factory=lambda: os.environ.get("SPARK_GRAFT_CKPT", "/tmp/crgp_ckpt")
    )
