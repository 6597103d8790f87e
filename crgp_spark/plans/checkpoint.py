"""Atomic per-superstep checkpoints with delta encoding, lineage and
resume (north rule; SURVEY.md §7.2 M3, risk R3).

Layout, per algorithm run::

    {root}/{algo}/iter_00007/
        state/      parquet — full snapshot OR delta (changed rows only)
        manifest.json   written LAST via tmp+rename → commit point;
                        ``"lineage"`` holds the superstep's rows, one per
                        graph partition, in ``schemas.LINEAGE`` field order

Lineage is a few dozen driver-side numbers per superstep, so it rides in
the manifest (the reference's one driver-side statistics record,
``statistics.rs:17-53``) instead of costing a parquet write job per
commit; ``CheckpointManager.lineage`` turns the committed rows into a
``schemas.LINEAGE`` frame. Directories written before lineage moved into
the manifest (a ``lineage/`` parquet dir, no manifest key) still resume;
their iterations contribute no lineage rows.

A checkpoint exists iff its manifest exists (the ``_SUCCESS``-guarded
analog of an Iceberg snapshot commit; parquet fallback per SURVEY.md R4 —
no Iceberg runtime jar ships in this sandbox). Resume loads the latest
full snapshot and folds later deltas over it (latest-iteration row wins
per vertex), which reconstructs the exact mid-run state.

This replaces the reference's epoch barrier (``timely_extensions/
sync.rs:27-41``) + single-writer funnel (``write.rs:45``) with partitioned
writes and an explicit commit protocol — the reference cannot resume at
all; a killed run restarts from scratch.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from crgp_spark.schemas import LINEAGE

_ITER_RE = re.compile(r"^iter_(\d{5})$")

#: One superstep's lineage for one graph partition, as operators hand it
#: to ``commit``: ``(partition_id, edges_scanned, messages_sent,
#: frontier_size)``. ``frontier_size`` is the operator's own frontier
#: measure (global or per-partition, see each operator).
LineageRow = tuple[int, int, int, int]


def vertex_partition(col: str, partitions: int) -> Column:
    """Lineage partition of a vertex-keyed row: ``pmod(xxhash64(col),
    partitions)``."""
    return F.pmod(F.xxhash64(col), F.lit(partitions)).cast("int")


def partition_counts(df: DataFrame, col: str, partitions: int) -> list[tuple[int, int]]:
    """``(partition_id, rows)`` of ``df`` per ``vertex_partition(col)``,
    every partition listed (zeros included), from one job."""
    got = dict(df.groupBy(vertex_partition(col, partitions)).count().collect())
    return [(p, got.get(p, 0)) for p in range(partitions)]


def _lineage_rows(algo: str, iteration: int, rows: list[LineageRow]) -> list[list]:
    """Full ``schemas.LINEAGE`` rows for one commit. ``skew_ratio`` =
    ``edges_scanned`` / the mean ``edges_scanned`` of the commit's rows,
    1.0 when that mean is 0."""
    rows = [tuple(int(x) for x in r) for r in rows]
    mean = sum(r[1] for r in rows) / len(rows) if rows else 0.0
    return [
        [algo, iteration, p, e, m, f, e / mean if mean else 1.0]
        for p, e, m, f in rows
    ]


@dataclass
class Checkpoint:
    iteration: int
    kind: str  # "full" | "delta"
    converged: bool
    metrics: dict
    path: str
    lineage: list = field(default_factory=list)  # schemas.LINEAGE rows


class CheckpointManager:
    def __init__(self, root: str, algo: str, snapshot_every: int = 5):
        self.algo = algo
        self.dir = os.path.join(root, algo)
        self.snapshot_every = snapshot_every
        os.makedirs(self.dir, exist_ok=True)

    # -- write ------------------------------------------------------------
    def commit(
        self,
        iteration: int,
        state: DataFrame,
        lineage: list[LineageRow] | None,
        kind: str,
        converged: bool,
        metrics: dict,
    ) -> Checkpoint:
        """Write ``state`` and commit it with the superstep's per-partition
        ``lineage`` rows in one manifest (the only write job is the state's)."""
        it_dir = os.path.join(self.dir, f"iter_{iteration:05d}")
        if os.path.exists(it_dir):
            shutil.rmtree(it_dir)  # torn previous attempt — no manifest, dead
        state.write.mode("overwrite").parquet(os.path.join(it_dir, "state"))
        rows = _lineage_rows(self.algo, iteration, lineage or [])
        manifest = {
            "iteration": iteration,
            "kind": kind,
            "converged": converged,
            "metrics": metrics,
            "lineage": rows,
        }
        tmp = os.path.join(it_dir, "manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(it_dir, "manifest.json"))
        return Checkpoint(iteration, kind, converged, metrics, it_dir, rows)

    # -- read -------------------------------------------------------------
    def checkpoints(self) -> list[Checkpoint]:
        out = []
        if not os.path.isdir(self.dir):
            return out
        for name in sorted(os.listdir(self.dir)):
            m = _ITER_RE.match(name)
            if not m:
                continue
            mf = os.path.join(self.dir, name, "manifest.json")
            if not os.path.exists(mf):
                continue  # uncommitted / torn checkpoint — ignored
            with open(mf) as f:
                meta = json.load(f)
            out.append(
                Checkpoint(
                    meta["iteration"],
                    meta["kind"],
                    meta["converged"],
                    meta.get("metrics", {}),
                    os.path.join(self.dir, name),
                    meta.get("lineage", []),
                )
            )
        return out

    def latest(self) -> Checkpoint | None:
        cks = self.checkpoints()
        return cks[-1] if cks else None

    def load_state(self, spark: SparkSession, upto: Checkpoint) -> DataFrame:
        """Reconstruct full state at ``upto``: last full snapshot + all
        later deltas, latest-iteration row per vertex wins."""
        if upto.kind == "full":
            # full snapshots load verbatim (also the path for algorithms
            # whose state is not one-row-per-vid, e.g. the CC edge set)
            return spark.read.parquet(os.path.join(upto.path, "state"))
        cks = [c for c in self.checkpoints() if c.iteration <= upto.iteration]
        base_idx = max(
            (i for i, c in enumerate(cks) if c.kind == "full"), default=None
        )
        if base_idx is None:
            raise ValueError(f"no full snapshot at or before iter {upto.iteration}")
        layers = cks[base_idx:]
        dfs = [
            spark.read.parquet(os.path.join(c.path, "state")).withColumn(
                "_ck_iter", F.lit(c.iteration)
            )
            for c in layers
        ]
        unioned = dfs[0]
        for d in dfs[1:]:
            unioned = unioned.unionByName(d)
        value_cols = [c for c in unioned.columns if c not in ("vid", "_ck_iter")]
        picked = unioned.groupBy("vid").agg(
            F.max_by(F.struct(*value_cols), F.col("_ck_iter")).alias("_v")
        )
        return picked.select("vid", *[F.col(f"_v.{c}").alias(c) for c in value_cols])

    def lineage(self, spark: SparkSession) -> DataFrame | None:
        """Every committed lineage row as a ``schemas.LINEAGE`` frame
        (None when there is none)."""
        rows = [tuple(r) for c in self.checkpoints() for r in c.lineage]
        if not rows:
            return None
        return spark.createDataFrame(rows, schema=LINEAGE)
