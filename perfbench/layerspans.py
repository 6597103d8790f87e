"""Spans around the layer calls the engine makes internally, and the
per-layer metrics computed from all recorded spans.

The workloads span the public functions they call themselves (derive,
pack, pagerank, components, cascade, incremental). The superstep and
checkpoint layers are called from inside PageRank and connected
components, so ``install`` wraps them from here in traced runs only:
``run_loop``'s step function (one ``superstep.step`` span per superstep)
and ``CheckpointManager.commit`` / ``load_state``. ``load_state`` returns a
lazy frame; its span counts the reconstructed rows so the read happens
inside it (an extra job that the tracing overhead includes). Untraced
operations of a traced run skip both extras.
"""

from __future__ import annotations

import statistics

from workloads import dir_bytes

#: Per-layer metric -> unit, in the order printed. A layer a workload does
#: not run reports 0.
UNITS = {
    "derive.write_s": "s",
    "derive.edges_out": "count",
    "derive.spark_jobs": "count",
    "derive.shuffle_write_mb": "MB",
    "pack.pack_csr_s": "s",
    "pack.skew_ratio": "ratio",
    "pagerank.prep_s": "s",
    "pagerank.supersteps": "count",
    "pagerank.messages_per_step": "count",
    "pagerank.edges_per_s": "edges/s",
    "superstep.step_s_p50": "s",
    "superstep.step_s_tail": "s",
    "superstep.spark_jobs_per_step": "count",
    "checkpoint.commit_s": "s",
    "checkpoint.bytes_per_commit": "bytes",
    "checkpoint.commits": "count",
    "checkpoint.load_state_s": "s",
    "components.rounds": "count",
    "components.s": "s",
    "cascade.pack_s": "s",
    "cascade.skew_ratio": "ratio",
    "cascade.replicas": "count",
    "cascade.components_s": "s",
    "cascade.triangles_s": "s",
    "incremental.epoch_s_p50": "s",
    "incremental.epoch_s_tail": "s",
    "incremental.jobs_per_epoch": "count",
    "incremental.state_bytes": "bytes",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "trace.overhead_s": "s",
}


def install(tracer) -> None:
    import crgp_spark.operators.pagerank as pagerank
    from crgp_spark.plans import superstep
    from crgp_spark.plans.checkpoint import CheckpointManager

    run_loop = superstep.run_loop

    def traced_run_loop(spark, algo, cfg, init_state_fn, step_fn, *a, **kw):
        def step(state, it):
            with tracer.span("superstep.step", iteration=it):
                return step_fn(state, it)

        return run_loop(spark, algo, cfg, init_state_fn, step, *a, **kw)

    pagerank.run_loop = traced_run_loop

    commit, load_state = CheckpointManager.commit, CheckpointManager.load_state

    def traced_commit(self, *a, **kw):
        with tracer.span("checkpoint.commit") as s:
            ck = commit(self, *a, **kw)
            if s["traced"]:
                s["bytes"] = dir_bytes(ck.path)
        return ck

    def traced_load_state(self, *a, **kw):
        with tracer.span("checkpoint.load_state") as s:
            df = load_state(self, *a, **kw)
            if s["traced"]:
                s["rows"] = df.count()
        return df

    CheckpointManager.commit = traced_commit
    CheckpointManager.load_state = traced_load_state


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _tail(values) -> float:
    """The highest percentile with at least ten samples beyond it; the
    median when there are fewer than eleven samples."""
    v = sorted(values)
    if len(v) < 11:
        return _median(v)
    return v[len(v) - 11]


def layer_metrics(tr, inp: dict, overhead_s: float | None) -> dict:
    """Per-layer metrics over the traced operations (and, for the derive
    layer of the iterative workloads, the traced set-up). ``overhead_s`` is
    the traced minus the untraced median operation time."""
    ops = tr.named("op")
    traced_samples = max(len(ops), 1)
    per_op = lambda spans: sum(tr.duration(s) for s in spans) / traced_samples  # noqa: E731
    mb = 1024.0 * 1024.0
    m: dict[str, float] = dict.fromkeys(UNITS, 0.0)

    derive = tr.named("derive.derive_edges")
    if derive:
        m["derive.write_s"] = _median(tr.duration(s) for s in derive)
        m["derive.edges_out"] = _median(s["edges_out"] for s in derive)
        m["derive.spark_jobs"] = _median(tr.jobs(s) for s in derive)
        m["derive.shuffle_write_mb"] = _median(s["shuffle_write_bytes"] / mb for s in derive)

    pack = tr.named("pack.pack_csr")
    if pack:
        m["pack.pack_csr_s"] = per_op(pack)
        m["pack.skew_ratio"] = _median(s["skew_ratio"] for s in pack)

    pr = tr.named("pagerank.pagerank")
    steps = tr.named("superstep.step")  # only PageRank's run_loop is wrapped
    if pr:
        m["pagerank.prep_s"] = sum(tr.self_time(s) for s in pr) / traced_samples
        m["pagerank.supersteps"] = len(steps) / traced_samples
        m["pagerank.messages_per_step"] = _median(x for s in pr for x in s.get("messages", []))
        m["pagerank.edges_per_s"] = inp["n_edges"] * len(steps) / sum(tr.duration(s) for s in pr)
    if steps:
        d = [tr.duration(s) for s in steps]
        m["superstep.step_s_p50"] = _median(d)
        m["superstep.step_s_tail"] = _tail(d)
        m["superstep.spark_jobs_per_step"] = _median(tr.jobs(s) for s in steps)

    commits = tr.named("checkpoint.commit", under="pagerank.pagerank")
    if commits:
        m["checkpoint.commit_s"] = _median(tr.duration(s) for s in commits)
        m["checkpoint.bytes_per_commit"] = _median(s["bytes"] for s in commits)
        m["checkpoint.commits"] = len(commits) / traced_samples
    loads = tr.named("checkpoint.load_state")
    if loads:
        m["checkpoint.load_state_s"] = per_op(loads)

    cc = tr.named("components.connected_components")
    if cc:
        m["components.s"] = per_op(cc)
        m["components.rounds"] = _median(s["rounds"] for s in cc)

    cpack = tr.named("cascade.pack_cascade")
    if cpack:
        m["cascade.pack_s"] = per_op(cpack)
        m["cascade.skew_ratio"] = _median(s["skew_ratio"] for s in cpack)
        m["cascade.replicas"] = _median(s["replicas"] for s in cpack)
        m["cascade.components_s"] = per_op(tr.named("cascade.cascade_components"))
        m["cascade.triangles_s"] = per_op(tr.named("cascade.cascade_triangles"))

    epochs = tr.named("incremental.process_batch")
    if epochs:
        d = [tr.duration(s) for s in epochs]
        m["incremental.epoch_s_p50"] = _median(d)
        m["incremental.epoch_s_tail"] = _tail(d)
        m["incremental.jobs_per_epoch"] = _median(tr.jobs(s) for s in epochs)
        m["incremental.state_bytes"] = epochs[-1]["state_bytes"]

    m["spark.jobs"] = sum(tr.jobs(s) for s in ops) / traced_samples
    m["spark.tasks"] = sum(s["tasks"] for s in ops) / traced_samples
    m["spark.shuffle_write_mb"] = sum(s["shuffle_write_bytes"] for s in ops) / mb / traced_samples
    if overhead_s is not None:
        m["trace.overhead_s"] = overhead_s
    return {k: (v, UNITS[k]) for k, v in m.items()}
