"""Benchmark of record for crgp_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Makes the workload's inputs from the seed,
sets up several times and warms up (``setup_s`` is the session start plus
the median set-up repetition plus the warm-up), then runs whole timed
operations until ``--seconds`` have passed, checking each operation's
output. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics (from spans recorded around the calls into each layer) with
``--trace 1``. A fuller record of the run -- host, control probes, input
checksum, operation times and every span -- is written to
``.perfbench_out/`` in the checkout. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Cores of the fixed ``local[N]`` (clamped to the host's core count).
CORES = 3
DRIVER_MEMORY = "1g"
SETUP_REPS = 3


def cpu_probe() -> float:
    """Seconds for a fixed single-process NumPy job: a control that shows
    a noisy host in the artifact."""
    import numpy as np

    a = np.random.default_rng(0).random((256, 256))
    t0 = time.perf_counter()
    for _ in range(40):
        a = np.tanh(a @ a / 256.0)
    return time.perf_counter() - t0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from ``/proc/stat``: on a virtual
    machine, steal is time the host ran something else on our CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def start_session(run_dir: str, cores: int):
    from crgp_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=cores,
        shuffle_partitions=cores,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.local.dir": run_dir,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # a heap of fixed size keeps peak RSS from following the
            # collector's run-to-run resizing decisions
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers it
    forked) to exit: closing its stdin is the gateway's signal to quit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except Exception:
        gateway.proc.kill()
        gateway.proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "crgp_spark", "__init__.py")):
        print(f"perfbench: no crgp_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".perfbench_runs", run_id)
    os.makedirs(run_dir)
    # Spark, the JVM and the Python workers keep every scratch file here
    os.environ["TMPDIR"] = run_dir
    os.environ["SPARK_LOCAL_DIRS"] = run_dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    nproc = len(os.sched_getaffinity(0))
    cores = min(CORES, nproc)
    spark = None
    try:
        control = [cpu_probe()]
        t0 = time.perf_counter()
        spark = start_session(run_dir, cores)
        session_s = time.perf_counter() - t0
        from tracing import Tracer

        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        if args.trace:
            import layerspans

            layerspans.install(tracer)
        ctx = Ctx(spark, tracer, run_dir, args.seed, cores)
        wl = WORKLOADS[args.workload]()

        reps, inp = [], None
        for r in range(SETUP_REPS):
            t = time.perf_counter()
            with tracer.span("setup", rep=r):
                new = wl.prepare(ctx, f"input_{r}")
            reps.append(time.perf_counter() - t)
            for key in ("transcripts", "epochs", "edges"):
                if inp and key in inp:
                    shutil.rmtree(inp[key])
            inp = new
        t = time.perf_counter()
        tracer.enabled = False
        wl.warm_up(ctx)
        warm_up_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(reps) + warm_up_s

        timed, untraced, attempted, failed, i = [], [], 0, 0, 0
        jiffies0 = cpu_jiffies()
        start = time.perf_counter()
        while time.perf_counter() - start < args.seconds or (args.trace and i < 3):
            # a traced run alternates untraced and traced operations after a
            # first untraced one it discards, so the tracing overhead compares
            # warm operations of the same process
            tracer.enabled = bool(args.trace) and i % 2 == 1
            attempted += 1
            try:
                op_s, ok = wl.op(ctx, str(i), inp)
            except Exception:
                traceback.print_exc()
                failed += 1
                break
            failed += not ok
            if not args.trace or tracer.enabled:
                timed.append(op_s)
            elif i > 0:
                untraced.append(op_s)
            i += 1
        tracer.enabled = bool(args.trace)
        steal, total = (b - a for a, b in zip(jiffies0, cpu_jiffies()))
        control.append(cpu_probe())
        if not timed:
            print("perfbench: no operation completed", file=sys.stderr)
            return 1

        job_s = statistics.median(timed)
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": {"nproc": nproc, "master": f"local[{cores}]",
                     "shuffle_partitions": cores, "graph_partitions": cores,
                     "driver_memory": DRIVER_MEMORY},
            "control_probe_s": control, "steal_share": steal / max(total, 1),
            "inputs": inp,
            "session_s": session_s, "setup_reps_s": reps, "warm_up_s": warm_up_s,
            "op_s": timed, "untraced_op_s": untraced,
            "attempted": attempted, "failed": failed,
        }
        if args.trace:
            from layerspans import layer_metrics

            overhead = job_s - statistics.median(untraced) if untraced else None
            metrics = layer_metrics(tracer, inp, overhead)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "job_s": (job_s, "s"),
                "turns_per_s": (inp["turns"] / job_s, "turns/s"),
                "peak_rss_mb": (peak_rss_mb([os.getpid(), spark.sparkContext._gateway.proc.pid]), "MB"),
            }
        record["spans"] = tracer.dump()
        record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
        for k, m in record["metrics"].items():
            print(f"{k:32s} {m['value']:>16.6g} {m['unit']}")
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": record["metrics"],
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
