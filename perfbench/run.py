#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload adsb_pipeline --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Lines before it are a readable summary.
Everything the run writes (parquet tables, Spark scratch, stream
checkpoints, span files) stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def _environment() -> None:
    """Pin the session the benchmark measures; must run before pyspark
    starts the JVM. The heap ceiling is pinned at 2 GB: the program's own
    sizing gives a 4-core, 15 GB machine a 7 GB heap, fully pre-touched at
    launch, which is too much for one of many runs on a shared machine.
    The heap floor is left to the program, which clamps it to the
    ceiling, so the heap is still fully pre-touched."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        # -XX:-UsePerfData: no hsperfdata files in the system /tmp
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} pyspark-shell"
        ),
    })


def _metrics(run, trace: bool, jvm: dict[str, int]) -> dict:
    if not trace:
        return {
            "setup_s": (run.setup_s, "s"),
            "latency_ms": (run.latency_ms(), "ms"),
            "work_per_s": (run.work_per_s(), "1/s"),
            "driver_rss_peak_mb": (jvm["VmHWM"] / 1024, "MB"),
        }
    tr = run.tracer
    med = statistics.median
    return {
        "layer.plan_ms": (med(tr.per_op(("plan",))), "ms"),
        "layer.execute_ms": (med(tr.per_op(("execute",))), "ms"),
        "layer.engine_ms": (med(tr.per_op(("op", "engine"))), "ms"),
        "spark.jobs_per_op": (med(tr.per_op_counts("jobs")), "count"),
        "spark.stages_per_op": (med(tr.per_op_counts("stages")), "count"),
        "spark.tasks_per_op": (med(tr.per_op_counts("tasks")), "count"),
        "spark.failed_tasks": (sum(s.failed_tasks for s in tr.spans), "count"),
        "planprobe.pins_per_op": (statistics.mean(run.pins) if run.pins else 0, "count"),
        "session.jvm_threads_end": (jvm["Threads"], "count"),
        "trace.overhead_pct": (run.trace_overhead_pct(), "%"),
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _environment()
    sys.path.insert(0, ROOT)
    try:
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    from pyspark import SparkContext

    from etl_adsbx_spark.session import get_spark
    from tracing import Tracer, proc_status

    spark = get_spark("perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = SparkContext._gateway.proc.pid
        run = workloads.Run(spark, Tracer(spark.sparkContext), args.seed, args.seconds,
                            WORK, T_START, bool(args.trace))
        workloads.WORKLOADS[args.workload](run)
        jvm = proc_status(jvm_pid)
        metrics = _metrics(run, bool(args.trace), jvm)
        layers = run.tracer.layer_table() if args.trace else {}
        if args.trace:
            run.tracer.write(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
    except Exception:  # noqa: BLE001 — report, stop the JVM, print no result
        traceback.print_exc()
        _stop(spark)
        return 1
    t_done = time.monotonic()
    _stop(spark)
    t_stopped = time.monotonic()

    lat = sorted(run.latencies_ms)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{len(lat)} ops, {run.attempted} checks, {run.failed} failed, "
          f"error_rate={run.failed / max(run.attempted, 1):.4f}")
    print(f"  run wall s: set-up {run.setup_s:.1f}, ops done {t_done - T_START:.1f}, "
          f"stopped {t_stopped - T_START:.1f}")
    print(f"  op latency ms: min={lat[0]:.1f} p50={statistics.median(lat):.1f} max={lat[-1]:.1f}")
    print("  op latencies in run order, ms: "
          + " ".join(f"{ms:.0f}" for ms in run.latencies_ms))
    for kind, ms in run.kind_medians_ms().items():
        print(f"  median ms of {kind}: {ms:.1f} over {len(run.by_kind[kind])} ops")
    for key, value in sorted(run.notes.items()):
        print(f"  {key}: {value:.4g}")
    for name, row in layers.items():
        print(f"  span {name:36s} calls={row['calls']:3d} ms={row['ms']:9.1f} "
              f"self_ms={row['self_ms']:9.1f} "
              f"jobs={row['jobs']:g} stages={row['stages']:g} tasks={row['tasks']:g} "
              f"failed_tasks={row['failed_tasks']}")
    for key, (value, unit) in metrics.items():
        print(f"  {key} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
