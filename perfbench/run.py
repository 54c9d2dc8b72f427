"""Benchmark entry point.

    python3 perfbench/run.py --workload tail_patch --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository.  Workloads:
``tail_patch`` and ``search_serve`` (see NOTES.md and BENCHMARK.json).
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same workload with spans at the layer
boundaries and reports the per-layer metrics.  A human-readable table
goes to stdout first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

All scratch state (generated inputs, sinks, Spark local dirs) lives
under ``.bench_work/`` in the checkout and is removed on exit; a traced
run leaves its spans there as ``spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("tail_patch", "search_serve")

# name -> unit.  END_TO_END is what BENCHMARK.json gates; the wall-time
# figures in SHOWN are printed beside them for readers (on a host whose
# speed drifts between runs they spread too widely to gate on)
END_TO_END = {
    "cpu_per_op_s": "s",
    "setup_s": "s",
    "retained_heap_mb": "MB",
}
SHOWN = {**END_TO_END, "op_p50_s": "s", "throughput_per_s": "1/s"}
PER_LAYER = {
    "session.start_s": "s",
    "build.backfill_s": "s",
    "build.jobs": "count",
    "build.tasks": "count",
    "traced.op_p50_s": "s",
    "traced.cpu_per_op_s": "s",
    "cdc.offsets_share": "ratio",
    "tail.engine_share": "ratio",
    "tail.pre_sink_share": "ratio",
    "tail.pre_sink_jobs": "count",
    "tail.pre_sink_tasks": "count",
    "tail.jobs_per_batch": "count",
    "tail.tasks_per_batch": "count",
    "compaction.events_in": "count",
    "compaction.ir_out": "count",
    "compaction.ir_per_event": "ratio",
    "sink.read_state_share": "ratio",
    "sink.read_state_jobs": "count",
    "sink.apply_share": "ratio",
    "sink.apply_jobs": "count",
    "sink.apply_tasks": "count",
    "sink.log_files_end": "count",
    "search_sink.dispatch_share": "ratio",
    "search_sink.dispatch_jobs": "count",
    "text.fold_share": "ratio",
    "text.fold_jobs": "count",
    "text.fold_tasks": "count",
    "text.cdc_fold_jobs": "count",
    "text.cdc_fold_tasks": "count",
    "maintenance.compactions": "count",
    "searchapi.compile_share": "ratio",
    "searchapi.collect_share": "ratio",
    "searchapi.jobs_per_req": "count",
    "searchapi.tasks_per_req": "count",
    "store.postings_files": "count",
    "store.docstats_files": "count",
    "store.mutated": "count",
}


def _environment(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout, run
    Spark at local[nproc], and let Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: no hsperfdata file under the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the session factory's 8g default is sized for the full suite; the
    # benchmark's inputs are small, and the host's memory is shared
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def _stop_spark() -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _fmt(x) -> str:
    return f"{x:.6g}" if isinstance(x, float) else str(x)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import mongo_es_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package under test is missing: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    import workloads

    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work, T_PROCESS)
    try:
        metrics = workloads.WORKLOADS[args.workload](run)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    run.stamp("stopped")

    if args.trace:
        spans = os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.json")
        run.tracer.dump(spans)
        print(f"spans written to {os.path.relpath(spans)}")
        # the traced run's own end-to-end figures: against the untraced
        # run's they give the tracing overhead
        run.layers["traced.op_p50_s"] = metrics["op_p50_s"]
        run.layers["traced.cpu_per_op_s"] = metrics["cpu_per_op_s"]
        values = {k: float(run.layers.get(k, 0.0)) for k in PER_LAYER}
        units = PER_LAYER
    else:
        values = {k: float(metrics[k]) for k in END_TO_END}
        units = END_TO_END
    if not all(math.isfinite(v) for v in values.values()):
        run.failed += 1
        run.notes.append("a metric is not finite")

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    for k, v in metrics.items():
        print(f"  {k:28s} {_fmt(v):>14s} {SHOWN[k]}")
    failed_frac = run.failed / max(run.attempted, 1)
    print(f"  {'failed_frac':28s} {_fmt(failed_frac):>14s} ratio")
    for k, v in sorted(run.table.items()):
        print(f"  . {k:26s} {_fmt(v):>14s}")
    if args.trace:
        for k, v in values.items():
            print(f"  | {k:26s} {_fmt(v):>14s} {units[k]}")
    for note in run.notes:
        print(f"  ! {note}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v if math.isfinite(v) else -1.0, "unit": units[k]}
                    for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
