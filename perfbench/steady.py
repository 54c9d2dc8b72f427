"""Steadiness check: run the benchmark on several seeds and report each
metric's median, quartiles and spread (IQR / median), the figure
BENCHMARK.json's bounds are set against.

    python3 perfbench/steady.py --workload tail_patch --seeds 1-10
    python3 perfbench/steady.py --workload search_serve --seeds 1-5 --trace 1

Runs are sequential (one Spark session at a time).  With ``--trace 1``
the per-layer metrics are summarised instead, and counts that should
repeat exactly are flagged when they do not.  ``--out FILE`` also
writes every run's result as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: seed {seed} exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    result["seed"] = seed
    # the human table's ungated wall-time figures (op_p50_s, ...)
    result["shown"] = {
        parts[0]: float(parts[1]) for parts in (ln.split() for ln in lines[1:-1])
        if len(parts) == 3 and parts[0] not in result["metrics"]
        and parts[0][0].isalpha() and parts[0] != "failed_frac"
    }
    return result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as ``statistics.quantiles``
    gives the quartiles."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    results = []
    for seed in seeds(args.seeds):
        r = run_once(args.workload, seed, args.seconds, args.trace)
        results.append(r)
        print(f"seed {seed:3d} wall {r['wall_s']:6.1f}s correct={r['correct']} "
              f"failed={r['failed']}/{r['attempted']}", flush=True)
        if args.out:
            with open(args.out, "a", encoding="utf-8") as fh:
                fh.write(json.dumps({"workload": args.workload, **r}) + "\n")

    print(f"\n{args.workload} trace={args.trace} runs={len(results)} "
          f"mean wall {statistics.mean(r['wall_s'] for r in results):.1f}s")
    print(f"{'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med, q1, q3, sp = spread(vals)
        flag = ""
        if args.trace and results[0]["metrics"][name]["unit"] == "count" and len(set(vals)) > 1:
            flag = "  (count varies across seeds)"
        print(f"{name:28s} {med:12.6g} {q1:12.6g} {q3:12.6g} {sp:8.4f}{flag}")
    for name in results[0]["shown"]:
        med, q1, q3, sp = spread([r["shown"][name] for r in results])
        print(f"{name:28s} {med:12.6g} {q1:12.6g} {q3:12.6g} {sp:8.4f}  (shown, not gated)")
    return 0 if all(r["correct"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
