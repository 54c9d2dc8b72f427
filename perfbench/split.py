"""Split a tail trigger's wall time into fixed cost and per-event cost.

    python3 perfbench/split.py --seed 1

One Spark session backfills each workload's sink once, warms the path
up with one drain, then drains backlogs of 4 files at three batch sizes,
each size twice in interleaved order (small, large, mid, large, small,
mid), each drain into a file copy of the backfilled sink.  A
least-squares line through every drain's median trigger time gives
``fixed_s + per_event_ms * events``.  The patch path is tail_patch's
sink; the search path is SearchIndexedSink over the same doc sink (the
BM25 fold that search_serve's set-up runs), without the maintenance
policy so no drain includes a compaction.
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run as entry  # noqa: E402

# events per trigger (small, mid, large); the search backlog draws its
# replaced and deleted keys without replacement from the collection
SIZES = {"patch": (500, 4000, 16000), "search": (250, 2000, 6000)}
ORDER = (0, 2, 1, 2, 0, 1)
FILES = 4


def _fit(points):
    xs, ys = zip(*points)
    mx, my = statistics.mean(xs), statistics.mean(ys)
    slope = sum((x - mx) * (y - my) for x, y in points) / sum((x - mx) ** 2 for x in xs)
    return my - slope * mx, slope


def measure(workload: str, seed: int, work: str) -> list[tuple[int, float]]:
    import gen
    import workloads as wl
    from mongo_es_spark.streaming.sink import ParquetIndexSink, SearchIndexedSink

    run = wl.Run("tail_patch" if workload == "patch" else "search_serve",
                 seed, 0, False, os.path.join(work, workload), time.perf_counter())
    rng = random.Random(seed)
    if workload == "patch":
        docs = gen.patch_collection(rng, wl.SHAPES["tail_patch"]["docs"])
        gen.write_patch_collection(run.path("collection"), docs)
        backlog, task_spec, hints = gen.patch_backlog, gen.PATCH_TASK, gen.PATCH_HINTS
        args = ([d["_id"] for d in docs],)
    else:
        zipf = gen.Zipf(5000)
        docs = gen.search_collection(rng, zipf, 30_000)
        gen.write_search_collection(run.path("collection"), docs)
        backlog, task_spec, hints = gen.search_backlog, gen.SEARCH_TASK, gen.SEARCH_HINTS
        args = (zipf, [d["_id"] for d in docs])
    spark, listener, tracer = wl._session(run)
    src = spark.read.parquet(run.path("collection"))
    wl._backfill(run, spark, tracer, src, task_spec)
    out = []
    sizes = SIZES[workload]
    for size in (sizes[1], *(sizes[i] for i in ORDER)):  # the first is a warm-up
        name = f"{size}-{len(out)}"
        gen.write_backlog(run.path("b" + name), backlog(rng, *args, FILES, size))
        shutil.copytree(run.path("sink0"), run.path(f"sink{name}"))
        sink = ParquetIndexSink(run.path(f"sink{name}"), mode="merge")
        if workload == "search":
            shutil.copytree(run.path("store0"), run.path(f"store{name}"))
            sink = SearchIndexedSink(sink, run.path(f"store{name}"), text_field="body",
                                     field_cols=("lang",))
        _wall, batches = wl._drain(run, spark, listener, tracer, task_spec, hints, src,
                                   sink, "b" + name, "ck" + name)
        out.append((size, statistics.median(
            p["durationMs"]["triggerExecution"] / 1000 for p in batches)))
    spark.stop()
    return out[1:]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    work = os.path.join(os.getcwd(), ".bench_work", f"split-{os.getpid()}")
    entry._environment(work)
    try:
        for workload in ("patch", "search"):
            points = measure(workload, args.seed, work)
            fixed, slope = _fit(points)
            rows = ", ".join(f"{n}: {t:.3f} s" for n, t in points)
            print(f"{workload}: {rows}")
            print(f"{workload}: fixed {fixed:.3f} s + {slope * 1000:.4f} ms/event")
    finally:
        entry._stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
