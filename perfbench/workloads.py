"""The benchmark workloads, driven through the public API.

Each workload runs in one process against one Spark session:

1. generate its seeded inputs (``gen``) — untimed;
2. backfill its sink with ``run_scan`` into fresh directories;
3. run the timed window after a warm-up: on tail_patch a pre-written
   oplog backlog drained with ``run_tail`` (``availableNow``, one file
   per trigger), warmed up on a separate sink and checkpoint; on
   search_serve a fixed request sequence from one client;
4. probe the retained heap, then check correctness outside the window.

``tail_patch`` times its drain: a patch-heavy backlog into a merge-mode
``ParquetIndexSink``.  ``search_serve`` backfills through
``SearchIndexedSink`` and applies a fixed CDC fold with
``apply_cdc_to_bm25_index`` as its set-up (the store ends mutated and
uncompacted), then times one closed-loop search client.

A traced run (``trace=True``) additionally records spans at the sink
and request boundaries and reports per-layer figures; the untraced run
installs no wrapper, hook or job-id reads.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import time

from mongo_es_spark.config import Controls, Task
from mongo_es_spark.operators.searchapi import search
from mongo_es_spark.operators.text import apply_cdc_to_bm25_index
from mongo_es_spark.sources.cdc import file_oplog_stream
from mongo_es_spark.streaming.sink import ParquetIndexSink, SearchIndexedSink
from mongo_es_spark.streaming.tail import run_scan, run_tail

import gen
import oracle
from tracing import (
    JobClock, ProgressLog, TimedSink, Tracer, median, parquet_files, retained_heap_mb, tree_cpu_s,
)

# Workload shapes.  ``warm``: warm-up drain files.  tail_patch's timed
# backlog scales with --seconds (about one trigger per ``s_per_file`` on
# an unloaded 4-core host), search_serve's request count likewise
# (``s_per_request``, at least ``min_requests``).
SHAPES = {
    "tail_patch": {"docs": 10_000, "events_per_file": 1000, "s_per_file": 1.0, "warm": 2},
    "search_serve": {"docs": 4_000, "folds": 1, "events_per_fold": 400,
                     "warm_requests": 3, "s_per_request": 2.0, "min_requests": 6},
}
# the SearchIndexedSink maintenance policy (checked after every fold
# through the sink)
SEARCH_MAINTAIN = {"max_dead_ratio": 0.2}


class Run:
    """One benchmark process: options, timers, failure counts."""

    def __init__(self, workload, seed, seconds, trace, work_dir, t_process):
        self.workload = workload
        self.shape = SHAPES[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work_dir
        self.t_process = t_process
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.layers: dict[str, float] = {}
        self.table: dict[str, float] = {}
        self.tracer: Tracer | None = None

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def window_start(self, spark) -> None:
        self._canary = _canary()
        self._cpu0 = _cpu(spark)

    def window_end(self, spark, ops: int) -> float:
        """CPU seconds per operation over the window."""
        cpu = (_cpu(spark) - self._cpu0) / max(ops, 1)
        self.table["canary_s"] = (self._canary + _canary()) / 2
        return cpu

    def stamp(self, phase: str) -> None:
        """Seconds from process start to the end of ``phase``."""
        self.table[f"at.{phase}_s"] = time.perf_counter() - self.t_process

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"correctness mismatch: {what}")


def _cpu(spark) -> float:
    """CPU seconds of this process, the JVM and its workers."""
    t = os.times()
    return t.user + t.system + tree_cpu_s(spark.sparkContext._gateway.proc.pid)


def _canary() -> float:
    """A fixed pure-Python loop, best of 5: host speed right now (a
    diagnostic printed with the results, not a metric)."""
    best = float("inf")
    for _ in range(5):
        t = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i
        best = min(best, time.perf_counter() - t)
    return best


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _pct(xs, q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


# --------------------------------------------------------------- inputs


def _inputs(run: Run, rng: random.Random):
    """Write the collection and backlogs; returns (docs, task spec,
    hints, zipf or None)."""
    shape = run.shape
    if run.workload == "tail_patch":
        epf = shape["events_per_file"]
        docs = gen.patch_collection(rng, shape["docs"])
        gen.write_patch_collection(run.path("collection"), docs)
        ids = [d["_id"] for d in docs]
        n_files = max(3, round(run.seconds / shape["s_per_file"]))
        warm = gen.patch_backlog(rng, ids, shape["warm"], epf)
        main = gen.patch_backlog(rng, ids, n_files, epf, first_file=shape["warm"])
        gen.write_backlog(run.path("warm"), warm)
        gen.write_backlog(run.path("oplog"), main, first_file=shape["warm"])
        return docs, gen.PATCH_TASK, gen.PATCH_HINTS, None
    zipf = gen.Zipf(5000)
    docs = gen.search_collection(rng, zipf, shape["docs"])
    gen.write_search_collection(run.path("collection"), docs)
    return docs, gen.SEARCH_TASK, gen.SEARCH_HINTS, zipf


# ----------------------------------------------------------- tail path


def _make_sink(run: Run, tracer: Tracer, i):
    """The workload's sink in build directory ``i``: a merge-mode
    ParquetIndexSink, wrapped in SearchIndexedSink on search_serve as
    ``runner.run`` does for ``load.searchIndex``.  Traced runs wrap
    each layer in a TimedSink."""
    def timed(sink, name):
        return TimedSink(sink, tracer, name) if tracer.on else sink

    doc_sink = timed(ParquetIndexSink(run.path(f"sink{i}"), mode="merge"), "sink")
    if run.workload == "tail_patch":
        return doc_sink
    return timed(
        SearchIndexedSink(
            doc_sink, run.path(f"store{i}"), text_field="body",
            field_cols=("lang",), maintain=SEARCH_MAINTAIN,
        ),
        "search_sink",
    )


def _backfill(run: Run, spark, tracer: Tracer, src, task_spec):
    """``run_scan`` of the collection into a fresh sink; returns
    (sink, seconds, span)."""
    sink = _make_sink(run, tracer, 0)
    span = tracer.begin("scan")
    t = time.perf_counter()
    run_scan(spark, Task(task_spec), src, sink)
    seconds = time.perf_counter() - t
    tracer.end(span)
    return sink, seconds, span


def _drain(run, spark, listener, tracer, task_spec, hints, src, sink, backlog, ckpt):
    """One ``availableNow`` drain of ``backlog``; returns (wall
    seconds, progress of the triggers that read input).  Traced runs
    mark the query start and, through ``Task.on_save_checkpoint``,
    each batch commit (with the store's postings file count, which
    drops when maintenance compacts)."""
    store = getattr(sink, "store_path", None)

    def mark(name):
        if tracer.on:
            tracer.mark(name, postings=parquet_files(os.path.join(store, "postings"))
                        if store else 0)

    task = Task(task_spec)
    stream = file_oplog_stream(spark, run.path(backlog), task, max_files_per_trigger=1)
    if tracer.on:
        Task.on_save_checkpoint(lambda _name, _cp: mark("commit"))
    try:
        mark("query_start")
        t0 = time.perf_counter()
        q = run_tail(
            spark, task, Controls(), stream, sink, source_df=src, hints=hints,
            checkpoint_dir=run.path(ckpt), available_now=True,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
    finally:
        Task.on_save_checkpoint(None)
    progress = listener.wait(str(q.runId))
    return wall, [p for p in progress if p["numInputRows"] > 0]


def _check_drain(run: Run, task_spec, docs, batches) -> None:
    """One batch per backlog file, and the final sink state (the merge
    log resolved latest-batch-wins) equal to the batch-by-batch
    replay."""
    backlog = gen.read_backlog(run.path("oplog"))
    n_events = sum(len(b) for b in backlog)
    run.check(
        [p["numInputRows"] for p in batches] == [len(b) for b in backlog],
        f"{len(batches)} batches for {len(backlog)} files of {n_events} events",
    )
    want = oracle.replay(Task(task_spec), docs, backlog)
    got = oracle.merge_log_state(run.path("sink0", "log"))
    bad = oracle.state_mismatches(got, want)
    run.check(bad == 0, f"{bad} keys differ from the batch-by-batch replay")


def _session(run: Run):
    from mongo_es_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{run.workload}")
    run.table["session.start_s"] = time.perf_counter() - t
    listener = ProgressLog()
    spark.streams.addListener(listener)
    tracer = Tracer(JobClock(spark) if run.trace else None)
    run.tracer = tracer
    return spark, listener, tracer


def _heap(spark, run: Run) -> float:
    gc.collect()  # release py4j handles of dead frames first
    heap, blocks = retained_heap_mb(spark)
    run.table.update({"heap_used_mb": heap, "cached_blocks_mb": blocks})
    return heap + blocks


# ------------------------------------------------------------ workloads


def tail_patch(run: Run) -> dict:
    rng = random.Random(run.seed)
    docs, task_spec, hints, _ = _inputs(run, rng)
    run.stamp("inputs")
    spark, listener, tracer = _session(run)
    run.stamp("session")
    src = spark.read.parquet(run.path("collection"))
    sink, build_s, scan = _backfill(run, spark, tracer, src, task_spec)
    run.stamp("backfill")

    # the warm-up drain runs on a file copy of the backfilled sink
    shutil.copytree(run.path("sink0"), run.path("sinkwarm"))
    _drain(run, spark, listener, tracer, task_spec, hints, src,
           _make_sink(run, tracer, "warm"), "warm", "ckpt_warm")
    tracer.reset()  # only the timed drain's spans count
    run.stamp("warmup")
    setup_s = time.perf_counter() - run.t_process
    run.window_start(spark)
    wall, batches = _drain(
        run, spark, listener, tracer, task_spec, hints, src, sink, "oplog", "ckpt")
    cpu_per_op = run.window_end(spark, len(batches))
    run.stamp("window")
    heap_mb = _heap(spark, run)
    run.attempted += len(batches)

    _check_drain(run, task_spec, docs, batches)
    run.stamp("checks")
    trig = [p["durationMs"]["triggerExecution"] / 1000 for p in batches]
    n_events = sum(p["numInputRows"] for p in batches)
    run.table.update({"batches": len(trig), "events": n_events,
                      "batch_p90_s": _pct(trig, 0.9), "backfill_s": build_s})
    if tracer.on:
        run.layers.update(_tail_layers(run, tracer, batches, "sink"))
        run.layers.update(_build_layers(run, tracer, scan, build_s))
    return {
        "cpu_per_op_s": cpu_per_op,
        "op_p50_s": median(trig),
        "throughput_per_s": n_events / wall,
        "setup_s": setup_s,
        "retained_heap_mb": heap_mb,
    }


def _collect_hits(kind: str, frame):
    rows = frame.collect()
    if kind == "terms_agg":
        return {r["lang"]: r["n_docs"] for r in rows}
    return [(r["doc"], r["score"]) for r in rows]


def _fold(spark, store: str, events: list[dict], corpus: dict) -> None:
    """One CDC fold into the store via ``apply_cdc_to_bm25_index``;
    the same events applied to ``corpus`` give the reference."""
    rows = []
    for ev in events:
        if ev["op"] == "d":
            rows.append((ev["id"], "d", None, None))
            corpus.pop(ev["id"], None)
        else:
            rows.append((ev["id"], "u", ev["doc"]["body"], ev["doc"]["lang"]))
            corpus[ev["id"]] = {"text": ev["doc"]["body"], "lang": ev["doc"]["lang"]}
    batch = spark.createDataFrame(rows, "doc_id string, op string, text string, lang string")
    apply_cdc_to_bm25_index(spark, batch, store, field_cols=("lang",))


def search_serve(run: Run) -> dict:
    shape = run.shape
    rng = random.Random(run.seed)
    docs, task_spec, _hints, zipf = _inputs(run, rng)
    folds = gen.search_backlog(
        rng, zipf, [d["_id"] for d in docs], shape["folds"], shape["events_per_fold"])
    n_req = max(shape["min_requests"], round(run.seconds / shape["s_per_request"]))
    requests = gen.search_requests(rng, zipf, shape["warm_requests"] + n_req)
    run.stamp("inputs")
    spark, _listener, tracer = _session(run)
    run.stamp("session")
    sink, build_s, scan = _backfill(
        run, spark, tracer, spark.read.parquet(run.path("collection")), task_spec)
    store = sink.store_path
    run.stamp("backfill")

    # the fixed CDC folds: the store ends mutated (MVCC-resolved reads)
    corpus = {d["_id"]: {"text": d["body"], "lang": d["lang"]} for d in docs}
    fold_spans = []
    for events in folds:
        span = tracer.begin("text.cdc_fold")
        _fold(spark, store, events, corpus)
        tracer.end(span)
        fold_spans.append(span)
    run.stamp("folds")
    if tracer.on:
        run.layers.update(_build_layers(run, tracer, scan, build_s, "search_sink"))
        run.layers.update(_fold_layers(tracer, fold_spans))
        run.layers.update(_store_shape(store))
        tracer.reset()
    warm = shape["warm_requests"]
    for kind, body in requests[:warm]:
        _collect_hits(kind, search(spark, store, body))
    run.stamp("warmup")

    setup_s = time.perf_counter() - run.t_process
    lat, kinds, answers, spans = [], [], [], []
    run.window_start(spark)
    t_window = time.perf_counter()
    for kind, body in requests[warm:]:
        run.attempted += 1
        t0 = time.perf_counter()
        s_compile = tracer.begin("searchapi.compile")
        try:
            frame = search(spark, store, body)
            tracer.end(s_compile)
            s_collect = tracer.begin("searchapi.collect")
            got = _collect_hits(kind, frame)
            tracer.end(s_collect)
        except Exception as exc:  # a raised search is a failed request
            run.failed += 1
            run.notes.append(f"{kind} raised: {exc!r}"[:500])
            continue
        lat.append(time.perf_counter() - t0)
        kinds.append(kind)
        answers.append((kind, body, got))
        spans.append((s_compile, s_collect))
    window = time.perf_counter() - t_window
    cpu_per_op = run.window_end(spark, len(lat))
    run.stamp("window")
    heap_mb = _heap(spark, run)

    # correctness, outside the window: every timed answer against
    # BM25 over the collection with the folds applied
    ref = oracle.Bm25Reference(corpus)
    for kind, body, got in answers:
        want = ref.answer(kind, body)
        ok = (got == want if kind == "terms_agg"
              else oracle.hits_match(got, want, body.get("size", 10)))
        run.check(ok, f"{kind} request {body}")
    run.stamp("checks")

    run.table.update({"requests": len(lat), "search_p90_s": _pct(lat, 0.9),
                      "backfill_s": build_s})
    for k in ("match", "bool_filter", "terms_agg"):
        run.table[f"searchapi.{k}_p50_s"] = median(x for x, kk in zip(lat, kinds) if kk == k)
    if tracer.on:
        run.layers.update(_serve_layers(tracer, spans, lat))
        run.table.update({
            "searchapi.compile_p50_s": median(c["end"] - c["start"] for c, _ in spans),
            "searchapi.collect_p50_s": median(c["end"] - c["start"] for _, c in spans),
        })
    return {
        "cpu_per_op_s": cpu_per_op,
        "op_p50_s": median(lat),
        "throughput_per_s": len(lat) / window,
        "setup_s": setup_s,
        "retained_heap_mb": heap_mb,
    }


# ------------------------------------------------------ per-layer views


def _sink_split(spans, outer: str, tasks, total: float) -> dict:
    """One sink call, split at the wrapper boundaries: the doc sink's
    ``apply``; on a SearchIndexedSink, dispatch (outer apply start to
    inner apply start: the IR checkpoint) and the BM25 fold plus
    maintenance (inner apply end to outer apply end).  Times are
    shares of ``total``."""
    top = next(s for s in spans if s["name"] == outer + ".apply")
    inner = next(s for s in spans if s["name"] == "sink.apply")
    out = {
        "apply": (inner["end"] - inner["start"]) / total,
        "apply_jobs": inner["j1"] - inner["j0"],
        "apply_tasks": tasks(inner["j0"], inner["j1"]),
    }
    if outer != "sink":
        out.update({
            "dispatch": (inner["start"] - top["start"]) / total,
            "dispatch_jobs": inner["j0"] - top["j0"],
            "fold": (top["end"] - inner["end"]) / total,
            "fold_jobs": top["j1"] - inner["j1"],
            "fold_tasks": tasks(inner["j1"], top["j1"]),
        })
    return out


_SINK_METRICS = {
    "apply": "sink.apply_share", "apply_jobs": "sink.apply_jobs",
    "apply_tasks": "sink.apply_tasks", "dispatch": "search_sink.dispatch_share",
    "dispatch_jobs": "search_sink.dispatch_jobs", "fold": "text.fold_share",
    "fold_jobs": "text.fold_jobs", "fold_tasks": "text.fold_tasks",
}


def _build_layers(run, tracer, scan, build_s: float, outer: str | None = None) -> dict:
    """The backfill; with ``outer`` also the split of its one sink call
    (search_serve, where the backfill is the only pass through the
    SearchIndexedSink)."""
    tasks = tracer.clock.task_counter()
    out = {
        "session.start_s": run.table["session.start_s"],
        "build.backfill_s": build_s,
        "build.jobs": scan["j1"] - scan["j0"],
        "build.tasks": tasks(scan["j0"], scan["j1"]),
    }
    if outer:
        spans = [s for s in tracer.spans if s is not scan
                 and scan["start"] <= s["start"] <= scan["end"]]
        split = _sink_split(spans, outer, tasks, build_s)
        out.update({_SINK_METRICS[k]: v for k, v in split.items()})
    return out


def _fold_layers(tracer, spans) -> dict:
    tasks = tracer.clock.task_counter()
    return {
        "text.cdc_fold_jobs": _mean(s["j1"] - s["j0"] for s in spans),
        "text.cdc_fold_tasks": _mean(tasks(s["j0"], s["j1"]) for s in spans),
    }


def _tail_layers(run, tracer, batches, outer: str) -> dict:
    """Per-trigger decomposition of one drain.  Each batch's window
    runs from the previous commit mark (or the query start) to its own
    commit mark; inside it the first sink call ends the pre-sink span
    (throttle, compaction checkpoint, patch probe), and the sink call
    splits as in :func:`_sink_split`."""
    tasks = tracer.clock.task_counter()
    marks = tracer.marks
    per: dict[str, list] = {}

    def add(key, value):
        per.setdefault(key, []).append(value)

    compactions = 0
    for b, p in enumerate(batches):
        prev, h = marks[b], marks[b + 1]
        d = p["durationMs"]
        spans = [s for s in tracer.spans if s["batch"] == b]
        top = next(s for s in spans if s["name"] == outer + ".apply")
        rs = [s for s in spans if s["name"] == outer + ".read_state"]
        first = min([top, *rs], key=lambda s: s["start"])
        trig = d["triggerExecution"] / 1000
        add("trigger", trig)
        add("offsets", (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000 / trig)
        add("engine", (d.get("queryPlanning", 0) + d.get("walCommit", 0)
                       + d.get("commitOffsets", 0)) / 1000 / trig)
        add("pre_sink", (d["addBatch"] / 1000 - (h["t"] - first["start"])) / trig)
        add("pre_jobs", first["j0"] - prev["j"])
        add("pre_tasks", tasks(prev["j"], first["j0"]))
        add("jobs", h["j"] - prev["j"])
        add("tasks", tasks(prev["j"], h["j"]))
        add("read_state", sum(s["end"] - s["start"] for s in rs) / trig)
        add("rs_jobs", sum(s["j1"] - s["j0"] for s in rs))
        for k, v in _sink_split(spans, outer, tasks, trig).items():
            add(k, v)
        compactions += h["postings"] < prev["postings"]
        run.table[f"trigger{b}_s"] = trig
    for k in ("offsets", "engine", "pre_sink", "read_state", "apply", "dispatch", "fold"):
        if k in per:
            run.table[f"{k}_p50_s"] = median(x * t for x, t in zip(per[k], per["trigger"]))

    import pyarrow.parquet as pq

    sink_dir = run.path("sink0", "log")
    stamps = pq.read_table(sink_dir, columns=["__batch"]).column("__batch").to_pylist()
    ir_out = sum(1 for x in stamps if x >= 0)
    events_in = sum(p["numInputRows"] for p in batches)
    return {
        "cdc.offsets_share": median(per["offsets"]),
        "tail.engine_share": median(per["engine"]),
        "tail.pre_sink_share": median(per["pre_sink"]),
        "tail.pre_sink_jobs": _mean(per["pre_jobs"]),
        "tail.pre_sink_tasks": _mean(per["pre_tasks"]),
        "tail.jobs_per_batch": _mean(per["jobs"]),
        "tail.tasks_per_batch": _mean(per["tasks"]),
        "compaction.events_in": events_in,
        "compaction.ir_out": ir_out,
        "compaction.ir_per_event": ir_out / events_in if events_in else 0.0,
        "sink.read_state_share": median(per["read_state"]),
        "sink.read_state_jobs": _mean(per["rs_jobs"]),
        "sink.log_files_end": parquet_files(sink_dir),
        "maintenance.compactions": compactions,
        **{_SINK_METRICS[k]: (median(v) if k in ("apply", "dispatch", "fold") else _mean(v))
           for k, v in per.items() if k in _SINK_METRICS},
    }


def _serve_layers(tracer, spans, lat) -> dict:
    tasks = tracer.clock.task_counter()
    return {
        "searchapi.compile_share": median(
            (c["end"] - c["start"]) / t for (c, _), t in zip(spans, lat)),
        "searchapi.collect_share": median(
            (c["end"] - c["start"]) / t for (_, c), t in zip(spans, lat)),
        "searchapi.jobs_per_req": _mean(c2["j1"] - c1["j0"] for c1, c2 in spans),
        "searchapi.tasks_per_req": _mean(tasks(c1["j0"], c2["j1"]) for c1, c2 in spans),
    }


def _store_shape(store: str) -> dict:
    """Search-store layout from the filesystem and the params row
    (pyarrow reads, no Spark job)."""
    import pyarrow.parquet as pq

    params = os.path.join(store, "_bm_params")
    mutated = pq.read_table(params).column("mutated").to_pylist()[-1]
    return {
        "store.postings_files": parquet_files(os.path.join(store, "postings")),
        "store.docstats_files": parquet_files(os.path.join(store, "docstats")),
        "store.mutated": int(bool(mutated)),
    }


WORKLOADS = {"tail_patch": tail_patch, "search_serve": search_serve}
