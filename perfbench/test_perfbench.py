"""The benchmark's own checks, on a tiny feed (about a minute):

    python3 -m pytest perfbench/test_perfbench.py -q

* the timing wrappers are transparent: a wrapped sink has exactly the
  attribute surface ``process_batch`` branches on, and a drain through
  wrapped sinks gives the same final state and the same Spark jobs per
  trigger as one through the bare sinks;
* the replay oracle agrees with the engine on the tiny feed;
* the hit comparison accepts ties at the cut and rejects wrong pages.
"""

from __future__ import annotations

import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import oracle  # noqa: E402
from tracing import JobClock, TimedSink, Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.path.dirname(HERE), os.environ.get("PYTHONPATH")) if p
    )
    from mongo_es_spark.session import get_spark

    s = get_spark(app_name="perfbench-test")
    yield s
    s.stop()


def test_timed_sink_keeps_attribute_surface():
    from mongo_es_spark.streaming.sink import ParquetIndexSink, SearchIndexedSink

    class ApplyOnly:
        def apply(self, spark, irs, batch_id):
            pass

    tracer = Tracer(None)
    assert not hasattr(TimedSink(ApplyOnly(), tracer, "s"), "read_state")
    wrapped = TimedSink(ParquetIndexSink("/nonexistent/x", mode="merge"), tracer, "s")
    assert hasattr(wrapped, "read_state") and wrapped.mode == "merge"
    search = SearchIndexedSink(wrapped, "/nonexistent/y", text_field="body")
    outer = TimedSink(search, tracer, "o")
    assert hasattr(outer, "read_state") and outer.store_path == "/nonexistent/y"
    with pytest.raises(AttributeError):
        outer.no_such_attribute


def _feed(tmp, seed):
    rng = random.Random(seed)
    docs = gen.patch_collection(rng, 60)
    gen.write_patch_collection(os.path.join(tmp, "collection"), docs)
    ids = [d["_id"] for d in docs]
    backlog = gen.patch_backlog(rng, ids, 3, 40)
    gen.write_backlog(os.path.join(tmp, "oplog"), backlog)
    return docs


def _drain(spark, tmp, name, wrap):
    """Scan + availableNow drain of the tiny feed; returns the final
    state and the Spark jobs each trigger ran (commit to commit)."""
    from mongo_es_spark.config import Controls, Task
    from mongo_es_spark.sources.cdc import file_oplog_stream
    from mongo_es_spark.streaming.sink import ParquetIndexSink, SearchIndexedSink
    from mongo_es_spark.streaming.tail import run_scan, run_tail

    clock = JobClock(spark)
    tracer = Tracer(clock if wrap else None)
    sink = ParquetIndexSink(os.path.join(tmp, name, "sink"), mode="merge")
    if wrap:
        sink = TimedSink(sink, tracer, "sink")
    sink = SearchIndexedSink(
        sink, os.path.join(tmp, name, "store"), text_field="name",
        maintain={"max_dead_ratio": 0.2},
    )
    if wrap:
        sink = TimedSink(sink, tracer, "search_sink")
    task = Task(gen.PATCH_TASK)
    src = spark.read.parquet(os.path.join(tmp, "collection"))
    run_scan(spark, task, src, sink)
    marks = [clock.next_job_id()]
    Task.on_save_checkpoint(lambda _n, _c: marks.append(clock.next_job_id()))
    try:
        q = run_tail(
            spark, task, Controls(),
            file_oplog_stream(spark, os.path.join(tmp, "oplog"), task, max_files_per_trigger=1),
            sink, source_df=src, hints=gen.PATCH_HINTS,
            checkpoint_dir=os.path.join(tmp, name, "ckpt"), available_now=True,
        )
        assert q.awaitTermination(300)
    finally:
        Task.on_save_checkpoint(None)
    state = oracle.sink_rows_to_state(sink.read_state(spark).collect())
    jobs = [b - a for a, b in zip(marks, marks[1:])]
    if wrap:
        assert {s["name"] for s in tracer.spans} == {
            "sink.apply", "sink.read_state", "search_sink.apply", "search_sink.read_state"}
    return state, jobs


def test_wrapped_drain_matches_bare_drain(spark, tmp_path):
    from mongo_es_spark.config import Task

    tmp = str(tmp_path)
    docs = _feed(tmp, seed=7)
    _drain(spark, tmp, "warm", wrap=False)  # first-use planning costs
    bare, bare_jobs = _drain(spark, tmp, "bare", wrap=False)
    wrapped, wrapped_jobs = _drain(spark, tmp, "wrapped", wrap=True)
    assert len(bare_jobs) == 3
    assert wrapped == bare
    assert wrapped_jobs == bare_jobs
    want = oracle.replay(Task(gen.PATCH_TASK), docs, gen.read_backlog(os.path.join(tmp, "oplog")))
    assert oracle.state_mismatches(bare, want) == 0


def test_hits_match_ties_and_errors():
    ref = {"a": 3.0, "b": 2.0, "c": 2.0, "d": 1.0}
    assert oracle.hits_match([("a", 3.0), ("b", 2.0)], ref, 2)
    assert oracle.hits_match([("a", 3.0), ("c", 2.0)], ref, 2)  # tie at the cut
    assert not oracle.hits_match([("a", 3.0), ("d", 1.0)], ref, 2)
    assert not oracle.hits_match([("a", 3.0)], ref, 2)
    assert not oracle.hits_match([("a", 2.5), ("b", 2.0)], ref, 2)
