"""Tail-resume semantics of the CDC sources: the checkpoint stores
epoch milliseconds while oplog ``ts`` is BSON-encoded
((seconds << 32) | inc); the resume filter must compare like with
like (reference converts via ``new Timestamp(0, seconds)``,
src/mongodb.ts:49).  The tail takes the saved point from the data it
loaded, not from the wall clock."""

from __future__ import annotations

import json

from mongo_es_spark.config import CheckPoint, Controls, Task
from mongo_es_spark.core import make_ts
from mongo_es_spark.sources.cdc import (
    OPLOG_SCHEMA,
    file_oplog_stream,
    ms_to_bson_ts,
    oplog_filters,
)
from mongo_es_spark.streaming.fold import drain, write_ordered_feed
from mongo_es_spark.streaming.sink import ParquetIndexSink
from mongo_es_spark.streaming.tail import run_tail


def _task() -> Task:
    return Task(
        {
            "extract": {"db": "jike", "collection": "banners"},
            "transform": {"mapping": {"name": "name"}},
            "load": {"index": "banner", "type": "doc"},
        }
    )


def test_ms_to_bson_ts_matches_make_ts():
    # the conversion must land in the same encoding make_ts produces
    assert ms_to_bson_ts(1_700_000_123_456) == make_ts(1_700_000_123)
    assert ms_to_bson_ts(0) == 0


def test_resume_filter_keeps_only_events_at_or_after_checkpoint(spark):
    rows = [
        (make_ts(100), "jike.banners", "i", "A", "{}", None),
        (make_ts(200), "jike.banners", "i", "B", "{}", None),
        (make_ts(300), "jike.banners", "i", "C", "{}", None),
    ]
    df = spark.createDataFrame(rows, OPLOG_SCHEMA)
    since = ms_to_bson_ts(200_000)  # checkpoint at t=200 s in ms
    got = {
        r["id"]
        for r in oplog_filters(df, "jike.banners", since).collect()
    }
    assert got == {"B", "C"}


def test_file_stream_resume_converts_checkpoint_ms(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    events = [
        {"ts": make_ts(100), "ns": "jike.banners", "op": "i", "id": "OLD",
         "doc": "{}"},
        {"ts": make_ts(300), "ns": "jike.banners", "op": "i", "id": "NEW",
         "doc": "{}"},
    ]
    with open(feed / "f0.json", "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")
    ckpt = CheckPoint(phase="tail", time=200_000)  # epoch ms
    stream = file_oplog_stream(spark, str(feed), _task(), checkpoint=ckpt)
    out = tmp_path / "out"
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    ids = {r["id"] for r in spark.read.parquet(str(out)).collect()}
    # with the old ms-vs-bson comparison this was {} (all dropped);
    # without any conversion at real timestamps it replays everything
    assert ids == {"NEW"}


def test_lagging_tail_saves_resume_point_from_the_data(spark, tmp_path):
    """A tail far behind the oplog (events from 2020) must not save a
    resume point past what it loaded: each batch saves its last
    event's time minus the 10 s overlap, and a batch with no event of
    the task's namespace saves the previous point again."""
    t0 = 1_600_000_000  # epoch seconds, years behind the wall clock

    def ev(sec, op, _id, ns="jike.banners"):
        doc = {"name": _id} if op == "i" else {}
        return {"ts": make_ts(sec), "ns": ns, "op": op, "id": _id,
                "doc": json.dumps(doc)}

    batches = [
        [ev(t0, "i", "A"), ev(t0 + 5, "i", "B")],
        [ev(t0 + 60, "i", "X", ns="other.things")],
        [ev(t0 + 90, "d", "A"), ev(t0 + 120, "i", "C")],
    ]
    write_ordered_feed(str(tmp_path / "oplog"), batches)
    task = _task()
    saved = []
    Task.on_save_checkpoint(lambda _name, cp: saved.append(cp))
    try:
        q = run_tail(
            spark,
            task,
            Controls(),
            file_oplog_stream(
                spark, str(tmp_path / "oplog"), task, max_files_per_trigger=1
            ),
            ParquetIndexSink(str(tmp_path / "sink")),
            checkpoint_dir=str(tmp_path / "ckpt"),
            available_now=True,
        )
        drain(q)
    finally:
        Task.on_save_checkpoint(None)
    assert [cp.phase for cp in saved] == ["tail"] * 3
    last_loaded_ms = [(t0 + 5) * 1000, (t0 + 5) * 1000, (t0 + 120) * 1000]
    for cp, last_ms in zip(saved, last_loaded_ms):
        assert cp.time <= last_ms
    assert [cp.time for cp in saved] == [
        (t0 + 5) * 1000 - 10_000,
        (t0 + 5) * 1000 - 10_000,
        (t0 + 120) * 1000 - 10_000,
    ]
