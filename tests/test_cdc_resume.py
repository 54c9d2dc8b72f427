"""Tail-resume semantics of the CDC sources: the checkpoint stores
wall-clock epoch milliseconds while oplog ``ts`` is BSON-encoded
((seconds << 32) | inc); the resume filter must compare like with
like (reference converts via ``new Timestamp(0, seconds)``,
src/mongodb.ts:49)."""

from __future__ import annotations

import json

from mongo_es_spark.config import CheckPoint, Task
from mongo_es_spark.core import make_ts
from mongo_es_spark.sources.cdc import (

    batch_oplog_frame,
    file_oplog_stream,
    ms_to_bson_ts,
    oplog_filters,
)
from mongo_es_spark.streaming.fold import drain


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
        {"ts": make_ts(100), "ns": "jike.banners", "op": "i", "id": "A",
         "doc": "{}"},
        {"ts": make_ts(200), "ns": "jike.banners", "op": "i", "id": "B",
         "doc": "{}"},
        {"ts": make_ts(300), "ns": "jike.banners", "op": "i", "id": "C",
         "doc": "{}"},
    ]
    df = batch_oplog_frame(spark, rows)
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
