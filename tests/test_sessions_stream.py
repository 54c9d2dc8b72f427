"""Streaming sessionization: cross-batch session continuation, gap
close, and batch/streaming contract parity."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from mongo_es_spark.streaming.sessions import sessionize_stream
from mongo_es_spark.streaming.fold import drain


SCHEMA = "user_id long, event_id long, ts_ms long"
GAP = 5_000


def _write_batch(feed, ix, rows):
    fname = feed / f"b{ix}.json"
    with open(fname, "w") as fh:
        for uid, eid, ts in rows:
            fh.write(
                json.dumps({"user_id": uid, "event_id": eid, "ts_ms": ts})
                + "\n"
            )
    os.utime(fname, (1_700_000_000 + ix * 60, 1_700_000_000 + ix * 60))


def test_stream_sessions_close_across_batches(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    # batch 0: user 1 two close events; user 2 one event
    _write_batch(feed, 0, [(1, 10, 1000), (1, 11, 2000), (2, 20, 1000)])
    # batch 1: user 1 jumps past the gap (closes session 0, opens 1);
    # user 2 stays within the gap (session 0 continues, stays open)
    _write_batch(feed, 1, [(1, 12, 60_000), (2, 21, 2000)])
    # batch 2: user 1 again past the gap -> closes session 1 too
    _write_batch(feed, 2, [(1, 13, 120_000)])

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(feed))
    )
    rows: list = []

    def sink(df, bid):
        rows.extend(df.collect())

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            sessionize_stream(
                stream, "user_id", "ts_ms", "event_id", GAP, ttl=False
            )
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    got = {
        (r["user_id"], r["session_id"]): (
            r["n_events"], r["start_ms"], r["end_ms"], r["duration_ms"]
        )
        for r in rows
    }
    # only CLOSED sessions emit: user 1 sessions 0 and 1; user 2's
    # single still-open session does not (ttl=False, bounded run)
    assert got == {
        (1, 0): (2, 1000, 2000, 1000),
        (1, 1): (1, 60_000, 60_000, 0),
    }


def test_stream_matches_batch_on_closed_sessions(spark, tmp_path):
    """Contract parity: every session the stream closes must equal the
    batch operator's session for the same data."""
    from mongo_es_spark.operators.sessions import sessionize

    rows = [
        (u, u * 100 + i, ts)
        for u in (1, 2, 3)
        for i, ts in enumerate(
            [0, 1000, 9000, 9500, 30_000, 31_000, 80_000]
        )
    ]
    feed = tmp_path / "feed"
    feed.mkdir()
    # one event per batch per user, in time order: worst-case
    # cross-batch continuation
    for ix in range(7):
        _write_batch(feed, ix, [r for r in rows if r[1] % 100 == ix])

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(feed))
    )
    streamed: list = []

    q = (
        sessionize_stream(
            stream, "user_id", "ts_ms", "event_id", GAP, ttl=False
        )
        .writeStream.foreachBatch(lambda df, b: streamed.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q)

    batch_df = spark.createDataFrame(rows, SCHEMA)
    want = {
        (r["user_id"], r["session_id"]): (
            r["n_events"], r["start_ms"], r["end_ms"], r["duration_ms"]
        )
        for r in sessionize(
            batch_df, "user_id", "ts_ms", "event_id", GAP
        ).collect()
    }
    got = {
        (r["user_id"], r["session_id"]): (
            r["n_events"], r["start_ms"], r["end_ms"], r["duration_ms"]
        )
        for r in streamed
    }
    # the final session per user (starting at 80s) never closes in the
    # bounded run; everything the stream DID close matches batch
    open_keys = {(u, 3) for u in (1, 2, 3)}
    assert set(want) - set(got) == open_keys
    for k, v in got.items():
        assert want[k] == v
