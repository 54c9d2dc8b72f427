"""Streaming transition matrix (streaming/transitions.py): per-user
last-event state folded across micro-batches, increment changelog,
summed snapshot — batch parity when arrivals are time-ordered, late
events counted (not spliced) when they are not."""

from __future__ import annotations

from mongo_es_spark.streaming.fold import drain, write_ordered_feed


SCHEMA = "user_id long, event_id long, ts_ms long, event_type string"


def _write_feed(feed, batches):
    write_ordered_feed(
        str(feed),
        [
            [
                {"user_id": u, "event_id": e, "ts_ms": ts, "event_type": et}
                for u, e, ts, et in rows
            ]
            for rows in batches
        ],
    )


def _drain(spark, feed, sink, ckpt):
    from mongo_es_spark.streaming.transitions import (
        run_streaming_transitions,
    )

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(feed))
    )
    q = run_streaming_transitions(spark, stream, sink, ckpt)
    drain(q)


def test_streaming_transitions_cross_batch_parity(spark, tmp_path):
    """Time-ordered multi-batch feed: the summed increments must equal
    the batch lag-window operator over the full event set — the chain
    across the batch boundary (u1: b->c) must appear."""
    from mongo_es_spark.operators.sessions import transition_counts
    from mongo_es_spark.streaming.transitions import (
        late_events_total,
        transitions_snapshot,
    )

    b0 = [(1, 10, 100, "a"), (1, 11, 200, "b"), (2, 20, 100, "a")]
    b1 = [(1, 12, 300, "c"), (2, 21, 150, "b"), (2, 22, 250, "a")]
    feed = tmp_path / "feed"
    _write_feed(feed, [b0, b1])
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    _drain(spark, feed, sink, ckpt)

    got = {
        (r["prev_state"], r["next_state"]): r["n"]
        for r in transitions_snapshot(spark, sink).collect()
    }
    df = spark.createDataFrame(b0 + b1, SCHEMA)
    want = {
        (r["prev_state"], r["next_state"]): r["n"]
        for r in transition_counts(
            df, "user_id", "ts_ms", "event_id", "event_type"
        ).collect()
    }
    assert got == want
    assert ("b", "c") in got  # the cross-batch chain
    assert late_events_total(spark, sink) == 0


def test_streaming_transitions_late_event_counted_not_spliced(
    spark, tmp_path
):
    """An event older than the user's stored last event arrives in a
    later batch: it must not corrupt the already-emitted chain — it is
    dropped and surfaced in the late counter."""
    from mongo_es_spark.streaming.transitions import (
        late_events_total,
        transitions_snapshot,
    )

    b0 = [(1, 10, 100, "a"), (1, 11, 300, "b")]
    b1 = [(1, 12, 200, "x")]  # late: ts 200 < stored last ts 300
    feed = tmp_path / "feed"
    _write_feed(feed, [b0, b1])
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    _drain(spark, feed, sink, ckpt)

    got = {
        (r["prev_state"], r["next_state"]): r["n"]
        for r in transitions_snapshot(spark, sink).collect()
    }
    assert got == {("a", "b"): 1}  # no (b,x) or (x,b) splice
    assert late_events_total(spark, sink) == 1
