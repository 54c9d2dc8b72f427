"""Event-time windowing: a window emits once (append mode) when the
watermark passes it; late-but-tolerated rows count, too-late rows drop."""

from __future__ import annotations

from mongo_es_spark.core import make_ts
from mongo_es_spark.sources.cdc import OPLOG_SCHEMA
from mongo_es_spark.streaming.windows import windowed_op_counts
from mongo_es_spark.streaming.fold import drain, write_ordered_feed


def _oplog(events):
    return [
        {"ts": make_ts(t), "ns": "db.c", "op": op, "id": f"x{t}",
         "doc": "{}"}
        for t, op in events
    ]


def test_windowed_counts_with_watermark(spark, tmp_path):
    feed = tmp_path / "feed"
    write_ordered_feed(str(feed), [
        # batch 0: three events in window [100,110), one in [130,140)
        _oplog([(100, "i"), (104, "u"), (106, "i"), (130, "i")]),
        # batch 1: a LATE event for [100,110) — 46 s behind the max
        # seen so far but within no watermark yet (watermark after
        # batch 0 is 130-30=100), so it still counts; plus an advancer
        # at 150
        _oplog([(104, "i"), (150, "i")]),
        # batch 2: a TOO-LATE event (80 < watermark 120 after batch 1)
        # that must be dropped, plus an advancer
        _oplog([(80, "i"), (160, "i")]),
    ])

    stream = (
        spark.readStream.schema(OPLOG_SCHEMA)
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
            windowed_op_counts(stream, window="10 seconds",
                               watermark="30 seconds")
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
        (int(r["window_start"].timestamp()), r["op"]): r["n"] for r in rows
    }
    # [100,110) closed once watermark reached 120: 2 i's (incl. the
    # late one) + 1 u; the too-late t=80 event never surfaces
    assert got == {(100, "i"): 3, (100, "u"): 1}
    assert not any(int(r["window_start"].timestamp()) == 80 for r in rows)


def test_windowed_anomaly_monitor_flags_spike(spark, tmp_path):
    """The streaming monitor composition: windowed counts drain to a
    parquet changelog, batch scoring flags the spike window — and
    nothing else — for the right (ns, op) series."""
    from mongo_es_spark.streaming.windows import windowed_anomalies

    feed = tmp_path / "feed"
    # steady traffic: 2 inserts per 10s window for windows 100..250;
    # one spike window at 200 with 14 inserts
    events = []
    for w in range(100, 260, 10):
        events.append((w, "i"))
        events.append((w + 5, "i"))
    events += [(200 + k % 10, "i") for k in range(12)]
    write_ordered_feed(str(feed), [
        _oplog(sorted(events)),
        _oplog([(400, "i")]),  # watermark advancer
    ])

    stream = (
        spark.readStream.schema(OPLOG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(feed))
    )
    sink = str(tmp_path / "sink")
    q = (
        windowed_op_counts(stream, window="10 seconds", watermark="30 seconds")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q)

    counts = spark.read.parquet(sink)
    flagged = windowed_anomalies(counts, z_threshold=3.0).collect()
    assert len(flagged) == 1
    r = flagged[0]
    assert int(r["window_start"].timestamp()) == 200
    assert r["op"] == "i" and r["n"] == 14 and r["z"] > 3.0
