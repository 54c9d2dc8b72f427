"""The stateful redelivery suppressor must pass each (ns,id,ts) event
exactly once across micro-batches — the cross-batch guarantee the
reference's 10 s checkpoint overlap makes necessary."""

from __future__ import annotations

import json

from mongo_es_spark.core import make_ts
from mongo_es_spark.sources.cdc import OPLOG_SCHEMA
from mongo_es_spark.streaming.dedup_state import suppress_redelivered


import pytest
from mongo_es_spark.streaming.fold import drain, write_ordered_feed



@pytest.fixture(params=["hdfs", "rocksdb"])
def state_store(request, spark):
    if request.param == "rocksdb":
        from mongo_es_spark.streaming.dedup_state import use_rocksdb_state_store

        prev = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None
        )
        use_rocksdb_state_store(spark)
        yield request.param
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    else:
        yield request.param


def test_redelivered_events_suppressed_across_batches(
    spark, tmp_path, state_store
):
    feed = tmp_path / "feed"
    a1 = {"ts": make_ts(100), "ns": "db.c", "op": "i", "id": "A",
          "doc": json.dumps({"x": 1})}
    b1 = {"ts": make_ts(101), "ns": "db.c", "op": "i", "id": "B",
          "doc": json.dumps({"x": 2})}
    c1 = {"ts": make_ts(102), "ns": "db.c", "op": "i", "id": "C",
          "doc": json.dumps({"x": 3})}
    b2 = {"ts": make_ts(103), "ns": "db.c", "op": "u", "id": "B",
          "doc": json.dumps({"$set": {"x": 9}})}

    batches = [
        [a1, b1],
        # batch 2 replays a1 and b1 (the redelivery window) alongside
        # genuinely new events
        [a1, c1, b1, b2],
    ]
    write_ordered_feed(str(feed), batches)

    stream = (
        spark.readStream.schema(OPLOG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(feed))
    )
    delivered: list[tuple] = []

    def sink(batch_df, batch_id):
        delivered.extend(
            (r["id"], r["ts"], batch_id) for r in batch_df.collect()
        )

    # few keys, many state-store partitions is pure per-batch overhead
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            # ttl=None: bounded drain-and-stop run (see operator docs)
            suppress_redelivered(stream, ttl_seconds=None)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    seen = [(i, ts) for i, ts, _ in delivered]
    # every distinct event exactly once, replays dropped
    assert sorted(seen) == sorted(
        [("A", make_ts(100)), ("B", make_ts(101)),
         ("C", make_ts(102)), ("B", make_ts(103))]
    )
    # the replayed copies arrived in batch >= 1 and were suppressed
    assert len(delivered) == 4
