"""Streaming heavy hitters (streaming/heavy.py): sharded Misra-Gries
state folded across micro-batches, changelog sink, latest-wins
snapshot — invariants checked against exact counts over the full
feed."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F
from mongo_es_spark.streaming.fold import drain, write_ordered_feed


SCHEMA = "doc_id long, text string"


def _write_feed(feed, batches):
    write_ordered_feed(
        str(feed),
        [[{"doc_id": d, "text": t} for d, t in rows] for rows in batches],
    )


def test_streaming_heavy_hitters_cross_batch(spark, tmp_path):
    from mongo_es_spark.streaming.heavy import (
        heavy_hitters_snapshot,
        run_streaming_heavy_hitters,
    )

    # 'alpha' splits across batches (state must accumulate); a tail of
    # singletons forces MG evictions at k=4
    b0 = [(1, "alpha alpha alpha beta beta " + " ".join(f"t{i}" for i in range(30)))]
    b1 = [(2, "alpha alpha alpha alpha beta " + " ".join(f"u{i}" for i in range(30)))]
    feed = tmp_path / "feed"
    _write_feed(feed, [b0, b1])
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(feed))
    )
    q = run_streaming_heavy_hitters(
        spark, stream, "text", sink, ckpt, k=16, n_shards=4
    )
    drain(q)

    exact = Counter()
    for _, t in b0 + b1:
        exact.update(t.split())

    sk = {
        r["token"]: (r["count_min"], r["count_max"])
        for r in heavy_hitters_snapshot(spark, sink, top=None).collect()
    }
    # cross-batch accumulation: alpha's lower bound reflects BOTH
    # batches up to the shard's MG undercount (err <= n_shard/(k+1)
    # ~= 2 here), so it must exceed either single batch's count
    assert "alpha" in sk and sk["alpha"][0] >= 5
    # brackets hold for every reported token
    for tok, (lo, hi) in sk.items():
        assert lo <= exact[tok] <= hi, (tok, lo, exact[tok], hi)
    # per-shard coverage: any token with true count > its shard's err
    # must be present; alpha (7) and beta (3) dominate their shards
    assert "beta" in sk

    # the changelog carries one version per (shard, trigger); the
    # snapshot reads only the latest — re-reading is stable
    again = {
        r["token"]: (r["count_min"], r["count_max"])
        for r in heavy_hitters_snapshot(spark, sink, top=None).collect()
    }
    assert again == sk
