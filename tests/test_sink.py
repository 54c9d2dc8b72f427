"""L1 sink contracts: bulk-body format (reference:
src/processor.ts:229-256) and the idempotent overwrite-by-key semantics
of the merge-on-read parquet log that make at-least-once delivery safe
(SURVEY §7 hard part (c))."""

from __future__ import annotations

import json

from mongo_es_spark.streaming.sink import EsBulkSink, ParquetIndexSink


def test_bulk_body_format():
    rows = [
        {"action": "upsert", "id": "A", "parent": None,
         "data": {"name": "x", "n": 1}},
        {"action": "upsert", "id": "B", "parent": "P9",
         "data": {"name": "y"}},
        {"action": "delete", "id": "C", "parent": None},
    ]
    body = EsBulkSink.bulk_body(rows, index="idx", doc_type="doc")
    lines = [json.loads(ln) for ln in body.strip().split("\n")]
    assert lines[0] == {"index": {"_index": "idx", "_type": "doc", "_id": "A"}}
    assert lines[1] == {"name": "x", "n": 1}
    # parent routing rides in the action metadata (reference: _parent)
    assert lines[2]["index"]["_parent"] == "P9"
    assert lines[4] == {"delete": {"_index": "idx", "_type": "doc", "_id": "C"}}
    assert body.endswith("\n")
    assert EsBulkSink.bulk_body([], "idx", "doc") == ""


def _apply(spark, sink, irs, batch_id):
    df = spark.createDataFrame(
        irs,
        "action string, id string, parent string, "
        "data struct<name:string>, timestamp long",
    )
    sink.apply(spark, df, batch_id)


def _state(spark, sink):
    state = sink.read_state(spark)
    return {
        r["_id"]: r["data"]["name"] for r in state.collect()
    } if state is not None else {}


_BATCH2 = [
    ("upsert", "A", None, ("a2",), 2),   # overwrite by key
    ("delete", "B", None, None, 2),
    ("upsert", "C", None, ("c1",), 2),
]


def test_parquet_sink_upsert_delete_and_idempotent_replay(spark, tmp_path):
    sink = ParquetIndexSink(str(tmp_path / "idx"))
    assert sink.read_state(spark) is None
    _apply(
        spark,
        sink,
        [("upsert", "A", None, ("a1",), 1), ("upsert", "B", None, ("b1",), 1)],
        0,
    )
    assert _state(spark, sink) == {"A": "a1", "B": "b1"}

    _apply(spark, sink, _BATCH2, 1)
    assert _state(spark, sink) == {"A": "a2", "C": "c1"}

    # at-least-once: replaying the same batch (same id) appends
    # identical rows; latest-wins resolution is indifferent to which
    # copy it picks, so nothing duplicates or resurrects
    _apply(spark, sink, _BATCH2, 1)
    assert _state(spark, sink) == {"A": "a2", "C": "c1"}


def test_merge_sink_matches_rewrite_semantics(spark, tmp_path):
    """The merge-on-read log gives the observable state a full rewrite
    of the state would: key-pruned lookups see the latest live row,
    each apply appends batch-sized rows and never rewrites the log,
    and compaction reclaims tombstones without changing the state."""
    import os

    from pyspark.sql import functions as F

    sink = ParquetIndexSink(str(tmp_path / "idx"))
    _apply(
        spark,
        sink,
        [("upsert", "A", None, ("a1",), 1), ("upsert", "B", None, ("b1",), 1)],
        0,
    )
    _apply(spark, sink, _BATCH2, 1)
    _apply(spark, sink, _BATCH2, 1)
    assert _state(spark, sink) == {"A": "a2", "C": "c1"}

    # key-pruned lookup (the point-lookup shape run_tail uses)
    ids = spark.createDataFrame([("A",), ("B",)], "id string")
    got = {
        r["_id"]: r["data"]["name"]
        for r in sink.read_state(spark, ids=ids).collect()
    }
    assert got == {"A": "a2"}

    # per-trigger write cost is flat in state size: each apply appends
    # batch-sized rows, it never rewrites the log
    log = str(tmp_path / "idx" / "log")
    rows_before = spark.read.parquet(log).count()
    _apply(spark, sink, [("upsert", "D", None, ("d1",), 3)], 2)
    assert spark.read.parquet(log).count() == rows_before + 1

    # compaction reclaims tombstones + superseded rows, state unchanged
    sink.compact(spark)
    assert spark.read.parquet(log).count() == 3  # A, C, D live
    assert spark.read.parquet(log).filter(F.col("__del")).count() == 0
    assert _state(spark, sink) == {"A": "a2", "C": "c1", "D": "d1"}

    # later batches still order above compacted survivors
    _apply(spark, sink, [("delete", "A", None, None, 4)], 3)
    assert _state(spark, sink) == {"C": "c1", "D": "d1"}
    assert not os.path.exists(str(tmp_path / "idx" / "_CURRENT"))


def test_parquet_sink_refuses_other_layouts(tmp_path):
    """One layout: any other mode is rejected, and a directory in the
    retired versioned layout (``_CURRENT`` pointer, no ``log/``) raises
    instead of reading as an empty log whose lookups silently miss."""
    import pytest

    with pytest.raises(ValueError, match="mode"):
        ParquetIndexSink(str(tmp_path / "a"), mode="rewrite")
    old = tmp_path / "old"
    (old / "v0").mkdir(parents=True)
    (old / "_CURRENT").write_text("v0")
    with pytest.raises(ValueError, match="_CURRENT"):
        ParquetIndexSink(str(old))
    # a log next to a stray pointer is the current layout
    (old / "log").mkdir()
    assert ParquetIndexSink(str(old)).path == str(old)


def test_merge_sink_policy_compacts_at_ratio(spark, tmp_path):
    sink = ParquetIndexSink(str(tmp_path / "idx"))
    _apply(spark, sink, [("upsert", "A", None, ("a1",), 1)], 0)
    assert sink.maintain_if_needed(spark)["action"] == "none"
    # churn the same key: 5 log rows / 1 live key > 3.0 -> compacts
    for b in range(1, 5):
        _apply(spark, sink, [("upsert", "A", None, (f"a{b+1}",), 1)], b)
    d = sink.describe(spark)
    assert d["log_rows"] == 5 and d["live_keys"] == 1
    fired = sink.maintain_if_needed(spark)
    assert fired["action"] == "compact"
    assert sink.describe(spark)["log_rows"] == 1
    assert _state(spark, sink) == {"A": "a5"}
    assert sink.maintain_if_needed(spark)["action"] == "none"


def test_merge_policy_cheap_gate_skips_window(spark, tmp_path):
    """The per-trigger maintenance decision must stay metadata-sized:
    fresh-key growth (no churn) trips the cheap gate at most once —
    the exact confirm re-arms the marker — and a churned log still
    compacts (r10 ADVICE: live_keys ran the full latest-wins window
    every trigger)."""
    sink = ParquetIndexSink(str(tmp_path / "idx"))
    # 8 distinct keys across batches, zero churn
    for b in range(8):
        _apply(spark, sink, [("upsert", f"K{b}", None, (f"v{b}",), 1)], b)
    out = sink.maintain_if_needed(spark)
    assert out["action"] == "none"
    # exact confirm ran once and recorded the live floor
    assert sink._last_compact_rows() == 8
    # next trigger: cheap gate alone (8 rows / floor 8 <= 3), no
    # live_keys in the describe payload = no window ran
    out2 = sink.maintain_if_needed(spark)
    assert out2["action"] == "none" and "live_keys" not in out2["describe"]
    # churn one key hard: rows grow, floor fixed -> trips and compacts
    for b in range(8, 33):
        _apply(spark, sink, [("upsert", "K0", None, (f"v{b}",), 1)], b)
    fired = sink.maintain_if_needed(spark)
    assert fired["action"] == "compact"
    assert sink.describe(spark)["log_rows"] == 8
    assert sink._last_compact_rows() == 8


def test_parquet_sink_string_id_contract(spark, tmp_path):
    """The sink state exposes _id as STRING (one state schema), even
    when the IR id arrives typed."""
    sink = ParquetIndexSink(str(tmp_path / "idx"))
    irs = spark.createDataFrame(
        [("upsert", 7, None, ("x",), 1)],
        "action string, id long, parent string, "
        "data struct<v:string>, ts long",
    )
    sink.apply(spark, irs, 0)
    state = sink.read_state(spark)
    assert dict(state.dtypes)["_id"] == "string"
    assert [r["_id"] for r in state.collect()] == ["7"]
