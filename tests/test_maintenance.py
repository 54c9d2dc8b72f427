"""The maintenance policy loop: CDC batches accumulate dead weight,
``maintain_if_needed`` fires the vacuum pass exactly once when the
threshold trips (never before, never twice), and serving results are
bit-identical across the fire."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

SCHEMA = "doc_id long, text string"
CDC_SCHEMA = "doc_id long, op string, text string"

DOCS = [(i, f"spark doc number {i} tokens value") for i in range(1, 11)]


def _bm25(spark, store):
    from mongo_es_spark.operators.text import bm25_over_store

    return sorted(
        (r["doc"], r["score"])
        for r in bm25_over_store(spark, store, ["spark"], top_k=20).collect()
    )


def test_bm25_policy_fires_once_at_threshold(spark, tmp_path):
    from mongo_es_spark.operators.maintenance import maintain_if_needed
    from mongo_es_spark.operators.text import (
        apply_cdc_to_bm25_index,
        incremental_bm25_index,
    )

    store = str(tmp_path / "bm25")
    incremental_bm25_index(
        spark, spark.createDataFrame(DOCS, SCHEMA), store
    ).count()

    kw = dict(max_dead_ratio=0.3, max_files_per_cpu=None, min_files=2)
    # fresh store: nothing dead, policy must not fire
    assert maintain_if_needed(spark, store, **kw)["action"] == "none"

    # update 2/10 docs -> 2 superseded of 12 rows = 0.17 < 0.3
    apply_cdc_to_bm25_index(
        spark,
        spark.createDataFrame(
            [(1, "u", "updated spark one"), (2, "u", "updated spark two")],
            CDC_SCHEMA,
        ),
        store,
    ).count()
    r = maintain_if_needed(spark, store, **kw)
    assert r["action"] == "none" and r["reasons"] == []
    before = _bm25(spark, store)

    # update 3 more + delete 1 -> dead 2+3+1(tomb)+1(superseded by
    # tombstone) of 16 rows > 0.3: fires
    apply_cdc_to_bm25_index(
        spark,
        spark.createDataFrame(
            [
                (3, "u", "updated spark three"),
                (4, "u", "updated spark four"),
                (5, "u", "updated spark five"),
                (6, "d", None),
            ],
            CDC_SCHEMA,
        ),
        store,
    ).count()
    served_pre = _bm25(spark, store)
    fired = maintain_if_needed(spark, store, **kw)
    assert fired["action"] == "compact"
    assert any("dead_ratio" in s for s in fired["reasons"])
    # serving equality across the fire
    assert _bm25(spark, store) == served_pre != before

    # idempotent: counters read clear right after the pass (the
    # policy's describe is the metadata-sized view — dead_rows comes
    # from the params counter, not a corpus window)
    again = maintain_if_needed(spark, store, **kw)
    assert again["action"] == "none"
    assert again["describe"]["dead_rows"] == 0


def test_bm25_policy_repairs_rollup_desync(spark, tmp_path):
    import os
    import shutil

    from mongo_es_spark.operators.maintenance import maintain_if_needed
    from mongo_es_spark.operators.text import (
        describe_bm25_store,
        incremental_bm25_index,
    )

    store = str(tmp_path / "bm25")
    incremental_bm25_index(
        spark, spark.createDataFrame(DOCS[:5], SCHEMA), store
    ).count()
    ts = os.path.join(store, "tokenstats")
    before = set(os.listdir(ts))
    incremental_bm25_index(
        spark, spark.createDataFrame(DOCS[5:], SCHEMA), store
    ).count()
    assert describe_bm25_store(spark, store)["tokenstats_synced"]

    # crash simulation: the second fold's delta file vanishes
    for f in set(os.listdir(ts)) - before:
        p = os.path.join(ts, f)
        (os.remove if os.path.isfile(p) else shutil.rmtree)(p)
    assert not describe_bm25_store(spark, store)["tokenstats_synced"]

    kw = dict(max_dead_ratio=0.3, max_files_per_cpu=None, min_files=2)
    fired = maintain_if_needed(spark, store, **kw)
    # a desync-only trip repairs just the vocabulary-sized sidecar —
    # it must NOT rewrite the healthy index
    assert fired["action"] == "rebuild_rollup"
    assert any("rollup_desync" in s for s in fired["reasons"])
    d = describe_bm25_store(spark, store)
    assert d["tokenstats_synced"] and d["tokenstats_docs"] == 10
    assert maintain_if_needed(spark, store, **kw)["action"] == "none"


def test_cheap_describe_dead_counter_is_exact(spark, tmp_path):
    """The params-resident dead counter (maintained batch-side by the
    CDC fold) must equal the window-computed truth through mixed
    batches — updates, deletes, zero-token upserts, inserts, and a
    replay that must not move it."""
    from mongo_es_spark.operators.text import (
        apply_cdc_to_bm25_index,
        describe_bm25_store,
        incremental_bm25_index,
    )

    store = str(tmp_path / "bm25")
    incremental_bm25_index(
        spark, spark.createDataFrame(DOCS, SCHEMA), store
    ).count()

    def check():
        cheap = describe_bm25_store(spark, store, full=False)
        exact = describe_bm25_store(spark, store, full=True)
        assert cheap["dead_rows"] == exact["dead_rows"], (cheap, exact)
        assert cheap["docstats_rows"] == exact["docstats_rows"]
        assert cheap["live_docs"] == exact["live_docs"]
        return cheap["dead_rows"]

    assert check() == 0
    b1 = spark.createDataFrame(
        [
            (1, "u", "updated spark one"),   # prior live -> +1
            (6, "d", None),                  # prior + tombstone -> +2
            # whitespace-only text indexes as ONE empty token (the
            # tokenizer splits the trimmed empty string to [""]) —
            # a LIVE row superseding its prior, not a tombstone
            (7, "u", "   "),                 # prior live -> +1
            (11, "u", None),                 # NEW doc, null text ->
                                             # tombstone only -> +1
        ],
        CDC_SCHEMA,
    )
    apply_cdc_to_bm25_index(spark, b1, store).count()
    assert check() == 5
    # replay: no-op, counter must not move
    apply_cdc_to_bm25_index(spark, b1, store).count()
    assert check() == 5
    # delete of a live doc: prior + tombstone -> +2
    apply_cdc_to_bm25_index(
        spark,
        spark.createDataFrame([(7, "d", None)], CDC_SCHEMA),
        store,
    ).count()
    assert check() == 7
    # RESURRECTION (upsert after delete): the superseded tombstone was
    # already counted dead when written, the new row is live -> +0
    apply_cdc_to_bm25_index(
        spark,
        spark.createDataFrame([(7, "u", "seven lives again")], CDC_SCHEMA),
        store,
    ).count()
    assert check() == 7


def test_fresh_store_tombstone_is_flagged(spark, tmp_path):
    """A null-text upsert in the very FIRST batch of a new store must
    flip the mutated flag: the fast-path reader drops the deleted
    column, so an unflagged tombstone would serve as a live doc."""
    from mongo_es_spark.operators.text import (
        apply_cdc_to_bm25_index,
        bm25_over_store,
        describe_bm25_store,
        incremental_bm25_index,
    )

    store = str(tmp_path / "bm25")
    apply_cdc_to_bm25_index(
        spark,
        spark.createDataFrame(
            [(1, "u", "spark doc alive"), (2, "u", None)], CDC_SCHEMA
        ),
        store,
    ).count()
    d = describe_bm25_store(spark, store)
    assert d["mutated"] and d["dead_rows"] == 1 and d["live_docs"] == 1
    cheap = describe_bm25_store(spark, store, full=False)
    assert cheap["dead_rows"] == 1 and cheap["live_docs"] == 1
    # the tombstone must not reach serving (n_docs=1, one hit)
    rebuilt = str(tmp_path / "rebuilt")
    incremental_bm25_index(
        spark,
        spark.createDataFrame(
            [(1, "spark doc alive")], "doc_id long, text string"
        ),
        rebuilt,
    ).count()
    got = [
        (r["doc"], r["score"])
        for r in bm25_over_store(spark, store, ["spark"], top_k=5).collect()
    ]
    want = [
        (r["doc"], r["score"])
        for r in bm25_over_store(spark, rebuilt, ["spark"], top_k=5).collect()
    ]
    assert got == want == [(1, want[0][1])]


def test_indexed_sink_runs_policy_per_fold(spark, tmp_path):
    """The closed loop in the streaming path: SearchIndexedSink with a
    maintain= policy compacts the store mid-stream once the CDC folds
    push the dead ratio past threshold — no operator in the loop —
    and serving stays equal to a rebuild from the final state."""
    from pyspark.sql import functions as F

    from mongo_es_spark.operators.text import (
        incremental_bm25_index,
        _bm_params_path,
    )
    from mongo_es_spark.streaming.sink import (
        ParquetIndexSink,
        SearchIndexedSink,
    )

    # the tail pipeline keys docs by the STRING IR id — the initial
    # scan-phase fold must use the same key type
    docs0 = spark.createDataFrame(
        [(str(d[0]), d[1]) for d in DOCS],
        "doc_id string, text string",
    )
    store = str(tmp_path / "bm25")
    incremental_bm25_index(spark, docs0, store).count()
    sink = SearchIndexedSink(
        ParquetIndexSink(str(tmp_path / "sink")),
        store,
        text_field="text",
        maintain=dict(max_dead_ratio=0.3, max_files_per_cpu=None,
                      min_files=2),
    )

    def ir(rows, batch_id):
        df = spark.createDataFrame(
            rows, "action string, id string, data struct<text:string>"
        ).select(
            "action", "id",
            F.lit(None).cast("string").alias("parent"),
            "data", F.lit(0).cast("long").alias("timestamp"),
        )
        sink.apply(spark, df, batch_id)

    # batch 1: update 2/10 -> dead 2/12, under threshold: no compact
    ir([("upsert", "1", ("updated spark one",)),
        ("upsert", "2", ("updated spark two",))], 0)
    p = spark.read.parquet(_bm_params_path(store)).head()
    assert p["mutated"]  # policy saw ratio under threshold, left it

    # batch 2: update 4 more -> past threshold: policy compacts inline
    ir([("upsert", "3", ("updated spark three",)),
        ("upsert", "4", ("updated spark four",)),
        ("upsert", "5", ("updated spark five",)),
        ("delete", "6", None)], 1)
    p = spark.read.parquet(_bm_params_path(store)).head()
    assert not p["mutated"]  # compaction fired and reset the flag

    rebuilt = str(tmp_path / "rebuilt")
    final = [("1", "updated spark one"), ("2", "updated spark two"),
             ("3", "updated spark three"), ("4", "updated spark four"),
             ("5", "updated spark five")] + [
        (str(d[0]), d[1]) for d in DOCS[6:]
    ]
    incremental_bm25_index(
        spark,
        spark.createDataFrame(final, "doc_id string, text string"),
        rebuilt,
    ).count()
    assert _bm25(spark, store) == _bm25(spark, rebuilt)


def test_ivf_policy_fires_once_at_threshold(spark, tmp_path):
    import numpy as np

    from mongo_es_spark.operators.maintenance import maintain_if_needed
    from mongo_es_spark.operators.similarity import (
        apply_cdc_to_ivf_index,
        ivf_exact_topk,
        materialize_ivf_index,
    )

    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    path = str(tmp_path / "ivf")
    materialize_ivf_index(df, "vec_id", "v", path, n_cells=4)

    kw = dict(id_col="vec_id", max_dead_ratio=0.3, n_cells=4,
              train_sample=1000)
    assert maintain_if_needed(spark, path, **kw)["action"] == "none"

    # update 10/60 -> dead 10 of 70 rows = 0.14: under threshold
    upd1 = spark.createDataFrame(
        [(i, "u", rng.normal(size=8).tolist()) for i in range(10)],
        "vec_id long, op string, v array<double>",
    )
    apply_cdc_to_ivf_index(upd1, path, "vec_id", "v").count()
    assert maintain_if_needed(spark, path, **kw)["action"] == "none"

    # update 20 more -> dead 30 of 90 = 0.33: fires
    upd2 = spark.createDataFrame(
        [(i, "u", rng.normal(size=8).tolist()) for i in range(10, 30)],
        "vec_id long, op string, v array<double>",
    )
    apply_cdc_to_ivf_index(upd2, path, "vec_id", "v").count()

    q = rng.normal(size=8).tolist()
    pre = [
        (r["vec_id"], r["score"])
        for r in ivf_exact_topk(spark, path, q, "vec_id", k=5).collect()
    ]
    fired = maintain_if_needed(spark, path, **kw)
    assert fired["action"] == "recluster"
    post = [
        (r["vec_id"], r["score"])
        for r in ivf_exact_topk(spark, path, q, "vec_id", k=5).collect()
    ]
    assert post == pre

    again = maintain_if_needed(spark, path, **kw)
    assert again["action"] == "none"
    assert again["describe"]["dead_watermarks"] == 0
