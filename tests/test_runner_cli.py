"""End-to-end orchestrator test (C6/C7): a reference-shaped config JSON
with a ``file://`` MongoDB URL drives scan-then-tail through
``runner.run`` and the final sink state reflects both phases."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from mongo_es_spark.config import Config, read_config
from mongo_es_spark.core import make_ts
from mongo_es_spark.runner import run
from mongo_es_spark.streaming.sink import ParquetIndexSink


def test_two_tasks_isolated_sinks_and_checkpoints(spark, tmp_path):
    root = tmp_path / "mongo"
    (root / "oplog").mkdir(parents=True)
    for coll, rows in {
        "a": [("A1", "x")],
        "b": [("B1", "y"), ("B2", "z")],
    }.items():
        spark.createDataFrame(rows, "_id string, name string").write.parquet(
            str(root / f"db.{coll}.parquet")
        )
    feed = root / "oplog" / "b0.json"
    feed.write_text(
        json.dumps({"ts": make_ts(10), "ns": "db.a", "op": "i", "id": "A2",
                    "doc": json.dumps({"name": "x2"})}) + "\n"
        + json.dumps({"ts": make_ts(11), "ns": "db.b", "op": "d", "id": "B1",
                      "doc": json.dumps({})}) + "\n"
    )
    os.utime(feed, (1_700_000_000, 1_700_000_000))

    def task(coll):
        return {
            "from": {"phase": "scan"},
            "extract": {"db": "db", "collection": coll},
            "transform": {"mapping": {"name": "name"}},
            "load": {"index": coll, "type": "doc"},
            "hints": {"name": "string"},
        }

    cfg = Config(json.dumps({
        "mongodb": {"url": f"file://{root}"},
        "elasticsearch": {"options": {}},
        "tasks": [task("a"), task("b")],
    }))
    work = str(tmp_path / "work")
    run(cfg, spark=spark, work_dir=work, available_now=True)

    # each task owns its sink and only consumed its namespace's events
    for coll, want in {"a": {"A1", "A2"}, "b": {"B2"}}.items():
        sink = ParquetIndexSink(
            os.path.join(work, "index", f"db.{coll}___{coll}.doc")
        )
        got = {r["_id"] for r in sink.read_state(spark).collect()}
        assert got == want, (coll, got)


def test_runner_merge_sink_mode(spark, tmp_path):
    """With no ES host the runner loads into the merge-on-read
    parquet sink, with no setting: the scan's rows (stamped batch -1)
    and the tail's insert + delete (batch ids from the persistent
    checkpoint) resolve latest-wins in write order."""
    root = tmp_path / "mongo"
    (root / "oplog").mkdir(parents=True)
    spark.createDataFrame(
        [("A1", "x"), ("A2", "y")], "_id string, name string"
    ).write.parquet(str(root / "db.a.parquet"))
    feed = root / "oplog" / "b0.json"
    feed.write_text(
        json.dumps({"ts": make_ts(10), "ns": "db.a", "op": "i", "id": "A3",
                    "doc": json.dumps({"name": "z"})}) + "\n"
        + json.dumps({"ts": make_ts(11), "ns": "db.a", "op": "d", "id": "A1",
                      "doc": json.dumps({})}) + "\n"
    )
    os.utime(feed, (1_700_000_000, 1_700_000_000))

    cfg = Config(json.dumps({
        "mongodb": {"url": f"file://{root}"},
        "elasticsearch": {"options": {}},
        "tasks": [{
            "from": {"phase": "scan"},
            "extract": {"db": "db", "collection": "a"},
            "transform": {"mapping": {"name": "name"}},
            "load": {"index": "a", "type": "doc"},
            "hints": {"name": "string"},
        }],
    }))
    work = str(tmp_path / "work")
    run(cfg, spark=spark, work_dir=work, available_now=True)

    path = os.path.join(work, "index", "db.a___a.doc")
    sink = ParquetIndexSink(path)
    got = {
        r["_id"]: r["data"]["name"]
        for r in sink.read_state(spark).collect()
    }
    assert got == {"A2": "y", "A3": "z"}
    # an append log, never versioned dirs
    assert os.path.isdir(os.path.join(path, "log"))
    assert not os.path.exists(os.path.join(path, "_CURRENT"))


def test_checkpoint_hooks_skip_completed_scan(spark, tmp_path):
    from mongo_es_spark.config import Task

    root = tmp_path / "mongo"
    (root / "oplog").mkdir(parents=True)
    spark.createDataFrame(
        [("C1", "x")], "_id string, name string"
    ).write.parquet(str(root / "db.c.parquet"))

    store: dict[str, dict] = {}
    Task.on_save_checkpoint(
        lambda name, cp: store.__setitem__(
            name, {"phase": cp.phase, "id": cp.id, "time": cp.time}
        )
    )
    Task.on_load_checkpoint(lambda name: store.get(name))
    try:
        cfg_spec = {
            "mongodb": {"url": f"file://{root}"},
            "elasticsearch": {"options": {}},
            "tasks": [{
                "from": {"phase": "scan"},
                "extract": {"db": "db", "collection": "c"},
                "transform": {"mapping": {"name": "name"}},
                "load": {"index": "c", "type": "doc"},
                "hints": {"name": "string"},
            }],
        }
        run(Config(json.dumps(cfg_spec)), spark=spark,
            work_dir=str(tmp_path / "w1"), available_now=True)
        # scan completion flipped the stored phase (C2 -> endScan)
        assert store["db.c___c.doc"]["phase"] == "tail"

        # second run loads the hook's checkpoint and must SKIP the scan:
        # with an empty work dir, a skipped scan leaves no sink state
        # from the scan phase
        run(Config(json.dumps(cfg_spec)), spark=spark,
            work_dir=str(tmp_path / "w2"), available_now=True)
        sink = ParquetIndexSink(
            os.path.join(str(tmp_path / "w2"), "index", "db.c___c.doc")
        )
        state = sink.read_state(spark)
        scanned = (
            {r["_id"] for r in state.collect()} if state is not None else set()
        )
        assert "C1" not in scanned
    finally:
        Task.on_save_callback = None
        Task.on_load_callback = None


def test_run_from_config_json(spark, tmp_path):
    root = tmp_path / "mongo"
    oplog = root / "oplog"
    oplog.mkdir(parents=True)

    spark.createDataFrame(
        [("D1", "one", 1), ("D2", "two", 2), ("D3", "three", 3)],
        "_id string, name string, n long",
    ).write.parquet(str(root / "appdb.items.parquet"))

    events = [
        {"ts": make_ts(100), "ns": "appdb.items", "op": "u", "id": "D1",
         "doc": json.dumps({"$set": {"name": "one!"}})},
        {"ts": make_ts(101), "ns": "appdb.items", "op": "i", "id": "D4",
         "doc": json.dumps({"name": "four", "n": 4})},
        {"ts": make_ts(102), "ns": "appdb.items", "op": "d", "id": "D2",
         "doc": json.dumps({})},
    ]
    feed = oplog / "batch0.json"
    with open(feed, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")
    os.utime(feed, (1_700_000_000, 1_700_000_000))

    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps({
        "mongodb": {"url": f"file://{root}"},
        "elasticsearch": {"options": {}},
        "tasks": [{
            "from": {"phase": "scan"},
            "extract": {"db": "appdb", "collection": "items"},
            "transform": {"mapping": {"name": "name", "n": "n"}},
            "load": {"index": "items", "type": "doc"},
            "hints": {"name": "string", "n": "long"},
        }],
    }))

    work_dir = str(tmp_path / "work")
    run(
        read_config(str(cfg_path)),
        spark=spark,
        work_dir=work_dir,
        available_now=True,
    )

    sink = ParquetIndexSink(
        os.path.join(work_dir, "index", "appdb.items___items.doc")
    )
    state = sink.read_state(spark)
    assert state is not None
    got = {
        r["_id"]: r["data"].asDict()
        for r in state.select("_id", "data").collect()
    }
    assert set(got) == {"D1", "D3", "D4"}          # D2 deleted, D4 inserted
    assert got["D1"]["name"] == "one!"             # patch-update applied
    assert got["D3"] == {"name": "three", "n": 3}  # untouched scan row
    assert got["D4"] == {"name": "four", "n": 4}   # insert from the tail


def test_mongodb_mode_wires_j3_source_fallback(spark, tmp_path, monkeypatch):
    """The runner's mongodb:// branch must hand the source collection
    to run_tail so sink-miss patch-updates re-read the source
    (J3, reference src/mongodb.ts:61-104).  The connector itself is
    stubbed; the wiring under test is runner.run's."""
    import mongo_es_spark.runner as runner_mod
    from mongo_es_spark.sources.cdc import file_oplog_stream

    # source collection as served by the (stubbed) connector; M1's
    # value reflects the post-update document, as a real re-read would
    src = spark.createDataFrame(
        [("M1", "alpha-updated"), ("M2", "beta")], "_id string, name string"
    )
    calls = {"collection": 0}

    def fake_collection(spark_, url, task, checkpoint):
        calls["collection"] += 1
        assert url.startswith("mongodb://")
        return src

    feed = tmp_path / "feed"
    feed.mkdir()
    events = [
        # patch-update of a doc missing from the (empty) sink but
        # present in the source -> J3 fallback upserts it
        {"ts": make_ts(100), "ns": "db.m", "op": "u", "id": "M1",
         "doc": json.dumps({"$set": {"name": "ignored-by-j3"}})},
        # missing everywhere -> dropped
        {"ts": make_ts(101), "ns": "db.m", "op": "u", "id": "M9",
         "doc": json.dumps({"$set": {"name": "ghost"}})},
    ]
    f0 = feed / "f0.json"
    with open(f0, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")
    os.utime(f0, (1_700_000_000, 1_700_000_000))

    monkeypatch.setattr(runner_mod, "mongo_collection", fake_collection)
    monkeypatch.setattr(
        runner_mod,
        "mongo_change_stream",
        lambda spark_, url, task, ckpt: file_oplog_stream(
            spark_, str(feed), task, ckpt
        ),
    )

    cfg = Config(json.dumps({
        "mongodb": {"url": "mongodb://localhost:27017"},
        "elasticsearch": {"options": {}},
        "tasks": [{
            "from": {"phase": "tail"},
            "extract": {"db": "db", "collection": "m"},
            "transform": {"mapping": {"name": "name"}},
            "load": {"index": "m", "type": "doc"},
            "hints": {"name": "string"},
        }],
    }))
    work = str(tmp_path / "work")
    run(cfg, spark=spark, work_dir=work, available_now=True)

    assert calls["collection"] == 1  # lookup read built (no scan read)
    sink = ParquetIndexSink(os.path.join(work, "index", "db.m___m.doc"))
    state = sink.read_state(spark)
    assert state is not None
    got = {r["_id"]: r["data"]["name"] for r in state.collect()}
    assert got == {"M1": "alpha-updated"}


def test_runner_config_declared_search_index(spark, tmp_path):
    """load.searchIndex in the config JSON wraps the doc sink with
    the BM25-maintaining SearchIndexedSink: after scan-then-tail the
    search store serves exactly the final collection state — insert
    via scan, insert + update + delete via tail — analyzed through
    the declared chain (case-insensitive match proves it)."""
    from mongo_es_spark.operators.text import bm25_over_store

    root = tmp_path / "mongo"
    (root / "oplog").mkdir(parents=True)
    spark.createDataFrame(
        [("A1", "Alpha Rocket"), ("A2", "beta engine")],
        "_id string, name string",
    ).write.parquet(str(root / "db.a.parquet"))
    feed = root / "oplog" / "b0.json"
    feed.write_text(
        json.dumps({"ts": make_ts(10), "ns": "db.a", "op": "i",
                    "id": "A3", "doc": json.dumps({"name": "GAMMA engine"})})
        + "\n"
        + json.dumps({"ts": make_ts(11), "ns": "db.a", "op": "u",
                      "id": "A2",
                      "doc": json.dumps({"$set": {"name": "beta rocket"}})})
        + "\n"
        + json.dumps({"ts": make_ts(12), "ns": "db.a", "op": "d",
                      "id": "A1", "doc": json.dumps({})})
        + "\n"
    )
    os.utime(feed, (1_700_000_000, 1_700_000_000))

    cfg = Config(json.dumps({
        "mongodb": {"url": f"file://{root}"},
        "elasticsearch": {"options": {}},
        "tasks": [{
            "from": {"phase": "scan"},
            "extract": {"db": "db", "collection": "a"},
            "transform": {"mapping": {"name": "name"}},
            "load": {"index": "a", "type": "doc",
                     "searchIndex": {"textField": "name",
                                     "analyzer": "standard"}},
            "hints": {"name": "string"},
        }],
    }))
    work = str(tmp_path / "work")
    run(cfg, spark=spark, work_dir=work, available_now=True)

    store = os.path.join(work, "search", "db.a___a.doc")
    # final state: A2 "beta rocket", A3 "GAMMA engine"; A1 deleted
    hits = lambda t: {
        r["doc"]
        for r in bm25_over_store(spark, store, [t], top_k=10).collect()
    }
    assert hits("rocket") == {"A2"}      # A1's rocket is gone
    assert hits("GAMMA") == {"A3"}       # analyzed: case-folded
    assert hits("Engine") == {"A3"}      # A2's engine was replaced
    assert hits("alpha") == set()


def test_runner_config_declared_dense_index(spark, tmp_path):
    """load.denseIndex: the scan backfill trains/materializes the IVF
    store from the doc-sink state, the tail keeps it in sync through
    DenseIndexedSink — exact dense top-k over the store equals brute
    force over the final collection state."""
    import math

    from mongo_es_spark.operators.similarity import ivf_exact_topk

    def vec(x):
        return [float(x), float(100 - x)]

    root = tmp_path / "mongo"
    (root / "oplog").mkdir(parents=True)
    spark.createDataFrame(
        [("1", vec(10)), ("2", vec(50)), ("3", vec(90))],
        "_id string, v array<double>",
    ).write.parquet(str(root / "db.vecs.parquet"))
    feed = root / "oplog" / "b0.json"
    feed.write_text(
        json.dumps({"ts": make_ts(10), "ns": "db.vecs", "op": "i",
                    "id": "4", "doc": json.dumps({"v": vec(20)})}) + "\n"
        + json.dumps({"ts": make_ts(11), "ns": "db.vecs", "op": "u",
                      "id": "2",
                      "doc": json.dumps({"$set": {"v": vec(15)}})}) + "\n"
        + json.dumps({"ts": make_ts(12), "ns": "db.vecs", "op": "d",
                      "id": "3", "doc": json.dumps({})}) + "\n"
    )
    os.utime(feed, (1_700_000_000, 1_700_000_000))

    cfg = Config(json.dumps({
        "mongodb": {"url": f"file://{root}"},
        "elasticsearch": {"options": {}},
        "tasks": [{
            "from": {"phase": "scan"},
            "extract": {"db": "db", "collection": "vecs"},
            "transform": {"mapping": {"v": "v"}},
            "load": {"index": "vecs", "type": "doc",
                     "denseIndex": {"vecField": "v", "nCells": 2}},
            "hints": {"v": "array<double>"},
        }],
    }))
    work = str(tmp_path / "work")
    run(cfg, spark=spark, work_dir=work, available_now=True)

    store = os.path.join(work, "dense", "db.vecs___vecs.doc")
    got = [
        (r["vec_id"], round(r["score"], 6))
        for r in ivf_exact_topk(
            spark, store, vec(18), "vec_id", k=4
        ).collect()
    ]
    # final state: 1->(10,90), 2->(15,85), 4->(20,80)
    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (math.hypot(*a) * math.hypot(*b))

    want = sorted(
        ((i, round(cos(vec(18), v), 6))
         for i, v in [(1, vec(10)), (2, vec(15)), (4, vec(20))]),
        key=lambda t: (-t[1], t[0]),
    )
    assert got == want
