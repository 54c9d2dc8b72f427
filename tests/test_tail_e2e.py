"""End-to-end scan-then-tail over a synthetic collection + oplog feed.

The final sink state must equal a replayed-by-hand oracle built from
the golden-tested pure functions (core.transformer / merge_oplogs /
dispatch_oplog) — the rebuild's analog of the reference's e2e test
(reference: test/elasticsearch.test.ts:29-68), minus the live cluster.
"""

from __future__ import annotations

import json

import pytest

from mongo_es_spark.config import Task
from mongo_es_spark.core import dispatch_oplog, make_ts, merge_oplogs, transformer
from mongo_es_spark.sources.cdc import file_oplog_stream
from mongo_es_spark.streaming.sink import ParquetIndexSink
from mongo_es_spark.streaming.tail import run_scan, run_tail
from mongo_es_spark.streaming.fold import drain, write_ordered_feed


HINTS = {"name": "string", "shareCount.all": "long", "deleted": "boolean"}


def banner_task() -> Task:
    # the reference's canonical example task (examples/config.json)
    return Task(
        {
            "from": {"phase": "scan"},
            "extract": {"db": "jike", "collection": "banners"},
            "transform": {
                "mapping": {
                    "name": "name",
                    "shareCount.all": "shareCount.all",
                    "deleted": "isDeleted",
                },
                "static": {"kind": "banner"},
            },
            "load": {"index": "banner", "type": "doc"},
        }
    )


SOURCE_DOCS = [
    {"_id": "B1", "name": "one", "shareCount": {"all": 10}, "deleted": False},
    {"_id": "B2", "name": "two", "shareCount": {"all": 20}, "deleted": False},
    {"_id": "B3", "name": "three", "shareCount": {"all": 30}, "deleted": True},
    {"_id": "B7", "name": "seven", "shareCount": {"all": 70}, "deleted": False},
]

# one list per oplog file == one micro-batch (maxFilesPerTrigger=1)
OPLOG_BATCHES = [
    [
        # patch-update hitting the sink copy (J1 -> T4)
        {"ts": make_ts(100), "ns": "jike.banners", "op": "u", "id": "B1",
         "doc": {"$set": {"shareCount.all": 11}}},
        # full-document replace (T5)
        {"ts": make_ts(101), "ns": "jike.banners", "op": "u", "id": "B2",
         "doc": {"name": "two!", "shareCount": {"all": 21}, "deleted": False}},
        # irrelevant update -> ignoreUpdate drops it (F4)
        {"ts": make_ts(102), "ns": "jike.banners", "op": "u", "id": "B3",
         "doc": {"$set": {"unmapped.field": 1}}},
        # foreign namespace -> oplog filter drops it (F3)
        {"ts": make_ts(103), "ns": "other.things", "op": "d", "id": "B1",
         "doc": {}},
    ],
    [
        # insert then update in the same batch -> compacts to one i (A1)
        {"ts": make_ts(200), "ns": "jike.banners", "op": "i", "id": "B4",
         "doc": {"name": "four", "shareCount": {"all": 40}, "deleted": False}},
        {"ts": make_ts(201), "ns": "jike.banners", "op": "u", "id": "B4",
         "doc": {"$set": {"name": "four!"}}},
        # insert then delete -> annihilates (A1)
        {"ts": make_ts(202), "ns": "jike.banners", "op": "i", "id": "B5",
         "doc": {"name": "five", "shareCount": {"all": 50}, "deleted": False}},
        {"ts": make_ts(203), "ns": "jike.banners", "op": "d", "id": "B5",
         "doc": {}},
        # delete of a scanned doc
        {"ts": make_ts(204), "ns": "jike.banners", "op": "d", "id": "B3",
         "doc": {}},
        # delete B7 so the next batch's patch-update of it must fall
        # back to the source collection (J3)
        {"ts": make_ts(205), "ns": "jike.banners", "op": "d", "id": "B7",
         "doc": {}},
    ],
    [
        # $unset of a mapped field (T3/T4 unset path)
        {"ts": make_ts(300), "ns": "jike.banners", "op": "u", "id": "B2",
         "doc": {"$unset": {"deleted": 1}}},
        # patch-update of a doc missing from the sink -> source
        # fallback (J3): B6 absent everywhere -> dropped
        {"ts": make_ts(301), "ns": "jike.banners", "op": "u", "id": "B6",
         "doc": {"$set": {"name": "ghost"}}},
        # patch-update missing in sink (deleted in batch 2) but present
        # in the source collection -> J3 fallback re-reads the doc
        {"ts": make_ts(303), "ns": "jike.banners", "op": "u", "id": "B7",
         "doc": {"$set": {"name": "seven!"}}},
        # $set and $unset touching the SAME field: the reference
        # applies unset first, then set — $set wins
        # (processor.ts:107-121)
        {"ts": make_ts(304), "ns": "jike.banners", "op": "u", "id": "B1",
         "doc": {"$set": {"name": "one+"}, "$unset": {"name": 1}}},
    ],
]


def oracle_state(task: Task) -> dict:
    """Replay scan + batches through the pure spec functions."""
    state: dict[str, dict] = {}

    def apply_irs(irs):
        for ir in irs:
            if ir is None:
                continue
            if ir["action"] == "upsert":
                state[ir["id"]] = {
                    "parent": ir.get("parent"),
                    "data": ir["data"],
                }
            else:
                state.pop(ir["id"], None)

    apply_irs(transformer(task, "upsert", d) for d in SOURCE_DOCS)
    source_by_id = {d["_id"]: d for d in SOURCE_DOCS}
    for batch in OPLOG_BATCHES:
        oplogs = []
        for ev in batch:
            if ev["ns"] != "jike.banners":
                continue
            lg = {"ts": ev["ts"], "ns": ev["ns"], "op": ev["op"]}
            doc = dict(ev["doc"])
            if ev["op"] == "u":
                lg["o"], lg["o2"] = doc, {"_id": ev["id"]}
            else:
                doc["_id"] = ev["id"]
                lg["o"] = doc
            oplogs.append(lg)
        merged = merge_oplogs(task, oplogs)
        lookup_sink = {
            k: {"_id": k, **json.loads(json.dumps(v["data"]))}
            for k, v in state.items()
        }
        irs = [
            dispatch_oplog(task, lg, lookup_sink=lookup_sink,
                           lookup_source=source_by_id)
            for lg in merged
        ]
        apply_irs(irs)
    return state


def _strip_nulls(obj):
    if isinstance(obj, dict):
        out = {k: _strip_nulls(v) for k, v in obj.items()}
        return {k: v for k, v in out.items() if v is not None and v != {}}
    return obj


@pytest.mark.slow
def test_scan_then_tail_matches_oracle(spark, tmp_path):
    task = banner_task()
    source_path = str(tmp_path / "source")
    oplog_dir = tmp_path / "oplog"
    sink = ParquetIndexSink(str(tmp_path / "sink"))

    src_rows = [
        (d["_id"], d["name"], d["shareCount"]["all"], d["deleted"])
        for d in SOURCE_DOCS
    ]
    spark.createDataFrame(
        src_rows, "_id string, name string, shareCount_all long, deleted boolean"
    ).selectExpr(
        "_id", "name", "named_struct('all', shareCount_all) as shareCount", "deleted"
    ).write.parquet(source_path)
    source_df = spark.read.parquet(source_path)

    # EP1 — scan phase
    run_scan(spark, task, source_df, sink)
    assert task.from_.phase == "tail"

    # EP2 — tail phase over the file feed, one file per micro-batch;
    # the ordered feed makes batch boundaries match the oracle replay
    write_ordered_feed(str(oplog_dir), [
        [{**ev, "doc": json.dumps(ev["doc"])} for ev in batch]
        for batch in OPLOG_BATCHES
    ])
    stream = file_oplog_stream(
        spark, str(oplog_dir), task, max_files_per_trigger=1
    )
    from mongo_es_spark.config import Controls

    q = run_tail(
        spark,
        task,
        Controls(),
        stream,
        sink,
        source_df=source_df,
        hints=HINTS,
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    drain(q)

    got = {}
    state = sink.read_state(spark)
    assert state is not None
    for row in state.collect():
        d = row.asDict(recursive=True)
        got[d["_id"]] = _strip_nulls(
            {"parent": d["_parent"], "data": d["data"]}
        )
    want = {k: _strip_nulls(v) for k, v in oracle_state(task).items()}
    assert got == want
