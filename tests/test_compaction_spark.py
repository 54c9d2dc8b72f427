"""The DataFrame compaction operator must agree with the pure-Python
store-fold spec (reference semantics, src/processor.ts:260-297) on
randomized event sequences — the load-bearing equivalence of the
Spark-first redesign."""

from __future__ import annotations

import random

import pytest

from mongo_es_spark.config import Task
from mongo_es_spark.core import make_ts, merge_oplogs
from mongo_es_spark.operators.compaction import compact_events

TASK = Task({"transform": {"mapping": {"value": "value"}}})


def python_fold(events):
    """Replay events through the spec fold; return survivors keyed by id.

    Events are dense rows (key, ts, seq, op, value) -> oplog dicts where
    inserts carry the doc and updates carry a $set of the payload.
    """
    oplogs = []
    for key, ts, seq, op, value in events:
        base = {"ts": make_ts(ts, seq), "ns": "t", "op": op}
        if op == "i":
            base["o"] = {"_id": str(key), "value": value}
        elif op == "u":
            base["o"] = {"$set": {"value": value}}
            base["o2"] = {"_id": str(key)}
        else:
            base["o"] = {"_id": str(key)}
        oplogs.append(base)
    out = {}
    for lg in merge_oplogs(TASK, oplogs):
        key = lg["o"]["_id"] if lg["op"] != "u" else lg["o2"]["_id"]
        if lg["op"] == "d":
            value = None
        elif lg["op"] == "i":
            value = lg["o"].get("value")
        else:
            value = lg["o"]["$set"]["value"]
        out[key] = (lg["op"], value, lg["ts"])
    return out


def spark_fold(spark, events):
    df = spark.createDataFrame(
        [(str(k), ts, seq, op, float(v)) for k, ts, seq, op, v in events],
        "key string, ts long, seq long, op string, value double",
    )
    result = compact_events(
        df, ["key"], ts_col="ts", op_col="op",
        payload_cols=["value"], tiebreak_col="seq",
    )
    return {
        r["key"]: (r["op"], r["value"], make_ts(r["ts"], r["seq"]))
        for r in result.collect()
    }


def test_compaction_randomized_vs_spec(spark):
    rng = random.Random(42)
    events = []
    seq = 0
    for _ in range(600):
        key = rng.randint(0, 25)
        op = rng.choice("iuuud")  # update-heavy, like real CDC
        events.append((key, rng.randint(0, 50), seq, op, rng.randint(0, 999)))
        seq += 1
    spec = python_fold(events)
    got = spark_fold(spark, events)
    spec_cmp = {k: (op, v, ts) for k, (op, v, ts) in spec.items()}
    got_cmp = {
        k: (op, None if v is None else int(v), ts) for k, (op, v, ts) in got.items()
    }
    assert got_cmp == spec_cmp


@pytest.mark.parametrize(
    "ops,expect",
    [
        ("iu", [("i", 1)]),       # insert patched by update
        ("uu", [("u", 1)]),       # merged update, later wins
        ("ud", [("d", None)]),    # delete survives over update
        ("id", []),               # annihilation
        ("du", [("u", 1)]),       # update revives after delete
        ("idu", [("u", 2)]),      # store cleared, update stored fresh
        ("iud", []),              # patched insert still annihilates
        ("di", [("i", 1)]),       # re-insert after delete
        ("d", [("d", None)]),
        ("uid", []),              # insert overwrites update, then dies
    ],
)
def test_compaction_algebra_cases(spark, ops, expect):
    events = [(0, t, t, op, t) for t, op in enumerate(ops)]
    got = sorted(
        (op, None if v is None else int(v))
        for op, v, _ in spark_fold(spark, events).values()
    )
    assert got == sorted(expect)


def test_compaction_one_survivor_per_key(spark):
    rng = random.Random(7)
    events = [
        (rng.randint(0, 5), rng.randint(0, 9), i, rng.choice("iud"), i)
        for i in range(200)
    ]
    got = spark_fold(spark, events)
    assert len(got) <= 6


def test_checkpoint_replay_associativity_randomized(spark):
    """The prefix-split invariant behind scan-then-tail restarts (and
    the cdc_checkpoint_replay query): compacting a TIME-ordered prefix
    and resuming over (survivors ∪ suffix) equals one full-feed
    compaction — for random event sequences and random split points.
    (Arbitrary/salted splits are unsound by the documented
    counterexample; only time-ordered splits carry this property.)"""
    rng = random.Random(7)
    for trial in range(5):
        events = []
        seq = 0
        for _ in range(400):
            key = rng.randint(0, 15)
            op = rng.choice("iuuud")
            events.append(
                (key, rng.randint(0, 40), seq, op, rng.randint(0, 999))
            )
            seq += 1
        full = spark_fold(spark, events)

        split_ts = rng.randint(0, 40)
        prefix = [e for e in events if e[1] <= split_ts]
        suffix = [e for e in events if e[1] > split_ts]
        pre_df = spark.createDataFrame(
            [(str(k), ts, s, op, float(v)) for k, ts, s, op, v in prefix],
            "key string, ts long, seq long, op string, value double",
        )
        survivors = compact_events(
            pre_df, ["key"], ts_col="ts", op_col="op",
            payload_cols=["value"], tiebreak_col="seq",
        )
        suf_df = spark.createDataFrame(
            [(str(k), ts, s, op, float(v)) for k, ts, s, op, v in suffix],
            "key string, ts long, seq long, op string, value double",
        )
        resumed = survivors.select(
            "key", "ts", "seq", "op", "value"
        ).unionByName(suf_df)
        two_stage = compact_events(
            resumed, ["key"], ts_col="ts", op_col="op",
            payload_cols=["value"], tiebreak_col="seq",
        )
        got = {
            r["key"]: (r["op"], r["value"], make_ts(r["ts"], r["seq"]))
            for r in two_stage.collect()
        }
        assert got == full, f"trial {trial} split {split_ts}"


def test_doc_compaction_groups_straddling_arrow_batches(spark):
    """The mapInPandas fold carries a group split across Arrow batch
    boundaries: with a 3-row batch cap, multi-event groups must still
    fold to exactly the same survivors as the unconstrained run."""
    import json

    from mongo_es_spark.config import Task
    from mongo_es_spark.operators.oplog_compaction import (
        compact_oplog_docs,
    )

    task = Task(
        {
            "extract": {"db": "db", "collection": "c"},
            "transform": {"mapping": {"a": "a", "b": "b"}},
            "load": {"index": "c", "type": "doc"},
        }
    )
    rows = []
    # 6 ids x 4 events each: i, $set patch, $set patch, plain replace
    for i in range(6):
        rid = f"d{i}"
        rows += [
            (1, "db.c", "i", rid, json.dumps({"a": 1})),
            (2, "db.c", "u", rid, json.dumps({"$set": {"b": i}})),
            (3, "db.c", "u", rid, json.dumps({"$set": {"a": 9}})),
        ]
        if i % 2:
            rows.append(
                (4, "db.c", "u", rid, json.dumps({"a": 7, "b": 7}))
            )
    df = spark.createDataFrame(
        rows, "ts long, ns string, op string, id string, doc string"
    )

    def run():
        out = compact_oplog_docs(df, task).collect()
        return sorted(
            (r["id"], r["op"], json.loads(r["doc"]), r["has_plain"])
            for r in out
        )

    base = run()
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        tiny = run()
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )
    assert tiny == base
    assert len(base) == 6  # one survivor per id
    # i∘u folds the update's $set into the insert; a PLAIN update has
    # no $set, so the reference merge leaves the insert unchanged
    # (full-replace handling is dispatch-time, for standalone updates
    # — processor.ts:186; merge only consumes operator-shaped docs)
    by_id = {i: (op, doc) for i, op, doc, _ in base}
    assert by_id["d0"] == ("i", {"a": 9, "b": 0})
    assert by_id["d1"] == ("i", {"a": 9, "b": 1})


def test_doc_compaction_null_id_rows_survive(spark):
    """Malformed feed rows with a null id must neither vanish
    (pandas groupby dropna) nor crash the tail-split when a batch
    ends on a null-keyed row — they come through as null-id
    survivors."""
    import json

    from mongo_es_spark.config import Task
    from mongo_es_spark.operators.oplog_compaction import (
        compact_oplog_docs,
    )

    task = Task(
        {
            "extract": {"db": "db", "collection": "c"},
            "transform": {"mapping": {"a": "a"}},
            "load": {"index": "c", "type": "doc"},
        }
    )
    rows = [
        (1, "db.c", "i", "d1", json.dumps({"a": 1})),
        (2, "db.c", "i", None, json.dumps({"a": 2})),
        (3, "db.c", "i", None, json.dumps({"a": 3})),
    ]
    df = spark.createDataFrame(
        rows, "ts long, ns string, op string, id string, doc string"
    )
    out = compact_oplog_docs(df, task).collect()
    ids = sorted((r["id"] for r in out), key=lambda x: (x is None, x))
    assert ids == ["d1", None]  # null-id rows compact to one survivor


def test_doc_compaction_fails_on_malformed_doc(spark):
    """A ``doc`` that is not JSON is outside input: it fails the batch
    instead of folding like an empty document (which would overwrite
    the sink document with an all-null insert)."""
    from mongo_es_spark.config import Task
    from mongo_es_spark.operators.oplog_compaction import (
        compact_oplog_docs,
    )

    task = Task(
        {
            "extract": {"db": "db", "collection": "c"},
            "transform": {"mapping": {"a": "a"}},
            "load": {"index": "c", "type": "doc"},
        }
    )
    df = spark.createDataFrame(
        [(1, "db.c", "i", "d1", '{"a": '), (2, "db.c", "u", "d2", "{}")],
        "ts long, ns string, op string, id string, doc string",
    )
    with pytest.raises(Exception, match="JSONDecodeError"):
        compact_oplog_docs(df, task).collect()
