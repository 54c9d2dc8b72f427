"""Generation-pinned reader snapshot of a mutated BM25 store
(``text._live_snapshot``), and the params-sidecar crash window that
decides whether a store reads as mutated at all.

A mutated store resolves its live docstats once per store generation;
every request then serves from that snapshot.  These tests pin that
the snapshot never outlives what it was built from: a fold, a
compaction back to ``mutated=false``, a new Spark session and an
eviction all retire it, and its answers equal both the per-request
resolution and an index rebuilt from the final corpus.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from mongo_es_spark.operators import text
from mongo_es_spark.operators.searchapi import search

SCHEMA = "doc_id long, text string, lang string"
CDC_SCHEMA = "doc_id long, op string, text string, lang string"
DOCS = [
    (1, "spark streams tables", "en"),
    (2, "spark spark batch", "en"),
    (3, "tables and rows", "fr"),
    (4, "stream of values", "en"),
    (5, "spark rows batch", "fr"),
    (6, "values values tables", "en"),
]
FOLD1 = [(2, "u", "updated spark tables", "en"), (3, "d", None, None)]
FOLD2 = [(5, "u", "rows rows updated", "de"), (7, "i", "fresh spark doc", "de")]
AFTER1 = [
    (1, "spark streams tables", "en"),
    (2, "updated spark tables", "en"),
    (4, "stream of values", "en"),
    (5, "spark rows batch", "fr"),
    (6, "values values tables", "en"),
]
AFTER2 = [r for r in AFTER1 if r[0] != 5] + [
    (5, "rows rows updated", "de"),
    (7, "fresh spark doc", "de"),
]
REQUESTS = {
    "match": {"query": {"match": {"text": "spark tables"}}, "size": 10},
    "bool_term": {
        "query": {
            "bool": {
                "must": [{"match": {"text": "spark rows"}}],
                "filter": [{"term": {"lang": "en"}}],
            }
        },
        "size": 10,
    },
    "terms_agg": {
        "query": {"match": {"text": "spark tables rows"}},
        "aggs": {"lang": {"terms": {"field": "lang"}}},
    },
}


def _build(spark, tmp_path, name, rows):
    store = str(tmp_path / name)
    text.incremental_bm25_index(
        spark, spark.createDataFrame(rows, SCHEMA), store, field_cols=["lang"]
    ).count()
    return store


def _fold(spark, store, events):
    text.apply_cdc_to_bm25_index(
        spark, spark.createDataFrame(events, CDC_SCHEMA), store,
        field_cols=["lang"],
    )


def _answers(spark, store):
    return {
        kind: sorted(tuple(r) for r in search(spark, store, body).collect())
        for kind, body in REQUESTS.items()
    }


@pytest.fixture(scope="module")
def want(spark, tmp_path_factory):
    """Answers of fresh indexes built over each corpus state."""
    root = tmp_path_factory.mktemp("ref")
    return {
        name: _answers(spark, _build(spark, root, name, rows))
        for name, rows in (("after1", AFTER1), ("after2", AFTER2))
    }


def _entry(store):
    return text._SNAPSHOTS.get(os.path.abspath(store))


def _cached(df) -> bool:
    """Whether the checkpointed RDD behind ``df`` still holds blocks."""
    return df._jdf.queryExecution().analyzed().rdd().getStorageLevel().isValid()


def test_fold_between_requests_is_visible(spark, tmp_path, want):
    store = _build(spark, tmp_path, "live", DOCS)
    _fold(spark, store, FOLD1)
    assert _answers(spark, store) == want["after1"]
    first = _entry(store)
    assert first is not None and _cached(first[1])
    assert first[2:] == (5, 3.0)  # n_docs, avgdl of AFTER1

    _fold(spark, store, FOLD2)
    assert _answers(spark, store) == want["after2"]
    second = _entry(store)
    assert second[0] != first[0] and second[2] == 6
    assert not _cached(first[1])  # the superseded generation is released


def test_compaction_drops_snapshot(spark, tmp_path, want):
    store = _build(spark, tmp_path, "live", DOCS)
    _fold(spark, store, FOLD1)
    assert _answers(spark, store) == want["after1"]
    live = _entry(store)[1]

    text.compact_bm25_store(spark, store, min_files=2)
    assert _answers(spark, store) == want["after1"]
    assert _entry(store) is None
    assert not _cached(live)
    view = text._resolve_search_store(spark, store)
    assert (view.n_docs, view.avgdl) == (None, None)


def test_eviction_unpersists(spark, tmp_path, monkeypatch, want):
    monkeypatch.setattr(text, "_SNAPSHOT_MAX", 1)
    a = _build(spark, tmp_path, "a", DOCS)
    b = _build(spark, tmp_path, "b", DOCS)
    _fold(spark, a, FOLD1)
    _fold(spark, b, FOLD1)
    assert _answers(spark, a) == want["after1"]
    live_a = _entry(a)[1]
    assert _answers(spark, b) == want["after1"]
    assert _entry(a) is None and _entry(b) is not None
    assert not _cached(live_a)
    assert _answers(spark, a) == want["after1"]  # re-resolved


def test_snapshot_matches_per_request_resolution(
    spark, tmp_path, monkeypatch, want
):
    store = _build(spark, tmp_path, "live", DOCS)
    _fold(spark, store, FOLD1)
    _fold(spark, store, FOLD2)
    snap = _answers(spark, store)
    assert _entry(store) is not None
    # an unlistable store resolves per request: no snapshot, docstats
    # aggregated inside each request's plan
    text._forget_snapshot(spark, store)
    monkeypatch.setattr(text, "_listing_key", lambda *dirs: None)
    per_request = _answers(spark, store)
    assert _entry(store) is None
    monkeypatch.undo()
    assert snap == per_request == want["after2"]
    assert all(snap.values())


_NEW_SESSION = textwrap.dedent(
    """
    import os, sys
    from mongo_es_spark.session import get_spark
    from mongo_es_spark.operators import text
    from mongo_es_spark.operators.searchapi import search

    store = sys.argv[1]
    body = {"query": {"match": {"text": "spark tables"}}, "size": 10}
    spark = get_spark("snapshot-a", shuffle_partitions=2)
    text.incremental_bm25_index(
        spark,
        spark.createDataFrame(
            [(1, "spark tables", "en"), (2, "spark rows", "fr"),
             (3, "tables rows", "en")],
            "doc_id long, text string, lang string",
        ),
        store, field_cols=["lang"],
    ).count()
    text.apply_cdc_to_bm25_index(
        spark,
        spark.createDataFrame(
            [(2, "d", None, None)], "doc_id long, op string, text string, lang string"
        ),
        store, field_cols=["lang"],
    )
    first = sorted(tuple(r) for r in search(spark, store, body).collect())
    app_a = spark.sparkContext.applicationId
    spark.stop()
    spark = get_spark("snapshot-b", shuffle_partitions=2)
    second = sorted(tuple(r) for r in search(spark, store, body).collect())
    key = text._SNAPSHOTS[os.path.abspath(store)][0]
    assert first == second and len(first) == 2, (first, second)
    assert key[0] == spark.sparkContext.applicationId != app_a
    spark.stop()
    print("NEW-SESSION-OK")
    """
)


def test_new_session_does_not_reuse_dead_snapshot(tmp_path):
    """Stopping the session kills the blocks of every cached frame; a
    later session on the same store must build its own snapshot.  Runs
    in a child process: the suite's shared session cannot be stopped."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", _NEW_SESSION, str(tmp_path / "store")],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "NEW-SESSION-OK" in out.stdout, out.stdout + out.stderr[-3000:]


# ------------------------------------------------ params-sidecar crash window


def test_params_swap_crash_keeps_store_mutated(
    spark, tmp_path, monkeypatch, want
):
    """A crash between the params write's two renames leaves no live
    ``_bm_params``.  Readers must still see the store as mutated (from
    the complete replacement) — reading it as ``mutated=false`` would
    serve superseded generations and tombstoned docs — and the retried
    fold finishes the swap."""
    from mongo_es_spark import storeio

    store = _build(spark, tmp_path, "live", DOCS)
    _fold(spark, store, FOLD1)
    params = text._bm_params_path(store)
    real_rename = os.rename

    def crash(src, dst):
        if src == params + "__new":
            raise OSError("simulated crash between the params renames")
        return real_rename(src, dst)

    monkeypatch.setattr(storeio.os, "rename", crash)
    with pytest.raises(OSError, match="simulated crash"):
        _fold(spark, store, FOLD2)
    monkeypatch.undo()
    assert not os.path.isdir(params)
    assert os.path.isdir(params + "__new") and os.path.isdir(params + "__old")

    rows = storeio.read_params_rows(spark, params)
    assert rows is not None and rows[0]["mutated"] and rows[0]["gen"] == 2
    # the crashed fold's generation is not visible yet
    assert _answers(spark, store) == want["after1"]

    _fold(spark, store, FOLD2)
    assert os.path.isdir(params)
    assert not os.path.exists(params + "__new")
    assert not os.path.exists(params + "__old")
    assert _answers(spark, store) == want["after2"]


def test_params_partial_replacement_is_ignored(spark, tmp_path):
    """A crash while the replacement is still being written leaves a
    ``__new`` without ``_SUCCESS``: readers keep the live directory (or
    report no store on a first write), and the next write discards it."""
    import pyarrow as pa

    from mongo_es_spark.storeio import read_params_rows, write_params_row

    schema = pa.schema([("gen", pa.int64())])
    path = str(tmp_path / "_params")
    os.makedirs(path + "__new")
    open(os.path.join(path + "__new", "part-0.parquet"), "w").close()
    assert read_params_rows(spark, path) is None  # first write crashed

    write_params_row(path, schema, {"gen": 1})
    os.makedirs(path + "__new")
    open(os.path.join(path + "__new", "part-0.parquet"), "w").close()
    assert [r["gen"] for r in read_params_rows(spark, path)] == [1]

    write_params_row(path, schema, {"gen": 2})
    assert [r["gen"] for r in read_params_rows(spark, path)] == [2]
    assert sorted(os.listdir(tmp_path)) == ["_params"]
