"""Store compaction/vacuum passes: every append-only store grows
monotonically (per-batch postings files, one dists row per improvement
event, merge edges forever), so each gets an exactness-pinned
compaction — reads before == reads after, bit for bit, with the crash
points of each strategy (directory swap vs min-composable move-in)
simulated explicitly."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _build_bm25(spark, store, n_splits=3):
    from mongo_es_spark.operators.text import incremental_bm25_index
    from mongo_es_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    split = F.pmod(F.xxhash64("doc_id"), F.lit(n_splits))
    for b in range(n_splits):
        incremental_bm25_index(
            spark, docs.filter(split == b), store
        ).count()
    return docs


def test_bm25_compaction_preserves_every_reader(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        bm25_over_store,
        compact_bm25_store,
        incremental_bm25_index,
        phrase_over_store,
        proximity_over_store,
    )
    from mongo_es_spark.sources.tables import load_table

    store = str(tmp_path / "bm")
    _build_bm25(spark, store)
    pre_bm = bm25_over_store(spark, store, ["spark", "table"]).collect()
    pre_ph = phrase_over_store(spark, store, ["value", "table"]).collect()
    pre_px = proximity_over_store(
        spark, store, ["value", "table"]
    ).collect()

    counts = compact_bm25_store(
        spark, store, target_bytes=1 << 30, min_files=1
    )
    assert counts["postings_files"][1] < counts["postings_files"][0]

    assert (
        bm25_over_store(spark, store, ["spark", "table"]).collect()
        == pre_bm
    )
    assert (
        phrase_over_store(spark, store, ["value", "table"]).collect()
        == pre_ph
    )
    assert (
        proximity_over_store(spark, store, ["value", "table"]).collect()
        == pre_px
    )

    # the store keeps taking appends after a compaction, and the
    # append dedups against the compacted postings (same first-arrival
    # identity)
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    assert (
        incremental_bm25_index(spark, docs.limit(50), store).count() == 0
    )


def test_bm25_compaction_self_heals_crashed_swap(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        bm25_over_store,
        compact_bm25_store,
    )

    store = str(tmp_path / "bm")
    _build_bm25(spark, store)
    pre = bm25_over_store(spark, store, ["spark", "table"]).collect()

    # simulate the worst crash point of the swap: the replacement is
    # fully written, the live dir was renamed away, the second rename
    # never happened
    p = os.path.join(store, "postings")
    compact_bm25_store(spark, store, min_files=1)
    post = bm25_over_store(spark, store, ["spark", "table"]).collect()
    assert post == pre
    os.rename(p, p + "__new")
    shutil.rmtree(p, ignore_errors=True)
    compact_bm25_store(spark, store, min_files=1)  # heal, re-compact
    assert (
        bm25_over_store(spark, store, ["spark", "table"]).collect()
        == pre
    )


def test_seed_distance_compaction(spark, tmp_path):
    from mongo_es_spark.operators.similarity import (
        compact_seed_distance_store,
        incremental_seed_distance,
        seed_distance_over_store,
    )

    store = str(tmp_path / "sd")
    # path graph 0-1-2-3-4-5 fed in two batches, seed 0 then a late
    # shortcut 0-4 that improves stored distances (improvement events
    # pile up per doc)
    e1 = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "i long, j long"
    )
    s1 = spark.createDataFrame([(0,)], "doc long")
    incremental_seed_distance(
        spark, store, edges_batch=e1, seeds_batch=s1, max_depth=6
    )
    e2 = spark.createDataFrame(
        [(3, 4), (4, 5), (0, 4)], "i long, j long"
    )
    incremental_seed_distance(
        spark, store, edges_batch=e2, max_depth=6
    )
    pre = sorted(
        (r["doc"], r["dist"])
        for r in seed_distance_over_store(spark, store).collect()
    )
    dists_rows_before = spark.read.parquet(f"{store}/dists").count()
    assert dists_rows_before > len(pre)  # improvement events piled up

    counts = compact_seed_distance_store(spark, store, min_files=1)
    assert counts["dists_files"][1] <= counts["dists_files"][0]
    assert spark.read.parquet(f"{store}/dists").count() == len(pre)
    assert (
        sorted(
            (r["doc"], r["dist"])
            for r in seed_distance_over_store(spark, store).collect()
        )
        == pre
    )

    # min composes: the mid-crash state (compacted rows moved in, old
    # files not yet deleted) reads identically — simulate by
    # re-appending the compacted view next to itself
    spark.read.parquet(f"{store}/dists").write.mode("append").parquet(
        f"{store}/dists"
    )
    assert (
        sorted(
            (r["doc"], r["dist"])
            for r in seed_distance_over_store(spark, store).collect()
        )
        == pre
    )

    # the store keeps folding batches after a compaction, relaxing
    # through the COMPACTED tail distances
    e3 = spark.createDataFrame([(5, 6)], "i long, j long")
    incremental_seed_distance(spark, store, edges_batch=e3, max_depth=6)
    got = dict(
        (r["doc"], r["dist"])
        for r in seed_distance_over_store(spark, store).collect()
    )
    assert got[6] == got[5] + 1


def test_components_compaction(spark, tmp_path):
    from mongo_es_spark.operators.dedup import (
        compact_components_store,
        components_over_store,
        incremental_components,
    )

    store = str(tmp_path / "cc")
    # batch 1: two components {1,2} and {5,6}; batch 2 bridges them
    # (a merge event lands in merges/)
    b1 = spark.createDataFrame([(1, 2), (5, 6)], "i long, j long")
    incremental_components(spark, b1, store)
    b2 = spark.createDataFrame([(2, 5)], "i long, j long")
    incremental_components(spark, b2, store)
    pre = sorted(
        (r["doc"], r["component"])
        for r in components_over_store(spark, store).collect()
    )
    assert {c for _, c in pre} == {1}  # all merged to min id
    assert os.path.isdir(f"{store}/merges")

    out = compact_components_store(spark, store, min_files=1)
    assert out["merge_rows_cleared"] >= 1
    assert not os.path.isdir(f"{store}/merges")
    assert (
        sorted(
            (r["doc"], r["component"])
            for r in components_over_store(spark, store).collect()
        )
        == pre
    )

    # post-compaction folds still merge correctly (fresh merge events
    # accumulate again on the cleared store)
    b3 = spark.createDataFrame([(0, 1)], "i long, j long")
    incremental_components(spark, b3, store)
    after = {
        r["doc"]: r["component"]
        for r in components_over_store(spark, store).collect()
    }
    assert after == {0: 0, 1: 0, 2: 0, 5: 0, 6: 0}


def test_dataless_store_dir_reads_as_none_without_spark(tmp_path):
    """A store directory that holds no data file yet — only a
    ``_SUCCESS`` marker, a ``_params`` sidecar directory or ``.crc``
    files, all of which Spark's listing skips — reads as ``None``
    without asking Spark, whose failed schema inference would be logged
    as an ERROR by the observed-metrics listener."""
    from mongo_es_spark.storeio import read_parquet_if_exists

    class NoRead:
        @property
        def read(self):
            raise AssertionError("spark.read reached for a dataless dir")

    marker = tmp_path / "marker"
    marker.mkdir()
    (marker / "_SUCCESS").write_bytes(b"")
    (marker / ".part-0.parquet.crc").write_bytes(b"x")
    sidecar = tmp_path / "sidecar"
    (sidecar / "_params").mkdir(parents=True)
    (sidecar / "_params" / "part-0.parquet").write_bytes(b"x")
    for path in (marker, sidecar):
        assert read_parquet_if_exists(NoRead(), str(path)) is None
