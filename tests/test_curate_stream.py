"""Streaming incremental curation (streaming/curate.py): per-batch
quality + exact + near dedup against persisted stores, replay
idempotence, and the first-arrival-wins contract vs a Python replay
over the batch operator's pair graph."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from mongo_es_spark.streaming.fold import drain, write_ordered_feed


SCHEMA = "doc_id long, text string, lang string"

def _doc(seed: int, mutate: int = 0) -> str:
    """Quality-passing 60-token doc with a seed-disjoint vocabulary
    (distinct seeds share zero shingles); ``mutate`` flips one token
    per unit, keeping shingle Jaccard ~0.9 (a near-dup, not a clone).
    """
    toks = [f"w{seed}q{i}" for i in range(60)]
    for k in range(mutate):
        toks[7 * k + 1] = f"mut{seed}x{k}"
    return " ".join(toks)


def _rows_batches():
    """Three batches with exact clones and near-dups within and
    across batches, plus a junk doc that fails quality."""
    b0 = [
        (0, _doc(1), "en"),
        (1, _doc(2), "en"),
        (2, _doc(1), "en"),        # exact clone of 0 (in-batch)
        (3, _doc(1, mutate=1), "de"),  # near-dup of 0 (in-batch)
        (4, "the the the the", "en"),  # fails quality
    ]
    b1 = [
        (5, _doc(1), "en"),        # exact clone of 0 (cross-batch)
        (6, _doc(2, mutate=1), "de"),  # near-dup of 1 (cross-batch)
        (7, _doc(3), "fr"),
    ]
    b2 = [
        (8, _doc(3, mutate=1), "fr"),  # near-dup of 7
        (9, _doc(4), "en"),
    ]
    return [b0, b1, b2]


def _write_feed(feed, batches):
    write_ordered_feed(
        str(feed),
        [
            [{"doc_id": d, "text": t, "lang": g} for d, t, g in rows]
            for rows in batches
        ],
    )


def _expected_kept(spark, batches, threshold=0.8, q_threshold=0.52):
    """Python replay of the first-arrival-wins contract, using the
    (already independently verified) batch operators as ground truth
    for quality scores and the near-dup pair graph."""
    from mongo_es_spark.operators.dedup import minhash_lsh_pairs
    from mongo_es_spark.operators.text import quality_features

    allrows = [r for b in batches for r in b]
    df = spark.createDataFrame(allrows, SCHEMA)
    q_ok = {
        r["doc_id"]
        for r in quality_features(df, "doc_id", "text")
        .filter(F.col("quality_score") >= q_threshold)
        .collect()
    }
    pair_rows = minhash_lsh_pairs(
        df.filter(F.col("doc_id").isin([i for i in q_ok])),
        "doc_id",
        "text",
        threshold=threshold,
    ).collect()
    edges = {(r["i"], r["j"]) for r in pair_rows}

    arrival = {}  # doc -> (batch_ix, doc_id)
    for ix, b in enumerate(batches):
        for d, _, _ in b:
            arrival[d] = (ix, d)
    seen_texts = {}
    kept, entered = set(), set()
    for ix, b in enumerate(batches):
        for d, t, _ in sorted(b):
            if d not in q_ok:
                continue
            if t in seen_texts:  # exact dedup, first wins
                continue
            seen_texts[t] = d
            # near-dup vs every earlier-entered doc (kept or dropped)
            dup = any(
                (min(d, o), max(d, o)) in edges for o in entered
            )
            entered.add(d)
            if not dup:
                kept.add(d)
    return kept


def test_streaming_curation_first_arrival_contract(spark, tmp_path):
    from mongo_es_spark.streaming.curate import curate_batch
    from mongo_es_spark.streaming.fold import run_fold_stream

    batches = _rows_batches()
    feed = tmp_path / "feed"
    _write_feed(feed, batches)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(feed))
    )
    q = run_fold_stream(
        stream, lambda b, _: curate_batch(spark, b, state), checkpoint=ckpt
    )
    drain(q)

    got = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(state, "curated")).collect()
    }
    want = _expected_kept(spark, batches)
    assert got == want
    # sanity: the scenario exercised every path
    assert 0 in got and 1 in got and 7 in got and 9 in got
    assert 2 not in got and 5 not in got      # exact clones
    assert 3 not in got and 6 not in got and 8 not in got  # near-dups
    assert 4 not in got                       # quality fail


def test_curate_batch_replay_is_noop(spark, tmp_path):
    from mongo_es_spark.streaming.curate import curate_batch

    batches = _rows_batches()
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(batches[0], SCHEMA)
    s1 = curate_batch(spark, b0, state)
    curated1 = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(state, "curated")).collect()
    )
    sigs1 = spark.read.parquet(os.path.join(state, "sigs")).count()

    # redeliver the same batch (at-least-once): nothing may change
    s2 = curate_batch(spark, b0, state)
    curated2 = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(state, "curated")).collect()
    )
    sigs2 = spark.read.parquet(os.path.join(state, "sigs")).count()
    assert s1["kept"] > 0
    assert s2["fresh"] == 0 and s2["kept"] == 0
    assert curated1 == curated2
    assert sigs1 == sigs2


def test_rebalance_packs_curated_set(spark, tmp_path):
    from mongo_es_spark.streaming.curate import curate_batch, rebalance

    batches = _rows_batches()
    state = str(tmp_path / "state")
    for b in batches:
        curate_batch(spark, spark.createDataFrame(b, SCHEMA), state)
    packed = rebalance(spark, state, max_tokens=64)
    rows = packed.collect()
    assert len(rows) > 0
    # packing invariant: seq ids are dense from 0 in doc order
    seqs = [r["seq_id"] for r in sorted(rows, key=lambda r: r["doc_id"])]
    assert seqs[0] == 0
    assert all(b - a in (0, 1) for a, b in zip(seqs, seqs[1:]))


def test_curate_batch_scrub_stage(spark, tmp_path):
    from mongo_es_spark.streaming.curate import curate_batch

    state = str(tmp_path / "state")
    long_tail = " ".join(f"w{i}" for i in range(40))
    rows = [
        # identical except for the scrubbed email -> after redaction
        # they are exact clones; only the min id survives
        (1, f"contact alice@example.com about {long_tail}"),
        (2, f"contact bob@example.com about {long_tail}"),
        (3, "fresh unrelated content entirely "
            + " ".join(f"z{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = curate_batch(spark, df, state, scrub_blocklist=())
    got = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{state}/curated").collect()
    }
    assert set(got) == {1, 3}
    assert stats["kept"] == 2
    assert all("@" not in t for t in got.values())
    assert "[REDACTED]" in got[1]


def test_curate_to_shards_example(spark, tmp_path):
    # the composed demo: scrub -> curate -> rebalance -> export; pin
    # that every stage hands a usable frame to the next and the shard
    # output round-trips
    import subprocess
    import sys

    out = str(tmp_path / "shards")
    r = subprocess.run(
        [sys.executable, "examples/curate_to_shards.py",
         "/root/testdata/sf0.001", out],
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "export:" in r.stdout
    back = spark.read.parquet(out + "/data")
    assert back.count() > 0
    assert {"seq_id", "doc_id"} <= set(back.columns)


def test_streaming_curation_scrub_passthrough(spark, tmp_path):
    """scrub_blocklist through the curation fold stream: docs
    identical after redaction deduplicate as one, and the curated
    store holds redacted text only."""
    from mongo_es_spark.streaming.curate import curate_batch
    from mongo_es_spark.streaming.fold import run_fold_stream

    long_tail = " ".join(f"w{i}" for i in range(40))
    batches = [
        [(1, f"contact alice@example.com about {long_tail}", "en")],
        [
            (2, f"contact bob@example.com about {long_tail}", "en"),
            (3, "fresh unrelated content entirely "
                + " ".join(f"z{i}" for i in range(40)), "en"),
        ],
    ]
    feed = tmp_path / "feed"
    _write_feed(feed, batches)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(feed))
    )
    q = run_fold_stream(
        stream,
        lambda b, _: curate_batch(spark, b, state, scrub_blocklist=()),
        checkpoint=ckpt,
    )
    drain(q)

    got = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(os.path.join(state, "curated")).collect()
    }
    assert set(got) == {1, 3}
    assert all("@" not in t for t in got.values())
    assert "[REDACTED]" in got[1]


def test_streaming_boilerplate_store_matches_batch(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        boilerplate_clean_over_store,
        boilerplate_removal,
        incremental_boilerplate,
    )
    from mongo_es_spark.streaming.fold import run_fold_stream

    rows = [
        (1, "c1 c2 u1 u2"),
        (2, "c1 c2 v1 v2"),
        (3, "w1 w2 c1 c2"),
        (4, "x1 x2 x3"),
    ]
    schema = "doc_id long, text string"
    full = spark.createDataFrame(rows, schema)
    feed = str(tmp_path / "feed")
    write_ordered_feed(
        feed,
        [
            spark.createDataFrame(rows[:2], schema),
            spark.createDataFrame(rows[2:], schema),
        ],
    )

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(feed)
    store = str(tmp_path / "store")
    q = run_fold_stream(
        stream,
        lambda b, _: incremental_boilerplate(
            spark, b, "doc_id", "text", store, chunk_words=2, min_df=2
        ),
        checkpoint=str(tmp_path / "ckpt"),
        out=str(tmp_path / "out"),
    )
    drain(q)

    got = {
        tuple(r)
        for r in boilerplate_clean_over_store(
            spark, full, "doc_id", "text", store,
            chunk_words=2, min_df=2,
        ).collect()
    }
    ref = {
        tuple(r)
        for r in boilerplate_removal(
            full, "doc_id", "text", chunk_words=2, min_df=2
        ).collect()
    }
    assert got == ref
    # per-batch running outputs cover every doc exactly once
    out = spark.read.parquet(str(tmp_path / "out"))
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 3, 4]


def test_curate_batch_clone_heavy_collapse_parity(spark, tmp_path):
    """NOTES r5: a clone-heavy ingest trigger (re-crawl / mirrored
    feed) through the collapsed quality path must curate EXACTLY the
    set the uncollapsed path keeps — collapse is an optimization, not
    a semantics knob.  Two batches so the store-backed stages (exact
    hash store, signature store) run under both modes too."""
    from mongo_es_spark.streaming.curate import curate_batch

    # batch 0: 12 distinct quality-passing texts x 25 clones each,
    # plus a near-dup family and a junk doc; batch 1 re-sends clones
    # of batch-0 content (store hits) plus fresh docs.
    b0 = []
    did = 0
    for s in range(12):
        for _ in range(25):
            b0.append((did, _doc(s + 1), "en"))
            did += 1
    b0.append((did, _doc(1, mutate=1), "de")); did += 1   # near-dup
    b0.append((did, "the the the the", "en")); did += 1   # junk
    b1 = [(did + k, _doc(2), "en") for k in range(10)]    # store clones
    b1 += [(did + 10, _doc(99), "fr"), (did + 11, _doc(98), "fr")]

    results = {}
    for mode in (True, False):
        state = str(tmp_path / f"state_{mode}")
        counters = []
        for rows in (b0, b1):
            df = spark.createDataFrame(rows, SCHEMA)
            counters.append(
                curate_batch(spark, df, state, collapse=mode)
            )
        kept = {
            r["doc_id"]
            for r in spark.read.parquet(
                os.path.join(state, "curated")
            ).collect()
        }
        results[mode] = (kept, counters)

    kept_t, counters_t = results[True]
    kept_f, counters_f = results[False]
    assert kept_t == kept_f
    assert counters_t == counters_f
    # the scenario really was clone-heavy and store-exercising:
    # 12 reps kept from b0 (min id of each clone group), the near-dup
    # and junk dropped, b1's clones all suppressed by the hash store
    assert counters_t[0]["kept"] == 12
    assert counters_t[1]["kept"] == 2
