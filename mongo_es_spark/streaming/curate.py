"""Streaming incremental curation: the training-data pipeline run as
a continuous ingestion loop instead of a corpus-wide batch.

Batch curation (queries.pipeline_curate) re-reads the whole corpus:
quality -> near-dedup -> mix -> pack.  At 100 TB with a live feed that
is unaffordable per day, let alone per micro-batch.  This module
splits the pipeline by its state requirements:

* **quality filter** — stateless, runs per micro-batch as-is;
* **exact dedup** — a persisted content-hash store; new docs anti-join
  against it (work ~ |batch|, the store side prunes to matching
  hash partitions under a hash-partitioned layout);
* **near dedup** — the persisted MinHash signature store
  (operators/dedup.incremental_minhash_pairs): band-join probes only
  the new side, work ~ |batch| x collision rate;
* **mix + pack** — inherently global (rates depend on group totals),
  so they stay a *periodic* batch step (:func:`rebalance`) over the
  accumulated curated set.  Continuous filter/dedup + periodic
  re-balance is the architecture, not a limitation: a pack offset
  changes every time anything upstream changes, so packing
  incrementally would rewrite history anyway.

Dedup semantics across time are **first-arrival-wins** (a new doc
near-duplicating anything that arrived earlier — kept or itself
dropped — is dropped; chains suppress transitively through the
signature store), which is the only causal policy an append-only
sink permits.  Batch min-id-wins and streaming first-wins agree
whenever ids arrive in order; the parity test pins that case, the
unit tests pin the divergent one.

Restart/replay safety: every store append is anti-joined on content
hash or doc id, so re-processing a delivered-twice micro-batch is a
no-op — at-least-once delivery composes into exactly-once state, the
same idempotence story as the CDC sink (SURVEY §7 hard part c).

Streamed, :func:`curate_batch` is the fold of
:func:`~mongo_es_spark.streaming.fold.run_fold_stream`::

    run_fold_stream(
        stream, lambda b, _: curate_batch(spark, b, state_dir),
        checkpoint=ckpt,
    )
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import incremental_minhash_pairs
from ..operators.text import (
    quality_features,
    token_count_col,
    pack_sequences,
    temperature_sample,
)
from ..sparkutil import checkpoint_with

__all__ = ["curate_batch", "rebalance"]


def _hash_store(state_dir: str) -> str:
    return os.path.join(state_dir, "hashes")


def _sig_store(state_dir: str) -> str:
    return os.path.join(state_dir, "sigs")


def _curated(state_dir: str) -> str:
    return os.path.join(state_dir, "curated")


def _read_or_none(spark: SparkSession, path: str):
    # missing/empty -> None; any OTHER read failure raises (treating
    # a transient storage error as "no store yet" would dedup the
    # batch against nothing and re-append stored hashes)
    from ..storeio import read_parquet_if_exists

    return read_parquet_if_exists(spark, path)


def curate_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_threshold: float = 0.52,
    jaccard_threshold: float = 0.8,
    scrub_blocklist: tuple[str, ...] | None = None,
    collapse: bool | None = None,
) -> dict:
    """Run one micro-batch through [scrub ->] quality -> exact-dedup
    -> near-dedup and append survivors to ``state_dir/curated``.

    ``scrub_blocklist`` switches on the stateless PII/blocklist
    redaction stage (operators/text.scrub_text) ahead of everything
    else — quality scores, content hashes, and signatures then all see
    the REDACTED text, so two docs differing only in scrubbed spans
    deduplicate as the same content (the behavior a privacy pass
    wants).

    Returns counters for observability.  Safe to replay: content
    hashes already in the store make a re-delivered batch a no-op.
    """
    # cache the batch: the quality pipeline, the counter, and the
    # survivor join all re-scan it otherwise (guide §5 — reused and
    # cheap to hold; micro-batches are bounded by the trigger)
    batch_df = _cached_batch = batch_df.persist()
    n_in = batch_df.count()
    if n_in == 0:
        _cached_batch.unpersist()
        return {"in": 0, "quality": 0, "fresh": 0, "kept": 0}

    if scrub_blocklist is not None:
        from ..operators.text import scrub_text

        clean = scrub_text(
            batch_df, id_col, text_col, blocklist=scrub_blocklist
        ).select(id_col, "clean_text")
        batch_df = (
            batch_df.drop(text_col)
            .join(clean, id_col)
            .withColumnRenamed("clean_text", text_col)
        )

    # 1. stateless quality gate.  Persisted: the frame feeds both the
    # n_quality counter and the exact-dedup lineage — without the cache
    # the scan + feature pipeline runs twice per micro-batch.
    # Clone-collapse is ADAPTIVE (collapse=None): tiny per-trigger
    # batches measured ~40% slower with it (pure overhead), while a
    # clone-heavy ingest batch (re-crawl, mirrored feed) pays feature
    # evaluation per clone without it — n_in is already counted, so
    # size decides.  Note the LATER stages are clone-immune by
    # construction: exact dedup (stage 2) removes every within-batch
    # clone before the signature store ever sees the batch.
    if collapse is None:
        collapse = n_in >= 20_000
    feats = quality_features(
        batch_df, id_col, text_col, collapse=collapse
    )
    passed = batch_df.join(
        feats.filter(F.col("quality_score") >= quality_threshold).select(
            id_col
        ),
        id_col,
    ).persist()

    # 2. exact dedup: within-batch keep-min, then anti-join the
    # persisted content-hash store (pin its file listing BEFORE any
    # append this batch makes)
    hashed = passed.withColumn("__h", F.md5(F.col(text_col)))
    w = Window.partitionBy("__h")
    first = (
        hashed.withColumn("__m", F.min(F.col(id_col)).over(w))
        .filter(F.col("__m") == F.col(id_col))
        .drop("__m")
    )
    old_hashes = _read_or_none(spark, _hash_store(state_dir))
    if old_hashes is not None:
        first = first.join(
            old_hashes.select(F.col("h").alias("__h")), "__h", "left_anti"
        )
    # materialize: `first` feeds three consumers and must be fixed
    # before this batch appends to the stores it was derived from.
    # The same job yields the n_fresh counter (guide §1.2 — the fold's
    # cost here is job count).
    fresh, m = checkpoint_with(first, n=F.count("*"))
    n_fresh = m["n"]
    n_quality = passed.count()

    # 3. near dedup vs the signature store.  ALL fresh docs enter the
    # store (kept or dropped) so chains keep suppressing later copies.
    # A missing store is handled inside incremental_minhash_pairs (the
    # first batch creates it) — no seed write here.
    sig_path = _sig_store(state_dir)
    pairs = incremental_minhash_pairs(
        spark,
        fresh.select(id_col, text_col),
        id_col,
        text_col,
        sig_path,
        threshold=jaccard_threshold,
    )
    fresh_ids = fresh.select(F.col(id_col).alias("doc"))
    fi = fresh_ids.select(
        F.col("doc").alias("i"), F.lit(True).alias("__ni")
    )
    fj = fresh_ids.select(
        F.col("doc").alias("j"), F.lit(True).alias("__nj")
    )
    # pairs have i < j; the later arrival loses: only-i-new -> i is
    # the newcomer (j is an earlier-arrived store doc); otherwise j
    # (both-new ties break to the smaller id, matching batch keep-min)
    drops = (
        pairs.join(fi, "i", "left")
        .join(fj, "j", "left")
        .select(
            F.when(
                F.col("__ni").isNotNull() & F.col("__nj").isNull(),
                F.col("i"),
            )
            .otherwise(F.col("j"))
            .alias("doc")
        )
        .distinct()
    )
    kept, m = checkpoint_with(
        fresh.join(
            drops.withColumnRenamed("doc", id_col), id_col, "left_anti"
        ),
        n=F.count("*"),
    )
    n_kept = m["n"]
    passed.unpersist()

    # 4. idempotent appends
    kept.drop("__h").write.mode("append").parquet(_curated(state_dir))
    fresh.select(
        F.col(id_col).alias("doc"), F.col("__h").alias("h")
    ).write.mode("append").parquet(_hash_store(state_dir))
    _cached_batch.unpersist()

    return {
        "in": n_in,
        "quality": n_quality,
        "fresh": n_fresh,
        "kept": n_kept,
    }


def rebalance(
    spark: SparkSession,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    alpha: float = 0.5,
    max_tokens: int = 2048,
) -> DataFrame:
    """The periodic global step: temperature-mix the accumulated
    curated set over ``group_col`` and pack it into training
    sequences.  Run after a backfill drain or on a schedule — its
    inputs are group totals, which no per-batch view can know."""
    cur = spark.read.parquet(_curated(state_dir)).withColumn(
        "n_tokens", token_count_col(F.col(text_col)).cast("long")
    )
    sampled = temperature_sample(cur, id_col, group_col, alpha=alpha)
    mixed = cur.join(sampled.select(id_col), id_col, "left_semi")
    return pack_sequences(mixed, id_col, "n_tokens", max_tokens=max_tokens)
