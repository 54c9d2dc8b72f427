"""The fold-stream runtime: one Structured Streaming driver for every
incremental store.

An incremental operator (``incremental_line_dedup``,
``incremental_bm25_index``, ``fold_into_ivf_index``,
``curate.curate_batch`` ...) is a *fold*: it takes one batch of new
rows, reads its persisted store, and appends what the batch adds.
:func:`run_fold_stream` runs such a fold under ``foreachBatch`` with
an ``availableNow`` trigger, so a file feed drains through the store
one micro-batch at a time and the query stops at the end of the
backlog.

Exactly-once, argued once for every store: Structured Streaming
delivers each micro-batch at least once — a crash between the fold
and the checkpoint commit replays the batch under the same batch id.
Every fold is idempotent on replay (its docstring gives the reason: a
content digest, an id anti-join, a minimum that composes), and the
optional per-batch output lands in its own ``__batch_id`` partition
under dynamic overwrite (:func:`write_batch_output`), so a replay
rewrites that partition instead of duplicating it.  At-least-once
delivery of an idempotent fold is exactly-once store state.

Feed ORDER is the fold's business, not the runtime's: the causal
first-arrival stores (line / substring dedup, curation) reproduce
their batch operators only over an id-ordered feed, while the
order-free ones (DF sums, min-composing labels and distances, id
identity) take any batching.  :func:`write_ordered_feed` builds a feed
whose file order is the frame order.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# drain() bounds: a HANG guard, not a timing assertion.  The idle
# clock resets whenever a micro-batch completes, so a slow but live
# drain on a loaded host never trips it (a 60 s solo drain once
# outlasted a fixed 600 s bound under 4-way test-shard contention).
DRAIN_POLL_S = 10.0
DRAIN_IDLE_S = 600.0
DRAIN_MAX_S = 3000.0


def write_batch_output(
    out: DataFrame, batch_id: int, out_path: str
) -> None:
    """Idempotent per-batch output write: the batch's rows land in
    their own ``__batch_id`` partition under dynamic partition
    overwrite, so replaying the same batch id rewrites that partition
    instead of appending duplicates."""
    (
        out.withColumn("__batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(out_path)
    )


def write_ordered_feed(feed: str, frames) -> None:
    """Write a streaming FEED: one file per frame under ``feed``, with
    strictly increasing mtimes pinned on exactly the files each write
    created, so a ``maxFilesPerTrigger=1`` file stream takes frame
    ``i`` as trigger ``i`` (the file source orders by mtime; unpinned,
    files written within one clock tick drain in arbitrary order).  A
    frame is a DataFrame (one parquet file) or a list of records (one
    JSON-lines file ``b<i>.json``, the oplog feed shape)."""
    os.makedirs(feed, exist_ok=True)
    for i, frame in enumerate(frames):
        before = set(os.listdir(feed))
        if isinstance(frame, DataFrame):
            frame.coalesce(1).write.mode("append").parquet(feed)
        else:
            with open(os.path.join(feed, f"b{i}.json"), "w") as fh:
                fh.writelines(json.dumps(r) + "\n" for r in frame)
        for name in set(os.listdir(feed)) - before:
            os.utime(
                os.path.join(feed, name), (1_600_000_000 + i * 60,) * 2
            )


def run_fold_stream(
    stream: DataFrame,
    fold: Callable[[DataFrame, int], Optional[DataFrame]],
    *,
    checkpoint: str,
    out: Optional[str] = None,
):
    """Start an ``availableNow`` query that calls
    ``fold(batch_df, batch_id)`` once per micro-batch.  When ``out``
    is given, the frame the fold returns is written to
    ``out/__batch_id=<id>`` (:func:`write_batch_output`).  Returns the
    started query; wait for it with :func:`drain`."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        res = fold(batch_df, batch_id)
        if out is not None:
            write_batch_output(res, batch_id, out)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def drain(q) -> None:
    """Block until streaming query ``q`` terminates.

    ``q.awaitTermination(t)`` returns ``False`` on timeout without
    raising, so a bare bounded wait falls through to reads of a
    half-drained store (and an unbounded one hangs forever on a wedged
    stream).  Here the query is stopped and ``TimeoutError`` raised
    when no micro-batch completes for ``DRAIN_IDLE_S`` seconds or the
    drain runs past ``DRAIN_MAX_S``; a query that failed re-raises its
    error from ``awaitTermination``."""
    t0 = time.time()
    last_key = None
    last_change = t0
    while not q.awaitTermination(DRAIN_POLL_S):
        now = time.time()
        p = q.lastProgress
        key = (p.get("batchId"), p.get("timestamp")) if p else None
        if key != last_key:
            last_key = key
            last_change = now
        if now - last_change > DRAIN_IDLE_S:
            q.stop()
            raise TimeoutError(
                f"stream made no progress for {DRAIN_IDLE_S:.0f}s "
                f"(last progress: {last_key})"
            )
        if now - t0 > DRAIN_MAX_S:
            q.stop()
            raise TimeoutError(
                f"stream still running after {DRAIN_MAX_S:.0f}s"
            )
