"""Streaming transition-matrix maintenance — the continuous twin of
``operators/sessions.transition_counts``.

Per-user state is ONE event: the latest ``(ts, id)`` seen.  Each
micro-batch sorts the user's new events by ``(ts, id)``, chains them
onto the stored last event, and emits the resulting ``(prev, next)``
transition INCREMENTS stamped with a per-user monotonically
increasing ``version`` — the same append-only-changelog shape the
heavy-hitters sketch uses, so a replayed trigger re-emits its version
and the snapshot's distinct-by-version read absorbs it.

Out-of-order arrivals: an event strictly older than the stored last
event cannot be spliced into an already-emitted chain; it is DROPPED
and surfaced in the ``late`` counter (watermark semantics — the batch
operator, which sees all events at once, has no such case).  When the
stream delivers each user's events in timestamp order across batches
(or the whole table drains in one availableNow batch), the summed
increments equal ``transition_counts`` exactly — the property the
registry query checks against the batch oracle and
``tests`` pin across multi-batch splits.

State size: one ``(ts, id, type)`` triple per user — independent of
stream length.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = ["run_streaming_transitions", "transitions_snapshot"]

_STATE_SCHEMA = "last_ts long, last_id long, last_type string, version long"
_OUT_SCHEMA = (
    "user_id long, version long, prev_state string, next_state string, "
    "n long, late long"
)


def _fold():
    def func(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        batches = [p for p in pdfs if len(p)]
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True).sort_values(
            ["ts_ms", "event_id"], kind="mergesort"
        )
        if state.exists:
            last_ts, last_id, last_type, version = state.get
            last_ts, last_id, version = (
                int(last_ts), int(last_id), int(version),
            )
        else:
            last_ts, last_id, last_type, version = None, None, None, 0

        counts: dict[tuple[str, str], int] = {}
        late = 0
        for ts, eid, etype in zip(
            pdf["ts_ms"], pdf["event_id"], pdf["event_type"]
        ):
            ts, eid = int(ts), int(eid)
            if last_ts is not None and (ts, eid) < (last_ts, last_id):
                late += 1
                continue
            if last_type is not None:
                pair = (last_type, etype)
                counts[pair] = counts.get(pair, 0) + 1
            last_ts, last_id, last_type = ts, eid, etype

        version += 1
        state.update((last_ts, last_id, last_type, version))
        user = int(key[0])
        n = len(counts)
        if n == 0 and late == 0:
            return
        if n == 0:
            # nothing but late events: still emit one bookkeeping row
            yield pd.DataFrame(
                {
                    "user_id": [user],
                    "version": [version],
                    "prev_state": [None],
                    "next_state": [None],
                    "n": [0],
                    "late": [late],
                }
            )
            return
        yield pd.DataFrame(
            {
                "user_id": [user] * n,
                "version": [version] * n,
                "prev_state": [p for p, _ in counts],
                "next_state": [q for _, q in counts],
                "n": list(counts.values()),
                "late": [late] + [0] * (n - 1),
            }
        )

    return func


def run_streaming_transitions(
    spark: SparkSession,
    stream_df: DataFrame,
    sink_path: str,
    checkpoint_dir: str,
):
    """Maintain per-user last-event state over an event stream and
    append ``(prev, next)`` transition increments to a parquet
    changelog.  ``stream_df`` needs ``user_id, event_id, ts_ms,
    event_type`` columns.  The query drains the current backlog
    (``availableNow``) and stops."""
    ev = stream_df.select("user_id", "event_id", "ts_ms", "event_type")
    inc = ev.groupBy("user_id").applyInPandasWithState(
        _fold(),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        inc.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def transitions_snapshot(
    spark: SparkSession, sink_path: str
) -> DataFrame:
    """Sum the increment changelog into the corpus transition matrix
    ``(prev_state, next_state, n)``; replayed-trigger duplicates are
    absorbed by distinct-on-(user, version, pair) before the sum, and
    the late-event total is available via :func:`late_events_total`."""
    log = spark.read.parquet(sink_path)
    return (
        log.filter(F.col("prev_state").isNotNull())
        .dropDuplicates(["user_id", "version", "prev_state", "next_state"])
        .groupBy("prev_state", "next_state")
        .agg(F.sum("n").alias("n"))
    )


def late_events_total(spark: SparkSession, sink_path: str) -> int:
    # each version stores its late count on exactly one row (the rest
    # carry 0), so dedup on the full (user, version, pair) key — the
    # same replay-absorbing read the snapshot uses — then sum
    log = spark.read.parquet(sink_path)
    row = (
        log.dropDuplicates(
            ["user_id", "version", "prev_state", "next_state"]
        )
        .agg(F.sum("late").alias("late"))
        .first()
    )
    return int(row["late"] or 0)
