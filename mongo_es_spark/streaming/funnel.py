"""Streaming conversion-funnel maintenance — the continuous twin of
``operators/sessions.funnel``.

Per-user state is the funnel itself: the earliest completion time of
each step (step ``i`` strictly after the recorded step ``i-1``), plus
the ``(ts, id)`` high-water mark and a version counter.  Each
micro-batch sorts the user's new events by ``(ts, id)``, advances the
step times greedily, and emits the user's CURRENT funnel row stamped
with the bumped version — a latest-wins changelog (the snapshot takes
each user's max version), unlike the transitions module's summed
increments, because funnel state is absolute, not additive.

Greedy-incremental equals the batch operator's greedy-earliest
whenever each user's events arrive in timestamp order across batches:
the first qualifying event per step IS the minimum.  Out-of-order
arrivals behind the high-water mark cannot be spliced into an
already-published funnel; they are DROPPED and surfaced in the
``late`` counter (watermark semantics, exactly the transitions
policy).  The registry query drains a ts-ordered feed and checks the
snapshot against the batch query's own cross-engine oracle.

State size: ``n_steps + 3`` longs per user — independent of stream
length.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = ["run_streaming_funnel", "funnel_snapshot"]


def _fold(steps: tuple[str, ...]):
    n_steps = len(steps)

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
            st = state.get
            times = [None if t is None else int(t) for t in st[:n_steps]]
            last_ts, last_id, version = st[n_steps:]
            last_ts = None if last_ts is None else int(last_ts)
            last_id = None if last_id is None else int(last_id)
            version = int(version)
        else:
            times = [None] * n_steps
            last_ts, last_id, version = None, None, 0

        late = 0
        for ts, eid, etype in zip(
            pdf["ts_ms"], pdf["event_id"], pdf["event_type"]
        ):
            ts, eid = int(ts), int(eid)
            if last_ts is not None and (ts, eid) < (last_ts, last_id):
                late += 1
                continue
            last_ts, last_id = ts, eid
            for i, step in enumerate(steps):
                if times[i] is not None:
                    continue
                if etype == step and (
                    i == 0 or (times[i - 1] is not None
                               and ts > times[i - 1])
                ):
                    times[i] = ts
                break  # each event advances at most the first open step

        version += 1
        state.update((*times, last_ts, last_id, version))
        row = {"user_id": [int(key[0])], "version": [version]}
        for i in range(n_steps):
            row[f"step{i + 1}_ms"] = [times[i]]
        row["late"] = [late]
        yield pd.DataFrame(row)

    return func


def run_streaming_funnel(
    spark: SparkSession,
    stream_df: DataFrame,
    steps: tuple[str, ...],
    sink_path: str,
    checkpoint_dir: str,
):
    """Maintain per-user funnel state over an event stream and append
    latest-wins funnel rows to a parquet changelog.  ``stream_df``
    needs ``user_id, event_id, ts_ms, event_type`` columns.  The query
    drains the current backlog (``availableNow``) and stops."""
    step_cols = ", ".join(
        f"step{i + 1}_ms long" for i in range(len(steps))
    )
    out_schema = f"user_id long, version long, {step_cols}, late long"
    state_cols = ", ".join(f"s{i} long" for i in range(len(steps)))
    state_schema = f"{state_cols}, last_ts long, last_id long, version long"
    ev = stream_df.select("user_id", "event_id", "ts_ms", "event_type")
    rows = ev.groupBy("user_id").applyInPandasWithState(
        _fold(steps),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        rows.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def funnel_snapshot(
    spark: SparkSession, sink_path: str, n_steps: int
) -> DataFrame:
    """Latest-wins snapshot of the funnel changelog: each user's max
    version row, restricted (like the batch operator) to users that
    reached step 1."""
    log = spark.read.parquet(sink_path)
    latest = log.groupBy("user_id").agg(F.max("version").alias("version"))
    snap = log.join(latest, ["user_id", "version"])
    step_cols = [f"step{i + 1}_ms" for i in range(n_steps)]
    return (
        snap.filter(F.col("step1_ms").isNotNull())
        .select(
            "user_id",
            *step_cols,
            F.col(f"step{n_steps}_ms").isNotNull().alias("converted"),
        )
    )
