"""One materialize-and-measure primitive for iterative operators.

Every fold in this engine alternates "sever the plan" (localCheckpoint
— lineage truncation keeps Catalyst's per-round planning cost bounded)
with "what did it hold?" (a count, an emptiness flag, a max: they drive
early exit, params counters and resume points).  Done naively that is
a checkpoint job plus a separate probe, and a DataFrame aggregate is
itself a partial+final pair that AQE executes as two jobs.

At the scale this engine benches (wave-sized frames, hundreds of
micro-jobs per query) the per-job fixed cost — scheduler latency plus
the driver's inter-job think time — dominates, so the job count IS the
cost model.  ``checkpoint_with`` asks the checkpoint's own job for the
aggregates: Spark's observed metrics (``Dataset.observe``) are computed
while the plan runs and delivered when the action that ran it ends.
An eager ``localCheckpoint`` is such an action, so the frame and its
measurements come from one materialization: one job on a narrow
frame, the plan's own shuffle stages on a wider one, never a probe job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation

__all__ = ["checkpoint_with", "release_checkpoint"]


def checkpoint_with(
    df: DataFrame, **aggs: Column
) -> tuple[DataFrame, dict]:
    """Eagerly local-checkpoint ``df`` and return ``(checkpointed_df,
    metrics)``, where ``metrics`` maps each keyword to its aggregate
    over the rows the checkpoint materialized, e.g.
    ``checkpoint_with(df, n=F.count("*"), top=F.max("ts"))``.  On an
    empty frame ``count`` is 0 and the other aggregates are None, as
    with ``df.agg(...).head()``.  An error raised while the plan runs
    propagates from that one action."""
    obs = Observation()
    out = df.observe(
        obs, *(col.alias(name) for name, col in aggs.items())
    ).localCheckpoint(eager=True)
    # read only after the action returned: ``get`` blocks until the
    # observed action finishes, and forever if it failed
    return out, obs.get


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks behind a ``localCheckpoint``-ed frame now
    instead of whenever the JVM garbage-collects it.
    ``DataFrame.unpersist`` does not reach them: they belong to the
    checkpointed RDD under the frame's ``LogicalRDD`` plan."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)
