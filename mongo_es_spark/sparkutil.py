"""One-job materialization helpers for iterative operators.

Every fold in this engine alternates "sever the plan" (localCheckpoint
— lineage truncation keeps Catalyst's per-round planning cost bounded)
with "how big was it?" (count / isEmpty drives early exit and
observability counters).  Done naively that is TWO scheduler round
trips per round:

* ``localCheckpoint(eager=True)`` runs one job (an internal
  ``RDD.count()`` — no AQE, single stage), then
* ``df.count()`` / ``df.isEmpty()`` runs a second — and a DataFrame
  ``count()`` is itself a partial+final aggregate that AQE executes as
  TWO jobs (shuffle-map stage + result stage).

At the scale this engine benches (wave-sized frames, hundreds of
micro-jobs per query) the per-job fixed cost — scheduler latency plus
the driver's inter-job think time — dominates, so the job count IS the
cost model.  ``sever_count`` fuses the pair: mark the plan for a lazy
local checkpoint, then count the BACKING RDD in the JVM.  The RDD
count is one single-stage job with no AQE re-planning; computing every
partition materializes the checkpoint (Spark truncates lineage at job
end), and the count comes back for free.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

__all__ = ["release_checkpoint", "sever_count"]


def sever_count(df: DataFrame) -> tuple[DataFrame, int]:
    """Local-checkpoint ``df`` and return ``(severed_df, row_count)``
    in ONE Spark job (vs three for eager-checkpoint + DataFrame
    count).  Falls back to the public two-job path only when the
    internal RDD handle is unavailable (e.g. Spark Connect: no
    ``_jdf``, or a JVM without the method); an error raised while the
    count runs propagates instead of re-running the plan."""
    out = df.localCheckpoint(eager=False)
    try:
        rdd = out._jdf.queryExecution().toRdd()
    except (AttributeError, Py4JError):
        out = df.localCheckpoint(eager=True)
        return out, int(out.count())
    # JVM-side count over the checkpoint-marked internal RDD: single
    # stage, no Python row traffic, materializes the checkpoint as a
    # side effect.
    return out, int(rdd.count())


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks behind a ``localCheckpoint``-ed frame now
    instead of whenever the JVM garbage-collects it.
    ``DataFrame.unpersist`` does not reach them: they belong to the
    checkpointed RDD under the frame's ``LogicalRDD`` plan."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)
