"""Streaming heavy hitters — the continuous twin of
``operators/text.frequent_tokens``.

The corpus-wide Misra-Gries summary becomes streaming state: tokens
shard by hash into ``n_shards`` keys, and each shard holds ONE
k-counter MG summary in ``applyInPandasWithState`` state, folded
forward every micro-batch.  Because the shards partition the token
space, the global answer is the plain union of shard summaries — no
cross-shard merge math — and each shard's bracket/coverage guarantee
is *tighter* than the batch operator's global one:

* ``count_min <= true count <= count_min + err(shard)`` with
  ``err(shard) <= n_tokens(shard) / (k+1)``;
* any token whose true count exceeds its shard's ``err`` is present.

Every trigger emits the shard's full current summary stamped with a
per-shard monotonically increasing ``version``; the sink is
append-only parquet and :func:`heavy_hitters_snapshot` reads the
latest version per shard — the same "state as a changelog" shape the
CDC sink uses, so replayed triggers simply re-emit a version and
idempotence falls out of the latest-wins read.

State size: ``n_shards x (k counters + one err/version cell)`` —
fixed, independent of stream length.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.text import tokens_col

__all__ = ["run_streaming_heavy_hitters", "heavy_hitters_snapshot"]

_STATE_SCHEMA = (
    "tokens array<string>, counts array<long>, err long, version long"
)
_OUT_SCHEMA = (
    "shard int, version long, token string, cnt long, err long"
)


def _fold(k: int):
    def func(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        batches = [p for p in pdfs if len(p)]
        if not batches:
            return
        if state.exists:
            toks, counts, err, version = state.get
            counters = dict(zip(list(toks), [int(c) for c in counts]))
            err = int(err)
        else:
            counters, err, version = {}, 0, 0

        for pdf in batches:
            for tok, c in pdf["t"].value_counts().items():
                c = int(c)
                if tok in counters:
                    counters[tok] += c
                elif len(counters) < k:
                    counters[tok] = c
                else:
                    while c > 0:
                        m = min(counters.values())
                        d = min(c, m)
                        err += d
                        c -= d
                        dead = []
                        for t2 in counters:
                            counters[t2] -= d
                            if counters[t2] == 0:
                                dead.append(t2)
                        for t2 in dead:
                            del counters[t2]
                        if c > 0 and len(counters) < k:
                            counters[tok] = c
                            c = 0

        version += 1
        state.update((list(counters), list(counters.values()), err, version))
        shard = int(key[0])
        yield pd.DataFrame(
            {
                "shard": [shard] * len(counters),
                "version": [version] * len(counters),
                "token": list(counters),
                "cnt": list(counters.values()),
                "err": [err] * len(counters),
            }
        )

    return func


def run_streaming_heavy_hitters(
    spark: SparkSession,
    stream_df: DataFrame,
    text_col: str,
    sink_path: str,
    checkpoint_dir: str,
    k: int = 64,
    n_shards: int = 8,
):
    """Maintain sharded MG summaries over a text stream; emit each
    shard's current summary per trigger to an append-only parquet
    changelog at ``sink_path``.  The query drains the current backlog
    (``availableNow``) and stops."""
    toks = stream_df.select(
        F.explode(tokens_col(F.col(text_col))).alias("t")
    ).filter(F.length("t") > 0)
    sharded = toks.withColumn(
        "shard", F.pmod(F.xxhash64("t"), F.lit(n_shards)).cast("int")
    )
    summaries = sharded.groupBy("shard").applyInPandasWithState(
        _fold(k),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        summaries.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def heavy_hitters_snapshot(
    spark: SparkSession, sink_path: str, top: int | None = 20
) -> DataFrame:
    """Latest-version-per-shard read of the summary changelog:
    ``token, count_min, count_max`` exactly like the batch operator
    (shards partition tokens, so union IS the merge)."""
    from pyspark.sql import Window

    log = spark.read.parquet(sink_path)
    w = Window.partitionBy("shard")
    latest = log.withColumn(
        "__mx", F.max("version").over(w)
    ).filter(F.col("version") == F.col("__mx"))
    out = latest.select(
        "token",
        F.col("cnt").alias("count_min"),
        (F.col("cnt") + F.col("err")).alias("count_max"),
    )
    if top is None:
        return out
    return out.orderBy(F.col("count_min").desc(), F.col("token")).limit(top)
