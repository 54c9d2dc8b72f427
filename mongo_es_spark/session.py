"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]``; the settings below are the ones that
matter on a real cluster too: AQE for runtime re-planning (skew joins,
dynamic coalescing), Arrow for any Pandas-UDF path, and a shuffle
partition count sized to the environment rather than Spark's legacy 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "mongo-es-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_SQL_SHUFFLE_PARTITIONS", cpus)
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # guide §3.1/§9: let the planner pick shuffled-hash join when
        # its size conditions hold (sort-merge pays two sorts that a
        # hash build skips), and let AQE rewrite a planned sort-merge
        # to shuffled-hash when every post-shuffle partition is small.
        # Both are scale-safe: SMJ remains the fallback whenever the
        # build side could not fit, and the AQE threshold is sized in
        # bytes.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m"
        )
        # guide §2: AQE coalescing targets max(totalBytes/parallelism,
        # minPartitionSize).  The 1m default floor serializes stages
        # whose shuffled BYTES are tiny but whose per-row compute is
        # heavy (char-shingle verify: 4.5s on 2 tasks with 30 slots
        # idle).  A lower floor lets such stages keep ~parallelism
        # tasks; at corpus scale totalBytes/parallelism dominates and
        # the floor never binds, so this is not a local[32] tweak.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k"
        )
        # AQE applies to shuffles under persist()ed plans too (default
        # false keeps a cached plan's output partitioning stable for
        # downstream reuse; nothing here consumes cached partitioning,
        # and without it every cached aggregate pins the full
        # shuffle-partition fan-out regardless of bytes)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        # guide §6/§9: parquet codec for everything this engine WRITES
        # (stores, sinks, checkpointed state).  zstd ~= snappy read
        # speed at a markedly better ratio — smaller store files are
        # fewer bytes on every fold re-read.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Tungsten page size.  Spark derives it from heap and cores
        # (16 MB for a 2g driver on 4 cores), and every broadcast hash
        # relation on a non-long key takes one whole page when an
        # executor deserializes it, however few rows it holds.  Search requests
        # broadcast small relations (query tokens, the live (doc, gen)
        # set), and each page stays in the block manager until the
        # ContextCleaner drops its broadcast after some later GC.
        # 1 MB is Spark's own floor; larger inputs get more pages
        # (records bigger than a page still get a page of their own).
        .config("spark.buffer.pageSize", "1m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # opt-in event log for offline profiling (tools/profile_query.py)
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if ev_dir:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", ev_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    return builder.getOrCreate()
