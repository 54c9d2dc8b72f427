"""CDC event sources for the tail phase.

The reference tails ``local.oplog.rs`` with a tailable/awaitData cursor
(S2, reference: src/mongodb.ts:44-59).  The Spark-native equivalents:

* production: the Spark MongoDB connector's change-stream source
  (``spark.readStream.format("mongodb")`` with a pipeline filter and
  ``startingTimestamp`` — see sources/mongo.py), or any Kafka/Debezium
  CDC topic;
* tests/benchmarks: a file-based feed of oplog-shaped rows (this
  module) — newline-JSON files appearing in a directory, which
  Structured Streaming consumes incrementally with exactly the same
  downstream plan.

Event row schema (mirrors the reference's OpLog union,
src/types.ts:13-44)::

    ts          long     BSON-style (seconds<<32 | inc), ordering key
    ns          string   "db.collection"
    op          string   'i' | 'u' | 'd'
    id          string   document _id (o._id for i/d, o2._id for u)
    doc         string   JSON: insert doc / full-replace / {"$set":...,
                         "$unset":...} container — kept as JSON so the
                         feed is schema-agnostic like the oplog itself
    fromMigrate boolean  shard-migration marker (filtered, F3)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..config import CheckPoint, Task

OPLOG_SCHEMA = StructType(
    [
        StructField("ts", LongType()),
        StructField("ns", StringType()),
        StructField("op", StringType()),
        StructField("id", StringType()),
        StructField("doc", StringType()),
        StructField("fromMigrate", BooleanType()),
    ]
)


def ms_to_bson_ts(epoch_ms: int) -> int:
    """Epoch milliseconds -> BSON-Timestamp-style long
    ((seconds << 32) | inc, inc = 0).  Checkpoints store epoch ms
    (streaming/tail.py saves the last loaded event's time minus 10 s);
    the oplog ``ts`` column is BSON-encoded, so the resume comparison
    must convert first — the reference does the same via
    ``new Timestamp(0, seconds)`` (src/mongodb.ts:49)."""
    return (epoch_ms // 1000) << 32


def oplog_filters(df: DataFrame, ns: str, since_ts: int = 0) -> DataFrame:
    """F3 — namespace equality, ts watermark, fromMigrate exclusion
    (reference: src/mongodb.ts:46-54).  Applied before any shuffle so
    the predicate reaches the source scan."""
    return df.filter(
        (F.col("ns") == F.lit(ns))
        & (F.col("ts") >= F.lit(since_ts))
        & (F.col("fromMigrate").isNull() | ~F.col("fromMigrate"))
    )


def file_oplog_stream(
    spark: SparkSession,
    path: str,
    task: Task,
    checkpoint: CheckPoint | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming oplog feed from a directory of JSON files.

    ``max_files_per_trigger`` bounds each micro-batch's file count —
    the per-trigger companion to the docs/s token bucket that
    ``run_tail`` applies via ratelimit.py (reference limiter:
    src/processor.ts:31-49).
    """
    reader = spark.readStream.schema(OPLOG_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(path)
    ns = f"{task.extract.db}.{task.extract.collection}"
    since = ms_to_bson_ts(checkpoint.time) if checkpoint else 0
    return oplog_filters(raw, ns, since)


def parse_kafka_oplog(
    records: DataFrame,
    task: Task,
    checkpoint: CheckPoint | None = None,
) -> DataFrame:
    """The wire-to-oplog transformation shared by the Kafka source:
    ``value`` (binary, as the Kafka source emits it) -> JSON parse
    against OPLOG_SCHEMA -> ns/ts/fromMigrate filters.

    Split out from :func:`kafka_oplog_stream` so the parse + filter
    expressions are unit-testable on a batch frame of synthetic
    records without a broker (the same pattern the file feed uses).
    Malformed JSON parses to an all-null struct whose null ``ns``
    fails the namespace equality filter — corrupt records drop out
    instead of poisoning the batch."""
    parsed = records.select(
        F.from_json(F.col("value").cast("string"), OPLOG_SCHEMA).alias("ev")
    ).select("ev.*")
    ns = f"{task.extract.db}.{task.extract.collection}"
    since = ms_to_bson_ts(checkpoint.time) if checkpoint else 0
    return oplog_filters(parsed, ns, since)


def kafka_oplog_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    task: Task,
    checkpoint: CheckPoint | None = None,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Streaming oplog feed from a Kafka/Debezium-style topic carrying
    the same JSON event rows as the file feed — the common production
    CDC transport.  Requires the spark-sql-kafka package on the
    classpath (not bundled here; the wire parsing is unit-tested via
    :func:`parse_kafka_oplog`, and the downstream plan is shared with
    :func:`file_oplog_stream`).
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_kafka_oplog(raw, task, checkpoint)

