"""Parquet table access for the test fixtures (TESTDATA.md tables).

These parquet tables stand in for the reference's MongoDB collections
(S1 collection-scan source) in tests and benchmarks.  A real deployment
would swap in the Spark MongoDB connector behind the same interface
(see sources/mongo.py); everything downstream is source-agnostic
DataFrames.

Gotcha handled here: ``events.parquet``'s ``ts`` column has shipped
as TIMESTAMP(NANOS) in some fixture generations and TIMESTAMP(MICROS)
in others.  Downstream code wants one stable shape: plain nanosecond
longs (the cheapest representation for the CDC ``ts`` ordering key —
no timezone semantics to drag around).  NANOS becomes a long via
``spark.sql.legacy.parquet.nanosAsLong``; MICROS arrives as a
timestamp type and is converted with ``unix_micros`` (session tz
pinned to UTC, so TIMESTAMP_NTZ values are taken at face value).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def prepare_session(spark: SparkSession) -> SparkSession:
    """Session settings required for deterministic, portable reads.

    Runtime-settable, so this works on any caller-provided session
    (the correctness driver constructs its own).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the engine re-expresses JS/lodash/BSON semantics: nulls flow and
    # arithmetic wraps instead of raising (Spark 4 defaults to ANSI)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    return spark


# schema cache for the fixture tables: every schemaless
# ``spark.read.parquet`` pays a footer-inference pass (~100-130 ms on a
# warm session — measured; ~29 ms with the schema pinned), and the
# fixtures are read once or twice by nearly every registry query.  The
# key carries the path's (mtime_ns, size), so a fixture overwritten in
# place (test-local tmp dirs) re-infers.  Inference runs under ``prepare_session``'s
# nanosAsLong/UTC settings, which every caller of this module applies,
# so a cached schema is what a fresh inference would produce.
_SCHEMA_CACHE: dict = {}


def _table_stat(path: str):
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size)


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    max_event_ts_ns: int | None = None,
) -> DataFrame:
    prepare_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        key = (os.path.abspath(path), _table_stat(path))
    except OSError:
        key = None
    schema = _SCHEMA_CACHE.get(key) if key is not None else None
    if schema is None:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events":
        if max_event_ts_ns is not None:
            df = _filter_raw_event_ts(df, max_event_ts_ns)
        df = _normalize_event_ts(df)
    return df


def _filter_raw_event_ts(df: DataFrame, max_ts_ns: int) -> DataFrame:
    """Bound ``events.ts`` on the RAW scan column, pre-normalization,
    with a literal matched to the parquet physical type — so the
    predicate lands in ``PushedFilters`` (row-group pruning) whatever
    shape the fixture shipped in.  Filtering after
    ``_normalize_event_ts`` would sit on a derived expression and scan
    the whole oplog — the plan you can't afford at 100 TB.

    Equivalence: fixture timestamps are non-negative and at most
    microsecond resolution, so ``ts_ns <= B`` == ``ts_us <= B div 1000``.
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type in ("timestamp", "timestamp_ntz"):
        bound = F.timestamp_micros(F.lit(max_ts_ns // 1000))
        if ts_type == "timestamp_ntz":
            # constant-folds to an NTZ literal; the column side stays
            # bare so the comparison remains pushable
            bound = bound.cast("timestamp_ntz")
        return df.filter(F.col("ts") <= bound)
    return df.filter(F.col("ts") <= F.lit(max_ts_ns))


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Expose ``events.ts`` as epoch-nanosecond BIGINT whatever the
    parquet physical type was (NANOS -> long via nanosAsLong, already
    done at scan; MICROS -> timestamp[_ntz] handled here).

    NTZ correctness depends on the session timezone being UTC at
    analysis time — ``prepare_session`` pins it before every
    ``load_table`` read, so the dependency holds by construction.
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type in ("timestamp", "timestamp_ntz"):
        df = df.withColumn(
            "ts",
            F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000),
        )
    return df
