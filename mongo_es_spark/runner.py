"""Orchestrator + CLI (C6/C7): config JSON in, running pipelines out.

Mirrors the reference's ``run()`` (src/index.ts:7-39): DDL bootstrap,
checkpoint load, then per task an optional scan (backfill batch job)
followed by the endless tail (streaming query).  Divergence by design:
batch load errors FAIL the query (Spark retry semantics) instead of
being warned-and-skipped (reference: src/processor.ts:322-324 risks
silent data loss — SURVEY §2 failure-handling note).
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import SparkSession

from pyspark.sql import functions as F

from .config import Config, Task, read_config
from .session import get_spark
from .sources.cdc import file_oplog_stream, kafka_oplog_stream
from .sources.mongo import mongo_change_stream, mongo_collection
from .streaming.sink import EsBulkSink, ParquetIndexSink, init_indices
from .streaming.tail import run_scan, run_tail


def _file_root(url: str) -> str | None:
    """``file:///path`` MongoDB URLs select the file-based sources:
    ``<root>/<db>.<collection>.parquet`` as the collection and
    ``<root>/oplog/`` as the CDC feed — the same downstream plan as the
    connector path, runnable without a cluster."""
    return url[len("file://"):] if url.startswith("file://") else None


def _kafka_parts(url: str) -> tuple[str, str] | None:
    """``kafka://host:9092,host2:9092/topic`` selects the Kafka CDC
    transport for the tail phase (tail-only: a topic carries changes,
    not a scannable collection)."""
    if not url.startswith("kafka://"):
        return None
    servers, _, topic = url[len("kafka://"):].partition("/")
    return servers, topic


def _file_collection(spark: SparkSession, root: str, task: Task, checkpoint):
    path = os.path.join(
        root, f"{task.extract.db}.{task.extract.collection}.parquet"
    )
    df = spark.read.parquet(path)
    if task.extract.projection:
        heads = dict.fromkeys(
            ["_id"]
            + [
                p.split(".")[0]
                for p, keep in task.extract.projection.items()
                if keep
            ]
        )
        df = df.select(*[c for c in heads if c in df.columns])
    if (
        checkpoint
        and checkpoint.phase == "scan"
        and checkpoint.id not in ("", "000000000000000000000000")
    ):
        df = df.filter(F.col("_id") >= checkpoint.id)
    return df


def run(
    config: Config,
    spark: SparkSession | None = None,
    work_dir: str = "/tmp/mongo-es-spark",
    await_termination: bool = True,
    available_now: bool = False,
):
    """Run every configured task: scan if needed, then tail.

    ``available_now=True`` drains the CDC feed and stops instead of
    tailing forever — bounded runs for tests and backfills.
    """
    spark = spark or get_spark()
    es_hosts = (config.elasticsearch.options or {}).get("host", "")
    suffix = config.controls.index_name_suffix
    if es_hosts:
        init_indices(
            f"http://{es_hosts}",
            config.elasticsearch.indices,
            suffix,
            tasks=config.tasks,
        )

    file_root = _file_root(config.mongodb.url)
    kafka = _kafka_parts(config.mongodb.url)
    queries = []
    for task in config.tasks:
        loaded = Task.load_checkpoint(task.name())
        if loaded is not None:
            task.from_ = loaded

        if kafka is not None and task.from_.phase == "scan":
            raise RuntimeError(
                f"task {task.name()}: a kafka:// source is tail-only — "
                "backfill from a collection source first (file:// or "
                "mongodb://), then resume with phase='tail'"
            )

        if es_hosts:
            sink = EsBulkSink(
                f"http://{es_hosts}",
                task.load.index + suffix,
                task.load.type or "_doc",
                config.controls.elasticsearch_bulk_size,
                # parent-routed docs aren't addressable via _mget — the
                # lookup side switches to the terms search (J2)
                parent_routing=bool(task.transform.parent),
            )
        else:
            sink = ParquetIndexSink(
                os.path.join(work_dir, "index", task.name())
            )
        si = task.load.search_index
        if si:
            # config-declared search index (load.searchIndex): the
            # doc sink is wrapped so every scan chunk / tail batch
            # ALSO folds into the incremental BM25 store — the ES
            # analyzed-field mapping as a first-class load target
            from .streaming.sink import SearchIndexedSink

            sink = SearchIndexedSink(
                sink,
                si.get("path")
                or os.path.join(work_dir, "search", task.name()),
                text_field=si["textField"],
                field_cols=tuple(si.get("fields", ())),
                maintain=si.get("maintain"),
                analyzer=si.get("analyzer"),
            )

        source_df = None
        if file_root is not None:
            source_df = _file_collection(spark, file_root, task, task.from_)
        elif kafka is None:
            # mongodb:// — J3: sink-miss patch-updates re-read the
            # source collection (reference src/mongodb.ts:61-104, the
            # batched $in fallback).  checkpoint=None on purpose: the
            # lookup wants the whole collection, not the scan-resume
            # slice.
            source_df = mongo_collection(spark, config.mongodb.url, task, None)

        di = task.load.dense_index
        dense_store = (
            (di.get("path")
             or os.path.join(work_dir, "dense", task.name()))
            if di
            else None
        )

        if task.from_.phase == "scan":
            if file_root is not None:
                source = source_df
            else:
                # the scan read is separate from the lookup read: it
                # carries the _id >= checkpoint resume pushdown
                source = mongo_collection(
                    spark, config.mongodb.url, task, task.from_
                )
            run_scan(spark, task, source, sink, controls=config.controls)
            if di:
                # the IVF coarse quantizer trains on the backfilled
                # snapshot (the reference's scan-then-tail order);
                # read the TARGET-shaped state back from the doc sink
                # so this works identically in every source mode
                from .operators.similarity import materialize_ivf_index

                state = sink.read_state(spark)
                materialize_ivf_index(
                    state.select(
                        F.col("_id")
                        .cast(di.get("idCast", "long"))
                        .alias("vec_id"),
                        # sink state keeps the IR payload as a struct
                        F.col(f"data.`{di['vecField']}`")
                        .cast("array<double>")
                        .alias("v"),
                    ),
                    "vec_id", "v", dense_store,
                    n_cells=int(di.get("nCells", 16)),
                )
        elif di:
            # probe through the same storage layer the store readers
            # use — os.path.isdir would wrongly fail a non-local
            # load.denseIndex.path URI even when the store is present
            from .storeio import read_parquet_if_exists

            if read_parquet_if_exists(
                spark, os.path.join(dense_store, "centroids")
            ) is None:
                raise RuntimeError(
                    f"task {task.name()}: load.denseIndex declared but "
                    f"no IVF store at {dense_store} — the quantizer "
                    "trains on the scan snapshot; backfill with "
                    "phase='scan' first"
                )
        if di:
            from .streaming.sink import DenseIndexedSink

            sink = DenseIndexedSink(
                sink,
                dense_store,
                vec_field=di["vecField"],
                id_cast=di.get("idCast", "long"),
                maintain=di.get("maintain"),
            )

        if file_root is not None:
            stream = file_oplog_stream(
                spark,
                os.path.join(file_root, "oplog"),
                task,
                task.from_,
                max_files_per_trigger=config.controls.max_files_per_trigger,
            )
        elif kafka is not None:
            stream = kafka_oplog_stream(
                spark, kafka[0], kafka[1], task, task.from_
            )
        else:
            stream = mongo_change_stream(
                spark, config.mongodb.url, task, task.from_
            )
        queries.append(
            run_tail(
                spark,
                task,
                config.controls,
                stream,
                sink,
                source_df=source_df,
                hints=task.hints or None,
                checkpoint_dir=os.path.join(work_dir, "ckpt", task.name()),
                available_now=available_now,
            )
        )
    if await_termination and queries:
        if available_now:
            for q in queries:
                q.awaitTermination()
        else:
            spark.streams.awaitAnyTermination()
    return queries


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(
        prog="mongo-es-spark",
        description="replicate MongoDB collections into Elasticsearch "
        "indices on Spark (scan + oplog tail)",
    )
    parser.add_argument("config", help="task-pipeline config JSON")
    parser.add_argument("--work-dir", default="/tmp/mongo-es-spark")
    args = parser.parse_args(argv)
    run(read_config(args.config), work_dir=args.work_dir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
