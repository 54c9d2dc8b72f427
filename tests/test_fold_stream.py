"""The fold-stream runtime (streaming/fold.py): the ordered-feed
helper's trigger order, drain's hang guard, and the exactly-once
claim under a replayed micro-batch."""

from __future__ import annotations

import os

import pytest

from mongo_es_spark.streaming import fold
from mongo_es_spark.streaming.fold import (
    drain,
    run_fold_stream,
    write_ordered_feed,
)


def test_write_ordered_feed_drains_frames_in_order(spark, tmp_path):

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    marker = os.path.join(feed, "_marker")
    open(marker, "w").close()
    os.utime(marker, (1_234_567_890, 1_234_567_890))
    # frame order deliberately differs from id order
    groups = [list(range(20, 30)), list(range(0, 10)), list(range(10, 20))]
    write_ordered_feed(
        feed,
        [spark.createDataFrame([(i,) for i in g], "id long") for g in groups],
    )
    assert os.path.getmtime(marker) == 1_234_567_890

    seen = []
    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    drain(
        run_fold_stream(
            stream,
            lambda b, bid: seen.append(
                (bid, sorted(r["id"] for r in b.collect()))
            ),
            checkpoint=str(tmp_path / "ckpt"),
        )
    )
    assert seen == list(enumerate(groups))


class _StuckQuery:
    """A query that never terminates; ``progress`` says whether its
    batch id advances on every poll."""

    def __init__(self, progress: bool):
        self.progress = progress
        self.polls = 0
        self.stopped = False

    def awaitTermination(self, timeout):
        self.polls += 1
        return False

    @property
    def lastProgress(self):
        if not self.progress:
            return None
        return {"batchId": self.polls, "timestamp": str(self.polls)}

    def stop(self):
        self.stopped = True


def test_drain_stops_and_raises_when_stream_is_idle(monkeypatch):
    monkeypatch.setattr(fold, "DRAIN_IDLE_S", 0.0)
    q = _StuckQuery(progress=False)
    with pytest.raises(TimeoutError, match="no progress"):
        drain(q)
    assert q.stopped


def test_drain_stops_and_raises_past_max_wait(monkeypatch):
    # a stream that keeps completing batches never trips the idle
    # guard, only the overall bound
    monkeypatch.setattr(fold, "DRAIN_MAX_S", 0.0)
    q = _StuckQuery(progress=True)
    with pytest.raises(TimeoutError, match="still running"):
        drain(q)
    assert q.stopped


def test_fold_stream_replayed_batch_is_exactly_once(spark, tmp_path):
    """Drop the last checkpoint commit so Structured Streaming replays
    that batch under the same id: the digest-guarded line-dedup fold
    appends nothing and the ``__batch_id`` output is rewritten, not
    duplicated."""
    from mongo_es_spark.operators.text import incremental_line_dedup

    docs = [
        (0, "a b c d e f g h"),
        (1, "a b c d x y z w"),
        (2, "e f g h p q r s"),
        (3, "p q r s a b c d"),
        (4, "m n o p e f g h"),
        (5, "t u v w m n o p"),
    ]
    feed = str(tmp_path / "feed")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_ordered_feed(
        feed,
        [
            spark.createDataFrame(docs[k:k + 2], "doc_id long, text string")
            for k in (0, 2, 4)
        ],
    )

    def run(seen):
        def fold_fn(b, bid):
            seen.append(bid)
            return incremental_line_dedup(
                spark, b, "doc_id", "text", store, chunk_words=4
            )

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        drain(run_fold_stream(stream, fold_fn, checkpoint=ckpt, out=out))

    def snapshot():
        return (
            sorted(tuple(r) for r in spark.read.parquet(out).collect()),
            sorted(tuple(r) for r in spark.read.parquet(store).collect()),
        )

    first = []
    run(first)
    assert first == [0, 1, 2]
    out_rows, store_rows = snapshot()
    assert len(out_rows) == len(docs)

    # a crash before the commit leaves neither the commit file nor its
    # checksum sidecar (a stale sidecar blocks the commit's rename)
    commits = os.path.join(ckpt, "commits")
    for name in ("2", ".2.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    replayed = []
    run(replayed)
    assert replayed == [2]
    assert os.path.exists(os.path.join(commits, "2"))

    out_again, store_again = snapshot()
    assert len(set(out_again)) == len(out_again)
    assert out_again == out_rows
    assert store_again == store_rows


def test_foreach_batch_only_in_fold_and_tail():
    """One fold-stream runtime: the library starts ``foreachBatch``
    queries only in ``streaming/fold.py`` (every incremental store)
    and ``streaming/tail.py`` (the CDC tail)."""
    import ast
    import pathlib

    import mongo_es_spark

    root = pathlib.Path(mongo_es_spark.__file__).parent
    sites = set()
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "foreachBatch"
            ):
                sites.add(path.relative_to(root).as_posix())
    assert sites == {"streaming/fold.py", "streaming/tail.py"}
