"""Seeded, single-process input generator for the benchmark workloads.

Everything the program under test reads is written here, before any
timing starts: the source collection (parquet, written with pyarrow so
generation launches no Spark job), the oplog backlogs (newline-JSON
files in the ``file_oplog_stream`` row shape) and the fixed search
request mix.  The same seed gives byte-identical files, and every
backlog file gets a pinned, strictly increasing mtime, so the file
source cuts the same micro-batches on every run
(``maxFilesPerTrigger=1``: one file per trigger).
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# the oplog ``ts`` is BSON-style (seconds << 32 | increment)
TS_BASE = 1_600_000_000
MTIME_BASE = 1_700_000_000

PATCH_TASK = {
    "from": {"phase": "scan"},
    "extract": {"db": "shop", "collection": "items"},
    "transform": {
        "mapping": {
            "name": "name",
            "stats.views": "stats.views",
            "stats.likes": "stats.likes",
            "price": "price",
        },
        "static": {"kind": "item"},
    },
    "load": {"index": "items", "type": "doc"},
}
PATCH_HINTS = {
    "name": "string",
    "stats.views": "long",
    "stats.likes": "long",
    "price": "long",
}

SEARCH_TASK = {
    "from": {"phase": "scan"},
    "extract": {"db": "lib", "collection": "docs"},
    "transform": {"mapping": {"body": "body", "lang": "lang"}},
    "load": {"index": "docs", "type": "doc"},
}
SEARCH_HINTS = {"body": "string", "lang": "string"}
LANGS = ("en", "fr", "de", "es")
LANG_WEIGHTS = (0.5, 0.2, 0.2, 0.1)


def _ts(file_no: int, event_no: int) -> int:
    return ((TS_BASE + file_no) << 32) | (event_no + 1)


def write_backlog(directory: str, files: list[list[dict]], first_file: int = 0) -> None:
    """One JSON-lines file per micro-batch; mtimes pinned strictly
    increasing so the file source's batch cut is deterministic."""
    os.makedirs(directory, exist_ok=True)
    for i, events in enumerate(files):
        path = os.path.join(directory, f"b{first_file + i:05d}.json")
        with open(path, "w", encoding="utf-8") as fh:
            for ev in events:
                fh.write(json.dumps({**ev, "doc": json.dumps(ev["doc"])}) + "\n")
        mtime = MTIME_BASE + (first_file + i) * 60
        os.utime(path, (mtime, mtime))


def read_backlog(directory: str) -> list[list[dict]]:
    """Backlog files in mtime order, ``doc`` decoded — the replay
    oracle's view of exactly what the stream consumed."""
    names = sorted(
        os.listdir(directory),
        key=lambda n: os.path.getmtime(os.path.join(directory, n)),
    )
    out = []
    for name in names:
        with open(os.path.join(directory, name), encoding="utf-8") as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
        for r in rows:
            r["doc"] = json.loads(r["doc"])
        out.append(rows)
    return out


# ---------------------------------------------------------------- patch


def patch_collection(rng: random.Random, n_docs: int) -> list[dict]:
    return [
        {
            "_id": f"k{i:07d}",
            "name": f"item-{rng.randrange(10**6)}",
            "stats": {"views": rng.randrange(10**5), "likes": rng.randrange(10**3)},
            "price": rng.randrange(1, 10**4),
            "meta": {"seen": rng.randrange(100)},
        }
        for i in range(n_docs)
    ]


def write_patch_collection(path: str, docs: list[dict]) -> None:
    table = pa.table(
        {
            "_id": [d["_id"] for d in docs],
            "name": [d["name"] for d in docs],
            "stats": [d["stats"] for d in docs],
            "price": [d["price"] for d in docs],
            "meta": [d["meta"] for d in docs],
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def patch_backlog(
    rng: random.Random,
    ids: list[str],
    n_files: int,
    events_per_file: int,
    first_file: int = 0,
) -> list[list[dict]]:
    """~88% ``$set`` patch-updates of mapped nested fields, ~6% updates
    of an unmapped field (the ignoreUpdate drop) and ~6% deletes; 20%
    of events hit a hot 1% of the keys, so compaction folds several
    events per hot key in each batch."""
    hot = ids[: max(1, len(ids) // 100)]
    files = []
    for f in range(first_file, first_file + n_files):
        events = []
        for e in range(events_per_file):
            key = rng.choice(hot) if rng.random() < 0.2 else rng.choice(ids)
            r = rng.random()
            if r < 0.88:
                op = "u"
                kind = rng.randrange(3)
                if kind == 0:
                    doc = {"$set": {"stats.views": rng.randrange(10**6)}}
                elif kind == 1:
                    doc = {"$set": {"stats.likes": rng.randrange(10**4),
                                    "price": rng.randrange(1, 10**4)}}
                else:
                    doc = {"$set": {"name": f"item-{rng.randrange(10**6)}",
                                    "stats.views": rng.randrange(10**6)}}
            elif r < 0.94:
                op, doc = "u", {"$set": {"meta.seen": rng.randrange(100)}}
            else:
                op, doc = "d", {}
            events.append(
                {"ts": _ts(f, e), "ns": "shop.items", "op": op, "id": key, "doc": doc}
            )
        files.append(events)
    return files


# --------------------------------------------------------------- search


class Zipf:
    """Seeded Zipf(s) sampler over a fixed vocabulary ``w0000…``."""

    def __init__(self, n_words: int, s: float = 1.07):
        self.words = [f"w{i:04d}" for i in range(n_words)]
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n_words)))

    def word(self, rng: random.Random) -> str:
        x = rng.random() * self.cum[-1]
        return self.words[bisect.bisect_left(self.cum, x)]

    def body(self, rng: random.Random, n_words: int = 20) -> str:
        k = max(1, n_words + rng.randrange(-5, 6))
        return " ".join(self.word(rng) for _ in range(k))


def search_doc(rng: random.Random, zipf: Zipf) -> dict:
    return {
        "body": zipf.body(rng),
        "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
    }


def search_collection(rng: random.Random, zipf: Zipf, n_docs: int) -> list[dict]:
    return [{"_id": f"d{i:07d}", **search_doc(rng, zipf)} for i in range(n_docs)]


def write_search_collection(path: str, docs: list[dict]) -> None:
    table = pa.table(
        {
            "_id": [d["_id"] for d in docs],
            "body": [d["body"] for d in docs],
            "lang": [d["lang"] for d in docs],
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def search_backlog(
    rng: random.Random,
    zipf: Zipf,
    ids: list[str],
    n_files: int,
    events_per_file: int,
) -> list[list[dict]]:
    """Full-document replaces (~60%), inserts of new keys (~25%) and
    deletes (~15%), no patch-updates.  Replaced and deleted keys are
    drawn without replacement, so keys are distinct within the whole
    backlog and compaction is ~1:1."""
    order = list(ids)
    rng.shuffle(order)
    pool = iter(order)
    fresh = itertools.count()
    files = []
    for f in range(n_files):
        events = []
        for e in range(events_per_file):
            r = rng.random()
            if r < 0.60:
                op, key, doc = "u", next(pool), search_doc(rng, zipf)
            elif r < 0.85:
                op, key = "i", f"n{f:04d}{next(fresh):06d}"
                doc = search_doc(rng, zipf)
            else:
                op, key, doc = "d", next(pool), {}
            events.append(
                {"ts": _ts(f, e), "ns": "lib.docs", "op": op, "id": key, "doc": doc}
            )
        files.append(events)
    return files


def search_requests(rng: random.Random, zipf: Zipf, n: int) -> list[tuple[str, dict]]:
    """A fixed, seeded request mix cycling three kinds: ``match`` on
    1–3 terms, ``bool`` must + a ``term`` filter on ``lang``, and a
    ``terms`` aggregation on ``lang`` over a match.  Terms come from a
    mid-frequency band of the Zipf vocabulary (ranks 20–399, document
    frequency ~0.5–10%), so every seed draws requests of similar cost."""
    band = zipf.words[20:400]
    reqs = []
    for i in range(n):
        terms = " ".join(rng.choice(band) for _ in range(rng.randint(1, 3)))
        kind = ("match", "bool_filter", "terms_agg")[i % 3]
        if kind == "match":
            body = {"query": {"match": {"text": terms}}, "size": 10}
        elif kind == "bool_filter":
            body = {
                "query": {"bool": {
                    "must": [{"match": {"text": terms}}],
                    "filter": [{"term": {"lang": rng.choice(LANGS)}}],
                }},
                "size": 10,
            }
        else:
            body = {
                "query": {"match": {"text": terms}},
                "aggs": {"lang": {"terms": {"field": "lang"}}},
            }
        reqs.append((kind, body))
    return reqs
