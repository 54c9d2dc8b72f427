"""Spark-free reference answers for the benchmark's correctness checks.

* :func:`replay` — the ``test_tail_e2e`` oracle: scan + micro-batches
  replayed batch by batch through the golden-tested pure functions
  ``core.transformer`` / ``merge_oplogs`` / ``dispatch_oplog``.
* :class:`Bm25Reference` — BM25 (Lucene idf, whitespace tokens, the
  store's ``k1``/``b``) plus the ``lang`` filter and terms aggregation,
  evaluated over a plain ``{doc_id: {"text", "lang"}}`` corpus.  It
  shares no code with the search store, so it checks the store's MVCC
  resolution and the request compiler together.
"""

from __future__ import annotations

import copy
import math
from collections import Counter, defaultdict

from mongo_es_spark.core import dispatch_oplog, merge_oplogs, transformer


def _to_oplog(ev: dict) -> dict:
    lg = {"ts": ev["ts"], "ns": ev["ns"], "op": ev["op"]}
    doc = dict(ev["doc"])
    if ev["op"] == "u":
        lg["o"], lg["o2"] = doc, {"_id": ev["id"]}
    else:
        doc["_id"] = ev["id"]
        lg["o"] = doc
    return lg


def replay(task, source_docs: list[dict], batches: list[list[dict]]) -> dict:
    """Final sink state ``{id: {"parent", "data"}}`` after a scan of
    ``source_docs`` and the given micro-batches."""
    state: dict[str, dict] = {}

    def apply(irs):
        for ir in irs:
            if ir is None:
                continue
            if ir["action"] == "upsert":
                state[ir["id"]] = {"parent": ir.get("parent"), "data": ir["data"]}
            else:
                state.pop(ir["id"], None)

    apply(transformer(task, "upsert", d) for d in source_docs)
    ns = f"{task.extract.db}.{task.extract.collection}"
    source = {d["_id"]: d for d in source_docs}
    for batch in batches:
        merged = merge_oplogs(task, [_to_oplog(e) for e in batch if e["ns"] == ns])
        # only the batch's keys are ever looked up; copy just those so
        # dispatch can never alias live state
        lookup = {
            lg.get("o2", lg["o"])["_id"]: None for lg in merged
        }
        lookup_sink = {
            k: {"_id": k, **copy.deepcopy(state[k]["data"])}
            for k in lookup
            if k in state
        }
        apply(
            [
                dispatch_oplog(task, lg, lookup_sink=lookup_sink, lookup_source=source)
                for lg in merged
            ]
        )
    return state


def strip_nulls(obj):
    if isinstance(obj, dict):
        out = {k: strip_nulls(v) for k, v in obj.items()}
        return {k: v for k, v in out.items() if v is not None and v != {}}
    return obj


def merge_log_state(log_dir: str) -> dict:
    """Latest-batch-wins resolution of a merge-mode ParquetIndexSink log,
    read with pyarrow (no Spark job): the state ``read_state`` serves."""
    import pyarrow.parquet as pq

    latest: dict[str, dict] = {}
    for row in pq.read_table(log_dir).to_pylist():
        cur = latest.get(row["_id"])
        if cur is None or row["__batch"] > cur["__batch"]:
            latest[row["_id"]] = row
    return {
        k: strip_nulls({"parent": r["_parent"], "data": r["data"]})
        for k, r in latest.items()
        if not r["__del"]
    }


def sink_rows_to_state(rows) -> dict:
    """Collected ``read_state`` rows -> the replay's shape."""
    out = {}
    for row in rows:
        d = row.asDict(recursive=True)
        out[d["_id"]] = strip_nulls({"parent": d["_parent"], "data": d["data"]})
    return out


def state_mismatches(got: dict, want: dict) -> int:
    """Keys whose final document differs (missing, extra or changed)."""
    want = {k: strip_nulls(v) for k, v in want.items()}
    return sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))


class Bm25Reference:
    def __init__(self, corpus: dict[str, dict], k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.lang = {d: v["lang"] for d, v in corpus.items()}
        self.tf: dict[str, Counter] = {}
        self.df: Counter = Counter()
        self.postings: dict[str, set] = defaultdict(set)
        for doc, v in corpus.items():
            toks = (v["text"] or "").split()
            if not toks:
                continue
            self.tf[doc] = Counter(toks)
            for t in self.tf[doc]:
                self.df[t] += 1
                self.postings[t].add(doc)
        self.n = len(self.tf)
        self.avgdl = (
            sum(sum(c.values()) for c in self.tf.values()) / self.n if self.n else 0.0
        )

    def scores(self, text: str) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for t in dict.fromkeys(text.split()):
            df = self.df.get(t, 0)
            if not df:
                continue
            idf = math.log((self.n - df + 0.5) / (df + 0.5) + 1.0)
            for doc in self.postings[t]:
                tf = self.tf[doc][t]
                dl = sum(self.tf[doc].values())
                out[doc] += idf * (
                    tf * (self.k1 + 1)
                    / (tf + self.k1 * (1 - self.b + self.b * dl / self.avgdl))
                )
        return dict(out)

    def answer(self, kind: str, body: dict):
        """Full (unranked) reference: ``{doc: score}`` for hit
        requests, ``{lang: n_docs}`` for the terms aggregation."""
        q = body["query"]
        if kind == "bool_filter":
            text = q["bool"]["must"][0]["match"]["text"]
            lang = q["bool"]["filter"][0]["term"]["lang"]
            return {
                d: s for d, s in self.scores(text).items() if self.lang.get(d) == lang
            }
        hits = self.scores(q["match"]["text"])
        if kind == "terms_agg":
            return dict(Counter(self.lang[d] for d in hits))
        return hits


def hits_match(got: list[tuple[str, float]], ref: dict[str, float], size: int) -> bool:
    """A returned top-``size`` page agrees with the full reference
    ranking: right length, every score equal within tolerance (the
    search API rounds scores to 6 decimals), descending, and exactly
    the reference's top docs up to ties at the cut."""
    tol = 1e-6
    want = sorted(ref.values(), reverse=True)
    if len(got) != min(size, len(want)):
        return False
    for i, (doc, score) in enumerate(got):
        if doc not in ref or abs(ref[doc] - score) > tol:
            return False
        if i and score > got[i - 1][1] + tol:
            return False
    if not got:
        return True
    cut = want[len(got) - 1]
    docs = {d for d, _ in got}
    above = {d for d, s in ref.items() if s > cut + tol}
    return above <= docs and all(ref[d] >= cut - tol for d in docs)
