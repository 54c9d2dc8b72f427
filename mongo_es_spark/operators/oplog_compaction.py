"""Exact document-level oplog compaction via ``mapInPandas``.

Two compaction implementations exist, picked by payload shape:

* ``operators/compaction.py::compact_events`` — fully declarative
  window pass for flat/dense payloads (every event carries all mapped
  columns).  All-JVM, whole-stage codegen, the scale path.
* this module — exact reference semantics for *document-shaped* events
  (nested docs, sparse ``$set``/``$unset``, the deep-merge quirks of
  ``_.merge`` at reference src/processor.ts:275), by running the
  golden-tested pure fold (core.merge_oplogs) over ``(ns, id)`` groups
  in ``mapInPandas``.

Why a Python fold here: the fold IS expressible declaratively for the
closed projection ``dispatch_ir_frame`` reads (per-key window
aggregates over per-event presence terms; it matched this spec on
generated batches), but that plan grows with the mapping — about nine
per-event terms and four or five window aggregates per mapped path —
and measured slower than this one Python hop: +29% CPU per trigger on
a four-path patch-heavy tail, 2x at 32 mapped paths (ROADMAP item 3).
The shuffle is the same single ``(ns, id)`` exchange as the
declarative path; groups are tiny (events per key per batch); transfer
is Arrow-batched."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from ..config import Task
from ..core import merge_oplogs
from .. import paths


def _truthy_unset(unset: dict, key: str) -> bool:
    return bool(paths.get(unset, key))

COMPACTED_SCHEMA = (
    "ts long, ns string, op string, id string, doc string, "
    "has_plain boolean, unset_keys array<string>"
)


def _fold_one_group(ns, doc_id, rows, task: Task) -> list[tuple]:
    """Run the golden fold over one (ns, id) group's rows
    (``rows`` = iterable of (ts, op, doc) in timestamp order)."""
    oplogs = []
    for ts, op, doc_json in rows:
        o = json.loads(doc_json) if doc_json else {}
        lg = {"ts": int(ts), "ns": ns, "op": op}
        if op == "u":
            lg["o"] = o
            lg["o2"] = {"_id": doc_id}
        else:
            o.setdefault("_id", doc_id)
            lg["o"] = o
        oplogs.append(lg)
    out = []
    for lg in merge_oplogs(task, oplogs):
        if lg["op"] == "u":
            raw_id = lg["o2"]["_id"]
        else:
            raw_id = lg["o"].get("_id")
        out_id = None if raw_id is None else str(raw_id)
        doc = {k: v for k, v in lg["o"].items() if k != "_id"}
        has_plain = any(not k.startswith("$") for k in doc)
        unset = doc.get("$unset") or {}
        unset_keys = [
            k for k in task.transform.mapping if _truthy_unset(unset, k)
        ]
        out.append(
            (
                lg["ts"],
                lg["ns"],
                lg["op"],
                out_id,
                json.dumps(doc),
                has_plain,
                unset_keys,
            )
        )
    return out


_OUT_COLS = ["ts", "ns", "op", "id", "doc", "has_plain", "unset_keys"]


def compact_oplog_docs(df: DataFrame, task: Task) -> DataFrame:
    """Compact oplog rows (sources/cdc.py schema) to at most one
    survivor per ``(ns, id)``; exact reference event algebra.

    Execution shape: repartition by ``(ns, id)`` +
    ``sortWithinPartitions`` + ``mapInPandas`` — ONE Python/Arrow
    round-trip per partition batch with a plain loop over the
    contiguous groups inside it, instead of ``applyInPandas``'s one
    pandas frame per group.  A realistic CDC batch has a wide key
    space (mostly 1-2 events per document id); per-group framing made
    that shape pathological — measured 108 s for 100k single-event
    groups vs ~8 s for this form, identical output.  Groups that
    straddle an Arrow batch boundary are carried forward inside the
    partition, so per-task memory is bounded by the largest single
    GROUP, not the partition.  Rows are time-sorted within each
    partition, making the fold's input order (and therefore the
    u-after-u deep-merge result) deterministic regardless of shuffle
    arrival order.

    Adds two dispatch aids computed here, where the document is
    already materialized (JSON re-parsing downstream is typed and
    cannot see these reliably):

    * ``has_plain`` — survivor's ``doc`` carries a non-``$`` top-level
      key: the full-document-replace marker (reference:
      src/processor.ts:186);
    * ``unset_keys`` — mapped paths with a truthy ``$unset`` entry
      (the reference's asymmetric truthy-get, src/processor.ts:97).
    """
    import pandas as pd

    parts = df.select("ns", "id", "ts", "op", "doc").repartition(
        "ns", "id"
    ).sortWithinPartitions("ns", "id", "ts")

    def _fold_frame(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        out: list[tuple] = []
        # contiguous groups (input sorted by ns, id), located by a
        # VECTORIZED run-length split over the key arrays: pandas
        # groupby ITERATION costs ~55 µs per group in object-dtype
        # sub-frame construction, which dominates the realistic CDC
        # shape (millions of 1-2 event groups — measured 27.5 s per
        # 500k single-event groups vs 1.8 s for the JSON work
        # itself).  Null keys are handled null-safely and surface in
        # the output (a malformed feed row must not vanish).
        ns_a = pdf["ns"].to_numpy(dtype=object)
        id_a = pdf["id"].to_numpy(dtype=object)
        ts_a = pdf["ts"].to_numpy()
        op_a = pdf["op"].to_numpy(dtype=object)
        doc_a = pdf["doc"].to_numpy(dtype=object)
        n = len(pdf)
        if n == 0:
            return pd.DataFrame(out, columns=_OUT_COLS)

        def _neq(a, b):
            # null-safe inequality on object arrays: two nulls are
            # EQUAL (one group), null vs value is a boundary
            na_a = pd.isna(a)
            na_b = pd.isna(b)
            return ((a != b) & ~(na_a & na_b)) | (na_a ^ na_b)

        new = np.ones(n, dtype=bool)
        if n > 1:
            new[1:] = _neq(ns_a[1:], ns_a[:-1]) | _neq(
                id_a[1:], id_a[:-1]
            )
        starts = np.flatnonzero(new)
        ends = np.r_[starts[1:], n]
        for s, e in zip(starts, ends):
            ns = ns_a[s]
            doc_id = id_a[s]
            out.extend(
                _fold_one_group(
                    None if pd.isna(ns) else ns,
                    None if pd.isna(doc_id) else doc_id,
                    zip(ts_a[s:e], op_a[s:e], doc_a[s:e]),
                    task,
                )
            )
        return pd.DataFrame(out, columns=_OUT_COLS)

    def _key_eq(series: "pd.Series", value) -> "pd.Series":
        # null-safe equality: NaN == NaN is False in pandas, which
        # would make the tail split below crash on a null-keyed tail
        if pd.isna(value):
            return series.isna()
        return series == value

    def fold_partition(batches):
        carry: "pd.DataFrame | None" = None
        for pdf in batches:
            if pdf.empty:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            # the trailing group may continue in the next batch: hold
            # it back (groups are contiguous under the partition sort)
            last_ns = pdf["ns"].iloc[-1]
            last_id = pdf["id"].iloc[-1]
            tail_mask = _key_eq(pdf["ns"], last_ns) & _key_eq(
                pdf["id"], last_id
            )
            first_tail = int(pdf.index[tail_mask][0])
            carry = pdf.iloc[first_tail:]
            head = pdf.iloc[:first_tail]
            if len(head):
                yield _fold_frame(head)
        if carry is not None and len(carry):
            yield _fold_frame(carry)

    return parts.mapInPandas(fold_partition, COMPACTED_SCHEMA)
