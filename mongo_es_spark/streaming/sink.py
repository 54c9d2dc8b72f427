"""Sinks for the IR stream (L1 bulk load + L2 DDL bootstrap).

The reference loads every micro-batch with one Elasticsearch ``_bulk``
call mixing ``index`` (upsert-by-_id overwrite) and ``delete`` actions
(reference: src/processor.ts:225-258).  Idempotence comes from
overwrite-by-key — the at-least-once contract (SURVEY §7 hard part (c)).

Two implementations:

* :class:`ParquetIndexSink` — a merge-on-read parquet log emulating
  the keyed index when no cluster is configured: each batch appends
  its upserts and delete tombstones stamped with the batch id, and
  readers resolve latest-batch-wins per key.  A replayed batch
  re-appends identical rows under the same id, so replays are
  idempotent by content, mirroring how Spark's offset log plus an
  idempotent sink gives effectively-once.
* :class:`EsBulkSink` — the real thing: per-partition HTTP ``_bulk``
  bodies (executor-side, connection per partition — the distributed
  equivalent of the reference's single bulk call; 1000 executors write
  1000 parallel bulks).  Needs a live cluster, so tests gate on
  reachability.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

IR_COLUMNS = ("action", "id", "parent", "data", "timestamp")


def _latest_live(log: DataFrame) -> DataFrame:
    """Latest-batch-wins row per ``_id`` of a sink log, tombstones
    dropped."""
    w = Window.partitionBy("_id").orderBy(F.col("__batch").desc())
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (~F.col("__del")))
        .drop("__rn")
    )


class ParquetIndexSink:
    """Keyed upsert/delete state over parquet as a merge-on-read log,
    the same MVCC pattern as the BM25/IVF search stores: each batch
    APPENDS its IR rows (upserts and delete tombstones) stamped with
    the batch id to ``log/``; readers resolve latest-batch-wins per key
    and drop tombstones.  Per-trigger cost is proportional to the batch
    size and flat in state size — the scale-honest emulation of
    Elasticsearch's upsert-by-key.  Replays are idempotent by CONTENT:
    a replayed batch re-appends byte-identical rows at the same batch
    id, and latest-wins resolution is indifferent to which copy it
    picks.  :meth:`compact` folds the log back to one row per live key
    (crash-aware directory swap), bounding read-time resolution.

    ``mode`` has one legal value, ``"merge"``.  A directory holding the
    retired versioned layout (a ``_CURRENT`` pointer and no ``log/``)
    is refused: read as a log it would look empty, and every sink-state
    lookup against it would silently miss."""

    def __init__(self, path: str, mode: str = "merge"):
        if mode != "merge":
            raise ValueError(
                f"unknown ParquetIndexSink mode {mode!r}; the only "
                "layout is 'merge'"
            )
        pointer = os.path.join(path, "_CURRENT")
        if os.path.exists(pointer) and not os.path.exists(
            os.path.join(path, "log")
        ):
            raise ValueError(
                f"{path} holds the retired versioned sink layout "
                "(_CURRENT pointer, no log/); re-run the scan into a "
                "fresh directory"
            )
        self.path = path
        self.mode = mode
        os.makedirs(path, exist_ok=True)

    def _log(self) -> str:
        return os.path.join(self.path, "log")

    def read_state(
        self, spark: SparkSession, ids: Optional[DataFrame] = None
    ) -> Optional[DataFrame]:
        """Current index state: ``(_id, _parent, data)`` or None.

        ``ids`` (a one-column ``id`` frame of the batch's keys) prunes
        the resolution to the batch's keys (a broadcast semi-join below
        the window — the point-lookup shape)."""
        from ..storeio import read_parquet_if_exists

        log = read_parquet_if_exists(spark, self._log())
        if log is None:
            return None
        if ids is not None:
            log = log.join(
                F.broadcast(
                    ids.select(F.col("id").cast("string").alias("_id"))
                ),
                "_id",
                "left_semi",
            )
        return _latest_live(log).select("_id", "_parent", "data")

    def apply(self, spark: SparkSession, irs: DataFrame, batch_id: int) -> None:
        """L1: append one compacted IR batch. Compaction guarantees at
        most one IR per id, so ordering within the batch is moot —
        the invariant that makes this safe across partitions and makes
        the batch id a total order per key."""
        (
            irs.select(
                F.col("id").cast("string").alias("_id"),
                F.col("parent").alias("_parent"),
                F.col("data"),
                (F.col("action") == "delete").alias("__del"),
            )
            .withColumn("__batch", F.lit(int(batch_id)).cast("long"))
            .write.mode("append")
            .parquet(self._log())
        )

    def compact(self, spark: SparkSession) -> None:
        """The log's vacuum: fold it to one latest-wins row per LIVE
        key (tombstones and superseded rows reclaimed), keeping each
        survivor's batch stamp so later batches still order above it.
        Crash-aware directory swap; replays converge.
        """
        from ..storeio import read_parquet_if_exists, rewrite_store

        if read_parquet_if_exists(spark, self._log()) is None:
            return

        def write_new(new: str) -> None:
            _latest_live(spark.read.parquet(self._log())).write.mode(
                "overwrite"
            ).parquet(new)

        rewrite_store(self._log(), write_new)
        # survivor count = live keys right now: the cheap maintenance
        # gate's denominator (footer metadata, the log is all-live)
        self._write_compact_marker(
            spark.read.parquet(self._log()).count()
        )

    def _compact_marker(self) -> str:
        return os.path.join(self.path, "_LAST_COMPACT")

    def _last_compact_rows(self) -> Optional[int]:
        try:
            with open(self._compact_marker(), encoding="utf-8") as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def describe(self, spark: SparkSession, full: bool = True) -> dict:
        """Log counters (the ``describe_*_store`` shape).
        ``log_rows``/``log_files`` are parquet-footer metadata;
        ``live_keys``/``tombstones`` (``full=True`` only) run the
        latest-wins window / a log scan — STATE-sized, exactly the
        per-batch cost the log exists to avoid, so the per-trigger
        policy path never asks for them (r10 ADVICE)."""
        out: dict = {"path": self.path, "mode": self.mode}
        from ..storeio import read_parquet_if_exists

        log = read_parquet_if_exists(spark, self._log())
        if log is None:
            out["exists"] = False
            return out
        out["exists"] = True
        out["log_rows"] = log.count()
        out["log_files"] = len(log.inputFiles())
        out["last_compact_rows"] = self._last_compact_rows()
        if full:
            state = self.read_state(spark)
            out["live_keys"] = state.count() if state is not None else 0
            out["tombstones"] = log.filter(F.col("__del")).count()
        return out

    def maintain_if_needed(
        self, spark: SparkSession, max_log_ratio: float = 3.0
    ) -> dict:
        """Compact the merge log iff it holds more than
        ``max_log_ratio`` rows per live key — the same closed-loop
        policy shape as the search stores' ``maintain_if_needed``.

        Two-stage decision so the per-trigger cost stays METADATA-
        sized: the cheap gate compares the log's footer row count to
        the survivor count recorded at the last compaction (all rows
        live right after a compact, so that number IS the live-key
        count then; before any compaction it is the first batch's
        size — a lower bound on keys ever seen).  Only when the cheap
        ratio trips does the exact latest-wins ``live_keys`` count run
        to confirm, so a wide-key log that merely grew with fresh
        keys pays one exact check at the threshold, never one per
        trigger.  Delete-heavy logs shrink live keys below the
        marker; the cheap ratio then lags the true one, but log_rows
        keeps growing while the marker stays fixed, so the gate still
        trips (bounded later than an exact check would), and the
        exact confirm sees the true smaller live count and compacts.
        A fully-deleted state compares against ONE key, so such a log
        still reclaims instead of growing unbounded."""
        d = self.describe(spark, full=False)
        if not d.get("exists"):
            return {"action": "none", "describe": d}
        baseline = d.get("last_compact_rows")
        if baseline is None:
            # never compacted: one exact check establishes the floor
            baseline = 0
        if d["log_rows"] / max(baseline, 1) <= max_log_ratio:
            return {"action": "none", "describe": d}
        # cheap gate tripped: confirm against the exact live count
        state = self.read_state(spark)
        live = state.count() if state is not None else 0
        d["live_keys"] = live
        if d["log_rows"] / max(live, 1) <= max_log_ratio:
            # fresh-key growth, not churn: remember the new floor so
            # the cheap gate re-arms at the right scale
            self._write_compact_marker(live)
            return {"action": "none", "describe": d}
        self.compact(spark)
        return {"action": "compact", "describe": d}

    def _write_compact_marker(self, rows: int) -> None:
        tmp = self._compact_marker() + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(str(int(rows)))
        os.replace(tmp, self._compact_marker())


class SearchIndexedSink:
    """Sink decorator closing the loop the reference exists for: keep
    a SEARCH index in sync with a mutating collection
    (src/processor.ts:225-258 routes inserts, updates AND deletes into
    Elasticsearch; delete actions :244-250).  Every IR micro-batch
    first applies to the wrapped keyed sink (the document store), then
    folds into the incremental BM25 postings store via
    :func:`~mongo_es_spark.operators.text.apply_cdc_to_bm25_index` —
    updates supersede their old postings by generation, deletes
    tombstone, and at-least-once redelivery no-ops on the content
    digest, so the search index converges to exactly the documents the
    sink holds.

    ``text_field`` / ``field_cols`` name fields INSIDE the IR ``data``
    struct (the task's mapped target paths).  Both writes happen in
    the foreachBatch scope: a crash between them replays the batch,
    the doc sink re-appends identical rows under the same batch id,
    the index fold skips already-applied docs — the same idempotence
    argument as each sink alone."""

    def __init__(
        self,
        inner,
        store_path: str,
        text_field: str,
        field_cols: tuple = (),
        maintain: Optional[dict] = None,
        analyzer: Optional[str] = None,
    ):
        self.inner = inner
        self.store_path = store_path
        self.text_field = text_field
        self.field_cols = tuple(field_cols)
        # analysis chain the store is created with (folds validate
        # against drift); None = the store's own / whitespace
        self.analyzer = analyzer
        # closed-loop maintenance: when set, every fold is followed by
        # maintain_bm25_if_needed(**maintain) — the policy reads the
        # store's own counters and compacts only past its thresholds,
        # so a long-running tail never needs an operator to notice the
        # dead-row ratio (ES segment-merge behavior).  Safe inside
        # foreachBatch: the micro-batch engine serializes batches, and
        # compaction is result-identical by contract.
        self.maintain = dict(maintain) if maintain else None

    def read_state(
        self, spark: SparkSession, ids: Optional[DataFrame] = None
    ) -> Optional[DataFrame]:
        if hasattr(self.inner, "read_state"):
            return self.inner.read_state(spark, ids=ids)
        return None

    def apply(self, spark: SparkSession, irs: DataFrame, batch_id: int) -> None:
        from ..operators.text import apply_cdc_to_bm25_index

        irs = irs.localCheckpoint(eager=True)  # both writes, one plan
        self.inner.apply(spark, irs, batch_id)
        batch = irs.select(
            F.col("id").alias("doc_id"),
            F.when(F.col("action") == "delete", F.lit("d"))
            .otherwise(F.lit("u"))
            .alias("op"),
            F.col(f"data.`{self.text_field}`").alias("text"),
            *[F.col(f"data.`{c}`").alias(c) for c in self.field_cols],
        )
        apply_cdc_to_bm25_index(
            spark,
            batch,
            self.store_path,
            field_cols=self.field_cols,
            analyzer=self.analyzer,
        )
        if self.maintain is not None:
            from ..operators.maintenance import maintain_bm25_if_needed

            maintain_bm25_if_needed(spark, self.store_path, **self.maintain)


class DenseIndexedSink:
    """The dense-retrieval analog of :class:`SearchIndexedSink`: every
    IR micro-batch first applies to the wrapped keyed sink, then folds
    into the IVF vector store via
    :func:`~mongo_es_spark.operators.similarity.apply_cdc_to_ivf_index`
    — updates supersede by generation + dead watermark, deletes
    watermark, and content-based replay detection makes at-least-once
    delivery exactly-once, so exact dense retrieval
    (``ivf_exact_topk``) always serves the collection's current
    vectors (src/processor.ts:225-258 — the reference keeps a search
    index in sync with a mutating collection; this is that loop for
    an embedding field).

    The IVF store must be MATERIALIZED before tailing (the coarse
    quantizer needs a training corpus) — the reference's own
    scan-then-tail phase order: the scan phase builds the index from
    the collection snapshot, the tail keeps it in sync.
    ``vec_field`` names the vector inside the IR ``data`` struct
    (hint it ``array<double>``); ``id_cast`` converts the string IR
    id to the store's id type."""

    def __init__(
        self,
        inner,
        store_path: str,
        vec_field: str,
        id_cast: str = "long",
        maintain: Optional[dict] = None,
    ):
        self.inner = inner
        self.store_path = store_path
        self.vec_field = vec_field
        self.id_cast = id_cast
        # see SearchIndexedSink: per-fold maintain_ivf_if_needed kwargs
        # (id_col is supplied by this sink)
        self.maintain = dict(maintain) if maintain else None

    def read_state(
        self, spark: SparkSession, ids: Optional[DataFrame] = None
    ) -> Optional[DataFrame]:
        if hasattr(self.inner, "read_state"):
            return self.inner.read_state(spark, ids=ids)
        return None

    def apply(self, spark: SparkSession, irs: DataFrame, batch_id: int) -> None:
        from ..operators.similarity import apply_cdc_to_ivf_index

        irs = irs.localCheckpoint(eager=True)  # both writes, one plan
        self.inner.apply(spark, irs, batch_id)
        batch = irs.select(
            F.col("id").cast(self.id_cast).alias("vec_id"),
            F.when(F.col("action") == "delete", F.lit("d"))
            .otherwise(F.lit("u"))
            .alias("op"),
            F.col(f"data.`{self.vec_field}`")
            .cast("array<double>")
            .alias("v"),
        )
        apply_cdc_to_ivf_index(batch, self.store_path, "vec_id", "v")
        if self.maintain is not None:
            from ..operators.maintenance import maintain_ivf_if_needed

            maintain_ivf_if_needed(
                spark, self.store_path, id_col="vec_id", **self.maintain
            )


class BulkItemError(RuntimeError):
    """One or more items of an Elasticsearch ``_bulk`` call failed."""


class EsBulkSink:
    """Executor-side Elasticsearch ``_bulk`` writer + batched lookup.

    Bulk-body format per reference src/processor.ts:229-256: an
    ``index`` action line + source doc per upsert, a ``delete`` action
    line per delete; ``_parent`` routing when configured.

    Divergence from the reference, on purpose: the reference warns and
    skips failed batches (src/processor.ts:322-324 — silent data
    loss); here any transport error OR item-level failure inside an
    HTTP-200 bulk response raises, failing the micro-batch so Spark's
    retry semantics apply.
    """

    def __init__(self, hosts: str, index: str, doc_type: str = "_doc",
                 bulk_size: int = 5000, parent_routing: bool = False,
                 lookup_batch: int = 1024):
        self.hosts = hosts.rstrip("/")
        self.index = index
        self.doc_type = doc_type
        self.bulk_size = bulk_size
        self.parent_routing = parent_routing
        self.lookup_batch = lookup_batch

    @staticmethod
    def bulk_body(rows, index: str, doc_type: str) -> str:
        """Pure body builder (unit-testable without a cluster)."""
        lines = []
        for row in rows:
            meta = {"_index": index, "_type": doc_type, "_id": row["id"]}
            if row.get("parent"):
                meta["_parent"] = row["parent"]
            if row["action"] == "upsert":
                lines.append(json.dumps({"index": meta}))
                lines.append(json.dumps(row.get("data") or {}))
            else:
                lines.append(json.dumps({"delete": meta}))
        return "\n".join(lines) + "\n" if lines else ""

    @staticmethod
    def check_bulk_response(payload: bytes | str) -> None:
        """Raise :class:`BulkItemError` when a ``_bulk`` response
        carries item-level failures (ES returns HTTP 200 with
        ``errors: true`` in that case — reference surfaces them at
        src/elasticsearch.ts:22-28 but then drops them).  A delete of
        a missing doc (404, no ``error`` body) is not a failure —
        delete-by-key is idempotent."""
        resp = json.loads(payload)
        if not resp.get("errors"):
            return
        failures = []
        for item in resp.get("items", []):
            for action, result in item.items():
                if result.get("error"):
                    failures.append(
                        f"{action} _id={result.get('_id')} "
                        f"status={result.get('status')} "
                        f"error={json.dumps(result['error'])[:200]}"
                    )
        if failures:
            shown = "; ".join(failures[:5])
            more = len(failures) - min(len(failures), 5)
            raise BulkItemError(
                f"{len(failures)} bulk item(s) failed: {shown}"
                + (f" (+{more} more)" if more else "")
            )

    def apply(self, spark: SparkSession, irs: DataFrame, batch_id: int) -> None:
        hosts, index, doc_type, bulk_size = (
            self.hosts, self.index, self.doc_type, self.bulk_size,
        )

        def write_partition(rows):
            import urllib.request

            buf = []

            def flush():
                if not buf:
                    return
                body = EsBulkSink.bulk_body(buf, index, doc_type)
                req = urllib.request.Request(
                    f"{hosts}/_bulk",
                    data=body.encode("utf-8"),
                    headers={"Content-Type": "application/x-ndjson"},
                    method="POST",
                )
                payload = urllib.request.urlopen(req, timeout=60).read()
                EsBulkSink.check_bulk_response(payload)
                buf.clear()

            for row in rows:
                d = row.asDict(recursive=True)
                buf.append(d)
                if len(buf) >= bulk_size:
                    flush()
            flush()

        irs.foreachPartition(write_partition)

    def read_state(
        self, spark: SparkSession, ids: Optional[DataFrame] = None
    ) -> Optional[DataFrame]:
        """J1/J2 lookup side vs the live index: fetch the given batch
        keys' current sink docs as ``(_id, _parent, data_json)``.

        Executor-side and batched: each Arrow chunk of the distinct-id
        frame issues ``_mget`` calls of <= ``lookup_batch`` ids
        (reference's 1024-id promise buffer, src/elasticsearch.ts:91-148,
        done set-oriented), or — when ``parent_routing`` is on, where
        ``_mget`` can't address parent-routed docs — a ``terms`` query
        on ``_id`` with ``_parent`` re-injected from the hit metadata
        (src/elasticsearch.ts:30-89,150-157).  ``data_json`` carries
        the raw ``_source``; the tail plan parses it with the task's
        typed sink schema (run_tail does this), keeping this sink
        schema-agnostic like the reference client.

        Returns None when no id frame is supplied — the caller decides
        whether a full-index read makes sense (it usually doesn't).
        """
        if ids is None:
            return None
        hosts, index, doc_type = self.hosts, self.index, self.doc_type
        chunk_size = self.lookup_batch
        use_search = self.parent_routing

        def fetch(batches):
            import urllib.request

            import pandas as pd

            def post(path: str, body: dict):
                req = urllib.request.Request(
                    f"{hosts}{path}",
                    data=json.dumps(body).encode("utf-8"),
                    headers={"Content-Type": "application/json"},
                    method="POST",
                )
                return json.loads(
                    urllib.request.urlopen(req, timeout=60).read()
                )

            for pdf in batches:
                idlist = [str(x) for x in pdf["id"].tolist()]
                out_id, out_parent, out_doc = [], [], []
                for lo in range(0, len(idlist), chunk_size):
                    ids_chunk = idlist[lo:lo + chunk_size]
                    if use_search:
                        resp = post(
                            f"/{index}/{doc_type}/_search",
                            {
                                "query": {"terms": {"_id": ids_chunk}},
                                "size": len(ids_chunk),
                            },
                        )
                        hits = resp.get("hits", {}).get("hits", [])
                    else:
                        resp = post(
                            f"/{index}/{doc_type}/_mget",
                            {"ids": ids_chunk},
                        )
                        hits = [
                            d for d in resp.get("docs", [])
                            if d.get("found")
                        ]
                    for hit in hits:
                        out_id.append(hit["_id"])
                        out_parent.append(hit.get("_parent"))
                        out_doc.append(json.dumps(hit.get("_source") or {}))
                yield pd.DataFrame(
                    {
                        "_id": pd.Series(out_id, dtype="object"),
                        "_parent": pd.Series(out_parent, dtype="object"),
                        "data_json": pd.Series(out_doc, dtype="object"),
                    }
                )

        return ids.select(F.col("id").cast("string").alias("id")).mapInPandas(
            fetch, "_id string, _parent string, data_json string"
        )


def cutover_alias(
    hosts: str,
    alias: str,
    new_index: str,
    min_docs: int = 0,
) -> dict:
    """Blue-green CUTOVER — the atomic alias flip that completes the
    ``indexNameSuffix`` versioning story the reference starts
    (src/indices.ts:22,29 creates ``index + suffix``; nothing there
    retargets readers).  One ``POST /_aliases`` call carries both the
    remove-from-every-current-index and add-to-new actions, which ES
    applies atomically — readers never observe an alias with zero or
    two targets.

    Readiness gate: the new index must hold at least ``min_docs``
    documents (``GET /<new>/_count``) or the swap refuses and the
    alias keeps serving the old generation — flipping to a
    half-backfilled index silently serves partial results.

    Idempotent: an alias already pointing at exactly ``new_index``
    no-ops (re-running a crashed cutover converges).  Returns
    ``{"action": "swap"|"noop", "removed": [...], "added": ...}``.
    """
    import urllib.error
    import urllib.request

    root = hosts.rstrip("/")

    def get_json(url: str):
        try:
            with urllib.request.urlopen(
                urllib.request.Request(url), timeout=30
            ) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as err:
            if err.code == 404:
                return None
            raise

    n = get_json(f"{root}/{new_index}/_count")
    n_docs = int((n or {}).get("count", 0))
    if n_docs < int(min_docs):
        raise ValueError(
            f"cutover_alias: {new_index} holds {n_docs} docs, "
            f"readiness requires >= {min_docs} — refusing to retarget "
            f"alias {alias!r} at a half-backfilled index"
        )
    current = get_json(f"{root}/_alias/{alias}") or {}
    holders = sorted(current)
    if holders == [new_index]:
        return {"action": "noop", "removed": [], "added": new_index}
    actions = [
        {"remove": {"index": idx, "alias": alias}}
        for idx in holders
        if idx != new_index
    ] + [{"add": {"index": new_index, "alias": alias}}]
    req = urllib.request.Request(
        f"{root}/_aliases",
        data=json.dumps({"actions": actions}).encode("utf-8"),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    urllib.request.urlopen(req, timeout=30).read()
    return {
        "action": "swap",
        "removed": [i for i in holders if i != new_index],
        "added": new_index,
    }


def rollover_alias(
    hosts: str,
    alias: str,
    max_docs: int,
    mappings: "dict | None" = None,
) -> dict:
    """ES ``_rollover`` — the ILM size-based index rotation that keeps
    any single index bounded while readers stay pinned to the alias:
    when the alias's current write index holds at least ``max_docs``
    documents, create the NEXT ``<stem>-NNNNNN`` index (optionally
    with ``mappings``) and atomically retarget the alias in one
    ``_aliases`` call.  Below the threshold it no-ops.

    Convergent under crash-retry at every boundary: a retry after the
    create-but-before-swap crash finds the next index already present
    (create-if-missing) and still swaps; a retry after the swap sees
    the fresh index's count below the threshold and no-ops.  Requires
    the alias to resolve to exactly ONE index (the write index — a
    multi-target alias has no rollover semantics) whose name ends in
    ``-NNNNNN``; bootstrap the series with ``init_indices`` +
    ``cutover_alias`` on ``<stem>-000001``.

    Returns ``{"action": "rollover"|"noop", "old": ..., "new": ...,
    "n_docs": ...}``.
    """
    import re as _re
    import urllib.error
    import urllib.request

    root = hosts.rstrip("/")

    def get_json(url: str):
        try:
            with urllib.request.urlopen(
                urllib.request.Request(url), timeout=30
            ) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as err:
            if err.code == 404:
                return None
            raise

    holders = sorted(get_json(f"{root}/_alias/{alias}") or {})
    if len(holders) != 1:
        raise ValueError(
            f"rollover_alias: alias {alias!r} must resolve to exactly "
            f"one write index, found {holders} — bootstrap with "
            "init_indices + cutover_alias first"
        )
    current = holders[0]
    m = _re.match(r"^(.*)-(\d{6})$", current)
    if m is None:
        raise ValueError(
            f"rollover_alias: write index {current!r} does not end in "
            "-NNNNNN; the rollover series needs the counter suffix"
        )
    n_docs = int(
        (get_json(f"{root}/{current}/_count") or {}).get("count", 0)
    )
    if n_docs < int(max_docs):
        return {
            "action": "noop", "old": current, "new": None,
            "n_docs": n_docs,
        }
    nxt = f"{m.group(1)}-{int(m.group(2)) + 1:06d}"
    # create-if-missing (HEAD then PUT), same discipline as
    # init_indices — a crashed earlier attempt's index is reused
    head = urllib.request.Request(f"{root}/{nxt}", method="HEAD")
    try:
        urllib.request.urlopen(head, timeout=30)
        exists = True
    except urllib.error.HTTPError as err:
        if err.code != 404:
            raise
        exists = False
    if not exists:
        put = urllib.request.Request(
            f"{root}/{nxt}",
            data=json.dumps(mappings or {}).encode("utf-8"),
            headers={"Content-Type": "application/json"},
            method="PUT",
        )
        urllib.request.urlopen(put, timeout=30).read()
    swap = urllib.request.Request(
        f"{root}/_aliases",
        data=json.dumps({"actions": [
            {"remove": {"index": current, "alias": alias}},
            {"add": {"index": nxt, "alias": alias}},
        ]}).encode("utf-8"),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    urllib.request.urlopen(swap, timeout=30).read()
    return {
        "action": "rollover", "old": current, "new": nxt,
        "n_docs": n_docs,
    }


def init_indices(
    hosts: str, indices: list[dict], suffix: str = "", tasks=None
) -> None:
    """L2 DDL bootstrap (reference: src/indices.ts:19-33):

    1. per configured index spec: create-if-missing (HEAD probe, PUT
       body on 404); ``suffix`` implements blue-green versioning
       (indices.ts:22,29);
    2. per TASK: put the task's ``load.body`` as the type mapping on
       ``load.index + suffix`` — unconditionally, matching the
       reference's ``putMapping`` loop (indices.ts:27-31), so mapping
       changes roll out to pre-existing indices too."""
    import urllib.error
    import urllib.request

    def put(url: str, body: dict) -> None:
        req = urllib.request.Request(
            url,
            data=json.dumps(body).encode("utf-8"),
            headers={"Content-Type": "application/json"},
            method="PUT",
        )
        urllib.request.urlopen(req, timeout=30).read()

    root = hosts.rstrip("/")
    for spec in indices:
        name = spec.get("index", "") + suffix
        url = f"{root}/{name}"
        try:
            urllib.request.urlopen(
                urllib.request.Request(url, method="HEAD"), timeout=10
            )
        except urllib.error.HTTPError as err:
            if err.code == 404:
                put(url, spec.get("body", {}))
            else:
                raise
    for task in tasks or []:
        doc_type = task.load.type or "_doc"
        put(
            f"{root}/{task.load.index + suffix}/_mapping/{doc_type}",
            task.load.body,
        )
