"""EsBulkSink contracts against a stub HTTP Elasticsearch: bulk
response error surfacing (VERDICT: HTTP 200 with item-level errors
must fail the batch, not count as success) and the J1/J2 live-lookup
side (_mget / terms search with _parent re-injection,
reference: src/elasticsearch.ts:30-157)."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from mongo_es_spark.streaming.sink import BulkItemError, EsBulkSink
from mongo_es_spark.streaming.fold import drain, write_ordered_feed



class StubES:
    """Minimal keyed-index ES lookalike: _bulk, _mget, _search(terms).

    ``fail_ids`` simulates per-item bulk failures (ES answers HTTP 200
    with errors:true for those items)."""

    def __init__(self):
        self.state: dict[str, dict] = {}
        self.parents: dict[str, str] = {}
        self.fail_ids: set[str] = set()
        self.indices: dict[str, dict] = {}
        self.mappings: dict[tuple, dict] = {}
        self.lock = threading.Lock()
        self.mget_calls = 0
        self.search_calls = 0
        self.head_calls = 0
        self.put_calls = 0
        self.aliases: dict[str, set] = {}
        self.alias_posts: list = []

        stub = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def _reply(self, obj):
                payload = json.dumps(obj).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def do_HEAD(self):
                stub.head_calls += 1
                name = self.path.strip("/")
                with stub.lock:
                    exists = name in stub.indices
                self.send_response(200 if exists else 404)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def do_PUT(self):
                stub.put_calls += 1
                parts = self.path.strip("/").split("/")
                body = self.rfile.read(
                    int(self.headers.get("Content-Length", 0))
                ).decode()
                payload = json.loads(body) if body else {}
                with stub.lock:
                    if len(parts) == 3 and parts[1] == "_mapping":
                        stub.mappings[(parts[0], parts[2])] = payload
                    else:
                        stub.indices[parts[0]] = payload
                self._reply({"acknowledged": True})

            def do_POST(self):
                body = self.rfile.read(
                    int(self.headers.get("Content-Length", 0))
                ).decode()
                if self.path.endswith("/_bulk"):
                    self._reply(stub.bulk(body))
                elif self.path.endswith("/_mget"):
                    self._reply(stub.mget(json.loads(body)))
                elif self.path.endswith("/_search"):
                    self._reply(stub.search(json.loads(body)))
                elif self.path.rstrip("/").endswith("/_aliases"):
                    self._reply(stub.apply_aliases(json.loads(body)))
                else:
                    self.send_response(404)
                    self.end_headers()

            def do_GET(self):
                parts = self.path.strip("/").split("/")
                with stub.lock:
                    if len(parts) == 2 and parts[0] == "_alias":
                        holders = {
                            idx: {"aliases": {parts[1]: {}}}
                            for idx, als in stub.aliases.items()
                            if parts[1] in als
                        }
                        if not holders:
                            self.send_response(404)
                            self.send_header("Content-Length", "0")
                            self.end_headers()
                            return
                        self._reply(holders)
                    elif len(parts) == 2 and parts[1] == "_count":
                        if parts[0] not in stub.indices:
                            self.send_response(404)
                            self.send_header("Content-Length", "0")
                            self.end_headers()
                            return
                        self._reply(
                            {"count": stub.counts.get(parts[0], 0)}
                        )
                    else:
                        self.send_response(404)
                        self.end_headers()

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.thread = threading.Thread(
            target=self.server.serve_forever, daemon=True
        )
        self.thread.start()
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}"

    def close(self):
        self.server.shutdown()
        self.server.server_close()

    def apply_aliases(self, body: dict) -> dict:
        # ES semantics: the whole actions list applies atomically
        with self.lock:
            self.alias_posts.append(body)
            for action in body["actions"]:
                (kind, spec), = action.items()
                idx, alias = spec["index"], spec["alias"]
                if kind == "add":
                    self.aliases.setdefault(idx, set()).add(alias)
                elif kind == "remove":
                    self.aliases.get(idx, set()).discard(alias)
        return {"acknowledged": True}

    @property
    def counts(self) -> dict:
        # per-index doc counts for the readiness probe; tests set
        # _counts directly (the flat stub state is not per-index)
        return getattr(self, "_counts", {})

    def bulk(self, body: str) -> dict:
        lines = [json.loads(ln) for ln in body.strip().split("\n")]
        items, errors, i = [], False, 0
        with self.lock:
            while i < len(lines):
                action, meta = next(iter(lines[i].items()))
                _id = meta["_id"]
                if action == "index":
                    doc = lines[i + 1]
                    i += 2
                    if _id in self.fail_ids:
                        errors = True
                        items.append({"index": {
                            "_id": _id, "status": 429,
                            "error": {"type": "es_rejected_execution"},
                        }})
                        continue
                    self.state[_id] = doc
                    if meta.get("_parent"):
                        self.parents[_id] = meta["_parent"]
                    items.append({"index": {"_id": _id, "status": 200}})
                else:  # delete
                    i += 1
                    existed = self.state.pop(_id, None) is not None
                    self.parents.pop(_id, None)
                    items.append({"delete": {
                        "_id": _id, "status": 200 if existed else 404,
                    }})
        return {"took": 1, "errors": errors, "items": items}

    def mget(self, body: dict) -> dict:
        self.mget_calls += 1
        with self.lock:
            docs = []
            for _id in body["ids"]:
                if _id in self.state:
                    docs.append({"_id": _id, "found": True,
                                 "_source": self.state[_id]})
                else:
                    docs.append({"_id": _id, "found": False})
        return {"docs": docs}

    def search(self, body: dict) -> dict:
        self.search_calls += 1
        ids = body["query"]["terms"]["_id"]
        with self.lock:
            hits = [
                {"_id": _id, "_source": self.state[_id],
                 **({"_parent": self.parents[_id]}
                    if _id in self.parents else {})}
                for _id in ids if _id in self.state
            ]
        return {"hits": {"hits": hits}}


@pytest.fixture()
def stub_es():
    stub = StubES()
    yield stub
    stub.close()


def test_check_bulk_response_passes_clean_and_404_deletes():
    EsBulkSink.check_bulk_response(json.dumps(
        {"took": 1, "errors": False,
         "items": [{"index": {"_id": "A", "status": 200}}]}
    ))
    # delete of a missing doc: 404 without an error body is fine
    EsBulkSink.check_bulk_response(json.dumps(
        {"took": 1, "errors": True,
         "items": [{"delete": {"_id": "Z", "status": 404}}]}
    ))


def test_check_bulk_response_raises_on_item_errors():
    payload = json.dumps({
        "took": 1, "errors": True,
        "items": [
            {"index": {"_id": "A", "status": 200}},
            {"index": {"_id": "B", "status": 429,
                       "error": {"type": "es_rejected_execution"}}},
        ],
    })
    with pytest.raises(BulkItemError, match="_id=B"):
        EsBulkSink.check_bulk_response(payload)


def _ir_frame(spark, rows):
    return spark.createDataFrame(
        rows,
        "action string, id string, parent string, "
        "data struct<name:string>, timestamp long",
    )


def test_apply_writes_and_read_state_mget(spark, stub_es):
    sink = EsBulkSink(stub_es.url, "idx", "doc")
    sink.apply(spark, _ir_frame(spark, [
        ("upsert", "A", None, ("a1",), 1),
        ("upsert", "B", None, ("b1",), 1),
        ("delete", "C", None, None, 1),
    ]), 0)
    assert stub_es.state == {"A": {"name": "a1"}, "B": {"name": "b1"}}

    ids = spark.createDataFrame([("A",), ("C",)], "id string")
    state = sink.read_state(spark, ids=ids)
    rows = {r["_id"]: r for r in state.collect()}
    assert set(rows) == {"A"}  # C not found -> no row
    assert json.loads(rows["A"]["data_json"]) == {"name": "a1"}
    assert stub_es.mget_calls >= 1 and stub_es.search_calls == 0
    assert sink.read_state(spark) is None  # no ids -> no lookup


def test_read_state_terms_search_reinjects_parent(spark, stub_es):
    sink = EsBulkSink(stub_es.url, "idx", "doc", parent_routing=True)
    sink.apply(spark, _ir_frame(spark, [
        ("upsert", "A", "P1", ("a1",), 1),
    ]), 0)
    ids = spark.createDataFrame([("A",)], "id string")
    rows = {r["_id"]: r for r in sink.read_state(spark, ids=ids).collect()}
    assert rows["A"]["_parent"] == "P1"
    assert stub_es.search_calls >= 1 and stub_es.mget_calls == 0


def test_init_indices_creates_missing_and_skips_existing(stub_es):
    """L2 DDL bootstrap contract (reference src/indices.ts:19-33):
    PUT mapping only for indices whose HEAD probe 404s; ``suffix``
    implements blue-green versioning (indices.ts:22,29)."""
    from mongo_es_spark.streaming.sink import init_indices

    stub_es.indices["banner-v2"] = {"preexisting": True}
    specs = [
        {"index": "banner", "body": {"mappings": {"doc": {}}}},
        {"index": "user", "body": {"settings": {"number_of_shards": 3}}},
    ]
    init_indices(stub_es.url, specs, suffix="-v2")

    # existing index untouched, missing one created with its body
    assert stub_es.indices["banner-v2"] == {"preexisting": True}
    assert stub_es.indices["user-v2"] == {
        "settings": {"number_of_shards": 3}
    }
    assert stub_es.put_calls == 1 and stub_es.head_calls == 2

    # idempotent re-run: both now exist, no further PUTs
    init_indices(stub_es.url, specs, suffix="-v2")
    assert stub_es.put_calls == 1


def test_init_indices_puts_task_mappings_unconditionally(stub_es):
    """Per-task putMapping (reference indices.ts:27-31) runs even for
    pre-existing indices, so mapping changes roll out."""
    from mongo_es_spark.config import Task

    from mongo_es_spark.streaming.sink import init_indices

    stub_es.indices["banner-v2"] = {}
    task = Task({
        "extract": {"db": "db", "collection": "c"},
        "transform": {"mapping": {"name": "name"}},
        "load": {"index": "banner", "type": "doc",
                 "body": {"properties": {"name": {"type": "text"}}}},
    })
    init_indices(stub_es.url, [{"index": "banner", "body": {}}],
                 suffix="-v2", tasks=[task])
    assert stub_es.mappings[("banner-v2", "doc")] == {
        "properties": {"name": {"type": "text"}}
    }


def test_apply_raises_on_item_level_bulk_failure(spark, stub_es):
    stub_es.fail_ids.add("BAD")
    sink = EsBulkSink(stub_es.url, "idx", "doc")
    with pytest.raises(Exception, match="bulk item"):
        sink.apply(spark, _ir_frame(spark, [
            ("upsert", "BAD", None, ("x",), 1),
        ]), 0)


@pytest.mark.slow
def test_scan_then_tail_es_mode_matches_oracle(spark, tmp_path, stub_es):
    """The e2e of test_tail_e2e, with the LIVE-lookup sink: patch
    updates must hit the sink copy served over _mget, not a local
    parquet state (the round-1 gap: core tail semantics silently
    degraded outside the test sink)."""
    from test_tail_e2e import (
        HINTS,
        OPLOG_BATCHES,
        SOURCE_DOCS,
        _strip_nulls,
        banner_task,
        oracle_state,
    )

    from mongo_es_spark.config import Controls
    from mongo_es_spark.sources.cdc import file_oplog_stream
    from mongo_es_spark.streaming.tail import run_scan, run_tail

    task = banner_task()
    sink = EsBulkSink(stub_es.url, "banner", "doc")

    src_rows = [
        (d["_id"], d["name"], d["shareCount"]["all"], d["deleted"])
        for d in SOURCE_DOCS
    ]
    source_path = str(tmp_path / "source")
    spark.createDataFrame(
        src_rows,
        "_id string, name string, shareCount_all long, deleted boolean",
    ).selectExpr(
        "_id", "name",
        "named_struct('all', shareCount_all) as shareCount", "deleted",
    ).write.parquet(source_path)
    source_df = spark.read.parquet(source_path)

    run_scan(spark, task, source_df, sink)
    assert stub_es.state  # backfill landed in the live index

    oplog_dir = tmp_path / "oplog"
    write_ordered_feed(str(oplog_dir), [
        [{**ev, "doc": json.dumps(ev["doc"])} for ev in batch]
        for batch in OPLOG_BATCHES
    ])

    stream = file_oplog_stream(
        spark, str(oplog_dir), task, max_files_per_trigger=1
    )
    q = run_tail(
        spark, task, Controls(), stream, sink,
        source_df=source_df, hints=HINTS,
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
    )
    drain(q)

    want = {
        k: _strip_nulls(v["data"]) for k, v in oracle_state(task).items()
    }
    got = {k: _strip_nulls(v) for k, v in stub_es.state.items()}
    assert got == want
    assert stub_es.mget_calls >= 1  # lookups really hit the live index


def test_parent_routed_delete_replay_is_noop(spark, stub_es):
    """At-least-once redelivery of a DELETE batch through the
    parent-routed sink (the full process_batch pipeline: compact ->
    terms-search state lookup -> dispatch -> bulk apply).  First
    delivery fetches the child's ``_parent`` from the live index for
    routing and deletes it; the REPLAY's lookup finds nothing, so
    dispatch drops the delete (reference src/processor.ts:209-213 —
    delete with parent routing but no sink doc), the bulk body is
    empty, and sink state is byte-identical — replay is a no-op."""
    from pyspark.sql import functions as F

    from mongo_es_spark.config import Task
    from mongo_es_spark.core import make_ts
    from mongo_es_spark.operators.oplog_compaction import compact_oplog_docs
    from mongo_es_spark.plans.cdc_schema import sink_data_schema
    from mongo_es_spark.streaming.tail import dispatch_ir_frame

    task = Task(
        {
            "extract": {"db": "jike", "collection": "comments"},
            "transform": {"mapping": {"text": "text"}, "parent": "postId"},
            "load": {"index": "comment", "type": "doc"},
        }
    )
    hints = {"text": "string"}
    sink = EsBulkSink(stub_es.url, "comment", "doc", parent_routing=True)

    def process(events):
        """One foreachBatch delivery, exactly run_tail's per-batch
        steps (a Spark replay re-invokes the handler with the same
        rows)."""
        batch = spark.createDataFrame(
            events,
            "ts long, ns string, op string, id string, doc string, "
            "fromMigrate boolean",
        )
        compacted = compact_oplog_docs(batch, task)
        state = sink.read_state(
            spark, ids=compacted.select("id").distinct()
        )
        if state is not None and "data_json" in state.columns:
            state = state.select(
                "_id",
                "_parent",
                F.from_json(
                    "data_json", sink_data_schema(task, hints)
                ).alias("data"),
            )
        # pin the IR before applying: the frame is lazy, and counting
        # it after apply would re-run the live-index lookup against
        # post-delete state
        irs = dispatch_ir_frame(
            compacted, task, state, None, hints
        ).localCheckpoint(eager=True)
        n = irs.count()
        sink.apply(spark, irs, 0)
        return n

    ns = "jike.comments"
    ins = [
        (make_ts(1), ns, "i", "C1",
         json.dumps({"text": "hi", "postId": "P9"}), None),
        (make_ts(2), ns, "i", "C2",
         json.dumps({"text": "yo", "postId": "P9"}), None),
    ]
    assert process(ins) == 2
    assert stub_es.state == {"C1": {"text": "hi"}, "C2": {"text": "yo"}}
    assert stub_es.parents == {"C1": "P9", "C2": "P9"}

    dels = [(make_ts(3), ns, "d", "C1", "{}", None)]
    searches_before = stub_es.search_calls
    assert process(dels) == 1  # routed delete emitted once
    assert stub_es.search_calls > searches_before  # J2 lookup ran
    assert set(stub_es.state) == {"C2"}
    assert set(stub_es.parents) == {"C2"}

    # replay the SAME delete batch: the state lookup finds no doc,
    # dispatch emits nothing, and the sink is untouched
    searches_before = stub_es.search_calls
    assert process(dels) == 0
    assert stub_es.search_calls > searches_before  # lookup DID run
    assert stub_es.state == {"C2": {"text": "yo"}}
    assert stub_es.parents == {"C2": "P9"}


def test_alias_cutover_atomic_and_idempotent(stub_es):
    """Blue-green completion (r10 VERDICT #5): after init_indices
    creates the suffixed index, ONE `_aliases` call atomically
    removes the alias from the old generation and adds the new
    (reference indices.ts:22,29 starts the pattern; this finishes
    it); a re-run no-ops without touching the API."""
    from mongo_es_spark.streaming.sink import cutover_alias, init_indices

    init_indices(stub_es.url, [{"index": "banner", "body": {}}], suffix="_v1")
    stub_es._counts = {"banner_v1": 5}
    out = cutover_alias(stub_es.url, "banner", "banner_v1", min_docs=1)
    assert out == {"action": "swap", "removed": [], "added": "banner_v1"}
    assert stub_es.aliases == {"banner_v1": {"banner"}}
    assert len(stub_es.alias_posts) == 1

    # new generation: create v2, backfill, swap — one call carries
    # BOTH the remove and the add (the atomicity contract)
    init_indices(stub_es.url, [{"index": "banner", "body": {}}], suffix="_v2")
    stub_es._counts["banner_v2"] = 7
    out2 = cutover_alias(stub_es.url, "banner", "banner_v2", min_docs=1)
    assert out2["action"] == "swap" and out2["removed"] == ["banner_v1"]
    actions = stub_es.alias_posts[-1]["actions"]
    assert {"remove": {"index": "banner_v1", "alias": "banner"}} in actions
    assert {"add": {"index": "banner_v2", "alias": "banner"}} in actions
    assert stub_es.aliases["banner_v1"] == set()
    assert stub_es.aliases["banner_v2"] == {"banner"}

    # idempotent re-run: alias already on v2, no API write
    n_posts = len(stub_es.alias_posts)
    assert cutover_alias(stub_es.url, "banner", "banner_v2")["action"] == "noop"
    assert len(stub_es.alias_posts) == n_posts


def test_alias_cutover_readiness_gate(stub_es):
    """A half-backfilled index never takes the alias: the count probe
    gates the swap and the old generation keeps serving."""
    import pytest as _pytest

    from mongo_es_spark.streaming.sink import cutover_alias, init_indices

    init_indices(stub_es.url, [{"index": "banner", "body": {}}], suffix="_v1")
    init_indices(stub_es.url, [{"index": "banner", "body": {}}], suffix="_v2")
    stub_es._counts = {"banner_v1": 5, "banner_v2": 0}
    cutover_alias(stub_es.url, "banner", "banner_v1", min_docs=1)
    with _pytest.raises(ValueError, match="readiness"):
        cutover_alias(stub_es.url, "banner", "banner_v2", min_docs=1)
    assert stub_es.aliases["banner_v1"] == {"banner"}  # untouched


def test_rollover_alias_ilm_rotation(stub_es):
    """ILM size-based rotation: below max_docs no-op; at the
    threshold create <stem>-NNNNNN+1 and atomically move the alias;
    the post-swap retry no-ops (fresh index below threshold); the
    crash-between-create-and-swap retry reuses the existing next
    index and still swaps."""
    from mongo_es_spark.streaming.sink import (
        cutover_alias,
        init_indices,
        rollover_alias,
    )

    init_indices(
        stub_es.url, [{"index": "logs-000001", "body": {}}]
    )
    stub_es._counts = {"logs-000001": 3}
    cutover_alias(stub_es.url, "logs", "logs-000001", min_docs=1)

    out = rollover_alias(stub_es.url, "logs", max_docs=10)
    assert out["action"] == "noop" and out["n_docs"] == 3
    assert stub_es.aliases == {"logs-000001": {"logs"}}

    stub_es._counts = {"logs-000001": 10}
    out = rollover_alias(stub_es.url, "logs", max_docs=10)
    assert out == {"action": "rollover", "old": "logs-000001",
                   "new": "logs-000002", "n_docs": 10}
    assert "logs-000002" in stub_es.indices
    assert stub_es.aliases["logs-000001"] == set()
    assert stub_es.aliases["logs-000002"] == {"logs"}

    # retry after the swap: the fresh index counts 0 -> noop
    out = rollover_alias(stub_es.url, "logs", max_docs=10)
    assert out["action"] == "noop" and out["old"] == "logs-000002"

    # crash-sim: next index exists (created by a dead attempt) but
    # the alias still points at the full one -> retry swaps, reuses
    stub_es._counts = {"logs-000002": 10}
    stub_es.indices["logs-000003"] = {}
    out = rollover_alias(stub_es.url, "logs", max_docs=10)
    assert out["action"] == "rollover" and out["new"] == "logs-000003"
    assert stub_es.aliases["logs-000003"] == {"logs"}


def test_rollover_alias_validation(stub_es):
    from mongo_es_spark.streaming.sink import (
        cutover_alias,
        init_indices,
        rollover_alias,
    )
    import pytest as _pytest

    # no holder at all
    with _pytest.raises(ValueError, match="exactly one write index"):
        rollover_alias(stub_es.url, "ghost", max_docs=1)
    # holder without the -NNNNNN counter
    init_indices(stub_es.url, [{"index": "flat", "body": {}}])
    stub_es._counts = {"flat": 1}
    cutover_alias(stub_es.url, "flatalias", "flat", min_docs=1)
    with _pytest.raises(ValueError, match="counter suffix"):
        rollover_alias(stub_es.url, "flatalias", max_docs=1)
