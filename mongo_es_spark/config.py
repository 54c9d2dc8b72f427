"""Task/config model: the control plane of the pipeline.

Mirrors the reference's config surface (reference: src/config.ts:58-149)
— a ``Config`` is MongoDB + Elasticsearch connection settings, a list of
``Task`` replication pipelines, and global ``Controls`` throttles.  A
Task = extract (db/collection/projection) + transform (field mapping,
static constants, optional parent) + load (index/type/mapping body).

Spark-first divergences, by design:

* A Task compiles to a *logical plan builder* (see plans/), not an
  imperative pipeline: the scan phase is a batch DataFrame job, the tail
  phase a Structured Streaming query with ``checkpointLocation`` derived
  from ``Task.name()``.
* Checkpointing is Spark's offset log; the reference's pluggable
  save/load hooks (src/config.ts:83-114) are kept as optional callbacks
  fired from a StreamingQueryListener / after each batch, for parity.
* Schemas: the reference is schemaless on input; Spark wants schemas.
  Faithful resolution (SURVEY §7): only mapped fields ever reach the
  sink (src/processor.ts:66-78), so the effective source schema is
  derivable from ``mapping`` keys + ``projection``.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from . import paths


@dataclass
class CheckPoint:
    """Resume cursor (reference: src/config.ts:24-36).

    ``phase='scan'`` progress is an ``_id`` watermark; ``phase='tail'``
    progress is an oplog-timestamp watermark (epoch millis).
    """

    phase: str  # 'scan' | 'tail'
    id: str = "000000000000000000000000"
    time: int = 0

    @classmethod
    def from_dict(cls, d: dict) -> "CheckPoint":
        return cls(
            phase=d.get("phase", "scan"),
            id=str(d.get("id", "000000000000000000000000")),
            time=int(d.get("time", 0)),
        )


@dataclass
class ExtractTask:
    db: str = ""
    collection: str = ""
    projection: dict[str, int] = field(default_factory=dict)


@dataclass
class TransformTask:
    mapping: dict[str, str] = field(default_factory=dict)
    static: dict[str, Any] = field(default_factory=dict)
    parent: Optional[str] = None


@dataclass
class LoadTask:
    index: str = ""
    type: str = ""
    body: dict[str, Any] = field(default_factory=dict)
    # optional config-declared search index maintained beside the doc
    # sink: {"textField": ..., "fields": [...], "analyzer": ...,
    # "path": ..., "maintain": {...}} — the ES mapping's analyzed
    # text field as a first-class load target (reference
    # examples/config.json:63-71 declares per-field analyzers)
    search_index: Optional[dict] = None
    # optional config-declared DENSE (vector) index: {"vecField": ...,
    # "idCast": ..., "nCells": ..., "path": ..., "maintain": {...}} —
    # scan materializes the IVF store from the backfilled state, tail
    # keeps it in sync (DenseIndexedSink)
    dense_index: Optional[dict] = None


CheckpointSaveHook = Callable[[str, CheckPoint], None]
CheckpointLoadHook = Callable[[str], Optional[dict]]


class Task:
    """One replication pipeline (reference: src/config.ts:58-115)."""

    # class-level pluggable checkpoint store hooks, like the reference's
    # static onSaveCallback/onLoadCallback (src/config.ts:63-64)
    on_save_callback: Optional[CheckpointSaveHook] = None
    on_load_callback: Optional[CheckpointLoadHook] = None

    def __init__(self, spec: dict):
        self.from_ = CheckPoint.from_dict(spec.get("from", {"phase": "scan"}))
        # Spark-specific extension: optional per-source-path type hints
        # ("name": "string", "shareCount.all": "long") pinning the CDC
        # payload schema, like the ES mapping body does for the sink
        self.hints: dict[str, str] = spec.get("hints", {}) or {}
        ex = spec.get("extract", {}) or {}
        self.extract = ExtractTask(
            db=ex.get("db", ""),
            collection=ex.get("collection", ""),
            projection=ex.get("projection", {}) or {},
        )
        tr = spec.get("transform", {}) or {}
        self.transform = TransformTask(
            mapping=tr.get("mapping", {}) or {},
            static=tr.get("static", {}) or {},
            parent=tr.get("parent"),
        )
        ld = spec.get("load", {}) or {}
        self.load = LoadTask(
            index=ld.get("index", ""),
            type=ld.get("type", ""),
            body=ld.get("body", {}) or {},
            search_index=ld.get("searchIndex"),
            dense_index=ld.get("denseIndex"),
        )

    def name(self) -> str:
        # reference: src/config.ts:73-75
        return (
            f"{self.extract.db}.{self.extract.collection}"
            f"___{self.load.index}.{self.load.type}"
        )

    def end_scan(self) -> None:
        # reference: src/config.ts:77-81 — flip scan -> tail
        self.from_.phase = "tail"
        self.from_.id = ""
        Task.save_checkpoint(self.name(), self.from_)

    # -- pluggable checkpoint store (reference: src/config.ts:83-114) --

    @classmethod
    def on_save_checkpoint(cls, hook: CheckpointSaveHook) -> None:
        cls.on_save_callback = hook

    @classmethod
    def on_load_checkpoint(cls, hook: CheckpointLoadHook) -> None:
        cls.on_load_callback = hook

    @classmethod
    def save_checkpoint(cls, name: str, checkpoint: CheckPoint) -> None:
        if cls.on_save_callback is None:
            return
        try:
            cls.on_save_callback(name, checkpoint)
        except Exception:  # reference swallows save errors (config.ts:91-99)
            pass

    @classmethod
    def load_checkpoint(cls, name: str) -> Optional[CheckPoint]:
        if cls.on_load_callback is None:
            return None
        try:
            obj = cls.on_load_callback(name)
            if obj and obj.get("phase"):
                return CheckPoint.from_dict(obj)
            return None
        except Exception:  # reference falls back on error (config.ts:101-114)
            return None

    # -- schema derivation (Spark-first; SURVEY §7 hard part (a)) --

    def source_paths(self) -> list[str]:
        """Dot-paths the task ever reads from a source document."""
        out = list(self.transform.mapping.keys())
        if self.transform.parent and self.transform.parent not in out:
            out.append(self.transform.parent)
        return out

    def sink_fields(self) -> list[str]:
        """Dot-paths of the mapped output (``data``) document."""
        seen: dict[str, None] = {}
        for key in self.transform.static:
            seen.setdefault(key, None)
        for value in self.transform.mapping.values():
            seen.setdefault(value, None)
        return list(seen)


@dataclass
class Controls:
    """Global throttles (reference: src/config.ts:117-134).

    ``mongodb_read_capacity`` is enforced as a real docs/s limit
    (C1): a distributed token bucket paces the scan/tail read via
    Spark's iterator pull (ratelimit.py; reference
    src/processor.ts:31-49).  Bulk interval/size map to trigger
    interval + micro-batch sizing.
    """

    mongodb_read_capacity: float = math.inf
    elasticsearch_bulk_interval: int = 5000  # ms
    elasticsearch_bulk_size: int = 5000
    index_name_suffix: str = ""
    # Spark-specific companion to the docs/s bucket: a per-trigger
    # source cap bounding each micro-batch's file count
    max_files_per_trigger: Optional[int] = None

    @classmethod
    def from_dict(cls, d: dict) -> "Controls":
        d = d or {}
        return cls(
            mongodb_read_capacity=d.get("mongodbReadCapacity", math.inf),
            elasticsearch_bulk_interval=d.get("elasticsearchBulkInterval", 5000),
            elasticsearch_bulk_size=d.get("elasticsearchBulkSize", 5000),
            index_name_suffix=d.get("indexNameSuffix", ""),
            max_files_per_trigger=d.get("maxFilesPerTrigger"),
        )


@dataclass
class MongoConfig:
    url: str = ""
    options: dict = field(default_factory=dict)


@dataclass
class ElasticsearchConfig:
    options: dict = field(default_factory=dict)
    indices: list[dict] = field(default_factory=list)


class Config:
    """Parse the task-pipeline JSON (reference: src/config.ts:136-149)."""

    def __init__(self, text: str):
        obj = json.loads(text)
        mongo = obj.get("mongodb", {}) or {}
        self.mongodb = MongoConfig(
            url=mongo.get("url", ""), options=mongo.get("options", {}) or {}
        )
        es = obj.get("elasticsearch", {}) or {}
        self.elasticsearch = ElasticsearchConfig(
            options=es.get("options", {}) or {},
            indices=es.get("indices", []) or [],
        )
        self.tasks = [Task(t) for t in obj.get("tasks", [])]
        self.controls = Controls.from_dict(obj.get("controls", {}))


def read_config(path: str) -> Config:
    with open(path, "r", encoding="utf-8") as fh:
        return Config(fh.read())
