"""Parquet state-store reads that distinguish "not created yet" from
"broken".

Every incremental operator (signature stores, window-hash stores,
curation state, embedding cells) starts from an optional on-disk
store.  Treating ANY read failure as "store missing" — the easy
``except Exception`` — silently degrades dedup to batch-local and
re-appends already-stored rows on the next write, corrupting the
store's uniqueness invariant exactly when storage hiccups.  Only the
two conditions that genuinely mean "no data yet" map to ``None``;
everything else (permissions, corrupt footers, transient storage
errors) propagates.
"""

from __future__ import annotations

import os
from typing import Callable, Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "read_parquet_if_exists",
    "read_params_dir",
    "list_data_files",
    "rewrite_store",
    "write_params_row",
]

_MISSING = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")

# Per-path schema cache.  Every ``spark.read.parquet`` without an
# explicit schema runs a one-task schema-inference job (footer read)
# before the caller's first real action — on fold paths that re-open
# the same store once per micro-batch this is a fixed per-trigger job
# that infers the SAME schema every time (store schemas are fixed at
# creation and guarded by the params sidecars).  Staleness guard: the
# entry is keyed by (path, directory inode) and additionally pins one
# SENTINEL data file (relative path + size) observed at cache time.
# Append-only folds keep both; every layout that could change the
# schema replaces them — a first write / ``mode("overwrite")`` /
# ``rewrite_store`` rename swap replaces the directory (new inode),
# a recreated tempdir that happens to recycle the inode still cannot
# recycle the sentinel (parquet part names carry UUIDs), and in-place
# compactions that delete old files drop the sentinel.  Non-stat-able
# paths (object-store URIs) skip the cache entirely.
_SCHEMA_CACHE: dict = {}


def _schema_cache_key(path: str):
    try:
        return (path, os.stat(path).st_ino)
    except OSError:
        return None


def _schema_sentinel(path: str):
    """(relpath, size) of one data file under ``path``, or None.
    Skips ``_``/``.``-prefixed files and directories, as Spark's file
    listing does (``_SUCCESS``, ``_params`` sidecars, ``.crc``)."""
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                p = os.path.join(root, f)
                try:
                    return (os.path.relpath(p, path), os.path.getsize(p))
                except OSError:
                    return None
    return None


def read_parquet_if_exists(
    spark: SparkSession, path: str
) -> Optional[DataFrame]:
    """``spark.read.parquet(path)``, or ``None`` when the path does
    not exist or holds no data files yet (e.g. only ``_``-prefixed
    sidecars from a partially-completed first write).  Repeat reads of
    an unchanged-layout store reuse the first read's schema (see
    ``_SCHEMA_CACHE``), skipping the per-open schema-inference job.

    A local path that is missing or holds no data file returns
    ``None`` without asking Spark: a read that fails analysis is
    re-analysed, and logged as an ERROR, by the session's
    observed-metrics listener (``sparkutil.checkpoint_with`` registers
    it)."""
    if "://" not in path and not os.path.exists(path):
        return None
    key = _schema_cache_key(path)
    cached = sent = None
    if key is not None:
        ent = _SCHEMA_CACHE.get(key)
        if ent is not None:
            schema, (rel, size) = ent
            try:
                if os.path.getsize(os.path.join(path, rel)) == size:
                    cached = schema
                else:
                    del _SCHEMA_CACHE[key]
            except OSError:
                del _SCHEMA_CACHE[key]
        if cached is None:
            sent = _schema_sentinel(path)
            if sent is None and os.path.isdir(path):
                return None
    reader = spark.read if cached is None else spark.read.schema(cached)
    try:
        df = reader.parquet(path)
    except AnalysisException as exc:
        get = getattr(exc, "getCondition", None) or getattr(
            exc, "getErrorClass", None
        )
        cond = ""
        if get is not None:
            try:
                cond = get() or ""
            except Exception:
                cond = ""
        text = cond or str(exc)
        if any(m in text for m in _MISSING):
            return None
        raise
    if sent is not None:
        _SCHEMA_CACHE[key] = (df.schema, sent)
    return df


# Collected-row cache for the tiny params/sidecar frames (one row, or
# a handful).  Every fold and every serving read begins by reading its
# store's params sidecar and collecting the row — a schema-inference
# job plus a head() job per call, on content that only changes when
# the sidecar directory is rewritten.  Same staleness guard as the
# schema cache: (path, inode) key + a pinned sentinel data file.
_ROWS_CACHE: dict = {}


def read_params_rows(spark: SparkSession, path: str):
    """Collected rows of a SMALL sidecar parquet (params frames: one
    row, or at most a few), or ``None`` when the store does not exist
    yet.  Cached until the sidecar's layout changes — params writers
    use ``mode("overwrite")``, which replaces the directory and its
    data files, so a rewrite always invalidates.  Never use this for
    data-bearing stores."""
    key = _schema_cache_key(path)
    if key is not None:
        ent = _ROWS_CACHE.get(key)
        if ent is not None:
            rows, (rel, size) = ent
            try:
                if os.path.getsize(os.path.join(path, rel)) == size:
                    return rows
            except OSError:
                pass
            del _ROWS_CACHE[key]
    df = read_params_dir(spark, path)
    if df is None:
        return None
    rows = df.collect()
    if key is not None:
        sent = _schema_sentinel(path)
        if sent is not None:
            _ROWS_CACHE[key] = (rows, sent)
    return rows


def prime_params_cache(path: str, rows) -> None:
    """Seed the params-row cache with what a writer just wrote — the
    writer knows the row, so the store's next open need not re-read
    it (two jobs per open otherwise).  ``rows`` must mirror the
    written content exactly: same field names and values (Python ints
    stand in for longs; every caller coerces through int()/bool()
    anyway).  The entry carries the fresh directory's sentinel, so it
    invalidates on the next rewrite like any other cache entry."""
    key = _schema_cache_key(path)
    if key is None:
        return
    sent = _schema_sentinel(path)
    if sent is not None:
        _ROWS_CACHE[key] = (list(rows), sent)


def write_params_row(path: str, schema, row: dict) -> None:
    """Driver-side overwrite of a ONE-ROW params sidecar as a parquet
    directory (one part file + ``_SUCCESS``, the layout a coalesce(1)
    Spark write produces) — the values are driver-known scalars, so
    running a Spark job to persist them bought nothing but ~150-250 ms
    of job/commit fixed cost per CDC trigger (generation bumps write
    params every fold).  ``schema`` is a ``pyarrow.Schema`` chosen to
    round-trip to the exact Spark types the old writer produced
    (int32/int64/bool/string/list<string>), so cold-session reads
    infer the same schema as before.  Crash-safe: see
    :func:`write_params_table`."""
    write_params_table(path, schema, [row])


def _complete(d: str) -> bool:
    # ``_SUCCESS`` is the last file a params write creates
    return os.path.isfile(os.path.join(d, "_SUCCESS"))


def read_params_dir(spark: SparkSession, path: str) -> Optional[DataFrame]:
    """:func:`read_parquet_if_exists` of a params sidecar.  After a
    crash between the two renames of :func:`write_params_table` the
    live directory is missing but its complete ``__new`` replacement
    holds the current content: read that, never "store not created".
    Read-only — the next write finishes the swap."""
    new = path + "__new"
    if not os.path.isdir(path) and _complete(new):
        path = new
    return read_parquet_if_exists(spark, path)


def write_params_table(path: str, schema, rows: list[dict]) -> None:
    """Driver-side overwrite of a SMALL sidecar parquet directory with
    driver-known rows (the multi-row generalization of
    :func:`write_params_row` — e.g. a trained quantizer's centroid
    table).

    Sequence: write the complete replacement to ``path__new`` (marker
    ``_SUCCESS`` last), rename the live directory aside to
    ``path__old``, rename the replacement in, drop the old copy.  At
    every crash point a complete copy exists: the live directory, or —
    between the two renames — the complete ``__new``, which readers
    use (:func:`read_params_dir`) and this function's next call renames
    into place before it writes.  A leftover ``__new`` without
    ``_SUCCESS`` is a crashed first step and is discarded; the
    ``__new``/``__old`` basenames keep the params name's ``_`` prefix,
    so store readers never see them."""
    import shutil
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    new, old = path + "__new", path + "__old"
    if not os.path.isdir(path) and _complete(new):
        os.rename(new, path)  # finish a crashed swap
    shutil.rmtree(new, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    os.makedirs(new)
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(
        table,
        os.path.join(new, f"part-00000-{uuid.uuid4()}.zstd.parquet"),
        compression="zstd",
    )
    with open(os.path.join(new, "_SUCCESS"), "w"):
        pass
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(new, path)
    shutil.rmtree(old, ignore_errors=True)


def read_store(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` for a store expected to exist, through
    the schema cache — repeat opens of an append-only store skip the
    per-open schema-inference job.  Missing path raises exactly like
    the direct read."""
    df = read_parquet_if_exists(spark, path)
    if df is None:
        return spark.read.parquet(path)  # native PATH_NOT_FOUND error
    return df


def list_data_files(path: str) -> list[str]:
    """Every data file under a parquet store directory (``_``/``.``
    prefixed sidecars and markers excluded) — the set a compaction
    pass replaces."""
    out: list[str] = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                out.append(os.path.join(root, f))
    return out


def rewrite_store(path: str, write_new: Callable[[str], None]) -> None:
    """Crash-aware in-place rewrite of a parquet store directory, for
    compaction passes whose rows are NOT idempotent under duplication
    (postings, docstats, doc-label stores — appending the compacted
    copy next to the originals would double-count).

    Sequence: ``write_new(path__new)`` writes the full replacement,
    then two renames swap it in, then the old copy is dropped.  The
    live directory is only ever renamed AFTER the replacement is
    complete, so a re-run self-heals every crash point: a missing live
    dir with a ``__new`` present means the swap lost the race between
    its two renames — finish it.  Maintenance-op contract: single
    writer, no concurrent queries during the swap window (the classic
    OPTIMIZE/VACUUM exclusivity).  Local-filesystem renames; an object
    store deployment would use the FileSystem committer instead.
    """
    import shutil

    new, old = path + "__new", path + "__old"
    if not os.path.isdir(path):
        if os.path.isdir(new):
            os.rename(new, path)  # self-heal a crashed swap
            shutil.rmtree(old, ignore_errors=True)
        else:
            raise ValueError(f"no store directory at {path}")
    shutil.rmtree(new, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    write_new(new)
    os.rename(path, old)
    os.rename(new, path)
    shutil.rmtree(old)
