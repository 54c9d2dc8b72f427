"""Similarity search over embedding columns.

* :func:`cosine_topk` — brute-force exact top-k: one scan, JVM-side
  dot products, ``TakeOrdered`` top-k (no full sort, no shuffle of the
  data — only k rows travel).  The correct baseline at any scale where
  a full scan is acceptable.
* :func:`ann_lsh_topk` — hyperplane-LSH signatures bucket the corpus;
  only candidates sharing a band with the query are re-ranked exactly.
  Approximate by design (recall < 1), so it gets a rows-only
  correctness check.
* :func:`ann_ivf_topk` — the IVF scale path: a k-means coarse
  quantizer (trained on a bounded sample, the standard IVF recipe)
  partitions the corpus into cells; queries scan only the ``n_probe``
  nearest cells.  At 100 TB the cell assignment is a one-pass
  Arrow-batched argmax against broadcast centroids, and the probed
  fraction bounds the scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..sparkutil import checkpoint_with
from ..storeio import read_store

from .dedup import (
    _mask_stack,
    _scatter,
    _unit_rows,
    cosine_col,
    hyperplane_signature,
)


def _round6_half_up(x: np.ndarray) -> np.ndarray:
    """6-dp rounding with the HALF-AWAY-FROM-ZERO rule — the one
    ``F.round`` (java.math HALF_UP) and DuckDB ``round()`` apply.
    ``np.round`` banker's-rounds (half-to-even), so a cosine landing
    exactly on a 5e-7 boundary would rank differently between a numpy
    kernel and a Spark/oracle expression; every Arrow kernel that
    feeds a result pinned equal to an ``F.round`` path shares this
    helper so both sides apply one rounding rule."""
    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def _nearest_cell_kernel(C: np.ndarray):
    """Arrow kernel factory: nearest-centroid (max-cosine) assignment
    against the broadcast centroid matrix ``C``.  Null-in/null-out: a
    NULL embedding yields a NULL cell — masked before the vstack, so
    one missing vector cannot ragged-array the batch and abort the
    job (the contract :func:`quantize_embeddings` pins)."""

    def assign_kernel(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series(np.empty(0, dtype=np.int32))
        M, idx = _mask_stack(vs)
        if len(idx) == 0:
            return pd.Series([None] * len(vs), dtype=object)
        cells = np.argmax(_unit_rows(M) @ C.T, axis=1).astype(np.int32)
        return _scatter(len(vs), idx, cells)

    return assign_kernel


def _top_cells_kernel(C: np.ndarray, p: int):
    """Arrow kernel factory: the ``p`` nearest centroids per vector
    (multiprobe assignment) against the broadcast centroid matrix.
    Null-in/null-out like :func:`_nearest_cell_kernel`."""

    def kernel(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series(np.empty(0, dtype=object))
        M, idx = _mask_stack(vs)
        if len(idx) == 0:
            return pd.Series([None] * len(vs), dtype=object)
        sims = _unit_rows(M) @ C.T
        top = np.argsort(-sims, axis=1)[:, :p]
        out = [None] * len(vs)
        for j, i in enumerate(idx):
            out[i] = [int(c) for c in top[j]]
        return pd.Series(out, dtype=object)

    return kernel


def _assign_residual_kernel(C: np.ndarray):
    """Arrow kernel factory: nearest-centroid assignment PLUS the
    member's residual norm ``|| unit(v) - centroid_cell ||`` in one
    pass (centroid rows are unit — :func:`_kmeans_fit` re-normalizes
    every iteration — so the residual falls out of the same cosine
    used for the argmax: ``sqrt(2 - 2*cos)``).

    The cell choice is bit-identical to :func:`_nearest_cell_kernel`
    (same ``argmax(unit_rows(M) @ C.T)``), so indexes written before
    residual tracking stay compatible.  NULL vectors yield NULL for
    both fields; ZERO vectors keep their cell (they must land
    somewhere) but yield a NULL residual — a zero vector has no cosine
    with anything (the ``cosine_pairs_col`` NULL contract), so it can
    never appear in a top-k and must not widen the cell's pruning
    radius."""

    def kernel(vs: pd.Series) -> pd.DataFrame:
        n = len(vs)
        out_cell = np.full(n, None, dtype=object)
        out_res = np.full(n, None, dtype=object)
        if n:
            M, idx = _mask_stack(vs)
            if len(idx):
                norms = np.linalg.norm(M, axis=1)
                sims = _unit_rows(M) @ C.T
                cells = np.argmax(sims, axis=1)
                res = np.sqrt(
                    np.maximum(
                        2.0 - 2.0 * sims[np.arange(len(cells)), cells],
                        0.0,
                    )
                )
                zero = norms == 0.0
                for j, i in enumerate(idx):
                    out_cell[i] = int(cells[j])
                    out_res[i] = None if zero[j] else float(res[j])
        return pd.DataFrame(
            {
                "cell": pd.Series(out_cell, dtype=object),
                "residual": pd.Series(out_res, dtype=object),
            }
        )

    return kernel


def _query_vec(df: DataFrame, id_col: str, vec_col: str, query_id) -> DataFrame:
    return df.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).cast("array<double>").alias("qv")
    )


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, query_id, k: int = 10
) -> DataFrame:
    """Exact top-k by cosine to the row with ``query_id``.

    The query vector joins in as a broadcast single-row frame — the
    whole computation stays in the engine (no driver collect), so the
    same plan serves parameter sweeps and batch scoring.
    """
    q = _query_vec(df, id_col, vec_col, query_id)
    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).filter(F.col(id_col) != query_id)
    scored = vecs.crossJoin(F.broadcast(q)).select(
        F.col(id_col),
        F.round(cosine_col(F.col("v"), F.col("qv")), 6).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def ann_lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id,
    dims: int,
    k: int = 10,
    bits: int = 16,
    band_bits: int = 4,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates = rows sharing >=1 LSH band with
    the query; exact cosine re-rank on the candidate set.
    ``multiprobe`` additionally probes buckets within that Hamming
    distance of each query band value — the recall dial that scales
    with corpus size while candidate volume stays bucket-shaped."""
    sigs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("sig", hyperplane_signature(F.col("v"), dims, bits))
    n_bands = bits // band_bits

    def bands(col: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    (
                        F.shiftrightunsigned(col, b * band_bits)
                        % F.lit(2**band_bits)
                    ).alias("val"),
                )
                for b in range(n_bands)
            ]
        )

    banded = sigs.select(
        id_col, "v", F.explode(bands(F.col("sig"))).alias("bb")
    ).select(id_col, "v", "bb.band", "bb.val")
    qb = (
        banded.filter(F.col(id_col) == query_id)
        .select(
            F.col("band").alias("qband"),
            F.col("val").alias("qval"),
            F.col("v").alias("qv"),
        )
    )
    if multiprobe > 0:
        # multi-probe LSH (Lv et al., VLDB'07): besides the query's own
        # bucket, probe every bucket whose band value sits within
        # Hamming distance ``multiprobe`` — near-miss sign flips are
        # the dominant false-negative mode, so probing neighbors buys
        # recall WITHOUT more tables or wider buckets.  The probe set
        # (n_bands x sum(C(band_bits, r)) rows) broadcasts; candidate
        # volume stays bucket-sized, unlike shrinking band_bits which
        # degenerates toward a full scan.
        import itertools

        masks = [0]
        for r in range(1, multiprobe + 1):
            for bits_set in itertools.combinations(range(band_bits), r):
                masks.append(sum(1 << b for b in bits_set))
        qb = qb.select(
            "qband",
            "qv",
            F.explode(
                F.array(*[
                    F.col("qval").bitwiseXOR(F.lit(m)) for m in masks
                ])
            ).alias("qval"),
        )
    cands = (
        banded.filter(F.col(id_col) != query_id)
        .join(
            F.broadcast(qb),
            (F.col("band") == F.col("qband")) & (F.col("val") == F.col("qval")),
        )
        .dropDuplicates([id_col])
    )
    scored = cands.select(
        F.col(id_col),
        F.round(cosine_col(F.col("v"), F.col("qv")), 6).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def _kmeans_fit(X: np.ndarray, n_cells: int, seed: int, iters: int = 10):
    """Lloyd's k-means on L2-normalized vectors (so euclidean argmin ==
    cosine argmax).  Deterministic: seeded init, fixed iterations."""
    rng = np.random.default_rng(seed)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[rng.choice(len(X), size=min(n_cells, len(X)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                C[c] = m / max(np.linalg.norm(m), 1e-12)
    return C


def quantize_embeddings(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Symmetric int8 quantization: per-vector scale = max|x|/127,
    codes = round(x/scale) — 8x smaller storage than array<double>
    for ~1e-2 absolute element error, the standard first compression
    step for a corpus-scale embedding store.  Pure column expressions;
    zero-vector scale floors at 1e-30 so codes stay 0 instead of
    dividing by zero; a NULL input vector yields NULL scale AND NULL
    codes (null-in/null-out), so missing embeddings stay
    distinguishable from zero-dimension ones.

    Output: ``id, scale, codes array<tinyint>`` (values bounded to
    [-127, 127] by the scale); reconstruct with :func:`dequantize_col`
    (x ≈ code · scale).
    """
    # One Arrow-batched numpy kernel, not array HOFs: Spark evaluates
    # transform() lambdas INTERPRETED per element, and a projection
    # over n x d elements measured 46 s at 200k x 64 dims; the numpy
    # matrix form is C-speed on the same batches (measured ~10x) with
    # zero shuffle either way.  Rounding is half-away-from-zero to
    # match F.round/DuckDB round exactly (np.round banker's-rounds).
    def _quant(vs: pd.Series) -> pd.DataFrame:
        # null-in/null-out: a missing embedding stays NULL (scale and
        # codes both), distinguishable from a zero-dimension vector —
        # the expression form's contract, preserved by the kernel
        arrs = [
            np.asarray(a, dtype=np.float64) if a is not None else None
            for a in vs
        ]
        dims = {a.shape[0] for a in arrs if a is not None}
        if all(a is not None for a in arrs) and len(dims) == 1 and 0 not in dims:
            mat = np.vstack(arrs)
            scale = (
                np.maximum(np.abs(mat).max(axis=1), 1e-30) / 127.0
            )
            q = mat / scale[:, None]
            codes = np.where(
                q >= 0, np.floor(q + 0.5), np.ceil(q - 0.5)
            ).astype(np.int8)
            code_lists = list(codes)
        else:  # ragged / empty / null fallback, same arithmetic per row
            scale_l, code_lists = [], []
            for a in arrs:
                if a is None:
                    scale_l.append(None)
                    code_lists.append(None)
                    continue
                s = (
                    max(np.abs(a).max(initial=0.0), 1e-30) / 127.0
                )
                q = a / s
                code_lists.append(
                    np.where(
                        q >= 0, np.floor(q + 0.5), np.ceil(q - 0.5)
                    ).astype(np.int8)
                )
                scale_l.append(s)
            scale = scale_l
        return pd.DataFrame({"scale": scale, "codes": code_lists})

    quant = pandas_udf(_quant, "struct<scale:double,codes:array<tinyint>>")
    return df.select(
        F.col(id_col),
        quant(F.col(vec_col).cast("array<double>")).alias("__q"),
    ).select(id_col, F.col("__q.scale").alias("scale"), F.col("__q.codes").alias("codes"))


def dequantize_col(codes: Column, scale: Column) -> Column:
    """int8 codes + per-vector scale -> array<double> reconstruction."""
    return F.transform(codes, lambda c: c.cast("double") * scale)


def whiten_embeddings(
    df: DataFrame, id_col: str, vec_col: str, eps: float = 1e-12
) -> DataFrame:
    """Per-dimension standardization (diagonal whitening):
    ``z_d = (x_d - mean_d) / std_d`` — the preprocessing step before
    cosine/IVF/PQ indexing when dimensions carry wildly different
    scales, and the cheap diagonal approximation of full PCA
    whitening.

    Scale shape: ONE aggregation computes all per-dimension moments
    (posexplode is JVM-local, the groupBy key space is exactly ``d``
    rows), the d-row result collects as model state (the legitimate
    broadcast pattern — same as k-means centroids), and the transform
    is a zero-shuffle projection against literal arrays.  Moments use
    the explicit ``sum/sum-of-squares`` formulation so any engine
    replays the identical arithmetic.

    Output: ``(id, z array<double>)``; dimensions with ~zero variance
    floor the divisor at ``eps`` so constant columns map to 0-ish
    rather than NaN.
    """
    v = F.col(vec_col).cast("array<double>")
    moments = (
        df.select(F.posexplode(v).alias("i", "x"))
        .groupBy("i")
        .agg(
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    d = len(moments)
    means = [0.0] * d
    stds = [1.0] * d
    for r in moments:
        m = r["sx"] / r["n"]
        var = r["sxx"] / r["n"] - m * m
        means[r["i"]] = m
        stds[r["i"]] = max(var, 0.0) ** 0.5
    m_lit = F.array(*[F.lit(m) for m in means])
    s_lit = F.array(*[F.lit(max(s, eps)) for s in stds])
    z = F.transform(
        v,
        lambda x, i: (x - F.element_at(m_lit, i + 1))
        / F.element_at(s_lit, i + 1),
    )
    return df.select(F.col(id_col), z.alias("z"))


def materialize_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_cells: int = 16,
    seed: int = 7,
    train_sample: int = 100_000,
    train_order: str = "id",
) -> None:
    """Persist an IVF index: vectors written partitioned by their
    k-means cell (``<path>/vectors/cell=N/...``) plus the centroid
    matrix (``<path>/centroids``) plus per-cell pruning statistics
    (``<path>/cellstats``: the max residual norm and scorable-member
    count, the model state :func:`ivf_exact_topk` needs to prune cells
    with an exactness certificate).  Queries then prune *files*, not
    rows — the probe filter never reads the unprobed cells' parquet.
    """
    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    # Arrow path: toPandas ships the sample as columnar batches —
    # a 100k x 64 collect() serializes row-by-row through py4j and
    # measured ~10x slower.
    # Deterministic sample order (limit().toPandas() row order is
    # partition-order sensitive and k-means init indexes rows —
    # unsorted, the trained cells vary run to run on identical data):
    # "id" keeps the original contract; "hash" (deterministic id-hash
    # order) draws the sample UNIFORMLY across the id space — what
    # recluster_ivf_store needs, because appended/updated rows carry
    # HIGH ids an id-sorted prefix never samples, silently re-training
    # the quantizer on only the pre-drift population.
    if train_order == "hash":
        order_cols = [F.xxhash64(F.col(id_col)), F.col(id_col)]
    elif train_order == "id":
        order_cols = [F.col(id_col)]
    else:
        raise ValueError(
            f"train_order must be 'id' or 'hash', got {train_order!r}"
        )
    sample = (  # nulls masked: one missing vector must not ragged-array training
        vecs.filter(F.col("v").isNotNull())
        .orderBy(*order_cols).select("v").limit(train_sample).toPandas()
    )
    X = np.asarray(sample["v"].tolist(), dtype=np.float64)
    C = _kmeans_fit(X, n_cells, seed)

    assign = pandas_udf(
        _assign_residual_kernel(C), "struct<cell:int,residual:double>"
    )
    # one kernel pass serves both writes: the eager checkpoint holds
    # the (id, v, cell, residual) assignment so the cellstats aggregate
    # never re-runs the Arrow kernel over the corpus
    staged = (
        vecs.withColumn("__ar", assign(F.col("v")))
        .select(
            F.col(id_col),
            "v",
            F.col("__ar.cell").alias("cell"),
            F.col("__ar.residual").alias("__res"),
        )
        .localCheckpoint(eager=True)
    )
    (
        staged.drop("__res")
        # gen 0 throughout: generation numbers only matter once
        # apply_cdc_to_ivf_index supersedes rows (liveness = gen above
        # the id's dead-watermark); a freshly materialized index has
        # no dead store and every row live
        .withColumn("gen", F.lit(0).cast("long"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/vectors")
    )
    spark = df.sparkSession
    _write_cellstats(staged, f"{path}/cellstats", mode="overwrite")
    spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(C)],
        "cell int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    # coverage marker LAST: it asserts "every vector has a cellstats
    # row", so it must only exist once the stats do — a crash before
    # this line leaves exact search conservatively unpruned (radius
    # 2.0), never wrong.  Indexes without the marker (pre-marker
    # builds, or appended to before stats existed) are never pruned.
    _write_ivf_params(spark, path, stats_cover=1, cur_gen=0)


def _ivf_centroid_rows(spark, path: str):
    """Collected centroid rows (bounded model state, ≤ n_cells rows)
    through the cached sidecar reader — centroids are only ever
    written with ``mode("overwrite")``, which replaces the directory
    and invalidates the cache, so repeat reads skip both the
    schema-inference job and the collect job."""
    from ..storeio import read_params_rows

    rows = read_params_rows(spark, f"{path}/centroids")
    if rows is None:
        # surface the native PATH_NOT_FOUND error
        return spark.read.parquet(f"{path}/centroids").collect()
    return rows


def _ivf_params_path(path: str) -> str:
    # underscore prefix: invisible to spark.read.parquet(path)
    return f"{path.rstrip('/')}/_ivf_params"


def _read_ivf_params(spark, path: str):
    """One-row params frame for an IVF store, or ``None`` for an index
    materialized before params existed.  ``stats_cover = 1`` asserts
    every vector in the store is covered by a cellstats row — the
    invariant the exact-search radius pruning needs.  Indexes without
    the marker may hold vectors appended before cellstats tracking
    (stats non-None but partial), so exact search must NOT trust their
    radii: a too-small radius prunes a cell holding a true top-k hit
    and silently breaks the exactness certificate."""
    from ..storeio import read_params_rows

    rows = read_params_rows(spark, _ivf_params_path(path))
    return rows[0] if rows else None


def _write_ivf_params(spark, path: str, stats_cover: int, cur_gen: int) -> None:
    # driver-side one-row write (runs once per CDC trigger — the gen
    # bump); see storeio.write_params_row.  Types round-trip the old
    # Spark writer's: stats_cover int, cur_gen long.
    import pyarrow as pa

    from ..storeio import write_params_row

    write_params_row(
        _ivf_params_path(path),
        pa.schema([("stats_cover", pa.int32()), ("cur_gen", pa.int64())]),
        {"stats_cover": int(stats_cover), "cur_gen": int(cur_gen)},
    )
    from pyspark.sql import Row as _Row

    from ..storeio import prime_params_cache

    prime_params_cache(
        _ivf_params_path(path),
        [_Row(stats_cover=int(stats_cover), cur_gen=int(cur_gen))],
    )


def _ivf_dead_path(path: str) -> str:
    return f"{path.rstrip('/')}/dead"


def _ivf_live_vectors(spark, path: str, vecs: DataFrame) -> DataFrame:
    """Filter a vectors scan down to LIVE rows: a row is dead when the
    id's dead-watermark (``dead/ (id, upto)`` — appended by
    :func:`apply_cdc_to_ivf_index` for updates and deletes) reaches
    its generation.  Legacy stores (no ``gen`` column) and stores
    never mutated (no ``dead/``) pass through untouched — zero cost on
    the insert-only path.  The dead store is bounded by the mutation
    count since the last :func:`recluster_ivf_store`, so the join's
    build side stays small (AQE broadcasts it); the cell-prune filter
    still reaches the scan below the join."""
    from ..storeio import read_parquet_if_exists

    if "gen" not in vecs.columns:
        return vecs
    dead = read_parquet_if_exists(spark, _ivf_dead_path(path))
    if dead is None:
        return vecs
    id_col = [c for c in dead.columns if c != "upto"][0]
    dmax = dead.groupBy(id_col).agg(F.max("upto").alias("__upto"))
    return (
        vecs.join(dmax, id_col, "left")
        .filter(F.col("gen") > F.coalesce(F.col("__upto"), F.lit(-1)))
        .drop("__upto")
    )


def describe_ivf_store(spark, path: str) -> dict:
    """Ops observability for the IVF store — cells, total vs live
    vector rows, dead-watermark count, generation counter and the
    cellstats coverage marker; every figure a metadata-sized
    aggregate.  The live/total ratio is the recluster trigger
    (:func:`recluster_ivf_store` reclaims dead rows AND repairs
    drift-inflated radii)."""
    from ..storeio import read_parquet_if_exists

    out: dict = {"store": path}
    vecs = read_parquet_if_exists(spark, f"{path}/vectors")
    cent = read_parquet_if_exists(spark, f"{path}/centroids")
    if vecs is None or cent is None:
        out["exists"] = False
        return out
    out["exists"] = True
    out["n_cells"] = cent.count()
    out["vector_rows"] = vecs.count()
    out["live_rows"] = _ivf_live_vectors(spark, path, vecs).count()
    dead = read_parquet_if_exists(spark, _ivf_dead_path(path))
    out["dead_watermarks"] = 0 if dead is None else dead.count()
    params = _read_ivf_params(spark, path)
    if params is not None:
        out["cur_gen"] = int(params["cur_gen"])
        out["stats_cover"] = int(params["stats_cover"])
    stats = read_parquet_if_exists(spark, f"{path}/cellstats")
    out["cellstats_rows"] = 0 if stats is None else stats.count()
    return out


def _write_cellstats(staged: DataFrame, path: str, mode: str) -> None:
    """Append-only mergeable per-cell pruning stats: ``radius`` is the
    max member residual (max is mergeable — read-time ``max`` over the
    per-batch rows), ``n`` the count of SCORABLE members (non-null,
    non-zero vectors; zero/NULL vectors have NULL residuals and score
    NULL cosine, so they belong in neither the radius nor the count)."""
    (
        staged.filter(F.col("cell").isNotNull())
        .groupBy("cell")
        .agg(
            F.max("__res").alias("radius"),
            F.count("__res").alias("n"),
        )
        .coalesce(1)
        .write.mode(mode)
        .parquet(path)
    )


def append_to_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
) -> int:
    """Index maintenance under appends: assign NEW vectors to the
    EXISTING centroids and append them into the index's cell
    partitions — no retrain, no rewrite of resident cells, work ∝ the
    new batch.  This is how production IVF systems absorb a stream of
    vectors between periodic re-trainings: assignment quality
    degrades only as the data distribution drifts away from the
    trained centroids, which re-materializing periodically repairs.

    Already-indexed ids are skipped (anti-join on the index's id set
    — the idempotent-replay contract the signature stores use).
    Returns the number of vectors appended.
    """
    spark = df.sparkSession
    rows = _ivf_centroid_rows(spark, path)
    C = np.zeros((len(rows), len(rows[0]["centroid"])))
    for r in rows:
        C[r["cell"]] = r["centroid"]

    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    existing_df = read_store(spark, f"{path}/vectors")
    existing = existing_df.select(id_col)
    fresh = vecs.join(existing, id_col, "left_anti")

    assign = pandas_udf(
        _assign_residual_kernel(C), "struct<cell:int,residual:double>"
    )
    staged, m = checkpoint_with(
        fresh.withColumn("__ar", assign(F.col("v"))).select(
            F.col(id_col),
            "v",
            F.col("__ar.cell").alias("cell"),
            F.col("__ar.residual").alias("__res"),
        ),
        n=F.count("*"),
    )
    n = m["n"]
    if n:
        # cellstats BEFORE the vectors append: replay detection
        # anti-joins on the vectors id set, so a crash between the two
        # writes must leave stats OVER-covering (retry re-appends both
        # → radius is a max and stays exact; the count double-counts,
        # which only makes wave-1 probe fewer cells — wave 2 rescues
        # exactness).  The reverse order left vectors visible with NO
        # stats row, and the retry's anti-join skipped them forever —
        # an under-covered radius that silently breaks the exactness
        # certificate.  Readers take max(radius)/sum(n) per cell, so
        # the merge is read-time and the store never rewrites.
        _write_cellstats(staged, f"{path}/cellstats", mode="append")
        out = staged.drop("__res")
        if "gen" in existing_df.columns:
            # inserts live at generation 0 like materialize's rows —
            # an inserted id has no dead-watermark, so any gen works;
            # matching the store schema keeps one parquet footer shape
            out = out.withColumn("gen", F.lit(0).cast("long"))
        out.write.mode("append").partitionBy("cell").parquet(
            f"{path}/vectors"
        )
    return n


def fold_into_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_cells: int = 16,
    seed: int = 7,
    train_sample: int = 100_000,
) -> None:
    """Streaming ingest of an IVF index, one batch at a time: the
    first batch TRAINS (:func:`materialize_ivf_index` — k-means on the
    batch, vectors written partitioned by cell), every later batch
    APPENDS to the existing centroids (:func:`append_to_ivf_index` —
    no retrain, work ∝ the batch).  Assignment quality degrades only
    as the distribution drifts from the first batch, which a periodic
    re-materialize repairs.

    Replay-safe: appends anti-join the index's id set, so a replayed
    batch appends nothing.  A replay of the TRAINING batch either
    finds the centroids written (append path, every id skipped) or,
    after a crash before the centroid write, re-runs the
    overwrite-mode materialize — idempotent either way."""
    from ..storeio import read_parquet_if_exists

    if read_parquet_if_exists(df.sparkSession, f"{path}/centroids") is None:
        materialize_ivf_index(
            df,
            id_col,
            vec_col,
            path,
            n_cells=n_cells,
            seed=seed,
            train_sample=train_sample,
        )
    else:
        append_to_ivf_index(df, id_col, vec_col, path)


def apply_cdc_to_ivf_index(
    batch: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Index maintenance under MUTATION for the IVF store: apply a CDC
    batch of vector upserts and deletes, the dense-retrieval analog of
    :func:`~mongo_es_spark.operators.text.apply_cdc_to_bm25_index`
    (the reference keeps a search index in sync with a mutating
    collection — src/processor.ts:225-258).

    Layout: vector rows carry a generation; ``dead/ (id, upto)``
    appends a WATERMARK killing every generation ≤ ``upto`` of that
    id.  An update appends the new vector at generation ``g`` plus a
    watermark at ``g-1``; a delete appends only the watermark.  Every
    reader filters ``gen > max(upto)`` per id
    (:func:`_ivf_live_vectors`) — never-mutated stores skip it (no
    ``dead/``), and :func:`recluster_ivf_store` reclaims.

    Replay handling is CONTENT-BASED: an upsert whose live vector
    already equals the new one skips, a delete of an absent/dead id
    skips — so at-least-once delivery converges and a fully-replayed
    batch writes nothing.

    Write order is params(gen counter) → cellstats → dead → vectors,
    chosen so every crash point either re-runs identically or only
    UNDER-serves (an update crashed between its watermark and its new
    vector is invisible until the retry lands — never stale, never
    duplicated): bumping the generation counter first means a retry
    re-applies at a FRESH generation, so half-written rows of the
    crashed attempt can never collide with or outlive the retry's;
    cellstats-before-vectors keeps radii over-covering (the
    append_to_ivf_index argument).  Exactness of
    :func:`ivf_exact_topk` over the mutated store is pinned against
    brute force over the live rows in tests.

    Returns the APPLIED rows ``(id, op, gen)`` — empty on full replay.
    """
    spark = batch.sparkSession
    from pyspark.sql.window import Window

    from ..storeio import read_parquet_if_exists

    params = _read_ivf_params(spark, path)
    vectors = read_store(spark, f"{path}/vectors")
    if params is None or "gen" not in vectors.columns:
        raise ValueError(
            f"IVF store at {path} predates CDC support (no params "
            "marker / generation column) — re-materialize it"
        )
    b = batch.select(
        F.col(id_col),
        F.lower(F.col(op_col)).alias("__op"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    live = _ivf_live_vectors(
        spark,
        path,
        vectors.join(F.broadcast(b.select(id_col)), id_col, "left_semi"),
    ).select(
        F.col(id_col),
        F.col("v").alias("__live_v"),
        F.lit(True).alias("__live"),
    )
    # batch-sized window rides the probe instead of a separate
    # count/countDistinct job over the batch lineage: the duplicate-id
    # guard and the applied-emptiness check both read the ONE
    # materialized probe below (two fewer jobs per CDC trigger)
    st = (
        b.withColumn(
            "__dup", F.count("*").over(Window.partitionBy(id_col))
        )
        .join(F.broadcast(live), id_col, "left")
    )
    applies = F.when(
        F.col("__op") == "d", F.col("__live").eqNullSafe(F.lit(True))
    ).otherwise(
        ~(
            F.col("__live").eqNullSafe(F.lit(True))
            & F.col("__live_v").eqNullSafe(F.col("v"))
        )
    )
    st, arow = checkpoint_with(
        st, n=F.sum(applies.cast("long")), maxdup=F.max("__dup")
    )
    if arow["maxdup"] is not None and int(arow["maxdup"]) > 1:
        raise ValueError(
            "apply_cdc_to_ivf_index: duplicate ids in the batch — "
            "pre-compact to one op per id"
        )
    applied = st.drop("__dup").filter(applies)
    if int(arow["n"] or 0) == 0:
        return spark.createDataFrame(
            [], f"{id_col} long, op string, gen long"
        )
    g = int(params["cur_gen"]) + 1
    # 1. generation counter first (see docstring crash argument)
    _write_ivf_params(
        spark, path, stats_cover=int(params["stats_cover"]), cur_gen=g
    )

    ups = applied.filter(F.col("__op") != "d")
    rows = _ivf_centroid_rows(spark, path)
    C = np.zeros((len(rows), len(rows[0]["centroid"])))
    for r in rows:
        C[r["cell"]] = r["centroid"]
    assign = pandas_udf(
        _assign_residual_kernel(C), "struct<cell:int,residual:double>"
    )
    staged, m = checkpoint_with(
        ups.withColumn("__ar", assign(F.col("v"))).select(
            F.col(id_col),
            "v",
            F.col("__ar.cell").alias("cell"),
            F.col("__ar.residual").alias("__res"),
        ),
        n=F.count("*"),
    )
    # 2. cellstats (over-covering on retry — conservative)
    if m["n"] > 0:
        _write_cellstats(staged, f"{path}/cellstats", mode="append")
    # 3. dead watermarks: deletes, and updates superseding a live row
    watermarks = (
        applied.filter(
            (F.col("__op") == "d")
            | F.col("__live").eqNullSafe(F.lit(True))
        )
        .select(
            F.col(id_col), F.lit(g - 1).cast("long").alias("upto")
        )
    )
    watermarks.write.mode("append").parquet(_ivf_dead_path(path))
    # 4. vectors at generation g.  No already-on-disk anti-join: g is
    # FRESH by construction — every attempt makes its bumped counter
    # durable (step 1) BEFORE any vectors land, so a crashed attempt
    # that wrote vectors at g' first made params.cur_gen >= g' durable
    # and every retry reads a higher counter; rows at THIS g cannot
    # exist yet.  (The probe was belt-and-braces — one store-footer
    # scan + broadcast build per trigger, provably empty.)  A torn
    # vectors append is also safe without it: its partial rows carry
    # the crashed attempt's watermark-superseding values, the retry's
    # content-based replay check sees them live-and-equal and skips
    # exactly those ids.
    (
        staged.drop("__res")
        .withColumn("gen", F.lit(g).cast("long"))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{path}/vectors")
    )
    return applied.select(
        F.col(id_col),
        F.col("__op").alias("op"),
        F.lit(g).cast("long").alias("gen"),
    )


def recluster_ivf_store(
    spark,
    path: str,
    id_col: str,
    n_cells: int | None = None,
    seed: int = 7,
    train_sample: int = 100_000,
) -> dict:
    """Re-centering compaction for the IVF store — the vacuum +
    re-train pass.  Two forces degrade a long-lived index:
    :func:`apply_cdc_to_ivf_index` leaves dead generations that every
    scan filters, and appended/updated vectors drift away from the
    original centroids, inflating cellstats radii until
    :func:`ivf_exact_topk`'s pruning decays toward the documented
    full-sweep worst case.  This pass reads the LIVE rows, re-trains
    the coarse quantizer on them, reassigns every vector, and rewrites
    the whole index directory (vectors at generation 0, fresh
    centroids/cellstats/params, no ``dead/``) via the crash-aware swap
    (:func:`mongo_es_spark.storeio.rewrite_store` on the index root —
    single-writer maintenance op, re-runs self-heal).

    QUERY results are EXACTLY unchanged (the live set is unchanged;
    exactness is geometry-independent) — pinned in tests — while
    pruning is restored to fresh-index quality.  Returns row/cell
    counts."""
    from ..storeio import rewrite_store

    if n_cells is None:
        n_cells = len(_ivf_centroid_rows(spark, path))
    before = read_store(spark, f"{path}/vectors")
    n_before = before.count()

    def write_new(new: str) -> None:
        live = _ivf_live_vectors(
            spark, path, read_store(spark, f"{path}/vectors")
        ).select(id_col, "v")
        materialize_ivf_index(
            live,
            id_col,
            "v",
            new,
            n_cells=n_cells,
            seed=seed,
            train_sample=train_sample,
            # hash-ordered sample: appended/updated rows carry high
            # ids, and an id-sorted prefix would re-train on only the
            # pre-drift population — the very drift this pass repairs
            train_order="hash",
        )

    rewrite_store(path, write_new)
    after = read_store(spark, f"{path}/vectors")
    return {
        "rows": (n_before, after.count()),
        "cells": int(n_cells),
    }


def ann_ivf_search(
    spark,
    path: str,
    query_vec,
    id_col: str,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Top-k over a materialized IVF index: pick the ``n_probe`` cells
    nearest the query from the stored centroids, scan ONLY those
    partitions (``PartitionFilters`` on ``cell`` — file-level
    pruning), exact cosine re-rank inside them."""
    cent = _ivf_centroid_rows(spark, path)
    C = np.zeros((len(cent), len(cent[0]["centroid"])))
    for r in cent:
        C[r["cell"]] = r["centroid"]
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probes = [int(c) for c in np.argsort(-(C @ qn))[:n_probe]]

    vectors = _ivf_live_vectors(
        spark,
        path,
        read_store(spark, f"{path}/vectors").filter(
            F.col("cell").isin(probes)
        ),
    )
    q_df = spark.createDataFrame(
        [([float(x) for x in q],)], "qv array<double>"
    )
    return (
        vectors.crossJoin(F.broadcast(q_df))
        .select(
            F.col(id_col),
            F.round(cosine_col(F.col("v"), F.col("qv")), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_exact_topk(
    spark,
    path: str,
    query_vec,
    id_col: str,
    k: int = 10,
    exclude_id=None,
    probe_log: list | None = None,
    allow_ids: DataFrame | None = None,
) -> DataFrame:
    """EXACT top-k over a materialized IVF index — approximate-index
    speed with a brute-force-equality certificate, the store-backed
    dense leg hybrid retrieval serves from.

    Pruning bound: centroid rows are unit (:func:`_kmeans_fit`
    re-normalizes) so for the unit query q and any member x of cell c,
    ``cos(q, x) = q·unit(x) = q·c + q·(unit(x) − c) ≤ q·c + ‖unit(x) −
    c‖ ≤ q·c + radius_c`` (Cauchy–Schwarz; ``radius_c`` is the stored
    max member residual).  Cells whose upper bound falls below the
    provisional k-th score cannot contribute a row, so their parquet is
    never read.

    Two waves: (1) probe the smallest ub-ordered cell prefix holding
    ≥ k scorable members and take its exact top-k; (2) with the
    provisional k-th ROUNDED score s_k in hand, re-probe only unprobed
    cells with ``ub ≥ s_k − 5e-7`` — anything below provably rounds
    under s_k at 6-dp granularity, so skipping it can neither beat nor
    tie the current k-th row.  In the common case wave 2 is empty and
    the scan read ~k/n_cells of the index (``PartitionFilters`` on
    ``cell`` — file-level pruning).  Worst case (a query equidistant
    from every cluster) degrades to a full scan and stays exact.

    Driver state is model-sized by construction: the centroid matrix +
    per-cell stats (n_cells rows) and ≤ 2k provisional result rows —
    the same budget class as the IVF training sample.  Indexes written
    before cellstats tracking fall back to radius 2.0 (the cosine
    diameter): correct, never pruned.

    ``exclude_id`` drops one id before ranking (the cosine_topk
    query-row exclusion).  ``allow_ids`` restricts ranking to a given
    id set (one-column DataFrame) — the ES "kNN with filter" shape,
    the filter evaluated OUTSIDE the vector index and pushed in as a
    semi-join on the scanned cells.  Exactness is preserved: every
    cell upper bound over-covers its allowed subset, and when wave 1's
    filtered scan yields fewer than k rows the provisional k-th score
    stays −inf, so wave 2 probes every remaining cell (the filter can
    only widen probing, never skip a qualifying row).  Output:
    ``(id_col long, score double)``, score desc / id asc, exactly
    :func:`cosine_topk` over the (filtered) indexed vectors.
    """
    from ..storeio import read_parquet_if_exists

    cent = _ivf_centroid_rows(spark, path)
    C = np.zeros((len(cent), len(cent[0]["centroid"])))
    for r in cent:
        C[r["cell"]] = r["centroid"]
    C = _unit_rows(C)  # belt-and-braces; _kmeans_fit already unit
    params = _read_ivf_params(spark, path)
    stats = read_parquet_if_exists(spark, f"{path}/cellstats")
    # stats are only trusted under the coverage marker: an index
    # materialized before the marker may hold vectors appended before
    # cellstats tracking, so its radii UNDER-cover and pruning on them
    # would violate the exactness certificate (ADVICE r8)
    covered = params is not None and int(params["stats_cover"]) == 1
    if stats is None or not covered:
        # pre-stats index: every cell conservatively coverable
        radii = {int(r["cell"]): 2.0 for r in cent}
        counts = {int(r["cell"]): k for r in cent}
    else:
        merged = (
            stats.groupBy("cell")
            .agg(F.max("radius").alias("radius"), F.sum("n").alias("n"))
            .collect()
        )
        radii, counts = {}, {}
        seen = set()
        for r in merged:
            c = int(r["cell"])
            seen.add(c)
            counts[c] = int(r["n"])
            # NULL radius == zero scorable members (all-zero-vector
            # cell): nothing there can ever score, skip outright
            if r["radius"] is not None:
                radii[c] = float(r["radius"])
        # centroid cells with NO stats row: truly empty (scanning them
        # is a no-op) or written by a pre-stats build — either way,
        # conservatively coverable rather than silently skippable
        for r in cent:
            c = int(r["cell"])
            if c not in seen:
                radii[c] = 2.0
                counts[c] = 0
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(float(np.linalg.norm(q)), 1e-12)
    ub = {c: float(C[c] @ qn) + r for c, r in radii.items()}
    order = sorted(ub, key=lambda c: (-ub[c], c))

    def _scan(cells):
        vecs = _ivf_live_vectors(
            spark,
            path,
            read_store(spark, f"{path}/vectors").filter(
                F.col("cell").isin(list(cells))
            ),
        )
        if exclude_id is not None:
            vecs = vecs.filter(F.col(id_col) != exclude_id)
        if allow_ids is not None:
            # join strategy left to Catalyst/AQE: selective filters
            # broadcast themselves, corpus-sized ones must not
            allow = allow_ids.select(
                F.col(allow_ids.columns[0]).cast("long").alias(id_col)
            ).distinct()
            vecs = vecs.join(allow, id_col, "left_semi")
        q_df = spark.createDataFrame(
            [([float(x) for x in q],)], "qv array<double>"
        )
        return (
            vecs.crossJoin(F.broadcast(q_df))
            .select(
                F.col(id_col).cast("long").alias("__id"),
                F.round(cosine_col(F.col("v"), F.col("qv")), 6).alias(
                    "score"
                ),
            )
            .filter(F.col("score").isNotNull())
            .orderBy(F.col("score").desc(), F.col("__id").asc())
            .limit(k)
            .collect()
        )

    wave1: list[int] = []
    covered = 0
    for c in order:
        wave1.append(c)
        covered += counts.get(c, 0)
        if covered >= k:
            break
    rows = _scan(wave1) if wave1 else []
    s_k = rows[k - 1]["score"] if len(rows) >= k else float("-inf")
    probed = set(wave1)
    wave2 = [c for c in order if c not in probed and ub[c] >= s_k - 5e-7]
    if probe_log is not None:
        # test/ops introspection: which cells each wave actually read
        probe_log.append({"wave1": list(wave1), "wave2": list(wave2)})
    if wave2:
        rows = sorted(
            rows + _scan(wave2), key=lambda r: (-r["score"], r["__id"])
        )[:k]
    out = [(int(r["__id"]), float(r["score"])) for r in rows]
    return spark.createDataFrame(
        out, f"{id_col} long, score double"
    ).orderBy(F.col("score").desc(), F.col(id_col).asc())


def ivf_exact_batch_topk(
    spark,
    path: str,
    queries,
    id_col: str,
    k: int = 10,
    exclude_self: bool = False,
    max_queries: int = 65_536,
    probe_log: list | None = None,
    allow_ids: DataFrame | None = None,
) -> DataFrame:
    """Batched EXACT top-k over the IVF store — dense ``msearch``:
    a model-sized batch of ``(q_id, vector)`` queries served with the
    same two-wave centroid-radius pruning as :func:`ivf_exact_topk`,
    but each wave scans the UNION of every query's probe cells ONCE
    (one Arrow pass holding the unit query matrix plus a per-(query,
    cell) allow mask — a row scores against exactly the queries whose
    probe set contains its cell, so per-query results are identical to
    q independent runs while the index is read once per wave).

    Per-query exactness argument is unchanged: wave 1 is the smallest
    ub-ordered cell prefix holding ≥ k scorable members; wave 2
    re-probes only the cells whose bound reaches that query's
    provisional k-th rounded score minus the 6-dp margin.  Driver
    state: centroids + cellstats + q×k provisional rows (the msearch
    budget class).  ``exclude_self`` drops rows whose id equals the
    query's own id (corpus-drawn queries).  Output: ``(q_id, id_col,
    score)``, q_id asc / score desc / id asc, ≤ k rows per query —
    equal to per-query :func:`ivf_exact_topk` / brute force.
    """
    qlist = [(int(q), v) for q, v in queries]
    if len(qlist) > max_queries:
        raise ValueError(
            f"ivf_exact_batch_topk: > {max_queries} queries — chunk "
            "the batch (driver-side model state)"
        )
    if len({q for q, _ in qlist}) != len(qlist):
        raise ValueError("duplicate q_id in the query batch")
    if not qlist:
        return spark.createDataFrame(
            [], f"q_id long, {id_col} long, score double"
        )
    from ..storeio import read_parquet_if_exists

    cent = _ivf_centroid_rows(spark, path)
    n_cells = len(cent)
    C = np.zeros((n_cells, len(cent[0]["centroid"])))
    for r in cent:
        C[r["cell"]] = r["centroid"]
    C = _unit_rows(C)
    params = _read_ivf_params(spark, path)
    stats = read_parquet_if_exists(spark, f"{path}/cellstats")
    radii = np.full(n_cells, 2.0)
    counts = np.zeros(n_cells, dtype=np.int64)
    # same coverage gate as ivf_exact_topk: unmarked indexes may hold
    # vectors their cellstats never saw — never prune on their radii
    if params is None or int(params["stats_cover"]) != 1:
        stats = None
    if stats is not None:
        merged = (
            stats.groupBy("cell")
            .agg(F.max("radius").alias("radius"), F.sum("n").alias("n"))
            .collect()
        )
        seen = np.zeros(n_cells, dtype=bool)
        for r in merged:
            c = int(r["cell"])
            seen[c] = True
            counts[c] = int(r["n"])
            radii[c] = (
                -np.inf if r["radius"] is None else float(r["radius"])
            )
        # unseen centroid cells stay conservatively coverable at 2.0
        counts[~seen] = 0
    else:
        counts[:] = k  # pre-stats fallback: probe-as-you-go
    q_ids = np.array([q for q, _ in qlist], dtype=np.int64)
    Q = np.asarray(
        [np.asarray(v, dtype=np.float64) for _, v in qlist]
    )
    Qn = _unit_rows(Q)
    ub = Qn @ C.T + radii[None, :]  # (q, cells)
    order = np.argsort(-ub, axis=1, kind="stable")

    def _wave_scan(allow: np.ndarray, cells: list[int]):
        """One pass over ``cells``; a row scores against query j only
        where ``allow[j, row_cell]``.  Returns the local top-k rows."""

        def gen(batches):
            for pdf in batches:
                vs = pdf["v"]
                if len(vs) == 0:
                    continue
                V, idx = _mask_stack(vs)
                if len(idx) == 0:
                    continue
                v_ids = pdf["doc"].to_numpy(dtype=np.int64)[idx]
                v_cells = pdf["cell"].to_numpy(dtype=np.int64)[idx]
                S = _round6_half_up(Qn @ _unit_rows(V).T)
                S[:, np.linalg.norm(V, axis=1) == 0.0] = -np.inf
                S[~allow[:, v_cells]] = -np.inf
                if exclude_self:
                    S[q_ids[:, None] == v_ids[None, :]] = -np.inf
                kc = min(k, S.shape[1])
                sel = np.lexsort(
                    (np.broadcast_to(v_ids, S.shape), -S), axis=1
                )[:, :kc]
                rows = np.repeat(np.arange(S.shape[0]), kc)
                cols = sel.ravel()
                out_s = S[rows, cols]
                ok = np.isfinite(out_s)
                yield pd.DataFrame(
                    {
                        "q_id": np.repeat(q_ids, kc)[ok],
                        "__doc": v_ids[cols][ok],
                        "score": out_s[ok],
                    }
                )

        scan = _ivf_live_vectors(
            spark,
            path,
            read_store(spark, f"{path}/vectors").filter(
                F.col("cell").isin([int(c) for c in cells])
            ),
        )
        if allow_ids is not None:
            # the ES kNN-with-filter shape, batched: same semi-join as
            # ivf_exact_topk (strategy left to AQE); exactness holds
            # per query — bounds over-cover the allowed subset and an
            # under-filled wave 1 leaves that query's s_k at -inf, so
            # its wave 2 opens every remaining cell
            scan = scan.join(
                allow_ids.select(
                    F.col(allow_ids.columns[0])
                    .cast("long")
                    .alias(id_col)
                ).distinct(),
                id_col,
                "left_semi",
            )
        scan = scan.select(
            F.col(id_col).cast("long").alias("doc"),
            "v",
            F.col("cell").cast("long").alias("cell"),
        )
        return scan.mapInPandas(
            gen, "q_id long, __doc long, score double"
        ).collect()

    def _topk(rows):
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["q_id"], []).append(r)
        out = {}
        for q, rs in by_q.items():
            rs.sort(key=lambda r: (-r["score"], r["__doc"]))
            out[q] = rs[:k]
        return out

    # wave 1: per-query count-covering prefix
    allow1 = np.zeros((len(q_ids), n_cells), dtype=bool)
    for j in range(len(q_ids)):
        covered = 0
        for c in order[j]:
            allow1[j, c] = True
            covered += counts[c]
            if covered >= k:
                break
    cells1 = sorted(int(c) for c in np.flatnonzero(allow1.any(axis=0)))
    best = _topk(_wave_scan(allow1, cells1)) if cells1 else {}

    # wave 2: per-query cells whose bound survives that query's s_k
    allow2 = np.zeros_like(allow1)
    for j, q in enumerate(q_ids):
        rs = best.get(int(q), [])
        s_k = rs[k - 1]["score"] if len(rs) >= k else -np.inf
        allow2[j] = ~allow1[j] & (ub[j] >= s_k - 5e-7)
    cells2 = sorted(int(c) for c in np.flatnonzero(allow2.any(axis=0)))
    if probe_log is not None:
        probe_log.append({"wave1": cells1, "wave2": cells2})
    if cells2:
        extra = _topk(_wave_scan(allow2, cells2))
        for q, rs in extra.items():
            both = best.get(q, []) + rs
            both.sort(key=lambda r: (-r["score"], r["__doc"]))
            best[q] = both[:k]
    out = [
        (int(q), int(r["__doc"]), float(r["score"]))
        for q in sorted(best)
        for r in best[q]
    ]
    return spark.createDataFrame(
        out, f"q_id long, {id_col} long, score double"
    ).orderBy(
        F.col("q_id").asc(), F.col("score").desc(), F.col(id_col).asc()
    )


def exact_batch_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame,
    q_id_col: str,
    q_vec_col: str,
    k: int = 10,
    skip: int = 0,
    dup_threshold: float | None = None,
    exclude_self: bool = False,
    max_queries: int = 65_536,
) -> DataFrame:
    """EXACT brute-force cosine top-``k`` for a batch of queries in one
    corpus pass — the certification baseline for every ANN path, and
    (with ``skip``/``dup_threshold``) **hard-negative mining** for
    contrastive training: per query, the rank band
    ``[skip+1, skip+k]`` of candidates scoring BELOW the near-dup bar
    (``score >= dup_threshold`` pairs are excluded as positives /
    duplicates before ranking, as is the query itself under
    ``exclude_self``).

    Scale shape: the query matrix is MODEL-SIZED state (an eval set or
    a training batch, not a corpus — capped at ``max_queries``,
    ``toPandas`` driver-side like the IVF quantizer's training
    sample); the corpus is scanned ONCE by an Arrow kernel holding the
    unit-normalized query matrix in closure — one BLAS gram per batch,
    a local top-``skip+k`` per query per batch (exclusions applied
    BEFORE the prune, so any global band member survives its batch's
    local cut), then one window exchange keyed by query id over the
    q x (skip+k) x n_batches survivors.  No join, no replication of
    the corpus, driver state ∝ queries.

    Determinism mirrors :func:`knn_graph`: scores round to 6dp before
    pruning; local and global order are both (score desc, doc id asc).
    NULL corpus vectors never match; NULL query vectors are dropped
    (documented — a query with no embedding has no neighbors).  Zero
    vectors score -inf against everything (no cosine), so they return
    no band.  Output: ``(q_id, <id_col>, score, rank)`` with ``rank``
    the 1-based global rank AFTER exclusions.
    """
    from pyspark.sql.window import Window

    qpd = (
        queries.select(
            F.col(q_id_col).alias("q_id"),
            F.col(q_vec_col).cast("array<double>").alias("qv"),
        )
        .filter(F.col("qv").isNotNull())
        .orderBy("q_id")  # deterministic driver state
        .limit(max_queries + 1)
        .toPandas()
    )
    if len(qpd) > max_queries:
        raise ValueError(
            f"exact_batch_topk: > {max_queries} queries — the query "
            "matrix is driver-side model state; chunk the query set "
            "or use ann_ivf_batch_topk"
        )
    q_ids = qpd["q_id"].to_numpy(dtype=np.int64)
    if len(q_ids) == 0:
        return df.sparkSession.createDataFrame(
            [], f"q_id long, {id_col} long, score double, rank long"
        )
    Q = np.asarray([np.asarray(v, dtype=np.float64) for v in qpd["qv"]])
    Qn = _unit_rows(Q)
    # a zero vector has no cosine with anything (the cosine_pairs_col
    # NULL contract): zero-norm queries match no corpus row
    q_zero = np.linalg.norm(Q, axis=1) == 0.0
    local_k = int(skip) + int(k)
    dup = dup_threshold
    excl = bool(exclude_self)

    def gen(batches):
        for pdf in batches:
            vs = pdf["v"]
            if len(vs) == 0:
                continue
            V, idx = _mask_stack(vs)
            if len(idx) == 0:
                continue
            v_ids = pdf["doc"].to_numpy(dtype=np.int64)[idx]
            # (q, n_batch): one BLAS gram, the knn_graph kernel shape
            S = _round6_half_up(Qn @ _unit_rows(V).T)
            S[q_zero, :] = -np.inf
            S[:, np.linalg.norm(V, axis=1) == 0.0] = -np.inf
            if excl:
                S[q_ids[:, None] == v_ids[None, :]] = -np.inf
            if dup is not None:
                S[S >= dup] = -np.inf
            kc = min(local_k, S.shape[1])
            order = np.lexsort(
                (np.broadcast_to(v_ids, S.shape), -S), axis=1
            )[:, :kc]
            rows = np.repeat(np.arange(S.shape[0]), kc)
            cols = order.ravel()
            out_s = S[rows, cols]
            ok = np.isfinite(out_s)
            yield pd.DataFrame(
                {
                    "q_id": np.repeat(q_ids, kc)[ok],
                    "__doc": v_ids[cols][ok],
                    "score": out_s[ok],
                }
            )

    local = df.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).mapInPandas(gen, "q_id long, __doc long, score double")
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("__doc").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(
            (F.col("rank") > F.lit(int(skip)))
            & (F.col("rank") <= F.lit(local_k))
        )
        .select("q_id", F.col("__doc").alias(id_col), "score", "rank")
    )


def ann_ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 7,
    train_sample: int = 100_000,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into
    ``n_cells`` k-means cells, probe the ``n_probe`` cells nearest the
    query, exact-re-rank inside them.

    Scale shape: the quantizer trains on a driver-side sample bounded
    by ``train_sample`` (how faiss and every IVF system trains coarse
    centroids); cell assignment is one Arrow-batched matmul per batch
    against broadcast centroids; the probe filter prunes the scan to
    ~n_probe/n_cells of the corpus before the top-k.
    """
    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    # Arrow path: toPandas ships the sample as columnar batches —
    # a 100k x 64 collect() serializes row-by-row through py4j and
    # measured ~10x slower
    sample = (  # nulls masked: one missing vector must not ragged-array training
        vecs.filter(F.col("v").isNotNull())
        # id-sorted: limit().toPandas() row order is partition-order
        # sensitive and k-means init indexes rows — unsorted, the
        # trained cells vary run to run on identical data
        .orderBy(id_col).select("v").limit(train_sample).toPandas()
    )
    X = np.asarray(sample["v"].tolist(), dtype=np.float64)
    C = _kmeans_fit(X, n_cells, seed)

    assign = pandas_udf(_nearest_cell_kernel(C), "int")
    celled = vecs.withColumn("cell", assign(F.col("v")))

    qrow = vecs.filter(F.col(id_col) == query_id).select("v").first()
    q = np.asarray(qrow["v"], dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probes = [int(c) for c in np.argsort(-(C @ qn))[:n_probe]]

    q_df = vecs.filter(F.col(id_col) == query_id).select(
        F.col("v").alias("qv")
    )
    scored = (
        celled.filter(F.col("cell").isin(probes))
        .filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q_df))
        .select(
            F.col(id_col),
            F.round(cosine_col(F.col("v"), F.col("qv")), 6).alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def ann_ivf_batch_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame,
    q_id_col: str,
    q_vec_col: str,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 7,
    train_sample: int = 100_000,
    exclude_self: bool = False,
) -> DataFrame:
    """Batch ANN retrieval: top-``k`` for MANY queries in ONE plan —
    the RAG / eval-harness / hard-negative-mining shape
    (:func:`ann_ivf_topk` is the single-query form; a driver loop
    over it would run one job per query).

    Scale shape: the coarse quantizer is driver-side model state
    (sample-bounded train, the faiss pattern); corpus cell assignment
    is one Arrow matmul per batch against broadcast centroids; each
    query EXPLODES to its ``n_probe`` nearest cells and candidates
    meet **co-grouped by cell** — a query sees only its probed
    ~n_probe/n_cells fraction of the corpus, never a cartesian
    (plan-contract pinned).  Scoring is one BLAS gram matrix per
    cell (|Q_c| x |V_c|), NOT a per-pair cosine expression — the
    array-HOF form measured 327 s for 20 queries x 2M vectors (HOF
    lambdas evaluate interpreted per element, the quantize lesson);
    the kernel with a per-cell local top-k emits at most k rows per
    (query, probed cell), so the final shuffle carries q x n_probe
    x k rows, not every candidate.  Per-query global top-k is a
    rank filter over a window keyed by query id (WindowGroupLimit).

    Determinism mirrors :func:`knn_graph`: the gram rounds to 6dp
    BEFORE the local prune, local and global ordering are both
    (cosine desc, doc id asc).  ``exclude_self`` masks q_id == doc
    pairs for the corpus-queries-itself case.  At real scale grow
    ``n_cells`` ~ sqrt(corpus) (IVF practice) so per-cell groups stay
    bounded.  Output: ``(q_id, id, score, rank)``.
    """
    from pyspark.sql.window import Window

    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    sample = (  # nulls masked: one missing vector must not ragged-array training
        vecs.filter(F.col("v").isNotNull())
        # id-sorted: limit().toPandas() row order is partition-order
        # sensitive and k-means init indexes rows — unsorted, the
        # trained cells vary run to run on identical data
        .orderBy(id_col).select("v").limit(train_sample).toPandas()
    )
    X = np.asarray(sample["v"].tolist(), dtype=np.float64)
    C = _kmeans_fit(X, n_cells, seed)

    def probe_kernel(vs: pd.Series) -> pd.Series:
        # null-in/null-out: a NULL query vector gets a NULL probe list
        # (explode then emits no rows for it) instead of aborting the
        # batch on a ragged object array
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        M, idx = _mask_stack(vs)
        if len(idx) == 0:
            return pd.Series([None] * len(vs), dtype=object)
        S = _unit_rows(M) @ C.T
        order = np.argsort(-S, axis=1)[:, :n_probe].astype(np.int32)
        return _scatter(len(vs), idx, order)

    assign = pandas_udf(_nearest_cell_kernel(C), "int")
    probe = pandas_udf(probe_kernel, "array<int>")
    celled = vecs.withColumn("cell", assign(F.col("v")))
    q = queries.select(
        F.col(q_id_col).alias("q_id"),
        F.col(q_vec_col).cast("array<double>").alias("qv"),
    )
    probed = q.withColumn("cell", F.explode(probe(F.col("qv"))))

    # co-group queries and corpus vectors by cell (the knn_graph
    # block pattern): one row per cell holding both sides' items
    qk = probed.select(
        "cell",
        F.lit("q").alias("side"),
        F.struct(
            F.col("q_id").alias("doc"), F.col("qv").alias("v")
        ).alias("item"),
    )
    vk = celled.select(
        "cell",
        F.lit("v").alias("side"),
        F.struct(F.col(id_col).alias("doc"), F.col("v")).alias("item"),
    )
    cells = (
        qk.unionByName(vk)
        .repartition(n_cells, "cell")
        .groupBy("cell")
        .agg(
            F.collect_list(
                F.when(F.col("side") == "q", F.col("item"))
            ).alias("items_q"),
            F.collect_list(
                F.when(F.col("side") == "v", F.col("item"))
            ).alias("items_v"),
        )
    )

    kk = int(k)
    excl = bool(exclude_self)

    def gen(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                if not len(row["items_q"]) or not len(row["items_v"]):
                    continue
                q_ids = np.asarray(
                    [it["doc"] for it in row["items_q"]],
                    dtype=np.int64,
                )
                Q = np.asarray(
                    [
                        np.asarray(it["v"], dtype=np.float64)
                        for it in row["items_q"]
                    ]
                )
                v_ids = np.asarray(
                    [it["doc"] for it in row["items_v"]],
                    dtype=np.int64,
                )
                V = np.asarray(
                    [
                        np.asarray(it["v"], dtype=np.float64)
                        for it in row["items_v"]
                    ]
                )
                qn = np.linalg.norm(Q, axis=1)
                vn = np.linalg.norm(V, axis=1)
                qn[qn == 0.0] = np.inf
                vn[vn == 0.0] = np.inf
                Qn = Q / qn[:, None]
                Vn = V / vn[:, None]
                # block the gram over query rows: the full |Q_c| x
                # |V_c| buffer is quadratic in the BATCH (20k queries
                # x 31k vectors = 2.5 GB/cell crashed the workers);
                # 512-row blocks bound it at ~512 x |V_c| doubles
                # with identical output
                B = 512
                for s0 in range(0, Qn.shape[0], B):
                    S = _round6_half_up(Qn[s0:s0 + B] @ Vn.T)
                    qb_ids = q_ids[s0:s0 + B]
                    if excl:
                        S[qb_ids[:, None] == v_ids[None, :]] = -np.inf
                    kc = min(kk, S.shape[1])
                    order = np.lexsort(
                        (np.broadcast_to(v_ids, S.shape), -S), axis=1
                    )[:, :kc]
                    rows = np.repeat(np.arange(S.shape[0]), kc)
                    cols = order.ravel()
                    out_q = np.repeat(qb_ids, kc)
                    out_v = v_ids[cols]
                    out_s = S[rows, cols]
                    ok = np.isfinite(out_s)
                    yield pd.DataFrame(
                        {
                            "q_id": out_q[ok],
                            "__doc": out_v[ok],
                            "score": out_s[ok],
                        }
                    )

    local = cells.mapInPandas(
        gen, "q_id long, __doc long, score double"
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("__doc").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id", F.col("__doc").alias(id_col), "score", "rank"
        )
    )


def knn_graph(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    block_rows: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact k-nearest-neighbor graph: for EVERY vector, its top-``k``
    neighbors by cosine — the all-pairs similarity join behind
    graph-based ANN indexes, semantic-dedup clustering, and
    label-propagation over embeddings.

    Same distribution shape as ``embedding_dup_pairs``'s blocked gram
    matrix (operators/dedup.py): vectors replicate across their grid
    row/column, each ``(blk_a, blk_b)`` cell is one task running one
    BLAS matmul over L2-normalized blocks.  Two prunes keep the
    quadratic emit bounded:

    * **local top-k** inside the kernel — each cell emits at most
      ``k`` partners per vector (per side), so the shuffle carries
      n x n_blocks x k rows, not n^2;
    * **global top-k** as a ``row_number`` window keyed by vector id
      over those survivors — one exchange on id.

    Ordering is total (cosine desc, then partner id asc, rounded to
    6 decimals) so results are deterministic across engines and
    partitionings.  ``n_rows`` skips the sizing count at scale.

    ``block_rows`` defaults to ``max(256, ceil(n/16))``: every vector
    is replicated ``n_blocks`` times, so the grid must stay COARSE —
    the 10x probe with 256-row blocks (79 blocks) spent its time on
    79x replication shuffle + per-item array conversions (164 s);
    ~16 blocks cuts that to ~22 s with identical output.  More
    parallelism, when needed, comes from raising the 16 toward
    2x task slots, not from shrinking blocks to cache-friendly
    sizes — BLAS is never the bottleneck here.
    """
    import math as _math

    n = n_rows if n_rows is not None else df.select(id_col).count()
    if block_rows is None:
        block_rows = max(256, _math.ceil(n / 16))
    n_blocks = max(1, _math.ceil(n / block_rows))
    n_pairs = n_blocks * (n_blocks + 1) // 2
    vecs = df.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
        .cast("int")
        .alias("blk"),
    )
    exploded = vecs.select(
        "doc",
        "v",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("other"),
    )
    keyed = exploded.select(
        F.least("blk", "other").alias("blk_a"),
        F.greatest("blk", "other").alias("blk_b"),
        F.when(F.col("blk") == F.least("blk", "other"), "a")
        .otherwise("b")
        .alias("side"),
        F.struct("doc", "v").alias("item"),
    )
    num_parts = max(1, min(n_pairs, 65536))
    cells = (
        keyed.repartition(num_parts, "blk_a", "blk_b")
        .groupBy("blk_a", "blk_b")
        .agg(
            F.collect_list(
                F.when(F.col("side") == "a", F.col("item"))
            ).alias("items_a"),
            F.collect_list(
                F.when(F.col("side") == "b", F.col("item"))
            ).alias("items_b"),
        )
    )

    def _unpack(items):
        ids = np.asarray([it["doc"] for it in items], dtype=np.int64)
        X = np.asarray(
            [np.asarray(it["v"], dtype=np.float64) for it in items]
        )
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0.0] = np.inf  # zero vectors match nothing
        return ids, X / norms[:, None]

    def _local_topk(ids_r, ids_c, gram):
        """Per row of ``gram``, the k best (cosine desc, id asc)."""
        out_i, out_j, out_c = [], [], []
        kk = min(k, gram.shape[1])
        if kk == 0:
            return out_i, out_j, out_c
        # lexsort: primary -cosine, secondary partner id
        order = np.lexsort(
            (np.broadcast_to(ids_c, gram.shape), -gram), axis=1
        )[:, :kk]
        rows = np.repeat(np.arange(gram.shape[0]), kk)
        cols = order.ravel()
        out_i = np.repeat(ids_r, kk)
        out_j = ids_c[cols]
        out_c = gram[rows, cols]
        ok = np.isfinite(out_c)  # drop -inf self-edge placeholders
        return out_i[ok], out_j[ok], out_c[ok]

    def gen(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids_a, Xa = _unpack(row["items_a"])
                same = row["blk_a"] == row["blk_b"]
                if same:
                    ids_b, Xb = ids_a, Xa
                else:
                    ids_b, Xb = _unpack(row["items_b"])
                gram = _round6_half_up(Xa @ Xb.T)
                if same:
                    np.fill_diagonal(gram, -np.inf)  # no self edges
                i1, j1, c1 = _local_topk(ids_a, ids_b, gram)
                if same:
                    i2, j2, c2 = [], [], []
                else:
                    i2, j2, c2 = _local_topk(ids_b, ids_a, gram.T)
                yield pd.DataFrame(
                    {
                        "i": np.concatenate([i1, i2]) if len(i1) or len(i2)
                        else np.empty(0, dtype=np.int64),
                        "j": np.concatenate([j1, j2]) if len(j1) or len(j2)
                        else np.empty(0, dtype=np.int64),
                        "cosine": np.concatenate([c1, c2])
                        if len(c1) or len(c2)
                        else np.empty(0, dtype=np.float64),
                    }
                )

    local = cells.mapInPandas(gen, "i long, j long, cosine double")
    from pyspark.sql import Window

    w = Window.partitionBy("i").orderBy(
        F.col("cosine").desc(), F.col("j").asc()
    )
    return (
        local.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("i", "j", "cosine", F.col("rk").cast("long").alias("rk"))
    )


def seed_distance(
    edges: DataFrame,
    seeds: DataFrame,
    id_col: str = "doc",
    max_depth: int = 4,
    directed: bool = False,
) -> DataFrame:
    """Minimum hop distance from a SEED set over a graph — the
    link-distance quality signal (Common-Crawl-style "hops from
    trusted seeds"), label-propagation seeding, and coverage audits
    over the kNN-embedding graph.

    ``edges`` carries columns ``i``/``j`` (``directed=False`` default
    symmetrizes); ``seeds`` carries ``id_col``.  Output:
    ``(<id_col>, dist)`` for every node within ``max_depth`` hops of
    any seed (seeds at 0); unreached nodes are absent — the caller
    left-joins and fills the "beyond horizon" policy.

    Scale shape: classic frontier BFS as ``max_depth`` rounds of one
    hash equi-join (edges x frontier) + one anti-join against the
    settled set — per-round shuffle ∝ frontier-adjacent edges, never
    whole-graph.  Each round's frontier is EAGERLY checkpointed: the
    plan would otherwise deepen by two joins per round and Catalyst
    re-derives every prior frontier per consumer (the components /
    winnow-store lesson).  Depth is FIXED (``max_depth`` rounds, no
    convergence test) so the same plan shape runs everywhere; on
    small-diameter graphs rounds past convergence cost one empty-
    frontier join each.  For unbounded-depth closure use
    ``dedup_components``'s propagation instead.
    """
    e = edges.select(F.col("i").alias("a"), F.col("j").alias("b"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col("j").alias("a"), F.col("i").alias("b"))
        )
    e = e.dropDuplicates(["a", "b"]).localCheckpoint(eager=True)
    settled = (
        seeds.select(F.col(id_col).alias("doc"))
        .dropDuplicates(["doc"])
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = settled
    for d in range(1, int(max_depth) + 1):
        frontier = (
            e.join(
                frontier.select(F.col("doc").alias("a")), "a"
            )
            .select(F.col("b").alias("doc"))
            .dropDuplicates(["doc"])
            .join(settled.select("doc"), "doc", "left_anti")
            .withColumn("dist", F.lit(d).cast("long"))
            .localCheckpoint(eager=True)
        )
        settled = settled.unionByName(frontier).localCheckpoint(
            eager=True
        )
    return settled.select(F.col("doc").alias(id_col), "dist")


def _sd_edges_path(store_path: str) -> str:
    return store_path.rstrip("/") + "/edges"


def _sd_dists_path(store_path: str) -> str:
    return store_path.rstrip("/") + "/dists"


def _sd_params_path(store_path: str) -> str:
    # underscore prefix: invisible to spark.read.parquet(store_path)
    return store_path.rstrip("/") + "/_sd_params"


def _read_sd_params(spark, store_path: str):
    from ..storeio import read_params_rows

    rows = read_params_rows(spark, _sd_params_path(store_path))
    if not rows:
        return None
    d = rows[0].asDict()
    return {"max_depth": d["max_depth"], "directed": bool(d["directed"])}


def _write_sd_params(
    spark, store_path: str, max_depth: int, directed: bool
) -> None:
    # driver-side one-row write; see storeio.write_params_row.  Types
    # round-trip the old Spark writer's: max_depth int, directed bool.
    import pyarrow as pa

    from ..storeio import write_params_row

    write_params_row(
        _sd_params_path(store_path),
        pa.schema([("max_depth", pa.int32()), ("directed", pa.bool_())]),
        {"max_depth": int(max_depth), "directed": bool(directed)},
    )
    from pyspark.sql import Row as _Row

    from ..storeio import prime_params_cache

    prime_params_cache(
        _sd_params_path(store_path),
        [_Row(max_depth=int(max_depth), directed=bool(directed))],
    )


def _sd_store_hits(dists_store, docs: DataFrame) -> DataFrame:
    """Stored improvement-event rows for a batch-sized doc set —
    INNER probe: ``(doc, cur)`` only for docs the store has rows for,
    UN-aggregated (≤ max_depth + 2 rows per doc ever, so the fan-out
    is a bounded constant).  The corpus-sized dist store map-side
    scans against the BROADCAST doc keys (nothing store-sized
    shuffles).  Callers fold the rows into a min-aggregate they
    already pay — pre-aggregating here cost one extra exchange per
    call for nothing (min of mins is min)."""
    keys = docs.select("doc")
    if dists_store is None:
        # empty, schema-typed: LocalRelation, zero jobs
        return keys.select(
            "doc", F.lit(None).cast("long").alias("cur")
        ).limit(0)
    return dists_store.join(F.broadcast(keys), "doc").select(
        "doc", F.col("dist").alias("cur")
    )


def incremental_seed_distance(
    spark,
    store_path: str,
    edges_batch: DataFrame | None = None,
    seeds_batch: DataFrame | None = None,
    i_col: str = "i",
    j_col: str = "j",
    seed_col: str = "doc",
    max_depth: int = 4,
    directed: bool = False,
) -> DataFrame:
    """Incremental seed-distance maintenance: fold a batch of NEW
    edges and/or NEW seed docs into a persisted hop-distance view so
    the link-distance quality signal stays fresh as the corpus grows —
    a new crawl batch never re-runs global BFS (:func:`seed_distance`
    is the batch form).

    State under ``store_path``:

    * ``edges/ (a, b)`` — append-only edge set (symmetrized at write
      unless ``directed``);
    * ``dists/ (doc, dist)`` — one row per IMPROVEMENT EVENT; a doc's
      current distance is its row minimum, resolved at read time by
      :func:`seed_distance_over_store`.  Distances only decrease and
      are horizon-capped, so a doc accumulates at most
      ``max_depth + 2`` rows ever;
    * ``_sd_params`` — ``max_depth``/``directed`` drift guard (a
      mismatched horizon silently truncates or inflates reach, so it
      raises).

    Per-batch work: candidate improvements seed from the batch (new
    seeds at 0; each new edge relaxes its head through the STORED tail
    distance), then ``max_depth`` relaxation rounds over the full edge
    set — each round one map-side scan of the edge store joined
    against the BROADCAST frontier plus one dist-store min lookup;
    improvement-wave shuffles are wave-sized (bounded by the nodes
    within ``max_depth`` hops of the batch), and neither store is ever
    shuffled.  Store scans per batch are a bounded constant
    (``max_depth + 1`` each) — IO-linear in store size, the price of
    transitive relaxation over old edges; the components store's
    metadata-closure trick does not apply because distances, unlike
    min-labels, change under composition.

    Write order is dists-first, then edges: min composes, so a crash
    between the two appends retries into a no-op improvement pass
    followed by the missing edge append (edges-first would strand a
    batch's improvements if the retry found its edges already
    stored).  Naturally idempotent — a replayed batch's edges
    anti-join away and its seeds/relaxations are no longer strict
    improvements, so nothing appends.

    Feeding any partition of an edge/seed set through in ANY batch
    order then reading the store reproduces the one-shot
    :func:`seed_distance` over the union EXACTLY (min hop distance
    composes across arrival orders).

    Returns the batch's strict improvements ``(doc, dist)`` —
    empty on replay.
    """
    from ..storeio import read_parquet_if_exists

    params = _read_sd_params(spark, store_path)
    if params is None:
        _write_sd_params(spark, store_path, max_depth, directed)
    elif (
        params["max_depth"] != max_depth
        or params["directed"] != bool(directed)
    ):
        raise ValueError(
            f"store at {store_path} was written with "
            f"max_depth={params['max_depth']} "
            f"directed={params['directed']}; caller asked "
            f"max_depth={max_depth} directed={directed}"
        )
    edges_store = read_parquet_if_exists(
        spark, _sd_edges_path(store_path)
    )
    dists_store = read_parquet_if_exists(
        spark, _sd_dists_path(store_path)
    )

    sess = spark
    # Within-round frames that are referenced TWICE (store-probe
    # broadcast keys + candidate branch of the fused aggregate) are
    # persist()ed, not checkpointed: the broadcast build job
    # materializes the cache as a side effect, so the expensive scan
    # under them runs once with NO dedicated materialization job.
    # Round BOUNDARIES stay localCheckpoint()ed — persist does not
    # truncate lineage, and without truncation each round's plan
    # inlines the previous rounds' twice over (exponential plan
    # growth: Catalyst planning + explainString OOM the driver).
    persisted: list = []

    def _keep(df: DataFrame) -> DataFrame:
        df = df.persist()
        persisted.append(df)
        return df

    if edges_batch is not None:
        e = edges_batch.select(
            F.col(i_col).alias("a"), F.col(j_col).alias("b")
        )
        if not directed:
            e = e.unionByName(
                edges_batch.select(
                    F.col(j_col).alias("a"), F.col(i_col).alias("b")
                )
            )
        e = e.filter(F.col("a") != F.col("b")).dropDuplicates(["a", "b"])
        if edges_store is not None:
            hits = edges_store.join(
                F.broadcast(e), ["a", "b"], "left_semi"
            )
            e = e.exceptAll(hits)
        # checkpointed (scanned by full_edges EVERY round — its plan
        # must not inline into each round's lineage)
        new_edges = e.localCheckpoint(eager=True)
    else:
        new_edges = sess.createDataFrame([], "a long, b long")
    full_edges = (
        new_edges
        if edges_store is None
        else edges_store.unionByName(new_edges)
    )

    # initial frontier: new seeds at 0, plus each new edge's head
    # relaxed through its tail's STORED distance (transitive effects
    # are the rounds' job — new edges are part of full_edges)
    cands = sess.createDataFrame([], "doc long, dist long")
    if seeds_batch is not None:
        cands = cands.unionByName(
            seeds_batch.select(F.col(seed_col).alias("doc"))
            .dropDuplicates(["doc"])
            .withColumn("dist", F.lit(0).cast("long"))
        )
    # ONE initial store probe for every batch-touched doc — new-edge
    # tails (their stored distance relaxes each head), plus heads and
    # new seeds (the initial improvement pass needs their stored
    # bounds).  Previously the tail relaxation and the initial bound
    # check each probed the dist store behind its own broadcast build
    # (two store scans + two build jobs per fold); the union key set
    # is known before any store access, so one wave-sized checkpointed
    # probe serves both (guide §2.4).
    keys0 = new_edges.select(F.col("a").alias("doc")).unionByName(
        new_edges.select(F.col("b").alias("doc"))
    )
    if seeds_batch is not None:
        keys0 = keys0.unionByName(
            seeds_batch.select(F.col(seed_col).alias("doc"))
        )
    probe0 = _sd_store_hits(dists_store, keys0.dropDuplicates(["doc"]))
    if dists_store is not None:  # empty-store probe is a LocalRelation
        probe0 = probe0.localCheckpoint(eager=True)
    # store hits only (an inner probe): the raw improvement-event
    # rows relax each head through EVERY stored tail row; the min
    # aggregate below collapses them (min(cur)+1 == min(cur+1))
    cands = cands.unionByName(
        new_edges.join(
            probe0.select(F.col("doc").alias("a"), "cur"), "a"
        )
        .select(
            F.col("b").alias("doc"),
            (F.col("cur") + 1).cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= max_depth)
    )
    cands = cands.groupBy("doc").agg(F.min("dist").alias("dist"))

    def _improvements(
        wave: DataFrame,
        acc: DataFrame | None,
        bnd: DataFrame | None = None,
    ) -> DataFrame:
        """Strict improvements in ``wave``: one wave-sized aggregate
        over candidate rows ∪ stored-bound rows (∪ the accumulated
        in-batch best), keeping docs whose candidate min beats every
        bound.  Equivalent to the old left-join + two-clause filter —
        ``dist < min(stored, best)``, NULL bound = unseen doc — but
        with no re-attach join, so the per-round bound broadcast
        build job is gone (guide §2.4).  ``bnd`` overrides the store
        probe with already-materialized bound rows; extra rows for
        docs outside the wave are harmless (their groups have a NULL
        candidate and the filter drops them)."""
        cand = wave.select(
            "doc",
            F.col("dist").alias("cand"),
            F.lit(None).cast("long").alias("cur"),
        )
        if bnd is None:
            bnd = _sd_store_hits(dists_store, wave)
        if acc is not None:
            bnd = bnd.unionByName(
                acc.select("doc", F.col("dist").alias("cur"))
            )
        return (
            cand.unionByName(
                bnd.select(
                    "doc",
                    F.lit(None).cast("long").alias("cand"),
                    "cur",
                )
            )
            .groupBy("doc")
            .agg(
                F.min("cand").alias("dist"), F.min("cur").alias("cur")
            )
            .filter(
                F.col("dist").isNotNull()
                & (F.col("cur").isNull() | (F.col("dist") < F.col("cur")))
            )
            .select("doc", "dist")
        )

    def _sever(df: DataFrame) -> tuple[DataFrame, bool]:
        """Round boundary: ONE materialization of the frontier
        (lineage truncation, see the persist note above) that also
        says whether it is empty (sparkutil.checkpoint_with)."""
        df, m = checkpoint_with(df, n=F.count("*"))
        return df, m["n"] == 0

    frontier, empty = _sever(_improvements(cands, None, bnd=probe0))
    initial_empty = empty
    best = frontier

    for _ in range(int(max_depth)):
        # early exit: an empty frontier stays empty — steady-state
        # batches into a settled store converge in one or two rounds,
        # and a replayed batch converges in ZERO, so the remaining
        # rounds' join/aggregate jobs are pure overhead.
        if empty:
            break
        # persisted like cands: the relaxation pass scans the FULL
        # edge store — the store-probe broadcast build materializes
        # the cache, so the edge scan runs once per round (the scan is
        # the round's dominant cost at store scale)
        nxt = _keep(
            full_edges.join(
                F.broadcast(
                    frontier.select(
                        F.col("doc").alias("a"), F.col("dist")
                    )
                ),
                "a",
            )
            .select(
                F.col("b").alias("doc"),
                (F.col("dist") + 1).cast("long").alias("dist"),
            )
            .filter(F.col("dist") <= max_depth)
            .groupBy("doc")
            .agg(F.min("dist").alias("dist"))
        )
        frontier, empty = _sever(_improvements(nxt, best))
        # NOT materialized: best is a union of the (checkpoint-
        # severed) per-round frontiers + one min-aggregate, so its
        # lineage depth is bounded by max_depth regardless (guide §5:
        # materialize only when recomputation is the expensive side)
        best = (
            best.unionByName(frontier)
            .groupBy("doc")
            .agg(F.min("dist").alias("dist"))
        )

    # dists first, then edges (see write-order note above); a batch
    # with zero improvements (replay, or edges that shortcut nothing)
    # appends no dists file at all instead of an empty one — replayed
    # feeds must not accrete per-replay file clutter
    if not initial_empty:
        best.write.mode("append").parquet(_sd_dists_path(store_path))
    if edges_batch is not None:
        new_edges.write.mode("append").parquet(
            _sd_edges_path(store_path)
        )
    # safe to drop now: every frontier is checkpoint-severed, so
    # neither `best` nor anything a caller can reach recomputes
    # through these cached frames (which would re-read the stores
    # WITH this fold's own appends)
    for df in persisted:
        df.unpersist(False)
    return best


def seed_distance_over_store(spark, store_path: str) -> DataFrame:
    """Corpus-wide ``(doc, dist)`` view of the incremental store:
    row-min per doc over the append-only improvement events — equal to
    the one-shot :func:`seed_distance` over every edge/seed batch ever
    folded, in any arrival order."""
    from ..storeio import read_parquet_if_exists

    dists = read_parquet_if_exists(spark, _sd_dists_path(store_path))
    if dists is None:
        return spark.createDataFrame([], "doc long, dist long")
    return dists.groupBy("doc").agg(F.min("dist").alias("dist"))


def compact_seed_distance_store(
    spark, store_path: str, min_files: int | None = None
) -> dict:
    """Vacuum pass for the seed-distance store: fold ``dists/`` to its
    read-time view (one MIN row per doc — the store accumulates one
    row per improvement event, ≤ max_depth+2 per doc) and coalesce the
    per-batch ``edges/`` files.

    Crash-safety without a swap: min composes, so the dists sequence
    is write-compacted-rows-into-a-staging-dir → move its data files
    INTO the live dir → delete the listed pre-existing files.  Every
    intermediate state (old rows, old+compacted, compacted only)
    reads identically through the ``groupBy(doc).min(dist)`` view —
    a crash anywhere leaves a correct (merely denser) store and the
    pass simply re-runs.  Edge rows are unique and the BFS relaxation
    folds min over candidates, so edges use the same move-in pattern.
    Single-writer maintenance op.  Returns per-store file counts.
    """
    import os
    import shutil
    import tempfile

    from ..storeio import list_data_files, read_parquet_if_exists

    target_bytes = 128 << 20
    out = {}
    for name, path, fold in (
        (
            "dists",
            _sd_dists_path(store_path),
            lambda df, n: df.groupBy("doc")
            .agg(F.min("dist").alias("dist"))
            .repartitionByRange(n, "doc"),
        ),
        (
            "edges",
            _sd_edges_path(store_path),
            lambda df, n: df.dropDuplicates(["a", "b"]).repartitionByRange(
                n, "a"
            ),
        ),
    ):
        frame = read_parquet_if_exists(spark, path)
        if frame is None:
            out[f"{name}_files"] = (0, 0)
            continue
        before = list_data_files(path)
        size = sum(os.path.getsize(f) for f in before)
        # parallelism floor, same rationale as compact_bm25_store: a
        # byte-only target can serialize small-store scans
        floor = (
            spark.sparkContext.defaultParallelism
            if min_files is None
            else int(min_files)
        )
        n_out = max(1, floor, -(-size // target_bytes))
        stage = tempfile.mkdtemp(prefix=f"sd_compact_{name}_")
        try:
            fold(frame, n_out).write.mode("overwrite").parquet(stage)
            # the write above fully materialized the fold FROM the old
            # files; only now do the old files become redundant
            for f in list_data_files(stage):
                shutil.move(
                    f, os.path.join(path, "compact_" + os.path.basename(f))
                )
            for f in before:
                os.remove(f)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        out[f"{name}_files"] = (len(before), len(list_data_files(path)))
    return out


def _pq_fit(
    X: np.ndarray, m: int, ksub: int, seed: int, iters: int = 10
) -> np.ndarray:
    """Product-quantizer codebooks: independent Lloyd's k-means per
    subspace over L2-normalized training vectors.  Deterministic
    (seeded init, fixed iterations).  Returns (m, ksub, d/m)."""
    n, d = X.shape
    if d % m != 0:
        raise ValueError(f"dims {d} not divisible by m={m} subspaces")
    ds = d // m
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    books = np.zeros((m, ksub, ds))
    for s in range(m):
        rng = np.random.default_rng(seed + s)
        sub = X[:, s * ds:(s + 1) * ds]
        C = sub[rng.choice(n, size=min(ksub, n), replace=False)].copy()
        for _ in range(iters):
            # ||a-c||^2 = ||a||^2 - 2 a.c + ||c||^2; the per-row
            # ||a||^2 is constant under argmin, so one small matmul
            # replaces the (n, ksub, ds) broadcast tensor
            d2 = (C**2).sum(axis=1)[None, :] - 2.0 * (sub @ C.T)
            assign = np.argmin(d2, axis=1)
            for c in range(len(C)):
                members = sub[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[s, : len(C)] = C
    return books


def ann_ivf_pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    refine: int = 4,
    seed: int = 7,
    train_sample: int = 100_000,
) -> DataFrame:
    """IVF-PQ approximate top-k: IVF coarse cells prune the scan,
    product-quantized codes + an asymmetric-distance (ADC) lookup
    table rank candidates WITHOUT touching the raw vectors, and the
    top ``k * refine`` ADC candidates get an exact cosine re-rank.

    This is the full modern ANN memory hierarchy: at 100 TB the raw
    embeddings never leave parquet except for the ``k*refine`` rows
    the re-rank touches — candidate ranking reads only the m-byte
    codes.  The ADC score is pure JVM arithmetic (``element_at`` into
    a broadcast-literal LUT, no Python in the scoring pass); codes are
    computed once by an Arrow-batched kernel against broadcast
    codebooks (model-sized: m*ksub*(d/m) floats).  Returned scores
    are EXACT cosines (re-ranked), so the verified-summary oracle's
    scores-exact assertion holds.
    """
    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    # Arrow path: toPandas ships the sample as columnar batches —
    # a 100k x 64 collect() serializes row-by-row through py4j and
    # measured ~10x slower
    sample = (  # nulls masked: one missing vector must not ragged-array training
        vecs.filter(F.col("v").isNotNull())
        # id-sorted: limit().toPandas() row order is partition-order
        # sensitive and k-means init indexes rows — unsorted, the
        # trained cells vary run to run on identical data
        .orderBy(id_col).select("v").limit(train_sample).toPandas()
    )
    X = np.asarray(sample["v"].tolist(), dtype=np.float64)
    C = _kmeans_fit(X, n_cells, seed)
    books = _pq_fit(X, m, ksub, seed)
    d = X.shape[1]
    ds = d // m

    def encode_kernel(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"cell": [], "codes": []})
        M, idx = _mask_stack(vs)  # NULL vec -> NULL cell AND codes
        if len(idx) == 0:
            return pd.DataFrame(
                {"cell": [None] * len(vs), "codes": [None] * len(vs)}
            )
        M = _unit_rows(M)
        cell = np.argmax(M @ C.T, axis=1).astype(np.int32)
        codes = np.zeros((len(M), m), dtype=np.int32)
        for s in range(m):
            sub = M[:, s * ds:(s + 1) * ds]
            # same matmul identity as _pq_fit: argmin unchanged
            d2 = (books[s] ** 2).sum(axis=1)[None, :] - 2.0 * (
                sub @ books[s].T
            )
            codes[:, s] = np.argmin(d2, axis=1)
        return pd.DataFrame(
            {
                "cell": _scatter(len(vs), idx, cell),
                "codes": _scatter(
                    len(vs), idx, [row.tolist() for row in codes]
                ),
            }
        )

    encode = pandas_udf(
        encode_kernel, "struct<cell:int,codes:array<int>>"
    )
    encoded = vecs.withColumn("__e", encode(F.col("v"))).select(
        id_col, "v", F.col("__e.cell").alias("cell"),
        F.col("__e.codes").alias("codes"),
    )

    qrow = vecs.filter(F.col(id_col) == query_id).select("v").first()
    q = np.asarray(qrow["v"], dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probes = [int(c) for c in np.argsort(-(C @ qn))[:n_probe]]
    # ADC lookup table: lut[s][c] = <query subvector, codebook entry>
    lut = np.stack(
        [books[s] @ qn[s * ds:(s + 1) * ds] for s in range(m)]
    )
    lut_lit = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in row])
            for row in lut
        ]
    )
    adc = None
    for s in range(m):
        term = F.element_at(
            F.element_at(lut_lit, s + 1), F.element_at("codes", s + 1) + 1
        )
        adc = term if adc is None else adc + term

    cands = (
        encoded.filter(F.col("cell").isin(probes))
        .filter(F.col(id_col) != query_id)
        .select(id_col, "v", adc.alias("adc"))
        .orderBy(F.col("adc").desc(), F.col(id_col).asc())
        .limit(k * refine)
    )
    q_df = vecs.filter(F.col(id_col) == query_id).select(
        F.col("v").alias("qv")
    )
    return (
        cands.crossJoin(F.broadcast(q_df))
        .select(
            F.col(id_col),
            F.round(cosine_col(F.col("v"), F.col("qv")), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


# --------------------------------------------------------------------
# SemDeDup — semantic deduplication via k-means cells
# --------------------------------------------------------------------


def semantic_dedup_frames(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 16,
    threshold: float = 0.9,
    seed: int = 7,
    train_sample: int = 100_000,
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup (Abbas et al. 2023): cluster embeddings with a
    sample-trained k-means coarse quantizer, find within-cluster
    near-duplicate pairs by exact cosine, keep one document per
    connected near-dup group.

    Returns ``(per_doc, pairs)`` sharing one trained quantizer:
    ``per_doc = (id, cluster, kept)`` for every input row, and
    ``pairs = (i, j, cluster, cosine)`` — the within-cluster pairs at
    or above ``threshold``.  ``kept`` is deterministic: the minimum id
    of each pair-graph component survives (components via the existing
    min-label propagation), singletons always survive.

    Scale shape: exact-clone collapse first (identical embeddings —
    the common case for duplicated content — would explode the
    within-cell pair stage quadratically per clone group), then the
    quadratic stage bounded per cell over DISTINCT vectors only:
    representatives shuffle ONCE keyed by cluster, each cell's pairs
    come from a vectorized Arrow-batched cosine kernel.  Size
    ``n_clusters`` so cells hold ~10k distinct vectors (100M-vector
    corpus -> ~10k cells); cluster assignment itself is a one-pass
    argmax against broadcast centroids, identical to the IVF path.

    The returned ``pairs`` are REPRESENTATIVE pairs (one row per pair
    of distinct contents) — clone-group members inherit their rep's
    verdict, so the kept set equals the uncollapsed min-id-per-
    component semantics exactly while the pair frame stays clone-free.
    """
    from .dedup import cosine_pairs_col, dedup_components

    from pyspark.sql.window import Window

    # clone collapse via window min over the vector value — one
    # shuffle, O(1) per-row state, no per-group member arrays (a
    # degenerate clone group spills instead of pinning one giant row)
    vm = df.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn(
        # hash-led partition spec: the window sort resolves on 8 bytes
        "rep",
        F.min("doc").over(Window.partitionBy(F.xxhash64(F.col("v")), F.col("v"))),
    )
    reps = vm.filter(F.col("doc") == F.col("rep")).select(
        F.col("rep").alias("doc"), "v"
    )
    sample = (
        reps.filter(F.col("v").isNotNull())
        # id-sorted for run-to-run determinism (see the other trainers)
        .orderBy("doc").select("v").limit(train_sample).toPandas()
    )
    X = np.asarray(sample["v"].tolist(), dtype=np.float64)
    C = _kmeans_fit(X, n_clusters, seed)

    assign = pandas_udf(_nearest_cell_kernel(C), "int")
    clustered = reps.withColumn("cluster", assign(F.col("v")))

    a = clustered.select(
        "cluster", F.col("doc").alias("i"), F.col("v").alias("va")
    )
    b = clustered.select(
        "cluster", F.col("doc").alias("j"), F.col("v").alias("vb")
    )
    pairs = (
        a.hint("merge")
        .join(b.hint("merge"), "cluster")
        .filter(F.col("i") < F.col("j"))
        .withColumn(
            "cosine", cosine_pairs_col(F.col("va"), F.col("vb"))
        )
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("i", "j", "cluster", F.round("cosine", 6).alias("cosine"))
    )

    comp = dedup_components(pairs)  # (doc=rep, component)
    rep_flags = (
        clustered.select("doc", "cluster")
        .join(comp, "doc", "left")
        .select(
            F.col("doc").alias("rep"),
            "cluster",
            (
                F.col("component").isNull()
                | (F.col("component") == F.col("doc"))
            ).alias("__rep_kept"),
        )
    )
    # expand to members: a doc survives iff it IS the representative
    # (min id of its clone group) and its rep's component keeps it —
    # exactly the min-id-per-component verdict of the uncollapsed graph
    per_doc = (
        vm.select("rep", "doc")
        .join(rep_flags, "rep")
        .select(
            F.col("doc").alias(id_col),
            "cluster",
            ((F.col("doc") == F.col("rep")) & F.col("__rep_kept")).alias(
                "kept"
            ),
        )
    )
    return per_doc, pairs


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 16,
    threshold: float = 0.9,
    seed: int = 7,
) -> DataFrame:
    """Per-document SemDeDup verdict: ``(id, cluster, kept)``.  See
    :func:`semantic_dedup_frames`."""
    return semantic_dedup_frames(
        df, id_col, vec_col, n_clusters=n_clusters, threshold=threshold,
        seed=seed,
    )[0]


def knn_classify(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    n_rows: int | None = None,
) -> DataFrame:
    """kNN label transfer over embeddings: predict each vector's label
    by majority vote of its ``k`` exact nearest neighbors — the
    standard trick for propagating a small set of human quality/domain
    labels across a large corpus (and for auditing a trained
    classifier against its own training set).

    Rides :func:`knn_graph` for the heavy lifting (blocked gram
    matrix, bounded emit); the vote adds one id-keyed label join, one
    ``(id, label)`` aggregation, and one id-keyed window — all on the
    id partitioning the graph already produced.  Deterministic
    tie-break: vote count desc, then best cosine within the label
    desc, then label asc.

    Output: ``id, predicted_label, votes``.
    """
    from pyspark.sql import Window

    g = knn_graph(df, id_col, vec_col, k=k, n_rows=n_rows)
    labels = df.select(
        F.col(id_col).alias("j"), F.col(label_col).alias("predicted_label")
    )
    votes = (
        g.join(labels, "j")
        .groupBy("i", "predicted_label")
        .agg(
            F.count("*").alias("votes"),
            F.max("cosine").alias("__best"),
        )
    )
    w = Window.partitionBy("i").orderBy(
        F.col("votes").desc(),
        F.col("__best").desc(),
        F.col("predicted_label").asc(),
    )
    return (
        votes.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(F.col("i").alias(id_col), "predicted_label", "votes")
    )


# --------------------------------------------------------------------
# Incremental embedding near-dup: persisted cell-partitioned store
# --------------------------------------------------------------------


def incremental_embedding_pairs(
    spark,
    new_df: DataFrame,
    id_col: str,
    vec_col: str,
    store_path: str,
    threshold: float = 0.9,
    n_clusters: int = 16,
    seed: int = 7,
    train_sample: int = 100_000,
    n_probe: int = 2,
) -> DataFrame:
    """The streaming-ingest twin of :func:`semantic_dedup_frames`
    (mirroring ``incremental_minhash_pairs``): detect embedding
    near-dup pairs involving at least one NEW vector against a
    persisted cell-partitioned store, then append the new vectors.

    Store layout: ``<store>/centroids`` (the k-means quantizer,
    trained ONCE on the first batch so cell assignments stay stable —
    the property incrementality needs) and ``<store>/vectors``
    (``doc, v, cell``).  The probe pairs the new side against
    (store ∪ new) within matching cells only — and clone-collapsed:
    the kernel scores once per DISTINCT (cell, vector) pair and
    member pairs expand only after the threshold filter, so kernel
    work scales with |new distinct| × distinct-cell occupancy and
    shuffle volume with id pairs + output size, never clone².  Exact
    cosine verifies every candidate (precision 1 like the batch
    path).

    Idempotent append: already-stored ids are anti-joined away first,
    so a replayed batch emits nothing and writes nothing new.

    ``n_probe``: the NEW side probes its ``n_probe`` nearest cells
    (store membership stays single-cell) — cell-boundary pairs are
    the misses of single-cell probing, and the second cell recovers
    most of them for ~2× candidate traffic (measured at sf0.1:
    recall 0.29 → see the registry query's pinned floor).
    """
    import os

    from .dedup import cosine_pairs_col

    cent_path = os.path.join(store_path, "centroids")
    vec_path = os.path.join(store_path, "vectors")
    vecs = new_df.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    from ..storeio import read_parquet_if_exists, read_params_rows

    # centroids are frozen after the first batch: the cached-row read
    # (file-listing keyed) makes every later trigger's quantizer load
    # job-free, and the driver-side write below saves the training
    # trigger's Spark write job (the values are driver-known)
    cent_rows = read_params_rows(spark, cent_path)
    if cent_rows:
        C = np.zeros((len(cent_rows), len(cent_rows[0]["centroid"])))
        for r in cent_rows:
            C[r["cell"]] = r["centroid"]
    else:
        sample = (  # nulls masked: one missing vector must not ragged-array training
            # id-sorted: limit().toPandas() row order is partition-
            # order-sensitive, and k-means init indexes rows — an
            # arbitrary order makes the trained cells (and the
            # store's recall) vary run to run on identical data
            vecs.filter(F.col("v").isNotNull())
            .orderBy("doc")
            .select("v")
            .limit(train_sample)
            .toPandas()
        )
        X = np.asarray(sample["v"].tolist(), dtype=np.float64)
        C = _kmeans_fit(X, n_clusters, seed)
        import pyarrow as pa

        from pyspark.sql import Row as _Row

        from ..storeio import prime_params_cache, write_params_table

        rows = [
            {"cell": int(i), "centroid": [float(x) for x in row]}
            for i, row in enumerate(C)
        ]
        write_params_table(
            cent_path,
            pa.schema(
                [("cell", pa.int32()), ("centroid", pa.list_(pa.float64()))]
            ),
            rows,
        )
        prime_params_cache(
            cent_path, [_Row(**r) for r in rows]
        )

    assign = pandas_udf(_nearest_cell_kernel(C), "int")
    probe = pandas_udf(_top_cells_kernel(C, n_probe), "array<int>")
    old = read_parquet_if_exists(spark, vec_path)
    have_store = old is not None

    # store membership is single-cell (nearest); the probe footprint
    # is the n_probe nearest cells per new vector
    new_vecs = vecs.withColumn("cell", assign(F.col("v"))).withColumn(
        "pcells", probe(F.col("v"))
    )
    if have_store:
        new_vecs = new_vecs.join(
            old.select("doc"), "doc", "left_anti"
        )
    new_vecs = new_vecs.localCheckpoint(eager=True)

    # Clone collapse, vector edition (the doctrine every pair
    # operator in this repo follows): identical embeddings — the
    # dominant case on crawl-shaped corpora — multiply candidate rows
    # inside every cell quadratically, so the naive new×(store∪new)
    # member join is a clone²-sized shuffle (measured: the 10×-clone
    # 200k-vector replica pushed it past a 300 s drain).  Instead the
    # cosine kernel scores once per DISTINCT (cell, vector) pair,
    # candidates cross the shuffle as id pairs only (vectors join
    # back after the dedupe, the LSH path's trick), and member pairs
    # expand only AFTER the threshold filter — output-sized work,
    # with the new-side restriction applied per member pair so old×old
    # pairs never emit.
    from pyspark.sql.window import Window as _W

    new_store = new_vecs.drop("pcells")
    if have_store:
        # store rows in cells the batch never PROBES cannot pair —
        # keep them out of the per-batch collapse window entirely, so
        # per-batch shuffle volume tracks the batch's probe-cell
        # footprint, not store history (the n_clusters dial at scale)
        cells_new = new_vecs.select(
            F.explode("pcells").alias("cell")
        ).distinct()
        old_rel = old.join(F.broadcast(cells_new), "cell", "left_semi")
        mem = old_rel.withColumn("__new", F.lit(False)).unionByName(
            new_store.withColumn("__new", F.lit(True))
        )
    else:
        mem = new_store.withColumn("__new", F.lit(True))
    mem = mem.withColumn(
        # hash-led partition spec (see embedding_dup_pairs_lsh): sort
        # resolves on 8 bytes, full vectors compare within hash runs
        "rep",
        F.min("doc").over(
            _W.partitionBy(F.xxhash64(F.col("v")), F.col("v"))
        ),
    )
    mem = mem.localCheckpoint(eager=True)
    reps = mem.filter(F.col("doc") == F.col("rep")).select(
        "rep", "v", "cell"
    )
    flags = mem.groupBy("rep").agg(
        F.max(F.col("__new").cast("int")).alias("__has_new"),
        F.count("*").alias("__k"),
    )
    members = mem.select("rep", "doc", "__new")

    # cross-group candidates: ids only through the join + dedupe.
    # The new-touched side probes its n_probe nearest cells (explode)
    # against single-cell store assignments — the multiprobe that
    # recovers cell-boundary pairs; duplicate candidates from two
    # probe cells collapse in the pair dedupe
    ra = (
        reps.join(
            flags.filter(F.col("__has_new") == 1).select("rep"), "rep"
        )
        .select(
            F.explode(probe(F.col("v"))).alias("cell"),
            F.col("rep").alias("__ra"),
        )
    )
    rb = reps.select("cell", F.col("rep").alias("__rb"))
    rep_pairs = (
        ra.join(rb, "cell")
        .filter(F.col("__ra") != F.col("__rb"))
        .select(
            F.least("__ra", "__rb").alias("__ri"),
            F.greatest("__ra", "__rb").alias("__rj"),
        )
        .dropDuplicates(["__ri", "__rj"])
        .join(
            reps.select(F.col("rep").alias("__ri"), F.col("v").alias("va")),
            "__ri",
        )
        .join(
            reps.select(F.col("rep").alias("__rj"), F.col("v").alias("vb")),
            "__rj",
        )
        .withColumn("cosine", F.round(cosine_pairs_col("va", "vb"), 6))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("__ri", "__rj", "cosine")
    )
    cross = (
        rep_pairs.join(
            members.select(
                F.col("rep").alias("__ri"),
                F.col("doc").alias("__a"),
                F.col("__new").alias("__na"),
            ),
            "__ri",
        )
        .join(
            members.select(
                F.col("rep").alias("__rj"),
                F.col("doc").alias("__b"),
                F.col("__new").alias("__nb"),
            ),
            "__rj",
        )
        .filter(F.col("__na") | F.col("__nb"))
        .select(
            F.least("__a", "__b").alias("i"),
            F.greatest("__a", "__b").alias("j"),
            "cosine",
        )
    )
    # within-group pairs: clones of one distinct vector score its
    # self-cosine (same kernel, so zero vectors behave exactly as the
    # expanded join did)
    self_scored = (
        reps.join(
            flags.filter(
                (F.col("__has_new") == 1) & (F.col("__k") >= 2)
            ).select("rep"),
            "rep",
        )
        .withColumn("cosine", F.round(cosine_pairs_col("v", "v"), 6))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("rep", "cosine")
    )
    within = (
        self_scored.join(
            members.select(
                "rep", F.col("doc").alias("__a"), F.col("__new").alias("__na")
            ),
            "rep",
        )
        .join(
            members.select(
                "rep", F.col("doc").alias("__b"), F.col("__new").alias("__nb")
            ),
            "rep",
        )
        .filter(
            (F.col("__a") < F.col("__b"))
            & (F.col("__na") | F.col("__nb"))
        )
        .select(F.col("__a").alias("i"), F.col("__b").alias("j"), "cosine")
    )
    out = cross.unionByName(within)
    new_store.write.mode("append").parquet(vec_path)
    return out


def kmeans_clusters(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    seed: int = 7,
    iters: int = 10,
    train_sample: int = 100_000,
):
    """Standalone spherical k-means over an embedding column — the
    clustering the IVF / SemDeDup paths use internally, exposed as a
    first-class operator for cluster-balanced sampling, topic
    bucketing, and diversity analysis.  Returns ``(assigned,
    centroids)``: ``assigned = (id, cluster, sim)`` with ``sim`` the
    cosine between the L2-normalized vector and its (unit-norm)
    centroid, and ``centroids`` the ``(k', d)`` numpy array (``k' <=
    k`` when the sample has fewer distinct rows than ``k``).

    Scale shape: training state is a driver-bounded
    ``limit(train_sample)`` sample (the legitimate model-state
    pattern shared with IVF/PQ); assignment is a single scan through
    one Arrow-batched argmax kernel against broadcast centroids — no
    shuffle at all, the output keeps the input's partitioning.  At
    100 TB only the sample crosses to the driver; per-batch kernel
    state is ``batch x k`` doubles.
    """
    base = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    sample = (
        base.filter(F.col("__v").isNotNull())
        # id-sorted for run-to-run determinism (see the other trainers)
        .orderBy(id_col).select("__v").limit(train_sample).toPandas()
    )
    if len(sample) == 0:
        raise ValueError("kmeans_clusters: empty input (nothing to train on)")
    X = np.asarray(sample["__v"].tolist(), dtype=np.float64)
    C = _kmeans_fit(X, k, seed, iters=iters)

    def assign_kernel(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame(
                {
                    "cluster": pd.Series(dtype="int32"),
                    "sim": pd.Series(dtype="float64"),
                }
            )
        M, idx = _mask_stack(vs)  # NULL vec -> NULL cluster AND sim
        if len(idx) == 0:
            return pd.DataFrame(
                {"cluster": [None] * len(vs), "sim": [None] * len(vs)}
            )
        S = _unit_rows(M) @ C.T
        a = np.argmax(S, axis=1)
        return pd.DataFrame(
            {
                "cluster": _scatter(len(vs), idx, a.astype(np.int32)),
                "sim": _scatter(len(vs), idx, S[np.arange(len(a)), a]),
            }
        )

    assign = pandas_udf(assign_kernel, "cluster int, sim double")
    assigned = base.withColumn("__a", assign(F.col("__v"))).select(
        F.col(id_col),
        F.col("__a.cluster").alias("cluster"),
        F.round(F.col("__a.sim"), 6).alias("sim"),
    )
    return assigned, C


def keep_best_semantic(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    scores: DataFrame,
    score_col: str,
    n_clusters: int = 16,
    threshold: float = 0.9,
    seed: int = 7,
) -> DataFrame:
    """Quality-aware SemDeDup: group embedding near-duplicates into
    connected components (k-means cells -> within-cell exact-cosine
    pairs -> min-label components, the :func:`semantic_dedup_frames`
    shape) and keep the member with the HIGHEST ``score_col``
    (ties -> smallest id) instead of the smallest id — SemDeDup's
    keep-arbitrary policy upgraded to keep-best, the same upgrade
    :func:`~mongo_es_spark.operators.dedup.keep_best_near_dup` gives
    the Jaccard family.  ``scores`` carries ``(id_col, score_col)``.

    Returns one row per input doc: ``(id, component, score, kept)``.

    Scale shape: exact-clone collapse on the vector value first, the
    quadratic stage bounded per cell over DISTINCT vectors, one
    ``max_by`` aggregation per component (no per-component window),
    and membership expansion through id joins — identical cost
    structure to the min-id SemDeDup path plus one broadcast-sized
    score join per member.
    """
    from pyspark.sql.window import Window

    from .dedup import cosine_pairs_col, dedup_components

    vm = df.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn(
        "rep",
        F.min("doc").over(
            Window.partitionBy(F.xxhash64(F.col("v")), F.col("v"))
        ),
    )
    reps = vm.filter(F.col("doc") == F.col("rep")).select(
        F.col("rep").alias("doc"), "v"
    )
    assigned, _C = kmeans_clusters(
        reps, "doc", "v", k=n_clusters, seed=seed
    )
    clustered = reps.join(
        assigned.select("doc", "cluster"), "doc"
    )
    a = clustered.select(
        "cluster", F.col("doc").alias("i"), F.col("v").alias("va")
    )
    b = clustered.select(
        "cluster", F.col("doc").alias("j"), F.col("v").alias("vb")
    )
    pairs = (
        a.hint("merge")
        .join(b.hint("merge"), "cluster")
        .filter(F.col("i") < F.col("j"))
        .withColumn("cosine", cosine_pairs_col(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("i", "j")
    )
    comp = dedup_components(pairs)  # (doc=rep, component) for paired reps
    rep_comp = reps.select(F.col("doc").alias("rep")).join(
        comp.select(F.col("doc").alias("rep"), "component"),
        "rep",
        "left",
    ).select(
        "rep", F.coalesce("component", F.col("rep")).alias("component")
    )
    # LEFT score join: a doc with no score row must stay in its
    # component (an inner join would silently drop it from both the
    # output and the competition); missing scores lose to any scored
    # member via the -inf competition key, and an all-unscored
    # component still elects exactly one winner (min id)
    members = (
        vm.select("rep", "doc")
        .join(rep_comp, "rep")
        .join(
            scores.select(
                F.col(id_col).alias("doc"), F.col(score_col).alias("__s")
            ),
            "doc",
            "left",
        )
    )
    cmp_key = F.coalesce(
        F.col("__s").cast("double"), F.lit(float("-inf"))
    )
    best = members.groupBy("component").agg(
        F.max_by("doc", F.struct(cmp_key, -F.col("doc"))).alias("__best")
    )
    return (
        members.join(best, "component")
        .select(
            F.col("doc").alias(id_col),
            "component",
            F.col("__s").alias(score_col),
            (F.col("doc") == F.col("__best")).alias("kept"),
        )
    )


# Driver fast-path budget for the k-center greedy: below this many
# total doubles (n*d ≈ 32 MB) the vector matrix is bounded model
# state — collect once, run the k matvecs locally, skip k scheduler
# round-trips.  Above it, the distributed per-round kernel runs.
_DRIVER_KCENTER_CUTOFF = 1 << 22


def _kcenter_greedy_driver(pdf: pd.DataFrame, k: int) -> list:
    """Exact farthest-first traversal of a SMALL (doc, v) frame on
    the driver.  Same selection contract as the distributed rounds:
    first center = smallest doc id; each round picks (max __mind,
    ties to min doc); ``radius_after`` of round r is the next round's
    farthest distance (final round: max remaining)."""
    order = np.argsort(pdf["doc"].to_numpy(), kind="stable")
    docs = pdf["doc"].to_numpy()[order]
    M = _unit_rows(
        np.asarray(pdf["v"].to_numpy()[order].tolist(), dtype=np.float64)
    )
    mind = np.full(len(docs), np.inf)
    out_rows: list = []
    prev = None
    ci = 0  # round 0: smallest doc id = first row after the sort
    for r in range(k):
        if r > 0:
            # first occurrence of the max over doc-ascending rows ==
            # (mind desc, doc asc) TakeOrdered
            ci = int(np.argmax(mind))
            out_rows.append((int(prev), r - 1, float(mind[ci])))
        prev = docs[ci]
        mind = np.minimum(mind, 1.0 - M @ M[ci])
    out_rows.append((int(prev), k - 1, float(mind.max())))
    return out_rows


def kcenter_coreset(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 32,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Greedy k-center coreset (farthest-first traversal, the
    2-approximation of Gonzalez 1985): select ``k`` input points such
    that every point lies within the cover radius of some center —
    the diversity-maximizing subset used for coreset selection,
    active-learning seeds, and eval-set construction.  Distances are
    cosine distance ``1 - cos`` on L2-normalized vectors, consistent
    with the spherical k-means family.  Deterministic: the first
    center is the smallest id, ties break to the smaller id.

    Returns one row per center: ``(id, round, radius_after)`` where
    ``radius_after`` is the cover radius once that center is added —
    nonincreasing by construction.

    Rows whose embedding is NULL are dropped before selection — a
    NULL vector has no distance to anything, so it can neither be a
    center nor count toward the cover radius.

    Scale shape: the classic greedy is inherently ``k`` passes — each
    round one Arrow-batched distance kernel against the SINGLE new
    center (a broadcast d-vector, not driver-sized state) updates a
    running min-distance column, eagerly materialized so every round
    evaluates exactly ONE kernel pass over cached state (a stacked-
    lineage version re-ran up to ``checkpoint_every`` kernels per
    action — measured 683 s vs ~2 passes/round at 2M vectors).  The
    next round's farthest-point row doubles as the previous round's
    cover radius, so each round is one materialization plus one
    TakeOrdered — no separate radius aggregation.  Work is
    ``O(k * n * d)`` with ``k`` scans; running state is one double
    per row.  For k >> 100 at 100 TB the standard move is
    pre-reduction to cell representatives via :func:`kmeans_clusters`
    and running k-center over reps — composition, not a different
    operator.  ``checkpoint_every`` is retained for API
    compatibility; materialization is now per round.

    Small inputs take a driver fast path: when the vector matrix fits
    the bounded model-state budget (``n*d`` ≤ 4.2M doubles, ~32 MB —
    the k-center input after rep-reduction IS model-sized), the
    greedy runs as ``k`` numpy matvecs on the driver instead of ``k``
    scheduler round-trips.  Identical selection contract either way
    (pinned by tests on both cutoff sides); above the budget the
    distributed passes are unchanged.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    base = df.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).cast("array<double>").alias("v"),
        # a NULL embedding has no distance to anything: drop it here
        # (documented), rather than crash the Arrow kernel mid-round
        # or let an inf-__mind null row win the farthest-point argmax
    ).filter(F.col("v").isNotNull())
    state, m = checkpoint_with(
        base.withColumn("__mind", F.lit(float("inf"))), n=F.count("*")
    )
    n = m["n"]
    if n == 0:
        # empty in, empty out — not a None-radius crash
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, round int, radius_after double"
        )
    k = min(k, n)

    dim = len(state.head()["v"])
    if n * dim <= _DRIVER_KCENTER_CUTOFF:
        out_rows = _kcenter_greedy_driver(
            state.select("doc", "v").toPandas(), k
        )
        return df.sparkSession.createDataFrame(
            out_rows, f"{id_col} long, round int, radius_after double"
        )

    def dist_kernel_for(center):
        c = np.asarray(center, dtype=np.float64)
        c = c / max(np.linalg.norm(c), 1e-12)

        def kernel(vs: pd.Series) -> pd.Series:
            M, idx = _mask_stack(vs)  # nulls pre-filtered: idx is full
            if len(idx) == 0:
                return pd.Series(np.empty(0, dtype=np.float64))
            return pd.Series(1.0 - _unit_rows(M) @ c)

        return pandas_udf(kernel, "double")

    out_rows = []
    prev_id = None
    for r in range(k):
        if r == 0:
            row = state.orderBy(F.col("doc").asc()).limit(1).head()
        else:
            row = (
                state.orderBy(
                    F.col("__mind").desc(), F.col("doc").asc()
                )
                .limit(1)
                .head()
            )
            # the farthest point's distance IS the cover radius after
            # the previous round's center was added
            out_rows.append((prev_id, r - 1, float(row["__mind"])))
        prev_id = int(row["doc"])
        dist = dist_kernel_for(row["v"])
        # the last round's max is the final cover radius
        state, m = checkpoint_with(
            state.withColumn(
                "__mind", F.least(F.col("__mind"), dist(F.col("v")))
            ),
            radius=F.max("__mind"),
        )
    out_rows.append((prev_id, k - 1, float(m["radius"])))

    spark = df.sparkSession
    centers = spark.createDataFrame(
        out_rows, f"{id_col} long, round int, radius_after double"
    )
    return centers


def kcenter_over_reps(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    n_cells: int = 256,
    seed: int = 7,
):
    """The large-``k`` / large-``n`` k-center path the
    :func:`kcenter_coreset` docstring promises: pre-reduce the corpus
    to one representative input point per k-means cell (the min-id
    member — a REAL row, so every chosen center is an input point),
    then run the exact greedy over the ``<= n_cells`` reps.  The
    triangle inequality (in the CHORD metric ``sqrt(2(1-cos))`` —
    ``1-cos`` itself is not a metric) bounds the loss: the
    full-corpus cover radius r_full of the chosen centers satisfies
    ``sqrt(r_full) <= sqrt(r_rep) + sqrt(max_p2r)``, both terms
    measurable in one pass — the registered query certifies exactly
    that bound.

    Returns ``(centers, assigned)``: the greedy's
    ``(id, round, radius_after)`` frame (radii over REPS), plus the
    cell assignment frame ``(id, cluster, sim)`` so callers can
    derive the point->rep map without re-clustering.
    """
    assigned, _C = kmeans_clusters(
        df, id_col, vec_col, k=n_cells, seed=seed
    )
    rep_ids = assigned.groupBy("cluster").agg(
        F.min(id_col).alias(id_col)
    )
    reps = df.join(rep_ids, id_col, "left_semi")
    centers = kcenter_coreset(reps, id_col, vec_col, k=k)
    return centers, assigned
