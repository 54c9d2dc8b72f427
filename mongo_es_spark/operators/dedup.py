"""Deduplication operators for training-data pipelines.

No reference counterpart (SURVEY §7 step 9 north-star extensions) —
designed Spark-first for the 100 TB case:

* exact:   hash-groupBy; one shuffle with map-side partial aggregation.
* n-gram Jaccard: shingle inverted index + equi-join; a ``max_df``
  stop-shingle cap bounds the quadratic blowup of hot shingles (the
  classic skew guard — a shingle appearing in f docs contributes
  f^2 candidate pairs).
* MinHash + LSH: signature -> banded bucket join -> candidates ->
  EXACT Jaccard verification.  Verification makes the operator's
  output exact (equal to the brute-force pairs) with probability
  1-(1-t^r)^b of recalling a pair at threshold t; the bucket join
  replaces the all-pairs O(n^2) with near-linear work.
* SimHash: 64-bit signature, Hamming<=k pairs via the pigeonhole
  band join (k<=3 -> one of four 16-bit chunks must match exactly).
* embedding cosine: exact all-pairs baseline (JVM-side zip_with dot
  product) + hyperplane-LSH bucketed variant as the scale path.

Everything is built-in column expressions — no Python in the hot path.
"""

from __future__ import annotations

import math
import os
from typing import Iterable, Iterator, Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..sparkutil import checkpoint_with


# ------------------------------------------------------------------ #
# shingling
# ------------------------------------------------------------------ #

def tokens_col(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def _shingle_kernel(n: int):
    import re

    ws = re.compile(r"\s+")

    def kernel(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            # strip(' ') not strip(): SQL trim() removes spaces only,
            # and the DuckDB oracles shingle over trim(text)
            toks = ws.split(t.strip(" ")) if t is not None else []
            m = len(toks) - n + 1
            if m < 1:
                out.append([])
            else:
                out.append(
                    list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(m)))
                )
        return pd.Series(out)

    return kernel


def _char_shingle_kernel(n: int):
    def kernel(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None or len(t) < n:
                out.append([])
            else:
                out.append(
                    list(dict.fromkeys(t[i : i + n] for i in range(len(t) - n + 1)))
                )
        return pd.Series(out)

    return kernel


def shingles_col(text: Column, n: int = 3, mode: str = "word") -> Column:
    """Distinct n-gram shingles as an array column.

    ``mode="word"`` (default): whitespace-token n-grams.
    ``mode="char"``: raw character n-grams — the language-agnostic
    form for unsegmented scripts (CJK, Thai) where whitespace
    tokenization degenerates to whole-line tokens; use n ~ 12 there
    (the standard char-shingle width).

    Arrow-batched kernel: per-element SQL higher-order functions
    (transform + slice + concat_ws) evaluate interpreted and dominate
    every shingle-based operator's runtime; the Python loop over
    Arrow-delivered strings is ~10x faster and identical in output.
    """
    k = _char_shingle_kernel(n) if mode == "char" else _shingle_kernel(n)
    return pandas_udf(k, "array<string>")(text)


# ------------------------------------------------------------------ #
# exact dedup
# ------------------------------------------------------------------ #

def exact_dedup(
    df: DataFrame, key_cols: Sequence[str], id_col: str
) -> DataFrame:
    """Keep the minimum id per duplicate group.  ``groupBy().min()``
    compiles to partial+final hash aggregation — one shuffle, map-side
    combined, no row_number sort needed."""
    return df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))


def exact_dedup_weighted(
    df: DataFrame, key_cols: Sequence[str], id_col: str
) -> DataFrame:
    """Exact dedup keeping the duplicate multiplicity — training
    pipelines weight the kept representative by how many copies it
    stood for.  Same single partial+final aggregation."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(id_col), F.count("*").alias("multiplicity")
    )


def drop_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """The end-to-end corpus dedup: keep only the canonical (minimum
    id) document of every near-duplicate cluster.

    The component graph runs over clone-group *representatives*, not
    expanded member pairs — a text cloned k times contributes one node
    instead of k(k-1)/2 within-edges.  A group's members lose either
    because they aren't its representative (exact duplicates) or
    because their representative lost its cluster (near duplicates);
    since each representative is its group's minimum id, the component
    minimum over representatives is the cluster-wide minimum.  Groups
    too short to shingle participate in no pair and pass through whole,
    matching the brute-force pair semantics.  Docs in no pair and no
    clone group are their own cluster and survive.
    """
    tm = _text_groups(df, id_col, text_col)
    # one text shuffle + ONE shingle evaluation for the whole operator:
    # the shingled-representative frame feeds pair generation, the
    # shingled-membership test, and the member expansion.  Construction
    # is already eager (dedup_components materializes per round), so
    # the checkpoints move work, not add it — without them the
    # window-over-text + pandas_udf pipeline re-runs for every consumer.
    docs = _rep_docs(_group_reps(tm), n).localCheckpoint(eager=True)
    members = (
        tm.select("rep", "doc")
        .localCheckpoint(eager=True)  # ids only — tiny
    )
    rep_pairs = _minhash_rep_pairs(docs, threshold=threshold)
    components = dedup_components(rep_pairs)
    losing_reps = components.filter(F.col("doc") != F.col("component")).select(
        F.col("doc").alias("rep")
    )
    shingled_reps = docs.select(F.col("doc").alias("rep"))
    non_rep_members = members.join(shingled_reps, "rep", "left_semi").filter(
        F.col("doc") != F.col("rep")
    )
    # losing reps are pair participants, hence already shingled
    lost_groups = members.join(losing_reps, "rep", "left_semi").select("doc")
    losers = (
        non_rep_members.select("doc")
        .union(lost_groups)
        .distinct()
        .withColumnRenamed("doc", id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ------------------------------------------------------------------ #
# exact-clone collapse (shared by the text pair operators)
# ------------------------------------------------------------------ #
#
# Real corpora (and any crawl) carry large exact-duplicate groups, and
# pair candidates explode quadratically inside them: a text cloned k
# times turns every one of its candidate pairs into k^2 pairs *before*
# verification.  Collapsing clones first makes the quadratic stages run
# on distinct texts only, and the final expansion reconstructs the
# exact brute-force output: cross-group pairs share their
# representatives' score (identical text => identical shingles/
# signature), within-group pairs score as exact duplicates.

def _text_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Clone-group membership frame: one row per DOCUMENT —
    ``(__text, doc, rep)`` with ``rep`` = min id over identical texts.

    Built with a window min rather than ``collect_list``: one text
    shuffle either way, but per-row state stays O(1) and the window
    buffer spills — a degenerate clone group (10^8 copies of the empty
    string) is a big spillable partition, not one unbounded array cell
    pinned in a single executor row.

    The partition spec leads with ``xxhash64(text)`` so the window's
    internal sort resolves on an 8-byte key; full texts compare only
    within hash-equal runs (true clones + vanishing collisions).  The
    trailing text column keeps grouping exact — correctness never
    depends on the hash.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.xxhash64(F.col(text_col)), F.col(text_col))
    return df.select(
        F.col(text_col).alias("__text"),
        F.col(id_col).alias("doc"),
        F.min(id_col).over(w).alias("rep"),
    )


def _group_reps(tm: DataFrame) -> DataFrame:
    """One row per clone group: ``(__text, rep)`` — the frame shingle /
    signature pipelines run over (distinct texts only)."""
    return tm.filter(F.col("doc") == F.col("rep")).select("__text", "rep")


def _score_lists(score_cols, within_scores=None):
    """Normalize the helpers' score arguments: one name or a list of
    names, with (optionally) a matching Column or list of Columns for
    the within-group exact-duplicate value of each score."""
    cols = [score_cols] if isinstance(score_cols, str) else list(score_cols)
    if within_scores is None:
        return cols, None
    vals = (
        [within_scores]
        if isinstance(within_scores, Column)
        else list(within_scores)
    )
    if len(vals) != len(cols):
        raise ValueError(
            f"{len(cols)} score columns but {len(vals)} within-group scores"
        )
    return cols, vals


def _expand_rep_pairs(
    rep_pairs: DataFrame, members: DataFrame, score_cols
) -> DataFrame:
    """(rep_i, rep_j, scores...) -> every member pair, i < j.

    ``members`` is the ``(rep, doc)`` membership frame; expansion is
    two equi-joins on rep ids, so a k-clone group streams k rows per
    pair instead of exploding a k-element array held in one row.
    Output size is O(k_i * k_j) per rep pair BY CONTRACT (these are
    the brute-force pairs); callers that can't afford that use
    ``clone_weighted=True`` on the pair operators instead.

    ``score_cols`` is one column name or a list — most pair operators
    carry a single score (jaccard/cosine/hamming), edit distance
    carries ``(dist, ratio)``.
    """
    cols, _ = _score_lists(score_cols)
    mi = members.select(F.col("rep").alias("i"), F.col("doc").alias("a"))
    mj = members.select(F.col("rep").alias("j"), F.col("doc").alias("b"))
    return (
        rep_pairs.join(mi, "i")
        .join(mj, "j")
        .select(
            F.least("a", "b").alias("i"),
            F.greatest("a", "b").alias("j"),
            *cols,
        )
    )


def _within_group_pairs(
    members: DataFrame, scores, score_cols
) -> DataFrame:
    """All (i < j) pairs inside each clone group, scored as exact dups
    (``scores``: the exact-dup value for each column in
    ``score_cols``).  Self-join of the membership frame on rep —
    singleton groups emit nothing (their only a==b row fails the
    filter)."""
    cols, vals = _score_lists(score_cols, scores)
    a = members.select("rep", F.col("doc").alias("a"))
    b = members.select("rep", F.col("doc").alias("b"))
    return (
        a.join(b, "rep")
        .filter(F.col("a") < F.col("b"))
        .select(
            F.col("a").alias("i"),
            F.col("b").alias("j"),
            *[v.alias(c) for v, c in zip(vals, cols)],
        )
    )


def _weighted_rep_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    score_cols,
    within_reps: DataFrame,
    within_scores,
) -> DataFrame:
    """The bounded-output clone contract: instead of expanding a rep
    pair into k_i*k_j member rows, emit one row per rep pair carrying
    ``n_pairs`` (how many brute-force pairs it stands for), plus one
    ``(rep, rep)`` row per multi-member group for the within-group
    exact-duplicate pairs.  sum(n_pairs) == count of expanded rows, so
    downstream statistics (dup rate, mass removed) are exact while a
    10^6-clone group costs one row instead of ~10^12.

    ``score_cols``/``within_scores`` take one name/Column or parallel
    lists (see :func:`_expand_rep_pairs`).
    """
    cols, vals = _score_lists(score_cols, within_scores)
    counts = members.groupBy("rep").agg(F.count("*").alias("k"))
    ki = counts.select(F.col("rep").alias("i"), F.col("k").alias("ki"))
    kj = counts.select(F.col("rep").alias("j"), F.col("k").alias("kj"))
    cross = (
        rep_pairs.join(ki, "i")
        .join(kj, "j")
        .select(
            "i",
            "j",
            *cols,
            (F.col("ki") * F.col("kj")).cast("long").alias("n_pairs"),
        )
    )
    within = (
        counts.join(within_reps, "rep", "left_semi")
        .filter(F.col("k") > 1)
        .select(
            F.col("rep").alias("i"),
            F.col("rep").alias("j"),
            *[v.alias(c) for v, c in zip(vals, cols)],
            (F.col("k") * (F.col("k") - 1) / 2).cast("long").alias("n_pairs"),
        )
    )
    return cross.unionByName(within)


# ------------------------------------------------------------------ #
# n-gram Jaccard (brute, via inverted index)
# ------------------------------------------------------------------ #

def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: Optional[int] = None,
    clone_weighted: bool = False,
    mode: str = "word",
) -> DataFrame:
    """All pairs (i < j) with shingle-set Jaccard >= threshold.

    Output: ``i, j, jaccard`` (rounded to 6 dp), exactly equal to the
    brute-force all-pairs result.  Exact clones collapse to one
    representative before the quadratic stage (see the clone-collapse
    note above); ``max_df`` additionally drops shingles occurring in
    more than that many *distinct texts* — at scale hot shingles
    dominate the candidate count quadratically while contributing
    mostly low-Jaccard noise.

    ``clone_weighted=True`` switches to the bounded-output contract:
    one row per representative pair with an ``n_pairs`` multiplicity
    column (see :func:`_weighted_rep_pairs`) — the shape to use when
    clone groups can be huge.
    """
    return _setsim_pairs(
        df, id_col, text_col, n, threshold, max_df, clone_weighted,
        mode, score="jaccard",
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: Optional[int] = None,
    clone_weighted: bool = False,
    mode: str = "word",
) -> DataFrame:
    """All pairs (i < j) with max-direction shingle containment
    ``|Si ∩ Sj| / min(|Si|, |Sj|) >= threshold`` (Broder's containment
    coefficient, symmetrized by taking the larger direction).

    Jaccard misses subset duplicates: a paragraph fully embedded in a
    10x-longer document scores ``|A|/|B| ≈ 0.1`` Jaccard but ``1.0``
    containment.  This is the detector for quote/excerpt/expansion
    relationships a crawl corpus is full of — the kind of near-dup
    exact and Jaccard dedup both let through.

    Output: ``i, j, containment`` (rounded to 6 dp), exact vs brute
    force.  Same scale shape as :func:`jaccard_pairs`: clone collapse
    first, one shared-shuffle posting self-join, ``max_df`` stop
    shingles; ``clone_weighted`` gives the bounded-output contract.
    """
    return _setsim_pairs(
        df, id_col, text_col, n, threshold, max_df, clone_weighted,
        mode, score="containment",
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    threshold: float = 0.5,
    max_df: Optional[int] = None,
    clone_weighted: bool = False,
    score: str = "containment",
) -> DataFrame:
    """All pairs (i < j) whose WINNOWING-FINGERPRINT sets overlap at
    ``score`` >= threshold (``"containment"`` default, ``"jaccard"``
    optional) — the passage-sharing detector: by the winnowing
    guarantee any shared run of k+w-1 tokens forces a shared
    fingerprint, so excerpt/quote relationships surface even when the
    documents' full shingle sets are dissimilar.

    Same scale shape as :func:`jaccard_pairs` — exact clones collapse
    before the quadratic stage, one shared-shuffle inverted-index
    self-join over the fingerprint frame (~2/(w+1) the density of the
    raw gram index), ``max_df`` stop-fingerprint pruning, and the
    bounded ``clone_weighted`` output contract for huge clone groups.
    """
    from .text import winnow_fingerprints_col

    if score not in ("containment", "jaccard"):
        raise ValueError(f"unknown score {score!r}")
    return _setsim_pairs(
        df, id_col, text_col, 0, threshold, max_df, clone_weighted,
        "word", score=score,
        elements=lambda c: winnow_fingerprints_col(c, k, w),
    )


def _wn_params_path(store_path: str) -> str:
    # underscore prefix: invisible to spark.read.parquet(store_path)
    return store_path.rstrip("/") + "/_wn_params"


def winnow_store_frame(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, w: int = 4
) -> DataFrame:
    """Per-document winnowing state worth persisting: ``doc, fps``
    (the sorted distinct fingerprint set).  Documents shorter than
    ``k`` tokens fingerprint to the empty set and are dropped — they
    can never share a passage.

    The Arrow kernel runs once per DISTINCT text and expands back
    through a text-keyed join (the batch operator's collapse): on a
    1000-way-clone feed the kernel was ~85% of the incremental
    store's batch time before this."""
    from .text import winnow_fingerprints_col

    texts = df.select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("__t")
    )
    distinct = (
        texts.select("__t")
        .distinct()
        # lazy-checkpoint barrier: size(fps) > 0 is a function of the
        # grouping key, so without it Catalyst pushes the filter (and
        # the Arrow kernel feeding it) BELOW this aggregate — kernel
        # over every clone instead of every distinct text
        .localCheckpoint(eager=False)
        .select(
            "__t",
            winnow_fingerprints_col(F.col("__t"), k, w).alias("fps"),
        )
        .filter(F.size("fps") > 0)
        # eager checkpoint: with the udf expression still visible,
        # InferFiltersFromConstraints clones the size(kernel(__t))
        # predicate onto the expand-back PROBE side of the join —
        # re-running the kernel over all clones (measured 106 s vs
        # 0.3 s of true kernel work on a 1000-way-clone batch).
        # Materializing first leaves the join a plain RDD build side.
        .localCheckpoint(eager=True)
    )
    return texts.join(distinct, "__t").select("doc", "fps")


def incremental_winnow_pairs(
    spark,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    store_path: str,
    k: int = 5,
    w: int = 4,
    threshold: float = 0.5,
    score: str = "containment",
    clone_weighted: bool = False,
) -> DataFrame:
    """Passage-overlap pairs touching at least one NEW document,
    against the persisted fingerprint store; the new fingerprints then
    append to the store.

    ``clone_weighted=True`` switches to the bounded-output contract
    (the batch family's shape): one row per distinct fingerprint-SET
    pair carrying the min-id representatives and ``n_pairs`` — how
    many member pairs touching a new doc it stands for
    (``|A||B| − |old_A||old_B|`` cross-set, the triangular analogue
    within-set) — so a 10³-clone feed emits thousands of rep rows
    instead of billions of member rows, with sum(n_pairs) exactly
    equal to the expanded count.

    Unlike the probabilistic signature stores this family is EXACT:
    the fingerprint set fully determines the score, so the union of
    per-batch outputs over any disjoint feed equals
    :func:`winnow_overlap_pairs` on the full corpus, each pair
    reported exactly once — by the first batch that contains both
    members.  No feed ordering is required.

    Scale shape: identical fingerprint sets collapse to one md5
    signature BEFORE the quadratic posting join, so scoring work is
    per distinct (set, set) pair and member pairs expand back only
    for pairs that PASS the threshold — candidate traffic never goes
    clone²-sized (measured: a 100-way-clone 500k-doc feed dropped
    from 613 s to 61 s; the EXPANDED output itself is
    inherently clone²-sized — for bounded output at extreme clone
    multiplicities use the batch op's ``clone_weighted`` contract).
    Store appends are idempotent via the id
    anti-join (id-identity contract, like the signature stores);
    ``k``/``w`` are pinned in a ``_wn_params`` sidecar — a drift
    between batches would silently zero cross-batch collisions.
    """
    from ..storeio import read_params_rows, read_parquet_if_exists

    if score not in ("containment", "jaccard"):
        raise ValueError(f"unknown score {score!r}")
    # cached-row sidecar read + driver-side first write (see
    # _write_lsh_params): the k/w drift guard costs zero jobs after
    # the first trigger
    params_rows = read_params_rows(spark, _wn_params_path(store_path))
    if not params_rows:
        import pyarrow as pa

        from pyspark.sql import Row as _Row

        from ..storeio import prime_params_cache, write_params_row

        write_params_row(
            _wn_params_path(store_path),
            pa.schema([("k", pa.int32()), ("w", pa.int32())]),
            {"k": int(k), "w": int(w)},
        )
        prime_params_cache(
            _wn_params_path(store_path), [_Row(k=int(k), w=int(w))]
        )
    else:
        d = params_rows[0].asDict()
        if d["k"] != k or d["w"] != w:
            raise ValueError(
                f"store at {store_path} was written with k={d['k']} "
                f"w={d['w']}; caller asked k={k} w={w}"
            )
    old = read_parquet_if_exists(spark, store_path)
    if old is None:
        old = winnow_store_frame(new_df.limit(0), id_col, text_col, k, w)
    new_fps = (
        winnow_store_frame(new_df, id_col, text_col, k, w)
        .join(old.select("doc"), "doc", "left_anti")
        .localCheckpoint(eager=True)
    )
    all_fps = old.unionByName(new_fps)

    # --- set-level clone collapse ---------------------------------
    # identical fingerprint SETS (exact clones and coincidental
    # equals) collapse to one signature before the quadratic posting
    # join: scoring work is per distinct (set, set) pair, membership
    # expands back only for pairs that PASS the threshold —
    # output-sized, never clone²-sized candidate traffic.  fps comes
    # sorted-distinct from the kernel, so the string fold is a
    # canonical set representation.
    sig = F.md5(F.concat_ws(",", F.transform("fps", lambda x: x.cast("string"))))
    mem_new = new_fps.select(F.col("doc"), sig.alias("s"))
    # newness travels with the membership frame so the expansion can
    # emit each unordered pair exactly once WITHOUT an output-sized
    # dropDuplicates: a pair is double-generated only when BOTH
    # members are new (each direction probes it), and then the
    # new-side < other-side ordering keeps exactly one copy
    mem_all = old.select(
        F.col("doc"), sig.alias("s"), F.lit(False).alias("nw")
    ).unionByName(
        new_fps.select(F.col("doc"), sig.alias("s"), F.lit(True).alias("nw"))
    )
    sets_new = new_fps.select(sig.alias("s"), "fps").dropDuplicates(["s"])
    sets_all = all_fps.select(sig.alias("s"), "fps").dropDuplicates(["s"])

    post_new = sets_new.select("s", F.explode("fps").alias("fp")).alias("a")
    post_all = sets_all.select("s", F.explode("fps").alias("fp")).alias("b")
    cand_sets = (
        post_new.join(
            post_all,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.s") != F.col("b.s")),
        )
        .select(F.col("a.s").alias("sa"), F.col("b.s").alias("sb"))
        .dropDuplicates(["sa", "sb"])
    )
    fp_a = sets_all.select(F.col("s").alias("sa"), F.col("fps").alias("fp_a"))
    fp_b = sets_all.select(F.col("s").alias("sb"), F.col("fps").alias("fp_b"))
    paired = cand_sets.join(fp_a, "sa").join(fp_b, "sb")
    inter = F.size(F.array_intersect("fp_a", "fp_b"))
    denom = (
        F.least(F.size("fp_a"), F.size("fp_b"))
        if score == "containment"
        else F.size(F.array_union("fp_a", "fp_b"))
    )
    passing = paired.withColumn(score, F.round(inter / denom, 6)).filter(
        F.col(score) >= threshold
    ).select("sa", "sb", score)
    if clone_weighted:
        stats = mem_all.groupBy("s").agg(
            F.count("*").alias("na"),
            F.sum(F.col("nw").cast("long")).alias("nn"),
            F.min("doc").alias("rep"),
        )
        sa_st = stats.select(
            F.col("s").alias("sa"), F.col("na").alias("na_a"),
            F.col("nn").alias("nn_a"), F.col("rep").alias("rep_a"),
        )
        sb_st = stats.select(
            F.col("s").alias("sb"), F.col("na").alias("na_b"),
            F.col("nn").alias("nn_b"), F.col("rep").alias("rep_b"),
        )
        cross_n = (
            F.col("na_a") * F.col("na_b")
            - (F.col("na_a") - F.col("nn_a"))
            * (F.col("na_b") - F.col("nn_b"))
        ).cast("long")
        cross_w = (
            passing.join(sa_st, "sa").join(sb_st, "sb")
            # one row per unordered set pair: the direction whose
            # counterpart never probed (no new members), else sa < sb
            .filter((F.col("nn_b") == 0) | (F.col("sa") < F.col("sb")))
            .select(
                F.least("rep_a", "rep_b").alias("i"),
                F.greatest("rep_a", "rep_b").alias("j"),
                F.col(score),
                cross_n.alias("n_pairs"),
            )
        )
        within_n = (
            (F.col("na") * (F.col("na") - 1)
             - (F.col("na") - F.col("nn")) * (F.col("na") - F.col("nn") - 1))
            / 2
        ).cast("long")
        within_w = (
            stats.filter((F.col("nn") > 0) & F.lit(1.0 >= threshold))
            .select(
                F.col("rep").alias("i"),
                F.col("rep").alias("j"),
                F.round(F.lit(1.0), 6).alias(score),
                within_n.alias("n_pairs"),
            )
            .filter(F.col("n_pairs") > 0)
        )
        out = cross_w.unionByName(within_w)
        new_fps.write.mode("append").parquet(store_path)
        return out

    # single-emission guard: keep the generated (da, db) row iff the
    # other member is old, or both are new and da < db
    emit_once = (~F.col("nw")) | (F.col("da") < F.col("db"))
    # cross-set expansion: new members of sa × all members of sb
    cross = (
        passing.join(mem_new.select(F.col("s").alias("sa"), F.col("doc").alias("da")), "sa")
        .join(
            mem_all.select(
                F.col("s").alias("sb"), F.col("doc").alias("db"), "nw"
            ),
            "sb",
        )
        .filter(emit_once)
        .select(
            F.least("da", "db").alias("i"),
            F.greatest("da", "db").alias("j"),
            F.col(score),
        )
    )
    # within-set (clone) pairs: identical sets score exactly 1.0
    within = (
        mem_new.select("s", F.col("doc").alias("da"))
        .join(
            mem_all.select("s", F.col("doc").alias("db"), "nw"), "s"
        )
        .filter((F.col("da") != F.col("db")) & emit_once)
        .select(
            F.least("da", "db").alias("i"),
            F.greatest("da", "db").alias("j"),
            F.round(F.lit(1.0), 6).alias(score),
        )
    ) if 1.0 >= threshold else None
    out = cross if within is None else cross.unionByName(within)
    new_fps.write.mode("append").parquet(store_path)
    return out


def _setsim_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    max_df: Optional[int],
    clone_weighted: bool,
    mode: str,
    score: str,
    elements=None,
) -> DataFrame:
    # `elements` overrides the per-text element-set builder (text
    # Column -> array Column of distinct set elements); default is
    # n-gram shingling.  Everything downstream — clone collapse,
    # inverted-index self-join, max_df pruning, the weighted clone
    # contract — is element-agnostic.
    if elements is None:
        elements = lambda c: shingles_col(c, n, mode)  # noqa: E731
    tm = _text_groups(df, id_col, text_col)
    reps = _group_reps(tm)
    # ONE Arrow-kernel pass for the whole operator: postings, set
    # sizes and the shingled-rep set all derive from this eagerly
    # materialized (doc, els) frame.  Left lazy, the kernel subtree
    # is re-evaluated under every consumer (postings self-join,
    # per-doc counts, hot-element counts, shingled_reps) — 4+
    # ArrowEvalPython nodes in the physical plan, which a clone-free
    # corpus pays at full n each time.
    els = reps.select(
        F.col("rep").alias("doc"),
        elements(F.col("__text")).alias("els"),
    ).localCheckpoint(eager=True)
    sh = els.select("doc", F.explode("els").alias("s"))
    if max_df is not None:
        hot = (
            sh.groupBy("s").count().filter(F.col("count") > max_df).select("s")
        )
        sh = sh.join(hot, "s", "left_anti")
        counts = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    else:
        # element arrays are distinct by construction — the set size
        # is a projection, not an aggregation
        counts = els.select("doc", F.size("els").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        # merge hint: both sides are the same subplan, so a sort-merge
        # join shares one shuffle via ReusedExchange; a broadcast would
        # build the full inverted index driver-side (and cannot work at
        # corpus scale anyway)
        a.hint("merge")
        .join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("i"), F.col("b.doc").alias("j"))
        .agg(F.count("*").alias("shared"))
    )
    ca = counts.select(F.col("doc").alias("i"), F.col("n_sh").alias("ni"))
    cb = counts.select(F.col("doc").alias("j"), F.col("n_sh").alias("nj"))
    if score == "containment":
        sim = F.col("shared") / F.least(F.col("ni"), F.col("nj"))
    else:
        sim = F.col("shared") / (F.col("ni") + F.col("nj") - F.col("shared"))
    rep_pairs = (
        shared.join(ca, "i").join(cb, "j")
        .withColumn(score, F.round(sim, 6))
        .filter(F.col(score) >= threshold)
        .select("i", "j", score)
    )
    # clone groups with no shingles (too-short text) produce no pairs
    # in the brute-force result either (pre-prune sets: a doc whose
    # every element is max_df-hot still HAD elements)
    members = tm.select("rep", "doc")
    shingled_reps = els.filter(F.size("els") > 0).select(
        F.col("doc").alias("rep")
    )
    if clone_weighted:
        return _weighted_rep_pairs(
            rep_pairs, members, score, shingled_reps, F.lit(1.0)
        )
    out = _expand_rep_pairs(rep_pairs, members, score)
    if threshold <= 1.0:
        members_sh = members.join(shingled_reps, "rep", "left_semi")
        out = out.unionByName(
            _within_group_pairs(members_sh, F.lit(1.0), score)
        )
    return out


# ------------------------------------------------------------------ #
# MinHash + LSH
# ------------------------------------------------------------------ #

def _minhash_signatures(docs: DataFrame, num_hashes: int) -> DataFrame:
    """(doc, sh) -> (doc, mh0..mhN).  Signatures via explode +
    hash-aggregate rather than array_min(transform(...)): higher-order
    functions run interpreted per element, while min(xxhash64(...))
    over exploded rows stays in whole-stage codegen with map-side
    partial aggregation."""
    # hash the shingle STRING once; the per-seed minhash values then
    # derive by hashing the resulting 8-byte long — with 48-64 hash
    # functions over 12-char char-shingles the string re-hash was the
    # dominant signature cost (measured on dedup_char_jaccard)
    exploded = docs.select(
        "doc", F.explode("sh").alias("s")
    ).select("doc", F.xxhash64("s").alias("h0"))
    return exploded.groupBy("doc").agg(
        *[
            F.min(F.xxhash64("h0", F.lit(h))).alias(f"mh{h}")
            for h in range(num_hashes)
        ]
    )


def _band_frame(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc, mh*) -> (doc, band, bucket) — one row per LSH band."""
    rows = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias(
                "bucket"
            ),
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _lsh_params_path(store_path: str) -> str:
    # underscore prefix: Spark's file-source discovery skips `_*`
    # paths (same convention as _SUCCESS), so the sidecar is invisible
    # to ``spark.read.parquet(store_path)``
    return store_path.rstrip("/") + "/_lsh_params"


# Signature scheme 2: shingle hashes to a long once, per-seed minhash
# values derive from the 8-byte hash (scheme 1 re-hashed the string
# per seed).  Identical shingle sets produce DIFFERENT mh values
# across schemes, so mixing them in one store silently zeroes
# cross-batch collision recall — the sidecar records the scheme and
# readers refuse a mismatch instead.
_MH_SCHEME = 2


def _read_lsh_params(spark, store_path: str):
    """Banding parameters persisted alongside a signature store, or
    ``None`` for stores written before the sidecar existed.  A
    BROKEN sidecar read raises (see storeio) — returning None here
    would let the caller overwrite the sidecar with its own params,
    erasing the drift guard.  Cached-row read: the sidecar only
    changes on (re)creation, so store folds after the first pay zero
    jobs for the drift guard."""
    from ..storeio import read_params_rows

    rows = read_params_rows(spark, _lsh_params_path(store_path))
    if not rows:
        return None
    d = rows[0].asDict()
    return {
        "num_hashes": d["num_hashes"],
        "bands": d["bands"],
        "n": d["n"],
        "scheme": d.get("scheme", 1),
    }


def _write_lsh_params(
    spark, store_path: str, num_hashes: int, bands: int, n: int
) -> None:
    # driver-side one-row sidecar write (storeio.write_params_row):
    # the values are driver-known scalars; int32 fields round-trip the
    # old Spark writer's cast("int") exactly, and priming the row
    # cache means the first fold's own re-read costs zero jobs
    import pyarrow as pa

    from pyspark.sql import Row as _Row

    from ..storeio import prime_params_cache, write_params_row

    path = _lsh_params_path(store_path)
    write_params_row(
        path,
        pa.schema(
            [
                ("num_hashes", pa.int32()),
                ("bands", pa.int32()),
                ("n", pa.int32()),
                ("scheme", pa.int32()),
            ]
        ),
        {
            "num_hashes": int(num_hashes),
            "bands": int(bands),
            "n": int(n),
            "scheme": int(_MH_SCHEME),
        },
    )
    prime_params_cache(
        path,
        [
            _Row(
                num_hashes=int(num_hashes),
                bands=int(bands),
                n=int(n),
                scheme=int(_MH_SCHEME),
            )
        ],
    )


def _check_lsh_params(
    params, store_path: str, num_hashes: int, bands: int, n: int
) -> None:
    if params["scheme"] != _MH_SCHEME:
        raise ValueError(
            f"store at {store_path} was written with signature scheme "
            f"{params['scheme']}; this build computes scheme "
            f"{_MH_SCHEME} — rebuild the store (mixed schemes never "
            f"collide, silently disabling cross-batch dedup)"
        )
    if (
        params["num_hashes"] != num_hashes
        or params["bands"] != bands
        or params["n"] != n
    ):
        raise ValueError(
            f"store at {store_path} was written with "
            f"num_hashes={params['num_hashes']} bands={params['bands']} "
            f"n={params['n']}; caller asked num_hashes={num_hashes} "
            f"bands={bands} n={n}"
        )


def _store_mh_count(columns) -> int:
    return sum(
        1 for c in columns if c.startswith("mh") and c[2:].isdigit()
    )


def minhash_signature_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """Per-document MinHash state worth persisting: ``doc, sh,
    mh0..mhN``.  Write it once (parquet), then pair detection against
    a growing corpus is incremental — see
    :func:`incremental_minhash_pairs`."""
    docs = df.select(
        F.col(id_col).alias("doc"),
        shingles_col(F.col(text_col), n).alias("sh"),
    ).filter(F.size("sh") > 0)
    return docs.join(_minhash_signatures(docs, num_hashes), "doc")


def incremental_minhash_pairs(
    spark,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    store_path: str,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """The production dedup loop: detect near-duplicate pairs that
    involve at least one NEW document, against the persisted signature
    store, then append the new signatures to the store.

    Work scales with |new| × bucket collision rate instead of
    recomputing the full corpus: the band join probes only the new
    side against (store ∪ new).  Output contract matches
    :func:`minhash_lsh_pairs` restricted to pairs touching a new doc.

    The store append is idempotent: docs already present are
    anti-joined away before the write, so a retried or replayed call
    with the same batch neither duplicates store rows nor inflates
    later pair outputs.  (The anti-join build side is the id column
    only; with an id-partitioned store layout it prunes to the
    matching files.)

    Banding parameters are persisted in a ``_lsh_params`` sidecar on
    the first append and validated on every later one: a silent
    num_hashes/bands drift between batches would shift band boundaries
    and degrade recall with no error.

    A missing store is treated as empty (the first batch creates it) —
    no seed-write round-trip needed before the first call.
    """
    from ..storeio import read_parquet_if_exists

    old = read_parquet_if_exists(spark, store_path)
    if old is None:
        old = minhash_signature_frame(
            new_df.limit(0), id_col, text_col, n, num_hashes
        )
    store_nh = _store_mh_count(old.columns)
    if store_nh and store_nh != num_hashes:
        raise ValueError(
            f"store at {store_path} holds {store_nh} minhash columns; "
            f"caller asked num_hashes={num_hashes}"
        )
    params = _read_lsh_params(spark, store_path)
    if params is None:
        _write_lsh_params(spark, store_path, num_hashes, bands, n)
    else:
        _check_lsh_params(params, store_path, num_hashes, bands, n)
    new_sigs = (
        minhash_signature_frame(new_df, id_col, text_col, n, num_hashes)
        .join(old.select("doc"), "doc", "left_anti")
        .localCheckpoint(eager=True)
    )
    all_sigs = old.unionByName(new_sigs)

    # BROADCAST the batch side explicitly: the store side must stay a
    # scan-only probe (no exchange) — statistics usually pick this
    # plan on their own for small checkpointed batches, but a larger
    # trigger crossing the auto-broadcast threshold would silently
    # flip the STORE into a corpus-sized shuffle per batch, the exact
    # cost this incremental path exists to avoid
    banded_new = F.broadcast(
        _band_frame(new_sigs, num_hashes, bands)
    ).alias("a")
    banded_all = _band_frame(all_sigs, num_hashes, bands).alias("b")
    cands = (
        banded_new.join(
            banded_all,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .select(
            F.least("a.doc", "b.doc").alias("i"),
            F.greatest("a.doc", "b.doc").alias("j"),
        )
        .dropDuplicates(["i", "j"])
    )
    sh_i = all_sigs.select(F.col("doc").alias("i"), F.col("sh").alias("sh_i"))
    sh_j = all_sigs.select(F.col("doc").alias("j"), F.col("sh").alias("sh_j"))
    paired = cands.join(sh_i, "i").join(sh_j, "j")
    inter = F.size(F.array_intersect("sh_i", "sh_j"))
    union = F.size(F.array_union("sh_i", "sh_j"))
    out = (
        paired.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", "jaccard")
    )
    new_sigs.write.mode("append").parquet(store_path)
    return out

def _rep_docs(reps: DataFrame, n: int, mode: str = "word") -> DataFrame:
    """Clone-group representatives with their shingle sets:
    ``(__text, rep) -> (doc, sh)``, too-short texts dropped."""
    return reps.select(
        F.col("rep").alias("doc"),
        shingles_col(F.col("__text"), n, mode).alias("sh"),
    ).filter(F.size("sh") > 0)


def _minhash_rep_pairs(
    docs: DataFrame,
    threshold: float,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """Rep-level LSH pairs from a shingled ``(doc, sh)`` frame —
    shared by :func:`minhash_lsh_pairs` (lazy ``docs``) and
    :func:`drop_near_duplicates` (checkpointed ``docs``), so the
    shingle pipeline is built exactly once per caller."""
    sig = _minhash_signatures(docs, num_hashes)

    # band join over (doc, band, bucket) only; shingle arrays join back
    # after pair dedup so the quadratic stage shuffles ids, not payloads
    banded = _band_frame(sig, num_hashes, bands)

    a, b_ = banded.alias("a"), banded.alias("b")
    cands = (
        # merge hint: identical subplans share one shuffle (and one
        # signature computation) via ReusedExchange; a broadcast build
        # would evaluate the signature pipeline twice
        a.hint("merge")
        .join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("i"), F.col("b.doc").alias("j"))
        .dropDuplicates(["i", "j"])
    )
    sh_i = docs.select(F.col("doc").alias("i"), F.col("sh").alias("sh_i"))
    sh_j = docs.select(F.col("doc").alias("j"), F.col("sh").alias("sh_j"))
    paired = cands.join(sh_i, "i").join(sh_j, "j")
    inter = F.size(F.array_intersect("sh_i", "sh_j"))
    union = F.size(F.array_union("sh_i", "sh_j"))
    return (
        paired.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", "jaccard")
    )


def minhash_pairs_over_store(
    spark,
    store_path: str,
    ids_df: Optional[DataFrame] = None,
    threshold: float = 0.8,
    num_hashes: Optional[int] = None,
    bands: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate pairs computed FROM a persisted signature store
    (written by :func:`minhash_signature_frame` /
    :func:`incremental_minhash_pairs`) — the audit operation: no
    re-shingling, band join + exact verify over stored ``sh``/``mh*``
    columns only.  ``ids_df`` (a one-column ``doc`` frame) restricts
    the pair set to those documents via a semi join.

    ``num_hashes`` is derived from the store itself (the ``mh*``
    columns present, cross-checked against the ``_lsh_params``
    sidecar); ``bands`` comes from the sidecar when one exists.  An
    explicit argument that disagrees with the store raises instead of
    silently shifting band boundaries (which would degrade recall with
    no error and void the audit guarantee).

    Store docs are exact-content-unique by construction (the store is
    appended post exact-dedup), so no clone collapse applies here.
    """
    sigs = spark.read.parquet(store_path)
    mh_count = _store_mh_count(sigs.columns)
    if mh_count == 0:
        raise ValueError(f"no mh* signature columns at {store_path}")
    params = _read_lsh_params(spark, store_path)
    if params is not None and params["num_hashes"] != mh_count:
        raise ValueError(
            f"store at {store_path} holds {mh_count} mh* columns but "
            f"its sidecar records num_hashes={params['num_hashes']}"
        )
    if num_hashes is None:
        num_hashes = mh_count
    elif num_hashes != mh_count:
        raise ValueError(
            f"store at {store_path} holds {mh_count} mh* columns; "
            f"caller asked num_hashes={num_hashes}"
        )
    if bands is None:
        # pre-sidecar stores fall back to the writer default ratio
        bands = params["bands"] if params is not None else num_hashes // 2
    elif params is not None and bands != params["bands"]:
        raise ValueError(
            f"store at {store_path} was banded with "
            f"bands={params['bands']}; caller asked bands={bands}"
        )
    if ids_df is not None:
        sigs = sigs.join(ids_df, "doc", "left_semi")
    banded = _band_frame(sigs, num_hashes, bands)
    a, b_ = banded.alias("a"), banded.alias("b")
    cands = (
        a.hint("merge")
        .join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("i"), F.col("b.doc").alias("j"))
        .dropDuplicates(["i", "j"])
    )
    sh_i = sigs.select(F.col("doc").alias("i"), F.col("sh").alias("sh_i"))
    sh_j = sigs.select(F.col("doc").alias("j"), F.col("sh").alias("sh_j"))
    paired = cands.join(sh_i, "i").join(sh_j, "j")
    inter = F.size(F.array_intersect("sh_i", "sh_j"))
    union = F.size(F.array_union("sh_i", "sh_j"))
    return (
        paired.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 16,
    clone_weighted: bool = False,
    mode: str = "word",
) -> DataFrame:
    """LSH-accelerated near-duplicate pairs, exact-verified.

    Pipeline: shingle -> minhash signature (xxhash64 per seed, JVM) ->
    band buckets -> bucket equi-join for candidates -> fetch shingle
    arrays -> exact Jaccard filter.  Output identical to
    :func:`jaccard_pairs` when recall holds (rows = bands/num_hashes
    per band; miss probability (1-t^r)^b).

    ``clone_weighted=True``: bounded-output contract — one row per rep
    pair with ``n_pairs`` multiplicity (see :func:`_weighted_rep_pairs`).
    """
    tm = _text_groups(df, id_col, text_col)
    reps = _group_reps(tm)
    # deliberately LAZY: eagerly checkpointing this frame measured
    # 28% SLOWER on a 500k-distinct-doc corpus — the materialized
    # arrays drop out of whole-stage pipelines and re-read from the
    # block manager under every consumer, costing more than the
    # repeated (cheap, word-level) shingle kernel it saves
    docs = _rep_docs(reps, n, mode)
    rep_pairs = _minhash_rep_pairs(docs, threshold, num_hashes, bands)
    members = tm.select("rep", "doc")
    shingled_reps = docs.select(F.col("doc").alias("rep"))
    if clone_weighted:
        return _weighted_rep_pairs(
            rep_pairs, members, "jaccard", shingled_reps, F.lit(1.0)
        )
    out = _expand_rep_pairs(rep_pairs, members, "jaccard")
    if threshold <= 1.0:
        members_sh = members.join(shingled_reps, "rep", "left_semi")
        out = out.unionByName(
            _within_group_pairs(members_sh, F.lit(1.0), "jaccard")
        )
    return out


def cross_minhash_pairs(
    df_a: DataFrame,
    df_b: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 16,
    mode: str = "word",
    broadcast_b: bool = True,
) -> DataFrame:
    """Fuzzy cross-corpus decontamination: near-duplicate pairs
    BETWEEN two corpora — ``i`` from ``df_a`` (train), ``j`` from
    ``df_b`` (benchmark), shingle Jaccard >= ``threshold``.  The
    MinHash analogue of the exact n-gram ``contamination`` check:
    catches paraphrased / lightly-edited benchmark leakage that exact
    n-gram collision misses (the train-vs-eval dedup of GPT-3
    appendix C, Dolma, RefinedWeb).

    Scale shape: both sides clone-collapse by text, signatures and
    band buckets are computed per DISTINCT text, and candidates come
    from an equi-join of the two band frames — never a cross product.
    ``broadcast_b=True`` (default) broadcasts the benchmark side's
    band and shingle frames: eval suites are MB-sized while the train
    corpus is the 100 TB side, so candidate generation is map-side and
    the train corpus is never shuffled for it.  Set False for
    corpus-vs-corpus runs and AQE picks the join strategy.

    Texts too short to shingle (< ``n`` tokens) never match — inherent
    to n-gram methods; run exact ``contamination`` alongside if those
    matter.  Band recall is the self-join family's: miss probability
    ``(1 - t^r)^b`` per distinct-text pair.
    """
    tm_a = _text_groups(df_a, id_col, text_col)
    tm_b = _text_groups(df_b, id_col, text_col)
    docs_a = _rep_docs(_group_reps(tm_a), n, mode)
    docs_b = _rep_docs(_group_reps(tm_b), n, mode)
    banded_a = _band_frame(
        _minhash_signatures(docs_a, num_hashes), num_hashes, bands
    )
    banded_b = _band_frame(
        _minhash_signatures(docs_b, num_hashes), num_hashes, bands
    )
    sh_b = docs_b.select(F.col("doc").alias("j"), F.col("sh").alias("sh_j"))
    if broadcast_b:
        banded_b = F.broadcast(banded_b)
        sh_b = F.broadcast(sh_b)
    a, b_ = banded_a.alias("a"), banded_b.alias("b")
    cands = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col("a.doc").alias("i"), F.col("b.doc").alias("j"))
        .dropDuplicates(["i", "j"])
    )
    sh_a = docs_a.select(F.col("doc").alias("i"), F.col("sh").alias("sh_i"))
    paired = cands.join(sh_a, "i").join(sh_b, "j")
    inter = F.size(F.array_intersect("sh_i", "sh_j"))
    union = F.size(F.array_union("sh_i", "sh_j"))
    rep_pairs = (
        paired.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", "jaccard")
    )
    # expansion through BOTH membership frames: sides keep their own
    # id spaces, so no least/greatest canonicalization applies here
    mi = tm_a.select(F.col("rep").alias("i"), F.col("doc").alias("a"))
    mj = tm_b.select(F.col("rep").alias("j"), F.col("doc").alias("b"))
    return (
        rep_pairs.join(mi, "i")
        .join(mj, "j")
        .select(
            F.col("a").alias("i"), F.col("b").alias("j"), "jaccard"
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 12,
    jaccard_floor: float = 0.7,
    max_ratio: float = 0.2,
    num_hashes: int = 48,
    bands: int = 24,
    max_dist: int | None = None,
    clone_weighted: bool = False,
) -> DataFrame:
    """Edit-distance-verified near-duplicate pairs: candidates from
    the char-``n``-gram exact-verified LSH path (the
    ``dedup_char_jaccard`` machinery and recall argument), then scored
    and filtered by Levenshtein distance — ``ratio = dist /
    max(len_i, len_j) <= max_ratio``.  Sequence-aware precision on
    top of bag-of-ngrams recall: two documents built from the same
    ngram multiset in a different ORDER pass the Jaccard gate but fail
    the edit gate, which is the false-positive mode that matters for
    template-permuted spam.  Declared semantics: pairs with exact
    char-ngram Jaccard >= ``jaccard_floor`` AND edit ratio <=
    ``max_ratio``.

    Scale shape: candidate volume is bounded by the banded bucket
    join (ids only); verification is one JVM ``levenshtein`` per REP
    pair — clone groups verify once and expand through id joins, and
    within-group clone pairs are emitted as dist 0 without touching
    the DP at all.  ``max_dist`` switches the kernel to Spark's
    thresholded Levenshtein (banded DP, O(max_dist * len) per pair
    instead of O(len^2)) — the 100 TB form when an absolute distance
    cap is acceptable; pairs beyond the cap return -1 and are
    dropped before the ratio filter.

    ``clone_weighted=True`` is the bounded-output clone contract
    (:func:`_weighted_rep_pairs` semantics): one row per REP pair
    carrying ``n_pairs`` multiplicity instead of the k_i*k_j
    brute-force expansion, plus one ``(rep, rep)`` dist-0 row per
    multi-member shingled clone group.  The 10000x replica measured
    the expansion at ~2e11 output rows (1136 s) — quadratic in clone
    multiplicity BY DEFINITION — while the bounded contract stays
    proportional to distinct content.
    """
    tm = _text_groups(df, id_col, text_col)
    reps = _group_reps(tm)
    docs = _rep_docs(reps, n, "char")
    rep_pairs = _minhash_rep_pairs(docs, jaccard_floor, num_hashes, bands)
    ti = reps.select(F.col("rep").alias("i"), F.col("__text").alias("__ti"))
    tj = reps.select(F.col("rep").alias("j"), F.col("__text").alias("__tj"))
    scored = rep_pairs.join(ti, "i").join(tj, "j")
    if max_dist is not None:
        scored = scored.withColumn(
            "__d", F.levenshtein("__ti", "__tj", max_dist)
        ).filter(F.col("__d") >= 0)
    else:
        scored = scored.withColumn("__d", F.levenshtein("__ti", "__tj"))
    scored = (
        scored.withColumn(
            "ratio",
            F.round(
                F.col("__d")
                / F.greatest(F.length("__ti"), F.length("__tj")),
                6,
            ),
        )
        .filter(F.col("ratio") <= max_ratio)
        .select(
            "i", "j", F.col("__d").cast("long").alias("dist"), "ratio"
        )
    )
    members = tm.select("rep", "doc")
    shingled = docs.select(F.col("doc").alias("rep"))
    exact_dup = [F.lit(0).cast("long"), F.lit(0.0)]  # (dist, ratio)
    if clone_weighted:
        return _weighted_rep_pairs(
            scored, members, ["dist", "ratio"], shingled, exact_dup
        )
    out = _expand_rep_pairs(scored, members, ["dist", "ratio"])
    members_sh = members.join(shingled, "rep", "left_semi")
    within = _within_group_pairs(
        members_sh, exact_dup, ["dist", "ratio"]
    )
    return out.unionByName(within)


# ------------------------------------------------------------------ #
# SimHash
# ------------------------------------------------------------------ #

def _simhash_kernel(texts: pd.Series) -> pd.Series:
    """Vectorized SimHash: tokenize, hash distinct tokens (pandas'
    deterministic siphash — fixed key, stable across runs/processes),
    64-bit majority vote, packed into one int64.  vote[i] = sum over
    tokens of (bit i set ? +1 : -1); signature bit set iff vote > 0."""
    import re

    ws = re.compile(r"\s+")
    all_toks: list[str] = []
    counts = np.zeros(len(texts), dtype=np.int64)
    for ix, t in enumerate(texts):
        toks = dict.fromkeys(ws.split(t.strip(" "))) if t else ()
        counts[ix] = len(toks)
        all_toks.extend(toks)
    out = np.zeros(len(texts), dtype=np.uint64)
    if all_toks:
        shifts = np.arange(64, dtype=np.uint64)
        # one hash call + one reduceat per batch, no per-row overhead
        arr = pd.util.hash_array(np.asarray(all_toks, dtype=object))
        bits = ((arr[:, None] >> shifts) & np.uint64(1)).astype(np.int32)
        offsets = np.zeros(len(texts), dtype=np.int64)
        np.cumsum(counts[:-1], out=offsets[1:])
        nonempty = counts > 0
        sums = np.add.reduceat(bits, offsets[nonempty], axis=0)
        votes = 2 * sums - counts[nonempty, None]
        out[nonempty] = ((votes > 0).astype(np.uint64) << shifts).sum(
            axis=1, dtype=np.uint64
        )
    return pd.Series(out.astype(np.int64))


def simhash_sig_col(text: Column) -> Column:
    """64-bit SimHash signature as a single long, computed end-to-end
    in one Arrow-batched kernel (tokenize + hash + vote).  Packing all
    64 bits into one long means the pair join moves 8-byte signatures,
    and Hamming distance is a single ``bit_count(xor)``."""
    return pandas_udf(_simhash_kernel, "long")(text)


def _simhash_chunks(sims: DataFrame) -> DataFrame:
    """(doc, sig) -> (doc, sig, chunk, val): the four 16-bit pigeonhole
    chunks.  The packed signature (8 bytes) rides along through the
    explode and join — no payload join-back needed."""
    return sims.select(
        "doc",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        (
                            F.shiftrightunsigned(F.col("sig"), 16 * c)
                            % F.lit(1 << 16)
                        ).alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc", "sig", "bb.chunk", "bb.val")


def _first_colliding_chunk() -> Column:
    """Join-side canonicalization predicate: a pair colliding in
    several pigeonhole chunks would surface once per collision; rather
    than shuffling the candidate set through dropDuplicates (an extra
    exchange of the quadratic intermediate — the one frame worth
    keeping off the wire at scale), emit the pair only from the
    SMALLEST colliding chunk index.  For every chunk index c' below
    the joined row's chunk, the two signatures must differ at c' —
    a pure row-local filter evaluated from the rode-along ``sig``
    columns."""
    conds = []
    for cp in range(3):
        differs = (
            F.shiftrightunsigned(F.col("a.sig"), 16 * cp) % F.lit(1 << 16)
        ) != (
            F.shiftrightunsigned(F.col("b.sig"), 16 * cp) % F.lit(1 << 16)
        )
        conds.append((F.col("a.chunk") <= F.lit(cp)) | differs)
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    clone_weighted: bool = False,
) -> DataFrame:
    """Pairs with SimHash Hamming distance <= ``max_hamming`` (<= 3).

    Pigeonhole: at distance <=3, at least one of the four 16-bit chunks
    is identical — the chunk equi-join prunes the quadratic space, then
    per-chunk ``bit_count(xor)`` verifies exactly.  Signature-dependent,
    hence no cross-engine oracle (rows-only check).

    ``clone_weighted=True``: bounded-output contract — one row per rep
    pair with ``n_pairs`` multiplicity (see :func:`_weighted_rep_pairs`).
    """
    tm = _text_groups(df, id_col, text_col)
    reps = _group_reps(tm)
    sims = reps.select(
        F.col("rep").alias("doc"),
        simhash_sig_col(F.col("__text")).alias("sig"),
    )
    chunks = _simhash_chunks(sims)
    a, b = chunks.alias("a"), chunks.alias("b")
    cands = (
        # merge hint: one shared shuffle, one signature computation
        a.hint("merge")
        .join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc") < F.col("b.doc"))
            & _first_colliding_chunk(),
        )
        .select(
            F.col("a.doc").alias("i"),
            F.col("b.doc").alias("j"),
            F.col("a.sig").alias("sig_i"),
            F.col("b.sig").alias("sig_j"),
        )
    )
    hamming = F.bit_count(F.col("sig_i").bitwiseXOR(F.col("sig_j")))
    rep_pairs = (
        cands.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("i", "j", "hamming")
    )
    # identical text => identical signature => Hamming 0.
    # The membership frame feeds three consumers (within-group pairs,
    # both expansion sides); materialize the 2-long-column projection
    # once so the clone-group text window isn't re-evaluated per
    # consumer — 16 bytes/row, never corpus-payload-sized
    members = tm.select("rep", "doc").localCheckpoint(eager=True)
    if clone_weighted:
        return _weighted_rep_pairs(
            rep_pairs, members, "hamming", reps.select("rep"), F.lit(0)
        )
    within = _within_group_pairs(members, F.lit(0), "hamming")
    return _expand_rep_pairs(rep_pairs, members, "hamming").unionByName(within)


def simhash_signature_frame(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document SimHash state worth persisting: ``(doc, sig)`` —
    8 bytes of signature per document.  Write it once (parquet), then
    pair detection against a growing corpus is incremental — see
    :func:`incremental_simhash_pairs` (the SimHash twin of
    :func:`minhash_signature_frame`)."""
    return df.select(
        F.col(id_col).alias("doc"),
        simhash_sig_col(F.col(text_col)).alias("sig"),
    )


def incremental_simhash_pairs(
    spark,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    store_path: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Detect Hamming-near-duplicate pairs that involve at least one
    NEW document against the persisted signature store, then append
    the new signatures — the 100 TB ingestion shape: work scales with
    |new| x chunk collision rate, not the full corpus.

    Doc-level contract matching :func:`simhash_pairs` restricted to
    pairs touching a new doc (identical texts share a signature, so
    clone pairs surface at Hamming 0 without a separate collapse).

    The store append is idempotent: already-present docs are
    anti-joined away before the pair join AND before the write, so a
    retried or replayed batch neither duplicates store rows nor
    re-emits pairs.
    """
    old = spark.read.parquet(store_path)
    new_sigs = (
        simhash_signature_frame(new_df, id_col, text_col)
        .join(old.select("doc"), "doc", "left_anti")
        .localCheckpoint(eager=True)
    )
    all_sigs = old.unionByName(new_sigs)

    a = _simhash_chunks(new_sigs).alias("a")
    b = _simhash_chunks(all_sigs).alias("b")
    out = (
        # the chunk-canonical predicate removes multi-chunk duplicates
        # before the dropDuplicates shuffle (which must remain: a
        # both-new pair still arrives twice with sides swapped)
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc") != F.col("b.doc"))
            & _first_colliding_chunk(),
        )
        .select(
            F.least("a.doc", "b.doc").alias("i"),
            F.greatest("a.doc", "b.doc").alias("j"),
            # Hamming is symmetric — no i/j swap concern
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
            .cast("int")
            .alias("hamming"),
        )
        .dropDuplicates(["i", "j"])
        .filter(F.col("hamming") <= max_hamming)
    )
    new_sigs.write.mode("append").parquet(store_path)
    return out


# ------------------------------------------------------------------ #
# duplicate clustering (pairs -> connected components)
# ------------------------------------------------------------------ #

def cluster_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup-aware leak-free train/val/test split: hash-interval
    assignment (as in ``train_val_test_split``) applied to each
    document's *near-duplicate cluster representative* instead of its
    own id, so a near-copy of a test document can never land in train
    — the leak plain id-hash splits famously have (benchmark
    contamination via paraphrase/mirror pages survives exact-id
    splitting).

    Composition of existing scale shapes: ``jaccard_pairs`` (clone
    collapse + posting join) -> ``dedup_components`` (min-label
    propagation) -> one left join to attach representatives
    (singletons represent themselves) -> the zero-shuffle hash
    projection.  Output: ``(id, rep, split)``.
    """
    from .text import train_val_test_split

    pairs = jaccard_pairs(df, id_col, text_col, n=n, threshold=threshold)
    comp = dedup_components(pairs)
    base = df.select(F.col(id_col))
    withrep = base.join(
        comp, base[id_col] == comp["doc"], "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("rep"),
    )
    out = train_val_test_split(withrep, "rep")
    return out.select(id_col, "rep", "split")


def dedup_components(
    pairs: DataFrame,
    i_col: str = "i",
    j_col: str = "j",
    max_iters: int = 20,
    algorithm: str = "propagation",
) -> DataFrame:
    """Connected components over near-duplicate pairs: every doc maps
    to the minimum doc id reachable through the pair graph — the
    canonical representative its cluster keeps.  Output: ``doc,
    component`` for every doc appearing in a pair.

    Two interchangeable algorithms, same output:

    * ``"propagation"`` (default): min-label propagation — one join +
      one aggregation per round, rounds = graph diameter.  Near-dup
      clusters are shallow (a pair graph's components are
      quasi-cliques), so this converges in 2-3 cheap rounds.
    * ``"star"``: alternating large-star/small-star (Kiveris et al.,
      the MapReduce connected-components algorithm) — O(log n) rounds
      regardless of diameter, more work per round.  The right choice
      when components can be long chains (e.g. transitive similarity
      at a loose threshold).
    """
    if algorithm == "propagation":
        return _components_propagation(pairs, i_col, j_col, max_iters)
    return _components_star(pairs, i_col, j_col, max_iters)


# Driver-side fast-path bound for connected components: below this
# many (directed) edges the graph is collected and solved with
# union-find on the driver instead of iterating distributed
# propagation rounds.  262,144 long pairs is ~4 MB — bounded model
# state, the same budget class as collected k-means centroids.  Above
# the cutoff nothing changes: the distributed propagation runs.  The
# win is real on a merge graph or a small batch projection, where
# each propagation round (join + agg + checkpoint + convergence
# probe) costs several scheduler round-trips for a metadata-sized
# input.
_DRIVER_CC_CUTOFF = 1 << 18


def _components_union_find(edges: DataFrame) -> DataFrame:
    """Exact connected components of a SMALL edge list (caller must
    have bounded the size — see ``_DRIVER_CC_CUTOFF``): collect,
    union-find with path halving, label every node with the minimum
    member of its component.  Bit-identical output contract to
    ``_components_propagation`` (doc -> min reachable id)."""
    pdf = edges.toPandas()
    both = pd.concat([pdf["a"], pdf["b"]], ignore_index=True)
    codes, uniques = pd.factorize(both)
    n = len(uniques)
    m = len(pdf)
    parent = np.arange(n)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(codes[:m].tolist(), codes[m:].tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    roots = np.fromiter(
        (find(i) for i in range(n)), dtype=np.int64, count=n
    )
    vals = pd.Series(uniques)
    comp = vals.groupby(roots).transform("min")
    out = pd.DataFrame({"doc": vals, "component": comp})
    return edges.sparkSession.createDataFrame(out)


def _components_propagation(
    pairs: DataFrame, i_col: str, j_col: str, max_iters: int
) -> DataFrame:
    edges, m = checkpoint_with(
        pairs.select(F.col(i_col).alias("a"), F.col(j_col).alias("b"))
        .union(pairs.select(F.col(j_col).alias("a"), F.col(i_col).alias("b")))
        .distinct(),
        # materialize once: every propagation round joins edges, and
        # without this the full pair-generation pipeline would re-run
        # per round (and per convergence check)
        n=F.count("*"),
    )
    if 0 < m["n"] <= _DRIVER_CC_CUTOFF:
        return _components_union_find(edges)
    labels = (
        edges.select(F.col("a").alias("doc"))
        .distinct()
        .withColumn("component", F.col("doc"))
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.b == labels.doc)
            .groupBy("a")
            .agg(F.min("component").alias("n_comp"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.doc == neighbor_min.a, "left")
            .select(
                "doc",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("n_comp"), F.col("component")),
                ).alias("component"),
            )
        )
        # materialize the round first (flat lineage), then the
        # convergence probe reads the checkpointed data instead of
        # recomputing the round's join
        new_labels = new_labels.localCheckpoint(eager=True)
        converged = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
            == 0
        )
        labels = new_labels
        if converged:
            break
    return labels


def _components_star(
    pairs: DataFrame, i_col: str, j_col: str, max_iters: int
) -> DataFrame:
    edges, m = checkpoint_with(
        pairs.select(F.col(i_col).alias("a"), F.col(j_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct(),  # severed: detach the pair-generation plan
        n=F.count("*"),
    )
    n_edges = m["n"]
    for _ in range(max_iters):
        # large-star: for each u, m = min(N(u) ∪ {u}); larger
        # neighbors v > u re-attach as (v, m)
        adj = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = adj.groupBy("u").agg(F.min("v").alias("mn"))
        large = (
            adj.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("a"), F.least("u", "mn").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: orient u > v; all of u's (smaller) neighbors and
        # u itself re-point at m = min(N(u))
        sm = large.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        mins2 = sm.groupBy("u").agg(F.min("v").alias("mn"))
        new_edges, m = checkpoint_with(
            sm.join(mins2, "u")
            .filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("a"), F.col("mn").alias("b"))
            .union(mins2.select(F.col("u").alias("a"), F.col("mn").alias("b")))
            .distinct(),
            n=F.count("*"),
        )
        n_new_edges = m["n"]
        # counts ride the severing jobs (no per-round re-count); the
        # subtract probe only runs when the counts agree
        converged = (
            n_new_edges == n_edges
            and new_edges.subtract(edges).limit(1).count() == 0
        )
        edges, n_edges = new_edges, n_new_edges
        if converged:
            break
    # at convergence every component is a star (child, root): children
    # label with their root, roots label themselves
    return (
        edges.select(F.col("a").alias("doc"), F.col("b").alias("component"))
        .union(
            edges.select(
                F.col("b").alias("doc"), F.col("b").alias("component")
            )
        )
        .distinct()
    )


# ------------------------------------------------------------------ #
# incremental connected components (persisted label + merge stores)
# ------------------------------------------------------------------ #

def _cc_docs_path(store_path: str) -> str:
    return store_path.rstrip("/") + "/docs"


def _cc_merges_path(store_path: str) -> str:
    return store_path.rstrip("/") + "/merges"


def _cc_current_mapping(
    spark, merges_store: Optional[DataFrame], max_iters: int
) -> Optional[DataFrame]:
    """Closure of the label-merge graph: each historical label ->
    its CURRENT component label (the min reachable through every
    merge ever recorded).  The merge graph has one node per
    merge-affected LABEL — orders of magnitude smaller than the doc
    store — so this propagation is a metadata-sized computation, not
    a corpus-sized one."""
    if merges_store is None:
        return None
    return _components_propagation(
        merges_store, "src", "dst", max_iters
    ).withColumnRenamed("doc", "__lbl")


def _incremental_components_driver(
    spark,
    edges_pdf: pd.DataFrame,
    merges_pdf: Optional[pd.DataFrame],
    docs_store: Optional[DataFrame],
    docs_path: str,
    merges_path: str,
    id_type,
) -> DataFrame:
    """Driver-side edition of the :func:`incremental_components` fold
    for a batch whose edge set and merge store both fit the
    ``_DRIVER_CC_CUTOFF`` budget (the caller bounded both).  Same
    store contract bit for bit: stored-label lookup, merge-graph
    closure, min-label components over the projected batch edges,
    then one ``(src, dst)`` append per component merge and one
    ``(doc, label)`` append per first-seen doc.  The doc-store lookup
    stays a DISTRIBUTED map-side scan against the broadcast batch
    keys — the one corpus-sized input never reaches the driver."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-rooted: the root IS the component's min label, the
            # same label convention as `_components_union_find`
            parent[max(ra, rb)] = min(ra, rb)

    ei = edges_pdf["ei"].tolist()
    ej = edges_pdf["ej"].tolist()
    nodes = list(dict.fromkeys(ei + ej))

    # stored label per endpoint (absent -> new doc, labels itself)
    labels: dict = {}
    if docs_store is not None and nodes:
        keys = spark.createDataFrame(
            pd.DataFrame({"doc": nodes}),
            StructType([StructField("doc", id_type)]),
        )
        hits = docs_store.join(F.broadcast(keys), "doc").toPandas()
        labels = dict(zip(hits["doc"].tolist(), hits["label"].tolist()))

    # merge-graph closure: historical label -> current component
    # label (min reachable through every merge ever recorded)
    if merges_pdf is not None and len(merges_pdf):
        for s, d in zip(
            merges_pdf["src"].tolist(), merges_pdf["dst"].tolist()
        ):
            union(s, d)
        mapping = {
            x: find(x)
            for x in set(merges_pdf["src"].tolist())
            | set(merges_pdf["dst"].tolist())
        }
        parent.clear()
    else:
        mapping = {}

    cur = {d: mapping.get(labels.get(d, d), labels.get(d, d)) for d in nodes}
    for a, b in zip(ei, ej):
        union(cur[a], cur[b])
    final = {d: find(cur[d]) for d in nodes}

    new_merges = sorted(
        {
            (cur[d], final[d])
            for d in nodes
            if d in labels and cur[d] != final[d]
        }
    )
    new_docs = [(d, final[d]) for d in nodes if d not in labels]

    # Store appends.  Two measured taxes to stay clear of: frames are
    # built from pandas (Arrow local relation) because createDataFrame
    # on a plain Python list takes the Python-RDD path, whose worker
    # spin-up costs ~5 s per call; and EMPTY appends are skipped
    # outright because writing an empty local relation through
    # coalesce(1) also costs ~5 s (the readers already treat a
    # missing/footerless store as "no data yet", so an empty append
    # carries no information).
    def _frame(rows, c1, c2):
        pdf = pd.DataFrame(rows, columns=[c1, c2])
        return spark.createDataFrame(
            pdf, StructType([StructField(c1, id_type), StructField(c2, id_type)])
        )

    if new_merges:
        _frame(new_merges, "src", "dst").coalesce(1).write.mode(
            "append"
        ).parquet(merges_path)
    if new_docs:
        _frame(new_docs, "doc", "label").coalesce(1).write.mode(
            "append"
        ).parquet(docs_path)
    return _frame([(d, final[d]) for d in nodes], "doc", "component")


def incremental_components(
    spark,
    pairs_batch: DataFrame,
    store_path: str,
    i_col: str = "i",
    j_col: str = "j",
    max_iters: int = 20,
) -> DataFrame:
    """Incremental connected components: fold a NEW batch of
    near-duplicate pairs into a persisted clustering so cluster ids
    stay maintainable per batch — a growing corpus never re-runs
    global components over all pairs ever seen
    (:func:`dedup_components` is the batch form).

    State is two append-only parquet stores under ``store_path``:

    * ``docs/ (doc, label)`` — each doc's component label AT FIRST
      SIGHT (labels are doc ids, min-id convention);
    * ``merges/ (src, dst)`` — one edge per component merge event,
      recorded when a batch bridges existing components.

    A doc's CURRENT component is its stored label pushed through the
    closure of the merge graph — resolved at read time by
    :func:`components_over_store`, so merging two million-doc
    clusters appends ONE merge edge instead of relabeling a million
    rows.  Per-batch work: one lookup join of the batch's endpoints
    against the doc store, a components run over the PROJECTED batch
    edges (nodes = current labels + new docs, ∝ batch size), and a
    propagation over the metadata-sized merge graph.  No step scans
    stored pairs; stored docs are only joined, never re-clustered.

    Naturally idempotent — no digest tag needed: a replayed batch's
    docs anti-join away from the doc store, and its edges project
    onto single components (``la == lb``) so no merge re-appends.
    Partial-failure safe for the same reason: whichever append
    survived a crash, the retry recomputes against the updated store
    and appends only what is still missing.

    Feeding a pair set through in any batch order then reading the
    store reproduces ``dedup_components`` over the union of all
    pairs EXACTLY (component = min reachable doc id; min composes
    across merges).

    Returns the batch's endpoints with their current labels:
    ``(doc, component)``.
    """
    from ..storeio import read_parquet_if_exists

    docs_path = _cc_docs_path(store_path)
    merges_path = _cc_merges_path(store_path)
    docs_store = read_parquet_if_exists(spark, docs_path)
    merges_store = read_parquet_if_exists(spark, merges_path)

    edges = (
        pairs_batch.select(
            F.col(i_col).alias("ei"), F.col(j_col).alias("ej")
        )
        .filter(F.col("ei") != F.col("ej"))
        .distinct()
    )
    # Driver fast path: when the batch's distinct edge set AND the
    # merge store (metadata-sized by contract — one row per component
    # merge ever) both fit the union-find budget, the whole fold runs
    # as one Python pass with a single distributed job left in it
    # (the doc-store lookup, which must stay a map-side scan of the
    # corpus-sized store against broadcast batch keys).  This
    # replaces three eager materializations plus a distributed
    # components run — each several scheduler round-trips — for what
    # is by construction batch-sized state, the same budget class as
    # `_components_union_find`.  Oversized batches fall through to
    # the distributed path unchanged (costing one extra pass over the
    # batch edges for the peek).
    edges_pdf = edges.limit(_DRIVER_CC_CUTOFF + 1).toPandas()
    if len(edges_pdf) <= _DRIVER_CC_CUTOFF:
        merges_pdf = None
        if merges_store is not None:
            merges_pdf = merges_store.limit(
                _DRIVER_CC_CUTOFF + 1
            ).toPandas()
        if merges_pdf is None or len(merges_pdf) <= _DRIVER_CC_CUTOFF:
            return _incremental_components_driver(
                spark,
                edges_pdf,
                merges_pdf,
                docs_store,
                docs_path,
                merges_path,
                edges.schema["ei"].dataType,
            )

    mapping = _cc_current_mapping(spark, merges_store, max_iters)
    nodes = (
        edges.select(F.col("ei").alias("doc"))
        .union(edges.select(F.col("ej").alias("doc")))
        .distinct()
    )
    # current label per endpoint: stored label (or self for a new
    # doc) pushed through the merge closure.  Join shape matters at
    # scale: a plain left join (nodes LEFT store) could only
    # broadcast the STORE side, so the corpus-sized label store
    # would shuffle on every batch.  Instead the store inner-joins
    # the BROADCAST batch keys (map-side scan of the store, nothing
    # shuffled), and the batch-sized result left-joins back.
    if docs_store is not None:
        hits = docs_store.join(
            F.broadcast(nodes.select("doc")), "doc"
        )
        nodes = nodes.join(hits, "doc", "left")
    else:
        nodes = nodes.withColumn("label", F.lit(None).cast("long"))
    nodes = nodes.withColumn("__new", F.col("label").isNull()).withColumn(
        "__l0", F.coalesce(F.col("label"), F.col("doc"))
    )
    if mapping is not None:
        nodes = nodes.join(
            mapping, nodes["__l0"] == mapping["__lbl"], "left"
        ).select(
            "doc",
            "__new",
            F.coalesce(F.col("component"), F.col("__l0")).alias("cur"),
        )
    else:
        nodes = nodes.select("doc", "__new", F.col("__l0").alias("cur"))
    # one materialization: feeds edge projection, both appends, and
    # the returned view
    nodes = nodes.localCheckpoint(eager=True)

    proj = (
        edges.join(
            nodes.select(F.col("doc").alias("ei"), F.col("cur").alias("la")),
            "ei",
        )
        .join(
            nodes.select(F.col("doc").alias("ej"), F.col("cur").alias("lb")),
            "ej",
        )
        .select("la", "lb")
        .filter(F.col("la") != F.col("lb"))
    )
    comp = dedup_components(
        proj, "la", "lb", max_iters=max_iters
    ).withColumnRenamed("doc", "__node")
    comp = comp.localCheckpoint(eager=True)

    resolved = nodes.join(
        comp, nodes["cur"] == comp["__node"], "left"
    ).select(
        "doc",
        "__new",
        "cur",
        F.coalesce(F.col("component"), F.col("cur")).alias("final"),
    )
    resolved = resolved.localCheckpoint(eager=True)

    # merge edges: every EXISTING current label whose mini-component
    # is smaller than itself records one (src, dst) merge
    new_merges = (
        resolved.filter(~F.col("__new"))
        .filter(F.col("final") != F.col("cur"))
        .select(F.col("cur").alias("src"), F.col("final").alias("dst"))
        .distinct()
    )
    new_docs = resolved.filter(F.col("__new")).select(
        "doc", F.col("final").alias("label")
    )
    new_merges.write.mode("append").parquet(merges_path)
    new_docs.write.mode("append").parquet(docs_path)
    return resolved.select("doc", F.col("final").alias("component"))


def components_over_store(
    spark, store_path: str, max_iters: int = 20
) -> DataFrame:
    """Current ``(doc, component)`` view over the incremental store:
    stored first-sight labels pushed through the merge-graph closure.
    One lookup join over the doc store plus a metadata-sized
    propagation — never a re-clustering of stored pairs."""
    from ..storeio import read_parquet_if_exists

    docs_store = read_parquet_if_exists(spark, _cc_docs_path(store_path))
    if docs_store is None:
        return spark.createDataFrame([], "doc long, component long")
    merges_store = read_parquet_if_exists(
        spark, _cc_merges_path(store_path)
    )
    mapping = _cc_current_mapping(spark, merges_store, max_iters)
    if mapping is None:
        return docs_store.select(
            "doc", F.col("label").alias("component")
        )
    return docs_store.join(
        mapping, docs_store["label"] == mapping["__lbl"], "left"
    ).select(
        "doc",
        F.coalesce(F.col("component"), F.col("label")).alias("component"),
    )


def compact_components_store(
    spark,
    store_path: str,
    max_iters: int = 20,
    min_files: int | None = None,
) -> dict:
    """Vacuum pass for the incremental-components store: rewrite
    ``docs/`` with the merge closure APPLIED (labels become current
    component ids) and clear ``merges/`` — read-time closure work
    drops to zero until the next merge event.

    Safety argument for the ordering (docs swap first, merges cleared
    second): the rewritten labels are component MINIMA, and a minimum
    is never superseded (merge events only ever map a label to a
    smaller one), so no stale merge edge can have a current root as
    its ``src`` — pushing the rewritten labels through any subset of
    the old merge graph is the identity.  Every crash point therefore
    reads identically through :func:`components_over_store`; a re-run
    completes the pass.  The docs rewrite itself uses the crash-aware
    directory swap (labels are NOT idempotent under duplication — a
    doc must keep exactly one row).  Single-writer maintenance op.
    Returns file/row counts.
    """
    import shutil

    from ..storeio import (
        list_data_files,
        read_parquet_if_exists,
        rewrite_store,
    )

    docs_path = _cc_docs_path(store_path)
    merges_path = _cc_merges_path(store_path)
    if read_parquet_if_exists(spark, docs_path) is None:
        return {"docs_files": (0, 0), "merge_rows_cleared": 0}
    merges = read_parquet_if_exists(spark, merges_path)
    n_merges = 0 if merges is None else merges.count()
    before = list_data_files(docs_path)
    size = sum(os.path.getsize(f) for f in before)
    floor = (
        spark.sparkContext.defaultParallelism
        if min_files is None
        else int(min_files)
    )
    n_out = max(1, floor, -(-size // (128 << 20)))

    def write_docs(new: str) -> None:
        (
            components_over_store(spark, store_path, max_iters)
            .select("doc", F.col("component").alias("label"))
            .repartitionByRange(n_out, "doc")
            .write.mode("overwrite")
            .parquet(new)
        )

    rewrite_store(docs_path, write_docs)
    shutil.rmtree(merges_path, ignore_errors=True)
    return {
        "docs_files": (len(before), len(list_data_files(docs_path))),
        "merge_rows_cleared": n_merges,
    }


# ------------------------------------------------------------------ #
# embedding cosine near-dup
# ------------------------------------------------------------------ #

def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two double-array columns, all JVM-side.
    Fine for O(n) uses (e.g. scoring vs one query vector); for O(n^2)
    pair verification use :func:`cosine_pairs_col` (vectorized)."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _mask_stack(vs) -> tuple[np.ndarray, np.ndarray]:
    """Null-tolerant Arrow-batch assembly: the dense (m, d) float64
    matrix of the NON-NULL vectors in ``vs`` plus their integer
    positions.  A single NULL embedding must not turn the whole batch
    into a ragged object array and abort the job (the null-in/null-out
    contract ``quantize_embeddings`` pins); callers scatter per-row
    results back through the index with :func:`_scatter`."""
    vals = vs.to_numpy() if isinstance(vs, pd.Series) else np.asarray(
        vs, dtype=object
    )
    null = pd.isna(vals)  # C-level elementwise scan, no Python loop
    if not null.any():
        # fast path: the common all-non-null batch pays one bulk copy
        # (tolist is a C conversion), no interpreted per-element work
        idx = np.arange(len(vals), dtype=np.int64)
        if len(vals) == 0:
            return np.empty((0, 0), dtype=np.float64), idx
        return np.asarray(vals.tolist(), dtype=np.float64), idx
    idx = np.flatnonzero(~null).astype(np.int64)
    if len(idx) == 0:
        return np.empty((0, 0), dtype=np.float64), idx
    return np.asarray(vals[idx].tolist(), dtype=np.float64), idx


def _unit_rows(M: np.ndarray) -> np.ndarray:
    """L2-normalize matrix rows (zero rows floor at 1e-12)."""
    return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)


def _scatter(n: int, idx: np.ndarray, values) -> pd.Series:
    """Scatter kernel outputs for the non-null rows back to their batch
    positions, None elsewhere.  Fast path: a batch with no nulls keeps
    its numpy dtype (the common case pays nothing for the mask)."""
    if len(idx) == n:
        return pd.Series(list(values)) if getattr(
            values, "ndim", 1
        ) > 1 else pd.Series(values)
    out = np.full(n, None, dtype=object)
    for j, i in enumerate(idx):
        out[i] = values[j]
    return pd.Series(out, dtype=object)


def _cosine_pairs_kernel(va: pd.Series, vb: pd.Series) -> pd.Series:
    if len(va) == 0:
        return pd.Series(np.empty(0, dtype=np.float64))
    A, ia = _mask_stack(va)
    B, ib = _mask_stack(vb)
    # a pair is scored only where BOTH sides are non-null; either side
    # NULL -> NULL cosine (null-in/null-out, not a batch abort)
    both = np.intersect1d(ia, ib)
    if len(both) == 0:
        # one side entirely NULL: its matrix is (0, 0) while the other
        # subset is (0, d), and einsum would raise on the dim mismatch
        # — the exact null-induced batch abort this kernel must prevent
        return pd.Series([None] * len(va), dtype=object)
    if len(both) < len(va):
        pos_a = {int(i): j for j, i in enumerate(ia)}
        pos_b = {int(i): j for j, i in enumerate(ib)}
        A = A[[pos_a[int(i)] for i in both]] if len(both) else A[:0]
        B = B[[pos_b[int(i)] for i in both]] if len(both) else B[:0]
    na, nb = np.linalg.norm(A, axis=1), np.linalg.norm(B, axis=1)
    denom = na * nb
    denom[denom == 0.0] = np.nan
    cos = np.einsum("ij,ij->i", A, B) / denom
    # a zero vector has no cosine with anything — surface NULL, not
    # NaN: Spark orders NaN ABOVE every number, so a NaN cosine would
    # pass every ">= threshold" verify filter downstream
    bad = np.isnan(cos)
    if bad.any():
        cos = np.where(bad, None, cos.astype(object))
    return _scatter(len(va), both, cos)


def cosine_pairs_col(a: Column, b: Column) -> Column:
    """Row-wise cosine of two vector columns, Arrow-batched numpy."""
    return pandas_udf(_cosine_pairs_kernel, "double")(a, b)


def _block_pair_cosine(threshold: float):
    """Kernel for the blocked gram-matrix: each input row carries two
    packed vector blocks; emit (i, j, cosine) for entries above
    threshold.  One BLAS matmul per block pair replaces per-pair
    interpreted dot products."""

    def _unpack(items) -> tuple[np.ndarray, np.ndarray]:
        # a null vector matches nothing — drop it here rather than let
        # one NULL ragged-array the block and abort the job
        items = [it for it in items if it["v"] is not None]
        ids = np.asarray([it["doc"] for it in items], dtype=np.int64)
        if not items:
            return ids, np.empty((0, 0), dtype=np.float64)
        X = np.asarray([np.asarray(it["v"], dtype=np.float64) for it in items])
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0.0] = np.inf  # zero vectors match nothing
        return ids, X / norms[:, None]

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids_a, Xa = _unpack(row["items_a"])
                same = row["blk_a"] == row["blk_b"]
                if same:
                    ids_b, Xb = ids_a, Xa
                else:
                    ids_b, Xb = _unpack(row["items_b"])
                if len(ids_a) == 0 or len(ids_b) == 0:
                    continue  # all-null block: no pairs
                gram = np.round(Xa @ Xb.T, 6)
                mask = gram >= threshold
                if same:
                    mask &= ids_a[:, None] < ids_b[None, :]
                ai, bj = np.nonzero(mask)
                ia, jb = ids_a[ai], ids_b[bj]
                yield pd.DataFrame(
                    {
                        "i": np.minimum(ia, jb),
                        "j": np.maximum(ia, jb),
                        "cosine": gram[ai, bj],
                    }
                )

    return gen


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    block_rows: int = 1024,
    n_rows: int | None = None,
    clone_weighted: bool = False,
) -> DataFrame:
    """Exact all-pairs cosine near-duplicates (the baseline).

    O(n^2) work by definition, organized as a **blocked gram matrix**:
    vectors are hashed into ~``block_rows``-sized blocks and each of
    the n_blocks·(n_blocks+1)/2 block pairs becomes one task running a
    single numpy matmul over L2-normalized blocks.

    Distribution shape: every vector row is *replicated across its
    grid row/column* (one copy per partner block — the standard
    distributed-matmul layout) and shuffled to its ``(blk_a, blk_b)``
    cell, so the cell tasks are co-partitioned on the pair key with
    parallelism ∝ the block-pair count.  Nothing is broadcast and no
    task ever holds more than two blocks (~2·block_rows vectors), so
    the plan survives corpora far past driver memory.  At true scale
    prefer :func:`embedding_dup_pairs_lsh` to prune the quadratic
    work.

    Exact-clone collapse applies here too: identical vectors (exact
    duplicate content) enter the gram matrix once; member pairs expand
    afterward with their representatives' cosine (identical input =>
    identical score), within-group pairs are exactly 1.0 for nonzero
    vectors — bit-equal to the uncollapsed brute force, while the
    O(n^2) stage sees DISTINCT vectors only.

    ``n_rows`` sizes the grid; pass the (distinct-vector) catalog
    count at scale to avoid the sizing count job — an upper bound just
    coarsens the grid.

    ``clone_weighted=True`` switches to the bounded-output clone
    contract (:func:`_weighted_rep_pairs`): one row per rep pair with
    an ``n_pairs`` multiplicity — the shape for clone-heavy corpora,
    where the expanded member-pair list is quadratic in clone
    multiplicity by definition (the multimodal near-dup 1000× probe:
    100× more output rows per rep pair at 10× the clones).
    """
    from pyspark.sql.window import Window

    vm = df.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn(
        # hash-led partition spec: sort resolves on 8 bytes
        "rep",
        F.min("doc").over(Window.partitionBy(F.xxhash64(F.col("v")), F.col("v"))),
    )
    # the grid replicates this frame n_blocks times and the member
    # expansion reads it again — materialize the collapse once
    reps, m = checkpoint_with(
        vm.filter(F.col("doc") == F.col("rep")).select(
            F.col("rep").alias("doc"), "v"
        ),
        n=F.count("*"),
    )
    n = n_rows if n_rows is not None else m["n"]
    n_blocks = max(1, math.ceil(n / block_rows))
    n_pairs = n_blocks * (n_blocks + 1) // 2
    vecs = reps.select(
        "doc",
        "v",
        F.pmod(F.xxhash64(F.col("doc")), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    # replicate each row to every grid cell it participates in; the
    # row acts as side A when its block is the cell's lower id
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
    # explicit hash partitioning on the pair key sized to the grid
    # (the following groupBy reuses it — ClusteredDistribution is
    # already satisfied, no second exchange)
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
    rep_pairs = cells.mapInPandas(
        _block_pair_cosine(threshold), "i long, j long, cosine double"
    )
    # ids only — tiny; avoids re-running the window per consumer
    members = vm.select("rep", "doc").localCheckpoint(eager=True)
    # within-group exact dups score 1.0 — only for nonzero vectors
    # (a zero vector has no cosine with anything, its own clones
    # included), and only when the threshold admits 1.0
    nonzero_reps = reps.filter(
        F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x) > 0
    ).select(F.col("doc").alias("rep"))
    within_reps = nonzero_reps if threshold <= 1.0 else nonzero_reps.limit(0)
    if clone_weighted:
        return _weighted_rep_pairs(
            rep_pairs, members, "cosine", within_reps, F.lit(1.0)
        )
    out = _expand_rep_pairs(rep_pairs, members, "cosine")
    if threshold <= 1.0:
        members_nz = members.join(nonzero_reps, "rep", "left_semi")
        out = out.unionByName(
            _within_group_pairs(members_nz, F.lit(1.0), "cosine")
        )
    return out


def hyperplane_signature(
    vec: Column, dims: int, bits: int = 16, seed: int = 7
) -> Column:
    """Deterministic random-hyperplane LSH signature.

    The (bits × dims) Gaussian hyperplane matrix is re-derived on every
    executor from the fixed seed — reproducible across runs with zero
    driver-side state shipped.  The projection is one Arrow-batched
    numpy matmul per batch instead of bits×dims interpreted SQL
    aggregate steps per row.
    """

    def kernel(vs: pd.Series) -> pd.Series:
        rng = np.random.default_rng(seed * 1_000_003 + dims * 131 + bits)
        W = rng.standard_normal((bits, dims))
        if len(vs) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        X, idx = _mask_stack(vs)  # NULL vec -> NULL signature
        if len(idx) == 0:
            return pd.Series([None] * len(vs), dtype=object)
        sig = ((X @ W.T > 0).astype(np.int64) << np.arange(bits)).sum(axis=1)
        return _scatter(len(vs), idx, sig)

    return pandas_udf(kernel, "long")(vec)


def embedding_dup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    threshold: float = 0.45,
    bits: int = 16,
    band_bits: int = 4,
    clone_weighted: bool = False,
) -> DataFrame:
    """Scale path: hyperplane-LSH bucket join + exact cosine verify.
    Recall < 1 by design (approximate); candidates only form within
    matching sign-bands.  ``clone_weighted=True`` switches to the
    bounded-output clone contract (see :func:`embedding_dup_pairs`)."""
    # exact-clone collapse, vector edition: identical embeddings (the
    # common case for exact-duplicate content) would explode candidate
    # pairs inside every bucket; group them via a window min over the
    # vector value (O(1) per-row state, no per-group arrays) and expand
    # pairs afterward
    from pyspark.sql.window import Window

    vm = df.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn(
        # hash-led partition spec: sort resolves on 8 bytes, full
        # vectors compare only within hash-equal runs
        "rep",
        F.min("doc").over(Window.partitionBy(F.xxhash64(F.col("v")), F.col("v"))),
    )
    vecs = vm.filter(F.col("doc") == F.col("rep")).select(
        F.col("rep").alias("doc"), "v"
    )
    sigs = vecs.withColumn("sig", hyperplane_signature(F.col("v"), dims, bits))
    n_bands = bits // band_bits
    # candidate generation carries only (doc, band, val) — the vectors
    # join back after dedup so the band-join shuffle and the
    # dropDuplicates exchange move id pairs, not 8·dims-byte payloads
    banded = sigs.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftrightunsigned(F.col("sig"), b * band_bits)
                            % F.lit(2**band_bits)
                        ).alias("val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.val")
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        # merge hint: one shared shuffle, one signature computation
        a.hint("merge")
        .join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("i"), F.col("b.doc").alias("j"))
        .dropDuplicates(["i", "j"])
    )
    vi = vecs.select(F.col("doc").alias("i"), F.col("v").alias("vi"))
    vj = vecs.select(F.col("doc").alias("j"), F.col("v").alias("vj"))
    paired = cands.join(vi, "i").join(vj, "j")
    rep_pairs = (
        paired.withColumn(
            "cosine", F.round(cosine_pairs_col(F.col("vi"), F.col("vj")), 6)
        )
        .filter(F.col("cosine") >= threshold)
        .select("i", "j", "cosine")
    )
    members = vm.select("rep", "doc")
    nonzero_reps = vecs.filter(
        F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x) > 0
    ).select(F.col("doc").alias("rep"))
    within_reps = nonzero_reps if threshold <= 1.0 else nonzero_reps.limit(0)
    if clone_weighted:
        return _weighted_rep_pairs(
            rep_pairs, members, "cosine", within_reps, F.lit(1.0)
        )
    out = _expand_rep_pairs(rep_pairs, members, "cosine")
    if threshold <= 1.0:
        members_nz = members.join(nonzero_reps, "rep", "left_semi")
        out = out.unionByName(
            _within_group_pairs(members_nz, F.lit(1.0), "cosine")
        )
    return out


def cross_embedding_pairs(
    df_a: DataFrame,
    df_b: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    threshold: float = 0.45,
    bits: int = 16,
    band_bits: int = 4,
    broadcast_b: bool = True,
) -> DataFrame:
    """Semantic cross-corpus decontamination: cosine near-duplicate
    pairs BETWEEN two corpora — ``i`` from ``df_a`` (train), ``j``
    from ``df_b`` (benchmark), cosine >= ``threshold``.  The embedding
    analogue of :func:`cross_minhash_pairs`: catches semantically-
    rewritten benchmark leakage that shingle methods miss entirely.

    Scale shape: both sides clone-collapse by vector value, hyperplane
    signatures (SHARED seed — both sides hash through the identical
    matrix, so sign-band collision probability is the self-join
    family's) band into (band, val) buckets, and candidates come from
    an equi-join of the two band frames — never a cross product.
    ``broadcast_b=True`` (default) broadcasts the benchmark side's
    band and vector frames: eval suites are MB-sized while the train
    corpus is the 100 TB side, so candidate generation is map-side and
    the train corpus is never shuffled for it.  Set False for
    corpus-vs-corpus runs and AQE picks the join strategy.

    Approximate by design (recall < 1, precision = 1: every candidate
    re-ranks with the exact cosine).  Sides keep their own id spaces —
    no least/greatest canonicalization; a NULL vector on either side
    never pairs (signature is NULL, and NULL never equi-joins).
    """
    from pyspark.sql.window import Window

    def _collapse(df: DataFrame) -> tuple[DataFrame, DataFrame]:
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
        return reps, vm.select("rep", "doc")

    def _bands(reps: DataFrame) -> DataFrame:
        sigs = reps.withColumn(
            "sig", hyperplane_signature(F.col("v"), dims, bits)
        )
        n_bands = bits // band_bits
        return sigs.select(
            "doc",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            (
                                F.shiftrightunsigned(
                                    F.col("sig"), b * band_bits
                                )
                                % F.lit(2**band_bits)
                            ).alias("val"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("bb"),
        ).select("doc", "bb.band", "bb.val")

    reps_a, members_a = _collapse(df_a)
    reps_b, members_b = _collapse(df_b)
    banded_a, banded_b = _bands(reps_a), _bands(reps_b)
    vecs_b = reps_b.select(F.col("doc").alias("j"), F.col("v").alias("vj"))
    if broadcast_b:
        banded_b = F.broadcast(banded_b)
        vecs_b = F.broadcast(vecs_b)
    a, b_ = banded_a.alias("a"), banded_b.alias("b")
    cands = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val")),
        )
        .select(F.col("a.doc").alias("i"), F.col("b.doc").alias("j"))
        .dropDuplicates(["i", "j"])
    )
    vecs_a = reps_a.select(F.col("doc").alias("i"), F.col("v").alias("vi"))
    rep_pairs = (
        cands.join(vecs_a, "i")
        .join(vecs_b, "j")
        .withColumn(
            "cosine", F.round(cosine_pairs_col(F.col("vi"), F.col("vj")), 6)
        )
        .filter(F.col("cosine") >= threshold)
        .select("i", "j", "cosine")
    )
    # expansion through BOTH membership frames: sides keep their own
    # id spaces, so no least/greatest canonicalization applies here
    mi = members_a.select(F.col("rep").alias("i"), F.col("doc").alias("a"))
    mj = members_b.select(F.col("rep").alias("j"), F.col("doc").alias("b"))
    if broadcast_b:
        mj = F.broadcast(mj)
    return (
        rep_pairs.join(mi, "i")
        .join(mj, "j")
        .select(F.col("a").alias("i"), F.col("b").alias("j"), "cosine")
    )


# ------------------------------------------------------------------ #
# cluster representative selection / normalized exact dedup
# ------------------------------------------------------------------ #


def keep_best_per_cluster(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    quality_col: str,
    keep_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Quality-aware near-duplicate collapse: given the document frame
    and a near-dup pair frame (``i``/``j``), keep ONE document per
    connected component — the one with the highest ``quality_col``
    (ties broken on the smallest id).  This is the policy real
    curation pipelines want: "drop near-dups, but keep the longest /
    highest-quality copy", not "keep the smallest id".

    Output: ``keep_cols`` (default: all of ``df``'s columns) plus
    ``component`` (the cluster's canonical min-id label; singletons
    are their own component).

    Scale shape: components from :func:`dedup_components` (bounded
    rounds), one left join to label docs, then ONE partial+final
    ``max_by`` aggregation per component — no per-component window, so
    a pathological 100k-member clone cluster combines map-side instead
    of funnelling 100k rows through a single window partition.
    ``max_by``'s ordering key is (quality, -id): unique because ids
    are, so the result is deterministic.
    """
    out_cols = list(keep_cols) if keep_cols is not None else df.columns
    comps = dedup_components(pairs)
    labeled = (
        df.join(comps, df[id_col] == comps["doc"], "left")
        .select(
            *[df[c] for c in out_cols],
            F.coalesce(comps["component"], df[id_col]).alias("component"),
        )
    )
    order_key = F.struct(
        F.col(quality_col).alias("q"),
        (-F.col(id_col)).alias("negid"),
    )
    picked = labeled.groupBy("component").agg(
        F.max_by(
            F.struct(*[F.col(c) for c in out_cols]), order_key
        ).alias("__best")
    )
    return picked.select("component", "__best.*").select(
        *out_cols, "component"
    )


def keep_best_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    quality_col: str,
    n: int = 3,
    threshold: float = 0.8,
    keep_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Quality-aware end-to-end near-dup collapse: keep ONE document
    per Jaccard cluster — the highest-``quality_col`` member (ties ->
    smallest id) — with the component graph run over clone-group
    REPRESENTATIVES, the same collapse :func:`drop_near_duplicates`
    uses.  A text cloned k times contributes one graph node instead of
    k(k-1)/2 edges; each doc inherits its representative's component
    (reps are group minima, so the component label is still the
    cluster-wide minimum id).  The representative pick is one
    partial+final ``max_by`` aggregation per component — no
    per-cluster window.  Output: ``keep_cols`` + ``component``.

    (:func:`keep_best_per_cluster` is the generic form for an
    arbitrary precomputed pair frame; this one exists because feeding
    EXPANDED member pairs through connected components is exactly the
    clone blow-up the collapse family avoids — measured 51 s -> ~6 s
    at the 100x clone replica.)
    """
    out_cols = list(keep_cols) if keep_cols is not None else df.columns
    tm = _text_groups(df, id_col, text_col)
    docs = _rep_docs(_group_reps(tm), n).localCheckpoint(eager=True)
    members = tm.select("rep", "doc").localCheckpoint(eager=True)
    rep_pairs = _minhash_rep_pairs(docs, threshold=threshold)
    rep_comp = dedup_components(rep_pairs).withColumnRenamed(
        "doc", "rep"
    )
    # groups too short to shingle (empty/null/< n tokens) participate
    # in no pair AND must not collapse as exact clones either — the
    # Jaccard semantics (and drop_near_duplicates) keep every such doc
    # as its own singleton, so unshingled members take their OWN doc
    # id as component instead of inheriting the group rep's
    shingled = docs.select(
        F.col("doc").alias("rep"), F.lit(True).alias("__sh")
    )
    doc_comp = (
        members.join(rep_comp, "rep", "left")
        .join(shingled, "rep", "left")
        .select(
            "doc",
            F.when(
                F.col("__sh").isNotNull(),
                F.coalesce(F.col("component"), F.col("rep")),
            )
            .otherwise(F.col("doc"))
            .alias("component"),
        )
    )
    labeled = df.join(doc_comp, df[id_col] == doc_comp["doc"]).select(
        *[df[c] for c in out_cols], "component"
    )
    order_key = F.struct(
        F.col(quality_col).alias("q"),
        (-F.col(id_col)).alias("negid"),
    )
    picked = labeled.groupBy("component").agg(
        F.max_by(
            F.struct(*[F.col(c) for c in out_cols]), order_key
        ).alias("__best")
    )
    return picked.select("component", "__best.*").select(
        *out_cols, "component"
    )


def normalized_text_col(text: Column) -> Column:
    """Gopher-style text normalization for fuzzy-exact dedup: lower,
    strip every non-letter/digit to a space, collapse whitespace,
    trim.  Two documents differing only in case / punctuation /
    spacing hash identically.  Unicode classes (``\\p{L}\\p{N}``), not
    ``[a-z0-9]`` — an ASCII class normalizes every CJK/Cyrillic/Arabic
    document to the empty string and merges the whole non-Latin
    population into one group.  Java regex and DuckDB's RE2 agree on
    these classes, so the oracle mirrors the expression exactly."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), r"[^\p{L}\p{N}\s]", " "),
            r"\s+",
            " ",
        )
    )


def normalized_dedup(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Normalized-text exact dedup — the cheap first pass every
    large-corpus pipeline runs before MinHash: group on the normalized
    string (case/punctuation/whitespace-insensitive), keep the
    smallest id, report multiplicity.  One hash aggregation with
    map-side combine; at 100 TB the groupBy key would be
    ``xxhash64(norm)`` pairs rather than the string itself (same
    pattern as the substring-dedup window hash) so the shuffle ships
    8-byte keys, but the oracle-checked form groups the exact text.

    Documents whose normalization destroys everything (empty or null
    ``norm``: symbol-only / whitespace-only / null texts) are kept as
    singletons — "all their content was punctuation" is not evidence
    of duplication, and merging that population keeps exactly one doc
    of the whole class.
    """
    norm = normalized_text_col(F.col(text_col))
    empty_guard = F.when(
        norm.isNull() | (norm == ""), F.col(id_col)
    ).otherwise(F.lit(0))
    return (
        df.groupBy(norm.alias("norm_text"), empty_guard.alias("__g"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("multiplicity"),
        )
        .select(id_col, "norm_text", "multiplicity")
    )
