"""Text-analysis operators for training-data pipelines: token
counting, quality scoring, n-gram language ID, document fingerprinting.

All pure column expressions (JVM, whole-stage codegen) — a 100 TB text
corpus flows through these without touching Python.  Each has an exact
DuckDB-SQL twin in the query registry.
"""

from __future__ import annotations

import os
import re
import threading
from typing import Mapping, NamedTuple, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sparkutil import checkpoint_with, release_checkpoint

STOPWORDS = ("the", "a", "of", "to", "in", "and", "is", "on")

FINGERPRINT_MOD = 1_000_000_007


def tokens_col(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_count_col(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(tokens_col(text))
    )


# BPE-ish pre-tokenizer: letter runs / digit runs / non-space symbol
# runs — the coarse split every byte-pair encoder applies before
# merges.  The pattern is portable across Java regex and RE2, so the
# DuckDB oracle can run the identical expression.
BPE_SPLIT_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"


def bpe_token_count_col(text: Column) -> Column:
    """Count of BPE-style pre-tokens (JVM regexp_count, codegen'd)."""
    return F.regexp_count(text, F.lit(BPE_SPLIT_PATTERN))


def quality_features(
    df: DataFrame, id_col: str, text_col: str, collapse: bool = True
) -> DataFrame:
    """Per-document quality signals + a composite score.

    Signals: token count, distinct-token ratio, stopword ratio, mean
    token length.  The score is a fixed deterministic blend — the
    point is the plumbing (an all-JVM scoring pass suitable for
    corpus-scale filtering), not the specific weights.

    Clone-collapsed by default: the score depends only on the text,
    so the (HOF-heavy) feature expressions evaluate once per DISTINCT
    text and expand back through a null-safe text-keyed join —
    per-doc output identical, scoring work ∝ distinct content (the
    crawl-corpus shape; 100x clone replica: scoring-dependent queries
    drop from tens of seconds to the distinct-set cost).  Pass
    ``collapse=False`` on SMALL frames (streaming micro-batches):
    there the extra aggregation + join are pure overhead — the
    incremental curation loop measured ~40% slower with the collapse
    on its per-trigger batches.
    """
    text = F.col("__qt")
    toks = tokens_col(text)
    n = token_count_col(text).cast("double")
    n_safe = F.when(n > 0, n)  # null when 0 -> null ratios, no div/0
    distinct_ratio = F.size(F.array_distinct(toks)) / n_safe
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / n_safe
    )
    mean_len = (
        F.length(F.concat_ws("", toks)).cast("double") / n_safe
    )
    score = (
        F.least(n / F.lit(200.0), F.lit(1.0)) * 0.3
        + distinct_ratio * 0.3
        + (1.0 - stop_ratio) * 0.2
        + F.least(mean_len / F.lit(8.0), F.lit(1.0)) * 0.2
    )
    if not collapse:
        return df.select(
            F.col(id_col), F.col(text_col).alias("__qt")
        ).select(
            id_col,
            n.cast("long").alias("n_tokens"),
            F.round(distinct_ratio, 6).alias("distinct_ratio"),
            F.round(stop_ratio, 6).alias("stopword_ratio"),
            F.round(mean_len, 6).alias("mean_token_len"),
            (F.floor(score * 1_000_000) / 1_000_000).alias(
                "quality_score"
            ),
        )
    # floor, not round, for the composite: scores of dyadic terms
    # land on exact .5 decimal boundaries where engines' round()
    # disagree
    return collapse_by_text(
        df,
        id_col,
        text_col,
        {
            "n_tokens": n.cast("long"),
            "distinct_ratio": F.round(distinct_ratio, 6),
            "stopword_ratio": F.round(stop_ratio, 6),
            "mean_token_len": F.round(mean_len, 6),
            "quality_score": F.floor(score * 1_000_000) / 1_000_000,
        },
    )


def collapse_by_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    features: "dict[str, Column]",
) -> DataFrame:
    """Evaluate text-only feature columns once per DISTINCT text and
    expand back to per-document rows through a null-safe text-keyed
    join — the clone-collapse shape :func:`quality_features` uses,
    shared.  ``features`` maps output name -> Column over ``__qt``
    (the distinct text).  Output: ``id_col`` + the feature columns;
    work ∝ distinct content, output identical to direct evaluation.
    """
    feats = (
        df.select(F.col(text_col).alias("__qt"))
        .distinct()
        .select(
            # null-safe join key: (is-null flag, coalesced text) —
            # two plain equi-join columns instead of eqNullSafe
            F.isnull("__qt").alias("__k0"),
            F.coalesce(F.col("__qt"), F.lit("")).alias("__k1"),
            *[c.alias(name) for name, c in features.items()],
        )
    )
    lhs = df.select(
        F.col(id_col),
        F.isnull(F.col(text_col)).alias("__k0"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__k1"),
    )
    return lhs.join(feats, ["__k0", "__k1"]).select(
        id_col, *features.keys()
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """The Gopher / MassiveWeb quality-filter rule set (Rae et al.
    2021, appendix A1.1) — the published heuristic battery most
    large-scale text pipelines start from:

    1. word count in [50, 100000]
    2. mean word length in [3, 10]
    3. symbol-to-word ratio (``#`` or ``...``) <= 0.1
    4. < 90% of lines start with a bullet
    5. < 30% of lines end with an ellipsis
    6. >= 80% of words contain an alphabetic character
    7. >= 2 of the 8 required stopwords present

    Output: the per-rule signals plus the combined ``passes``
    verdict (NULL signals — empty/NULL text — fail closed).  All
    pure JVM column expressions, clone-collapsed via
    :func:`collapse_by_text` so rule evaluation costs ∝ distinct
    content; one scan, no shuffle beyond the collapse join.
    """
    text = F.col("__qt")
    toks = tokens_col(text)
    n = token_count_col(text).cast("double")
    n_safe = F.when(n > 0, n)
    mean_len = F.length(F.concat_ws("", toks)).cast("double") / n_safe
    hash_cnt = (
        F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    ).cast("double")
    ell_cnt = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ).cast("double") / F.lit(3.0)
    symbol_ratio = (hash_cnt + ell_cnt) / n_safe
    lines = F.split(text, "\n")
    n_lines = F.when(F.size(lines) > 0, F.size(lines).cast("double"))
    bullet_frac = (
        F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*]"))) / n_lines
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.\s*$"))) / n_lines
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))) / n_safe
    )
    n_stop = sum(
        F.when(F.array_contains(toks, s), 1).otherwise(0)
        for s in GOPHER_STOPWORDS
    ).cast("long")
    passes = F.coalesce(
        n.between(50, 100_000)
        & mean_len.between(3, 10)
        & (symbol_ratio <= 0.1)
        & (bullet_frac < 0.9)
        & (ellipsis_frac < 0.3)
        & (alpha_frac >= 0.8)
        & (n_stop >= 2),
        F.lit(False),
    )
    return collapse_by_text(
        df,
        id_col,
        text_col,
        {
            "n_words": n.cast("long"),
            "mean_word_len": F.round(mean_len, 6),
            "symbol_ratio": F.round(symbol_ratio, 6),
            "bullet_frac": F.round(bullet_frac, 6),
            "ellipsis_frac": F.round(ellipsis_frac, 6),
            "alpha_frac": F.round(alpha_frac, 6),
            "n_stopwords": n_stop,
            "passes": passes,
        },
    )


def _trigram_kernel(texts):
    import pandas as pd

    out = []
    for t in texts:
        s = t.strip(" ") if t is not None else ""  # SQL trim = spaces only
        if len(s) < 3:
            out.append([])
        else:
            out.append(
                list(dict.fromkeys(s[i : i + 3] for i in range(len(s) - 2)))
            )
    return pd.Series(out)


def char_trigrams_col(text: Column) -> Column:
    """Distinct character trigrams (the classic lang-ID features).

    Arrow-batched kernel — a transform(sequence, substring) expression
    evaluates interpreted per trigram and dominates lang-ID runtime."""
    return F.pandas_udf(_trigram_kernel, "array<string>")(text)


def language_id(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    profile_size: int = 20,
) -> DataFrame:
    """N-gram-profile language identification (Cavnar-Trenkle style,
    self-trained): build a top-K character-trigram profile per language
    from the labeled corpus, then score each document by profile
    overlap and predict the argmax language.

    Deterministic end to end: profile ties break on trigram text,
    prediction ties on language code.

    Scale shape: the profile build is one shuffle over the corpus's
    (lang, trigram) pairs.  The profiles themselves are model-sized
    (languages × K trigrams), so scoring broadcasts them as literal
    arrays and runs as a pure projection — ``array_intersect`` per
    language over each document's distinct-trigram array — instead of
    re-shuffling every document-trigram pair through a join + window.
    """
    # clone-collapse both halves: trigram extraction (the pandas
    # kernel) runs once per DISTINCT (lang, text) with a multiplicity
    # — sum(mult) == the per-doc count exactly, since each doc
    # contributes its distinct-trigram set once
    lt = df.groupBy(
        F.col(label_col).alias("lang"), F.col(text_col).alias("__t")
    ).agg(F.count("*").alias("__m"))
    tris = lt.select(
        "lang",
        "__m",
        F.explode(char_trigrams_col(F.col("__t"))).alias("tri"),
    )
    counts = tris.groupBy("lang", "tri").agg(F.sum("__m").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(
        F.col("cnt").desc(), F.col("tri").asc()
    )
    profile_rows = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= profile_size)
        .select("lang", "tri")
        .collect()
    )
    profiles: dict[str, list[str]] = {}
    for r in profile_rows:
        profiles.setdefault(r["lang"], []).append(r["tri"])

    # scoring kernel: "profile trigram ∈ doc's distinct-trigram set"
    # is exactly "trigram is a substring of the trimmed text", so each
    # doc scores with ~languages×K C-speed substring searches and no
    # trigram extraction at all.  langs iterate ascending and only a
    # strictly greater overlap replaces the best — ties keep the
    # alphabetically smallest language, matching the join+window form.
    langs = sorted(profiles)

    def score(texts):
        import pandas as pd

        out_ov, out_lang = [], []
        for t in texts:
            s = t.strip(" ") if t else ""
            best_ov, best_lang = 0, ""
            for lang in langs:
                ov = sum(1 for tri in profiles[lang] if tri in s)
                if ov > best_ov:
                    best_ov, best_lang = ov, lang
            out_ov.append(best_ov)
            out_lang.append(best_lang)
        return pd.DataFrame({"overlap": out_ov, "lang": out_lang})

    best = F.pandas_udf(score, "struct<overlap:int,lang:string>")(
        F.col("__t")
    )
    # scoring is text-only: run the substring kernel once per distinct
    # text, expand through a null-safe text-keyed join
    scored = (
        df.select(F.col(text_col).alias("__t"))
        .distinct()
        .select(
            F.isnull("__t").alias("__k0"),
            F.coalesce(F.col("__t"), F.lit("")).alias("__k1"),
            best.alias("best"),
        )
    )
    lhs = df.select(
        F.col(id_col),
        F.isnull(F.col(text_col)).alias("__k0"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__k1"),
    )
    return (
        lhs.join(scored, ["__k0", "__k1"])
        # docs sharing no trigram with any profile score no candidate
        # row in the join formulation — preserve that contract
        .filter(F.col("best.overlap") >= 1)
        .select(F.col(id_col), F.col("best.lang").alias("pred_lang"))
    )


def bm25_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Full-text top-k by BM25 (Lucene idf variant) — the scoring the
    reference's Elasticsearch sink exists to serve, runnable directly
    on the corpus.

    Plan shape: one explode + two aggregations (doc lengths, term
    frequencies restricted to the query terms), corpus stats and the
    per-term document frequencies broadcast (both are tiny), score as
    a projection, TakeOrdered top-k.  No full sort, no driver loop;
    everything after the tf aggregation is query-terms-sized.
    """
    toks = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(tokens_col(F.col(text_col))).alias("token"),
    )
    dl = toks.groupBy("__doc").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.filter(F.col("token").isin(*query_terms))
        .groupBy("__doc", "token")
        .agg(F.count("*").alias("tf"))
    )
    n_t = tf.groupBy("token").agg(F.countDistinct("__doc").alias("df_t"))
    scored = (
        tf.join(F.broadcast(n_t), "token")
        .join(dl, "__doc")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5) + 1.0
    )
    w = idf * (
        F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        scored.withColumn("w", w)
        .groupBy("__doc")
        .agg(F.round(F.sum("w"), 6).alias("score"))
        .select(F.col("__doc").alias(id_col), "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def rrf_fuse(
    frames: Sequence[DataFrame],
    id_col: str,
    rank_names: Sequence[str],
    score_col: str = "score",
    k_rrf: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of ranked retrieval legs — the standard
    hybrid-search combiner (BM25 leg + dense-vector leg, score
    ``sum(1 / (k + rank))`` per leg the document appears in).

    Each input frame is one leg: ``(id_col, score_col)`` rows, higher
    score better.  Ranks are re-derived here (``score DESC, id ASC``)
    so fusion never depends on the legs' own row order.  A document
    missing from a leg contributes 0 for that leg; its rank column is
    NULL in the output.

    Scale shape: the legs arrive top-k-sized by construction (each is
    its own TakeOrdered reduction over the corpus — see
    :func:`bm25_search` / ``cosine_topk``), so everything here runs on
    <= sum(k) rows.  The unpartitioned rank window is leg-sized, not
    corpus-sized; the fusion join is a few-row full-outer.
    """
    if len(frames) != len(rank_names):
        raise ValueError(
            f"{len(frames)} legs but {len(rank_names)} rank names"
        )
    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    fused = None
    for leg, name in zip(frames, rank_names):
        ranked = leg.select(
            F.col(id_col),
            F.row_number().over(w).cast("long").alias(name),
        )
        fused = (
            ranked
            if fused is None
            else fused.join(ranked, id_col, "full_outer")
        )
    rrf = None
    for name in rank_names:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(k_rrf) + F.col(name)), F.lit(0.0)
        )
        rrf = term if rrf is None else rrf + term
    return (
        fused.select(
            F.col(id_col),
            F.round(rrf, 6).alias("rrf_score"),
            *rank_names,
        )
        .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def highlight_snippets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: Sequence[str],
    window: int = 30,
) -> DataFrame:
    """Search-hit highlighting: for every document containing any of
    ``terms`` (case-insensitive substring), the snippet of fixed
    length ``window + len(term) + window`` around the EARLIEST match
    (ties across terms break to the terms' given order) — the ES
    highlight feature the reference's sink serves, runnable on the
    corpus directly and composable with :func:`bm25_search` /
    ``rrf_fuse`` result frames.

    Pure JVM projection — per doc: one ``lower``, one ``locate`` per
    term folded through an array-of-struct min (struct comparison is
    field-order lexicographic, so ``(pos, idx)`` picks the earliest
    position then the first term), one ``substring``.  No shuffle, no
    UDF; docs without a match drop out.

    Positions are 1-based character offsets into the ORIGINAL text
    (lowercasing is only used for matching; for exotic case mappings
    that change string length the offsets would drift — fine for the
    usual case-preserving alphabets).
    """
    low = F.lower(F.col(text_col))
    cands = F.array(
        *[
            F.struct(
                F.locate(t.lower(), low).alias("pos"),
                F.lit(i).alias("idx"),
            )
            for i, t in enumerate(terms)
        ]
    )
    best = F.array_min(F.filter(cands, lambda s: s["pos"] > 0))
    out = df.select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        best.alias("__best"),
    ).filter(F.col("__best").isNotNull())
    term_expr = F.element_at(
        F.array(*[F.lit(t) for t in terms]), F.col("__best.idx") + 1
    )
    start = F.greatest(F.lit(1), F.col("__best.pos") - window)
    length = F.length(term_expr) + F.lit(2 * window)
    return out.select(
        F.col(id_col),
        term_expr.alias("matched_term"),
        F.col("__best.pos").cast("long").alias("match_pos"),
        F.substring("__t", start, length).alias("snippet"),
    )


_BM_SCHEME = 3  # tokenizer/layout version; 2 = positional postings,
# 3 = CDC-maintainable (postings carry gen; docstats carry
# gen/deleted/sig; _bm_params records stored fields + mutated flag)


def _bm_postings_path(store_path: str) -> str:
    return store_path.rstrip("/") + "/postings"


def _bm_docstats_path(store_path: str) -> str:
    return store_path.rstrip("/") + "/docstats"


def _bm_params_path(store_path: str) -> str:
    # underscore prefix: invisible to spark.read.parquet(store_path)
    return store_path.rstrip("/") + "/_bm_params"


def _bm_tokenstats_path(store_path: str) -> str:
    return store_path.rstrip("/") + "/tokenstats"


def _bm_tokenstats_docs_path(store_path: str) -> str:
    # which doc ids the rollup has counted — one (doc) row per doc,
    # appended fold-by-fold alongside the df deltas.  Only ever READ
    # by the desync repair (never by serving), where it turns the
    # "which fold's delta is missing" question into one anti-join,
    # making repair ∝ missing docs instead of a postings-wide rebuild
    return store_path.rstrip("/") + "/tokenstats_docs"


def _bm_append_tokenstats(
    spark,
    store_path: str,
    tf_rows: DataFrame,
    n_new_docs: int,
    docs: DataFrame | None = None,
) -> None:
    """Append one fold's document-frequency deltas to the store-level
    df rollup: ``(token, df)`` rows plus ONE ``token IS NULL`` row
    carrying the fold's live-doc count.  The whole delta lands as a
    SINGLE coalesced file, so it is visible all-or-nothing — readers
    verify trust by comparing the rollup's summed doc count against
    the live docstats count (a number they need anyway), and any
    missed delta (crash between the docstats commit and this append)
    makes the counts diverge, flipping them to the exact
    postings-wide fallback until the repair/compaction refreshes the
    rollup.  Per-fold cost: one batch-vocabulary-sized aggregate and
    a tiny append — never an index-wide pass.

    ``docs`` (the fold's counted doc ids) rides the SAME file as
    ``(token=NULL, df=NULL, doc=id)`` rows — invisible to every
    rollup reader (the doc-marker probe sums ``df`` over
    ``token IS NULL`` rows, where these are NULL; the vocabulary
    aggregate filters ``token IS NOT NULL``) and read back only by
    the desync repair.  One append instead of the old ordered
    docs-sidecar-then-delta pair: both land in one atomically-moved
    part file, so the torn docs-ahead-of-delta window is gone rather
    than merely detectable (fold write floor, guide §2.4/§6)."""
    # doc ids keep their caller-native type (string ids are legal)
    doc_type = dict(docs.dtypes)["doc"] if docs is not None else "long"
    delta = tf_rows.groupBy("token").agg(F.count("*").alias("df"))
    delta = delta.unionByName(
        spark.range(1).select(
            F.lit(None).cast("string").alias("token"),
            F.lit(int(n_new_docs)).cast("long").alias("df"),
        )
    ).withColumn("doc", F.lit(None).cast(doc_type))
    if docs is not None:
        delta = delta.unionByName(
            docs.select(
                F.lit(None).cast("string").alias("token"),
                F.lit(None).cast("long").alias("df"),
                F.col("doc").alias("doc"),
            )
        )
    delta.coalesce(1).write.mode("append").parquet(
        _bm_tokenstats_path(store_path)
    )


def _bm_write_params(
    spark,
    store_path: str,
    fields: Sequence[str],
    mutated: bool,
    gen: int = 0,
    dead: int = 0,
    analyzer: str = "whitespace",
) -> None:
    # columns (types round-trip the old Spark writer's exactly):
    # scheme int — tokenizer-scheme drift guard;
    # analyzer string — the store's analysis chain
    #   (operators/analysis.py): folds with a different analyzer never
    #   merge, and every query-time term analysis resolves through
    #   this name (the ES mapping's per-field ``analyzer``);
    # fields array<string> — stored doc-values columns;
    # mutated bool — CDC-touched marker;
    # gen long — generation COUNTER (mirrors the IVF store's cur_gen):
    #   the highest generation ever allocated, kept here so a CDC fold
    #   never scans corpus-sized docstats metadata for max(gen);
    # dead long — dead-row COUNTER: docstats rows the MVCC reader
    #   drops, accumulated batch-side by each CDC fold and reset by
    #   compaction, so the maintenance policy's dead-ratio trigger
    #   needs only this row plus a parquet footer count.  A crashed
    #   fold's retry may re-count its increment (over-estimate only —
    #   fires the vacuum early, heuristic-safe).
    # Driver-side write: the values are driver-known scalars and this
    # runs once per CDC trigger (gen bump), so a Spark job here was
    # pure fixed cost (storeio.write_params_row).
    import pyarrow as pa

    from ..storeio import write_params_row

    write_params_row(
        _bm_params_path(store_path),
        pa.schema(
            [
                ("scheme", pa.int32()),
                ("analyzer", pa.string()),
                ("fields", pa.list_(pa.string())),
                ("mutated", pa.bool_()),
                ("gen", pa.int64()),
                ("dead", pa.int64()),
            ]
        ),
        {
            "scheme": int(_BM_SCHEME),
            "analyzer": str(analyzer),
            "fields": [str(c) for c in fields],
            "mutated": bool(mutated),
            "gen": int(gen),
            "dead": int(dead),
        },
    )
    # the next fold/serving open reads this row straight from the
    # cache instead of paying a schema-inference + head() job pair
    from pyspark.sql import Row as _Row

    from ..storeio import prime_params_cache

    prime_params_cache(
        _bm_params_path(store_path),
        [
            _Row(
                scheme=int(_BM_SCHEME),
                analyzer=str(analyzer),
                fields=list(fields),
                mutated=bool(mutated),
                gen=int(gen),
                dead=int(dead),
            )
        ],
    )


def _params_analyzer(p_row) -> str:
    """Analyzer name of a params row; rows predating the column (and
    a missing row) resolve to the legacy raw-whitespace chain."""
    if p_row is None:
        return "whitespace"
    d = p_row if isinstance(p_row, dict) else p_row.asDict()
    return d.get("analyzer") or "whitespace"


def _bm_check_params(
    spark,
    store_path: str,
    fields: Sequence[str],
    analyzer: str | None = None,
):
    """Create-or-validate the store's params row for a write path:
    raises on tokenizer-scheme drift, on ANALYZER drift (folding
    batches tokenized by a different analysis chain would mix
    incompatible postings — "Spark" and "spark" as distinct tokens in
    one index) AND on stored-field drift — folding batches with
    differing ``field_cols`` would append docstats files with
    different column sets, and a schema-merge-free
    ``spark.read.parquet`` then resolves the store from an arbitrary
    footer, silently dropping or nulling stored fields (the facet
    reader would miscount with no error).  Returns the params row, or
    None when this call created it (``analyzer=None`` means "use the
    store's chain, or whitespace on create")."""
    from ..storeio import read_params_rows

    rows = read_params_rows(spark, _bm_params_path(store_path))
    if not rows:
        _bm_write_params(
            spark,
            store_path,
            fields,
            mutated=False,
            analyzer=analyzer or "whitespace",
        )
        return None
    row = rows[0]
    if row["scheme"] != _BM_SCHEME:
        raise ValueError(
            f"store at {store_path} was written with tokenizer scheme "
            f"{row['scheme']}; this build computes scheme "
            f"{_BM_SCHEME} — rebuild the index (mixed tokenizations "
            "score garbage silently)"
        )
    if analyzer is not None and _params_analyzer(row) != analyzer:
        raise ValueError(
            f"store at {store_path} was built with analyzer "
            f"{_params_analyzer(row)!r}; this fold passes "
            f"{analyzer!r} — mixed analysis chains index garbage "
            "silently; rebuild the store or match the analyzer"
        )
    stored = list(row["fields"]) if "fields" in row.__fields__ else []
    if stored != list(fields):
        raise ValueError(
            f"store at {store_path} was created with stored fields "
            f"{stored}; this fold passes {list(fields)} — mixed "
            "docstats schemas resolve from an arbitrary parquet "
            "footer and silently drop fields; rebuild or match the "
            "field list"
        )
    return row


def incremental_bm25_index(
    spark,
    docs_batch: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    field_cols: Sequence[str] = (),
    analyzer: str | None = None,
) -> DataFrame:
    """Incrementally maintained full-text index: fold a batch of NEW
    documents into persisted BM25 state so search stays fresh as the
    corpus grows — the Elasticsearch index the reference's sink
    exists to feed, as a parquet-native store queried by
    :func:`bm25_over_store`.

    State under ``store_path``:

    * ``postings/ (token, doc, tf)`` — the inverted index, append-only;
    * ``docstats/ (doc, dl)`` — per-doc token counts for the BM25
      length norm (present only for token-bearing docs, mirroring
      :func:`bm25_search`'s ``dl`` frame so the two score
      identically);
    * ``_bm_params`` — tokenizer-scheme drift guard (postings written
      by a different tokenizer never merge; it raises).

    Identity is doc id, CONTENT-AWARE first-arrival-wins: a batch's
    ids check against the store's live state (BROADCAST batch keys, a
    map-side scan), and an already-present id is silently dropped
    ONLY when its content digest matches the stored one (a replay).
    The same rule holds WITHIN a batch: duplicate (id, digest) rows
    collapse silently, but one id carrying two different texts raises
    at materialization — there is no defensible winner.
    An id arriving with DIFFERENT text — or one the store has
    tombstoned — raises: silently no-op'ing a changed document would
    leave the index serving stale postings forever with no error
    (mutations belong to :func:`apply_cdc_to_bm25_index`, which
    supersedes by generation).  Write order is postings-first,
    docstats-second, and the postings append additionally drops docs
    already present in ``postings`` — a crash between the two appends
    retries into "postings already there, docstats appended",
    converging without duplicates.  Per-batch work ∝ batch tokens;
    neither store is ever shuffled or rewritten.

    Returns the newly indexed ``(doc, dl)`` rows — empty on replay.
    """
    from ..storeio import read_parquet_if_exists
    from .analysis import get_analyzer

    fields = [c for c in field_cols if c not in (id_col, text_col)]
    p_row = _bm_check_params(spark, store_path, fields, analyzer)
    an = get_analyzer(
        analyzer if analyzer is not None else _params_analyzer(p_row)
    )
    # RAW frames, not the live view: the fold's guards need every
    # generation's sig/deleted state, and its crash-repair anti-join
    # needs the orphaned postings a previous attempt left behind
    postings = read_parquet_if_exists(
        spark, _bm_postings_path(store_path)
    )
    docstats = read_parquet_if_exists(
        spark, _bm_docstats_path(store_path)
    )
    batch = docs_batch.select(
        F.col(id_col).alias("doc"),
        F.col(text_col).alias("__t"),
        *[F.col(c) for c in fields],
    ).withColumn("__sig", F.xxhash64(F.col("__t")))
    # intra-batch identity mirrors the cross-batch contract below:
    # WHOLE-DOC duplicates (same text AND same stored-field values)
    # drop silently as replays, but one id carrying CONFLICTING
    # content raises — dropDuplicates(["doc"]) alone would index an
    # arbitrary winner, silent data loss.  The dup signature hashes
    # text + every stored field (not just text — two rows agreeing on
    # text but disagreeing on a doc-values column have no defensible
    # winner either, the same whole-doc rule the CDC replay skip
    # applies).  The guard is a raise_error expression, so it costs
    # zero extra jobs: it fires during materialization.
    batch = batch.withColumn(
        "__dupsig", F.xxhash64(F.col("__t"), *[F.col(c) for c in fields])
    )
    # one exchange instead of two (dropDuplicates by (doc, dupsig)
    # THEN a per-doc window both shuffled the batch): group straight
    # to one row per doc — whole-doc duplicates (same dupsig) carry
    # identical values in every column, so first() is
    # value-deterministic whenever the guard does not fire, and a doc
    # with >1 distinct dupsig raises exactly as before
    batch = batch.groupBy("doc").agg(
        F.count_distinct(F.col("__dupsig")).alias("__nd"),
        F.first("__t").alias("__t"),
        F.first("__sig").alias("__sig"),
        *[F.first(c).alias(c) for c in fields],
    ).withColumn(
        "__t",
        F.when(
            F.col("__nd") > 1,
            F.raise_error(
                F.concat(
                    F.lit("incremental_bm25_index: doc id "),
                    F.col("doc"),
                    F.lit(
                        " appears in one batch with conflicting "
                        "content — ambiguous which text to index; "
                        "dedupe upstream or route ordered mutations "
                        "through apply_cdc_to_bm25_index(seq_col=…)"
                    ),
                )
            ),
        ).otherwise(F.col("__t")),
    ).drop("__nd")
    if docstats is not None:
        # latest stored state per batch doc (store scan against the
        # broadcast batch keys, then a batch-sized window)
        w = Window.partitionBy("doc").orderBy(F.col("gen").desc())
        latest = (
            docstats.join(
                F.broadcast(batch.select("doc")), "doc", "left_semi"
            )
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "doc",
                F.col("sig").alias("__cur_sig"),
                F.col("deleted").alias("__cur_del"),
            )
        )
        # ONE materialization powers both the conflict guard and the
        # fold continuation: the changed-content check rides the
        # checkpoint as a raise_error column (the intra-batch guard's
        # pattern), so the separate limit(5).collect() probe job per
        # trigger is gone — every batch row is evaluated during the
        # checkpoint, a conflict aborts it, and the except block
        # re-wraps the executor error into the same ValueError
        # contract callers and tests pin ("different content").
        conflict = (
            F.col("__cur_sig").isNotNull()
            | F.col("__cur_del").isNotNull()
        ) & (
            F.col("__cur_del")
            | ~F.col("__cur_sig").eqNullSafe(F.col("__sig"))
        )
        st = (
            batch.join(F.broadcast(latest), "doc", "left")
            .withColumn(
                "__t",
                F.when(
                    conflict,
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "incremental_bm25_index: doc id "
                            ),
                            F.col("doc").cast("string"),
                            F.lit(
                                " already indexed with different "
                                "content (or tombstoned) — the fold "
                                "is append-only and silently keeping "
                                "the old postings would serve stale "
                                "text; route mutations through "
                                "apply_cdc_to_bm25_index"
                            ),
                        )
                    ),
                ).otherwise(F.col("__t")),
            )
        )
        try:
            st = st.localCheckpoint(eager=True)
        except Exception as exc:
            m = re.search(
                r"incremental_bm25_index: doc id [^\n]*", str(exc)
            )
            if m and "different content" in m.group(0):
                raise ValueError(m.group(0)) from exc
            raise
        # keep only docs with NO stored row at all (deleted is
        # non-null on every docstats row, unlike sig which is null on
        # op-d tombstones); same-sig replays drop silently here — a
        # cheap filter over the already-materialized blocks
        new = st.filter(F.col("__cur_del").isNull()).drop(
            "__cur_sig", "__cur_del"
        )
    else:
        new = batch.localCheckpoint(eager=True)
    toks = new.select(
        "doc",
        F.posexplode(an.tokens_col(F.col("__t"))).alias("p", "token"),
    )
    # positional postings: 0-based token offsets, sorted — phrase
    # queries check relative adjacency so the base never matters.
    # ONE tokenize pass: the checkpoint makes the postings write (its
    # repartitionByRange SAMPLES the frame before shuffling — a whole
    # extra pass), the dl aggregation and the tokenstats delta all
    # read these materialized rows instead of re-running
    # posexplode+groupBy per consumer (three tokenize passes per fold
    # before this).
    tf_rows = toks.groupBy("doc", "token").agg(
        F.count("*").alias("tf"),
        F.sort_array(F.collect_list("p")).alias("pos"),
    ).localCheckpoint(eager=True)
    # dl = total token occurrences = sum of tf — same doc set (only
    # token-bearing docs appear in tf_rows), no second explode
    dl_rows = tf_rows.groupBy("doc").agg(
        F.sum("tf").cast("long").alias("dl")
    )
    # content digest + generation bookkeeping ride every docstats row
    # (scheme 3): sig powers the changed-content guard above and the
    # CDC replay skip; folds always write generation 0 (new ids only)
    dl_rows = dl_rows.join(new.select("doc", "__sig"), "doc").select(
        "doc",
        "dl",
        F.col("__sig").alias("sig"),
        F.lit(0).cast("long").alias("gen"),
        F.lit(False).alias("deleted"),
    )
    if fields:
        # ES doc values: per-doc stored fields ride the docstats frame
        # (one row per doc), so facet/filter aggregations serve from
        # the index without touching the corpus
        dl_rows = dl_rows.join(new.select("doc", *fields), "doc")
    # the df-rollup delta counts ALL new docs' postings — including
    # docs whose postings landed in a crashed earlier attempt (the
    # anti-join below drops them from the WRITE only); tokenstats must
    # mirror what the postings store holds, not what this call appends
    tf_all = tf_rows
    if postings is not None:
        already = (
            postings.join(
                F.broadcast(new.select("doc")), "doc", "left_semi"
            )
            .select("doc")
            .distinct()
        )
        tf_rows = tf_rows.join(F.broadcast(already), "doc", "left_anti")
    # range-cluster each append by (token, doc): row-group (and at
    # larger appends file-level) min/max statistics then bound tight
    # token ranges, so the query-time In(token, …) pushdown skips most
    # of the index instead of just filtering it post-read; the doc
    # component splits a heavy token's rows across files so the
    # post-pruning scan stays parallel (see compact_bm25_store)
    tf_rows.select(
        "token", "doc", "tf", "pos", F.lit(0).cast("long").alias("gen")
    ).repartitionByRange(
        "token", "doc"
    ).sortWithinPartitions("token", "doc").write.mode("append").parquet(
        _bm_postings_path(store_path)
    )
    # one job materializes docstats AND yields the tokenstats doc count
    dl_rows, m = checkpoint_with(dl_rows, n=F.count("*"))
    n_new = m["n"]
    dl_rows.write.mode("append").parquet(_bm_docstats_path(store_path))
    # df-rollup delta LAST (docstats is the commit point — a crash
    # before this line leaves the rollup short, which readers detect
    # by doc-count mismatch and fall back; a CDC-mutated store's
    # rollup is untrusted anyway until compaction rebuilds it)
    if p_row is None or not bool(p_row.asDict().get("mutated", True)):
        if n_new:
            _bm_append_tokenstats(
                spark, store_path, tf_all, n_new,
                docs=dl_rows.select("doc"),
            )
    # legacy return shape: the newly indexed (doc, dl [, fields]) rows
    return dl_rows.drop("sig", "gen", "deleted")


def apply_cdc_to_bm25_index(
    spark,
    batch: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    op_col: str = "op",
    field_cols: Sequence[str] = (),
    seq_col: str | None = None,
    analyzer: str | None = None,
) -> DataFrame:
    """Index maintenance under MUTATION: apply a CDC batch of inserts,
    updates and deletes to the incremental BM25 store, so the search
    index tracks a mutating source collection — the reason the
    reference exists (``src/processor.ts:225-258`` routes all three op
    kinds into Elasticsearch; deletes at ``:244-250``).  The repo's
    tail pipeline already materializes IR frames into the keyed doc
    sink; this folds the same frames into the SEARCH store.

    Mechanism is generation-based MVCC over the append-only layout:

    * every applied row lands at generation ``g = max(stored gen)+1``
      — postings ``(token, doc, tf, pos, gen)``, docstats ``(doc, dl,
      sig, gen, deleted, fields…)``;
    * a delete appends a docstats TOMBSTONE (``deleted=true``, no
      postings);
    * readers resolve each doc to its latest-generation docstats row
      and drop tombstones + superseded postings
      (:func:`_read_search_store`); never-mutated stores skip that
      entirely via the ``mutated`` params flag;
    * :func:`compact_bm25_store` reclaims dead rows and restores the
      flag, so steady-state serving cost returns to the insert-only
      path.

    Semantics per op (``op_col`` value ``"d"`` deletes; anything else
    upserts; with ``seq_col`` the batch pre-compacts last-writer-wins
    per doc, mirroring ``mergeOplogs``; without it duplicate doc ids
    raise):

    * upsert of UNCHANGED content (live row with the same xxhash64
      text digest AND the same stored-field values — the ES noop
      comparison covers the whole doc) is a replay → skipped, so
      at-least-once delivery composes to exactly-once index state; a
      fields-only change (the update_by_query case) applies;
    * upsert of changed/new/previously-deleted content applies;
    * delete of a live doc applies; delete of an absent or
      already-deleted doc is a replay → skipped.

    Crash ordering: params-first — the mutated flag (a reader must
    never take the fast path while multi-generation rows exist) AND
    the bumped generation counter (the IVF design: a retry re-reads
    params and applies at a FRESH generation, so the crashed attempt's
    half-written rows can never collide with the retry's and stay
    invisible — postings resolve through the live ``(doc, gen)``
    pairs, and orphans are reclaimed by compaction) — postings second
    (anti-joined on ``(doc, gen)`` belt-and-braces against partially
    visible appends), docstats last (once it lands, a full replay
    skips via the digest check).  Per-batch work ∝ batch tokens + a
    batch-keyed probe of docstats; neither the store nor its metadata
    is ever scanned corpus-wide (the generation counter lives in the
    one-row ``_bm_params``).

    Returns the APPLIED rows ``(doc, op, gen)`` — empty when the whole
    batch was a replay (in which case nothing was written at all).
    """
    from ..storeio import read_parquet_if_exists
    from .analysis import get_analyzer

    fields = [c for c in field_cols if c not in (id_col, text_col)]
    p_row = _bm_check_params(spark, store_path, fields, analyzer)
    an = get_analyzer(
        analyzer if analyzer is not None else _params_analyzer(p_row)
    )
    docstats = read_parquet_if_exists(
        spark, _bm_docstats_path(store_path)
    )
    postings = read_parquet_if_exists(
        spark, _bm_postings_path(store_path)
    )
    b = batch.select(
        F.col(id_col).alias("doc"),
        F.lower(F.col(op_col)).alias("__op"),
        F.col(text_col).alias("__t"),
        *[F.col(c) for c in fields],
        *([F.col(seq_col).alias("__seq")] if seq_col else []),
    )
    if seq_col:
        wseq = Window.partitionBy("doc").orderBy(F.col("__seq").desc())
        b = (
            b.withColumn("__rn", F.row_number().over(wseq))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__seq")
        )
    else:
        # duplicate-id detection rides the digest-probe job below as a
        # batch-keyed window count instead of a separate agg pass
        b = b.withColumn(
            "__dup", F.count("*").over(Window.partitionBy("doc"))
        )
    b = b.withColumn(
        "__sig",
        F.when(
            F.col("__op") != "d", F.xxhash64(F.col("__t"))
        ),  # tombstones carry a NULL digest
    )
    if docstats is not None:
        w = Window.partitionBy("doc").orderBy(F.col("gen").desc())
        latest = (
            docstats.join(
                F.broadcast(b.select("doc")), "doc", "left_semi"
            )
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "doc",
                F.col("sig").alias("__cur_sig"),
                F.col("deleted").alias("__cur_del"),
                # stored-field values ride the probe so the replay
                # check can see a fields-only change (the ES
                # update_by_query noop comparison covers the whole
                # doc, not just the text)
                *[F.col(f).alias(f"__cur_fld_{f}") for f in fields],
            )
        )
        b = b.join(F.broadcast(latest), "doc", "left")
    else:
        b = b.withColumn("__cur_sig", F.lit(None).cast("long")).withColumn(
            "__cur_del", F.lit(None).cast("boolean")
        )
        for f in fields:
            b = b.withColumn(f"__cur_fld_{f}", F.col(f))
    # replay filter: an upsert applies unless the LIVE row carries the
    # same digest; a delete applies only to a live row; a TOMBSTONING
    # upsert (null text — the only input that tokenizes to nothing,
    # since the tokenizer maps even whitespace to one empty token) of
    # an already-tombstoned doc is also a replay — without that clause
    # a redelivered null-text upsert appended one tombstone row per
    # delivery forever (caught by the dead-counter exactness test;
    # note xxhash64(NULL) is a constant, NOT null, so the digest
    # comparison alone cannot recognize this case)
    same_fields = F.lit(True)
    for f in fields:
        same_fields = same_fields & F.col(f"__cur_fld_{f}").eqNullSafe(
            F.col(f)
        )
    applies = F.when(
        F.col("__op") == "d", F.col("__cur_del").eqNullSafe(F.lit(False))
    ).otherwise(
        ~(
            (
                F.col("__cur_del").eqNullSafe(F.lit(False))
                & F.col("__cur_sig").eqNullSafe(F.col("__sig"))
                & same_fields
            )
            | (
                F.col("__cur_del").eqNullSafe(F.lit(True))
                & F.col("__t").isNull()
            )
        )
    )
    # ONE batch-proportional job materializes the probe (batch rows +
    # their latest stored state + the dup count when unordered) and
    # observes the emptiness check, the dead-row increment for the
    # params counter AND (when unordered) the duplicate-id guard;
    # every check below reads the checkpointed blocks, not the store.
    # Dead rows: each applied row kills its doc's previous latest LIVE
    # row (a superseded tombstone was already counted dead when IT was
    # written — counting it again on resurrection would drift the
    # counter +1 per delete→reinsert cycle), and a tombstone row is
    # itself dead.  A non-delete row tombstones iff its text is NULL —
    # the tokenizer maps every non-null string (even whitespace) to ≥1
    # token, and only a token-less doc gets a tombstone below; keying
    # on NULL directly also sidesteps size(NULL)'s config-dependent
    # -1/NULL semantics.  The dup guard aggregates over the FULL probe
    # (conditional sums), not the applied subset — a duplicated id
    # must raise even when every copy is a replay.
    is_tomb = (F.col("__op") == "d") | F.col("__t").isNull()
    probe, arow = checkpoint_with(
        b,
        n=F.sum(applies.cast("long")),
        prior=F.sum(
            (applies & F.col("__cur_del").eqNullSafe(F.lit(False)))
            .cast("long")
        ),
        tombs=F.sum((applies & is_tomb).cast("long")),
        **({} if seq_col else {"maxdup": F.max(F.col("__dup"))}),
    )
    applied_full = probe.filter(applies)
    if not seq_col:
        if arow["maxdup"] is not None and int(arow["maxdup"]) > 1:
            # error path only: one extra scan of the materialized
            # blocks to name the offending ids
            dups = [
                r["doc"]
                for r in probe.filter(F.col("__dup") > 1)
                .select("doc")
                .distinct()
                .limit(5)
                .collect()
            ]
            raise ValueError(
                f"apply_cdc_to_bm25_index: duplicate doc ids {dups} in "
                "the batch and no seq_col to order them — pre-compact "
                "(mergeOplogs) or pass seq_col for last-writer-wins"
            )
        probe = probe.drop("__dup")
        applied_full = probe.filter(applies)
    if int(arow["n"] or 0) == 0:
        return spark.createDataFrame([], "doc long, op string, gen long")
    dead_inc = int(arow["prior"] or 0) + int(arow["tombs"] or 0)
    applied = applied_full.drop(
        "__cur_sig", "__cur_del",
        *[f"__cur_fld_{f}" for f in fields],
    )
    # generation counter lives in params (one row), mirroring the IVF
    # store — never recomputed from corpus-sized docstats metadata.
    # Legacy params rows predating the counter fall back to one
    # docstats scan, after which the write below persists it.
    fresh_g = False
    if docstats is None:
        g = 0
    elif p_row is not None and p_row.asDict().get("gen") is not None:
        g = int(p_row["gen"]) + 1
        # params-first write order makes this generation FRESH: any
        # crashed attempt that left rows at some generation g' first
        # made params.gen >= g' durable, so every retry reads a higher
        # counter and applies above it — rows at THIS g cannot exist
        # yet, and the belt-and-braces anti-joins below are provably
        # empty (two store-footer scans + broadcast builds per trigger
        # for nothing).  The legacy paths keep them: g derived from
        # max(docstats.gen) (docstats written LAST, so a crashed
        # attempt's postings can sit at the recomputed g), and g=0 on
        # a docstats-less store (a crashed insert-only fold may have
        # left gen-0 postings).
        fresh_g = True
    else:
        mg = docstats.agg(F.max("gen")).head()[0]
        g = (int(mg) if mg is not None else -1) + 1

    # params FIRST — both the mutated flag (from the moment any
    # generation-g row is visible, readers must take the live-filtering
    # path; the fast path over multi-generation rows double-counts
    # docs) and the bumped counter (a crashed attempt's retry then
    # re-applies at a FRESH generation, so its half-written rows never
    # collide with the retry's and stay invisible to the live join).
    # A fresh store (no docstats yet) stays on the fast path —
    # generation-0 inserts are exactly a fold — UNLESS the very first
    # batch writes a tombstone (null-text upsert of a new doc): the
    # fast-path reader drops the `deleted` column, so an unflagged
    # tombstone would serve as a live doc and skew every corpus stat.
    tombs = int(arow["tombs"] or 0)
    if docstats is not None or tombs > 0:
        prev_dead = (
            int(p_row.asDict().get("dead") or 0)
            if p_row is not None
            else 0
        )
        _bm_write_params(
            spark, store_path, fields,
            mutated=True, gen=g, dead=prev_dead + dead_inc,
            analyzer=an.name,
        )

    ups = applied.filter(F.col("__op") != "d")
    toks = ups.select(
        "doc",
        F.posexplode(an.tokens_col(F.col("__t"))).alias("p", "token"),
    )
    # ONE tokenize pass (see incremental_bm25_index): the checkpoint
    # feeds the postings write (incl. repartitionByRange's sampling
    # pass) and the dl aggregation from materialized rows
    tf_rows = toks.groupBy("doc", "token").agg(
        F.count("*").alias("tf"),
        F.sort_array(F.collect_list("p")).alias("pos"),
    ).localCheckpoint(eager=True)
    dl_rows = tf_rows.groupBy("doc").agg(
        F.sum("tf").cast("long").alias("dl")
    )
    if postings is not None and not fresh_g:
        # retry convergence on the LEGACY generation paths only: rows
        # for (doc, g) already on disk from a crashed attempt must not
        # append twice (with a params-served counter, g is fresh by
        # construction — see fresh_g above — and this probe is dead
        # per-trigger cost)
        already = (
            postings.filter(F.col("gen") == g)
            .join(F.broadcast(ups.select("doc")), "doc", "left_semi")
            .select("doc")
            .distinct()
        )
        tf_rows = tf_rows.join(F.broadcast(already), "doc", "left_anti")
    tf_rows.select(
        "token", "doc", "tf", "pos", F.lit(g).cast("long").alias("gen")
    ).repartitionByRange("token", "doc").sortWithinPartitions(
        "token", "doc"
    ).write.mode("append").parquet(_bm_postings_path(store_path))

    up_stats = (
        ups.join(dl_rows, "doc", "left")
        .select(
            "doc",
            F.coalesce(F.col("dl"), F.lit(0)).alias("dl"),
            F.col("__sig").alias("sig"),
            F.lit(g).cast("long").alias("gen"),
            # an upsert that tokenizes to NOTHING (null text) must
            # still supersede the old generation — as a tombstone, so
            # corpus stats keep counting only token-bearing docs (the
            # bm25_search / rebuild-equivalence contract)
            F.col("dl").isNull().alias("deleted"),
            *[F.col(c) for c in fields],
        )
    )
    up_types = dict(up_stats.dtypes)
    del_stats = applied.filter(F.col("__op") == "d").select(
        "doc",
        F.lit(0).cast("long").alias("dl"),
        F.lit(None).cast("long").alias("sig"),
        F.lit(g).cast("long").alias("gen"),
        F.lit(True).alias("deleted"),
        # null stored fields, typed to match the upsert frame so the
        # union (and the parquet footer) keeps one schema
        *[F.lit(None).cast(up_types[c]).alias(c) for c in fields],
    )
    new_stats = up_stats.unionByName(del_stats)
    if docstats is not None and not fresh_g:
        # same legacy-only guard as the postings anti-join above
        dup = (
            docstats.filter(F.col("gen") == g)
            .join(F.broadcast(applied.select("doc")), "doc", "left_semi")
            .select("doc")
            .distinct()
        )
        new_stats = new_stats.join(F.broadcast(dup), "doc", "left_anti")
    new_stats.write.mode("append").parquet(_bm_docstats_path(store_path))
    return applied.select(
        "doc", F.col("__op").alias("op"), F.lit(g).cast("long").alias("gen")
    )


def rebuild_bm25_tokenstats(
    spark,
    store_path: str,
    assume_live: bool = False,
    n_files: int = 1,
) -> None:
    """Rebuild the df rollup from the store's LIVE rows — one postings
    pass, crash-aware directory swap when the sidecar already exists.
    Used by :func:`compact_bm25_store` after its rewrites (where every
    surviving row is live — pass ``assume_live=True`` to skip the MVCC
    resolution) and by the maintenance policy's rollup-desync repair,
    where rewriting the whole index just to refresh a
    vocabulary-sized sidecar would be absurd I/O (``assume_live=True``
    is also valid there: the desync trigger only fires on UNMUTATED
    stores, which hold no multi-generation rows by definition)."""
    from ..storeio import rewrite_store

    p = _bm_postings_path(store_path)
    d = _bm_docstats_path(store_path)
    ts = _bm_tokenstats_path(store_path)

    def write_tokenstats(new: str) -> None:
        post = spark.read.parquet(p)
        ds = spark.read.parquet(d)
        if not assume_live and "gen" in ds.columns:
            live = _bm_live_docstats(ds)
            post = post.join(
                live.select("doc", "gen"), ["doc", "gen"], "left_semi"
            )
            ds = live
        else:
            if "deleted" in ds.columns:
                ds = ds.filter(~F.col("deleted"))
            # drop ORPHAN postings (doc has no docstats row) even when
            # every docstats row is known live: a fold that crashed
            # after its postings append leaves orphans, and a rebuild
            # that counted them would double-count with the crashed
            # fold's eventual retry delta (the retry deliberately
            # re-counts its docs' postings) — the doc-count trust
            # predicate cannot see df inflation, so significant/rare
            # terms would serve bad backgrounds from a "trusted"
            # rollup.  One postings∝-sized semi-join, amortized into a
            # pass that already reads both stores.
            post = post.join(ds.select("doc"), "doc", "left_semi")
        n_docs = ds.count()
        delta = post.groupBy("token").agg(F.count("*").alias("df"))
        doc_type = dict(ds.dtypes)["doc"]
        delta = delta.unionByName(
            spark.range(1).select(
                F.lit(None).cast("string").alias("token"),
                F.lit(int(n_docs)).cast("long").alias("df"),
            )
        ).withColumn("doc", F.lit(None).cast(doc_type))
        # counted-doc rows ride the rollup itself (see
        # _bm_append_tokenstats) — one rewrite instead of the old
        # ordered docs-sidecar-then-rollup pair of swaps
        delta = delta.unionByName(
            ds.select(
                F.lit(None).cast("string").alias("token"),
                F.lit(None).cast("long").alias("df"),
                F.col("doc").alias("doc"),
            )
        )
        # vocabulary-sized: a handful of files keeps the (always
        # full-read) rollup scan parallel without small-file litter
        delta.repartition(max(1, int(n_files))).write.mode(
            "overwrite"
        ).parquet(new)

    # retire any legacy standalone docs sidecar FIRST: the doc rows
    # now live inside the rollup, and a stale sidecar surviving next
    # to a fresh rollup would double-count in the repair's
    # count-vs-marker validation.  Crash between the removal and the
    # rollup swap leaves no doc rows at all — the validation reads
    # zero counted docs, mismatches the marker, and falls back to a
    # full rebuild (fail-safe, same as any torn state here).
    td = _bm_tokenstats_docs_path(store_path)
    if os.path.isdir(td):
        import shutil

        shutil.rmtree(td, ignore_errors=True)
    if os.path.isdir(ts):
        rewrite_store(ts, write_tokenstats)
    else:
        write_tokenstats(ts)


def repair_bm25_tokenstats(spark, store_path: str) -> dict:
    """Heal a desynced df rollup at MISSING-FOLD cost instead of a
    postings-wide rebuild (the r10 verdict's merge-log item): the
    ``tokenstats_docs`` sidecar records which doc ids the rollup has
    counted, so the docs a crashed fold committed to docstats but
    never rolled up fall out of ONE anti-join; their delta recomputes
    from a doc-pruned postings scan and appends like any fold's.

    Validations before trusting the sidecar (each falls back to
    :func:`rebuild_bm25_tokenstats`, which also (re)creates the
    sidecar): the sidecar exists; its row count equals the rollup's
    doc marker (a torn docs-vs-delta append breaks this); every
    counted doc is still live (CDC mutation would break this, but the
    caller only repairs unmutated stores); and the missing set is
    non-empty.  Only meaningful on UNMUTATED stores — the maintenance
    policy's ``rollup_desync`` trigger already gates on that.

    Returns ``{"mode": "incremental"|"rebuild", "added_docs": n}``.
    """
    from ..storeio import read_parquet_if_exists

    def full() -> dict:
        rebuild_bm25_tokenstats(spark, store_path, assume_live=True)
        return {"mode": "rebuild", "added_docs": None}

    ds = read_parquet_if_exists(spark, _bm_docstats_path(store_path))
    if ds is None:
        return {"mode": "none", "added_docs": 0}
    if "deleted" in ds.columns:
        ds = ds.filter(~F.col("deleted"))
    ts = read_parquet_if_exists(spark, _bm_tokenstats_path(store_path))
    if ts is None:
        return full()
    # counted-doc rows live inside the rollup (token NULL, df NULL,
    # doc set — see _bm_append_tokenstats); a legacy standalone
    # sidecar (written before the merge, disjoint by construction)
    # unions in when present
    docs = (
        ts.filter(F.col("doc").isNotNull()).select("doc")
        if "doc" in ts.columns
        else None
    )
    legacy = read_parquet_if_exists(
        spark, _bm_tokenstats_docs_path(store_path)
    )
    if legacy is not None:
        legacy = legacy.select("doc")
        docs = legacy if docs is None else docs.unionByName(legacy)
    if docs is None:
        return full()
    marker = (
        ts.filter(F.col("token").isNull()).agg(F.sum("df")).head()[0]
    )
    if marker is None or docs.count() != int(marker):
        return full()
    live_ids = ds.select("doc")
    if docs.join(live_ids, "doc", "left_anti").limit(1).count() > 0:
        return full()  # counted docs no longer live — sidecar stale
    missing, m = checkpoint_with(
        live_ids.join(docs, "doc", "left_anti"), n=F.count("*")
    )
    n_missing = m["n"]
    if n_missing == 0:
        return full()  # desynced yet nothing identifiable — torn pair
    post = read_parquet_if_exists(
        spark, _bm_postings_path(store_path)
    )
    if post is None:
        return full()
    tf_rows = post.join(F.broadcast(missing), "doc", "left_semi")
    _bm_append_tokenstats(
        spark, store_path, tf_rows, n_missing, docs=missing
    )
    return {"mode": "incremental", "added_docs": int(n_missing)}


def _bm_live_docstats(docstats: DataFrame) -> DataFrame:
    """Latest-generation, non-tombstone docstats rows — the MVCC read
    view of a mutated store.  One docstats-sized window exchange; the
    insert-only fast path (params ``mutated=false``) never pays it,
    and :func:`compact_bm25_store` restores that path."""
    w = Window.partitionBy("doc").orderBy(F.col("gen").desc())
    return (
        docstats.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (~F.col("deleted")))
        .drop("__rn")
    )


def _listing_key(*dirs: str):
    """The exact file listing ``(name, size, mtime_ns)`` of each
    directory, or ``None`` when one cannot be listed (missing, or a
    non-local path without ``os.scandir``).  Every store write lands
    new UUID part-filenames, so a fold or compaction changes the
    listing: a cache keyed on it never serves stale content."""
    try:
        return tuple(
            (
                os.path.abspath(d),
                tuple(
                    sorted(
                        (e.name, e.stat().st_size, e.stat().st_mtime_ns)
                        for e in os.scandir(d)
                        if e.is_file()
                    )
                ),
            )
            for d in dirs
        )
    except OSError:
        return None


_PARAMS_ROW_CACHE: dict = {}


def _store_params_row(spark, store_path: str):
    """The store's one-row ``_bm_params`` as a dict, cached on the
    params directory's file listing (:func:`_listing_key`).  Serving
    queries consult params twice (analyzer + mutated flag); without
    the cache each consult is a full parquet open-footer-read job.
    Non-local paths fall back to an uncached read."""
    from ..storeio import read_params_dir

    path = _bm_params_path(store_path)
    key = _listing_key(path)
    if key is not None and key in _PARAMS_ROW_CACHE:
        return _PARAMS_ROW_CACHE[key]
    params = read_params_dir(spark, path)
    row = params.head().asDict() if params is not None else None
    if key is not None:
        if len(_PARAMS_ROW_CACHE) > 64:
            _PARAMS_ROW_CACHE.clear()
        _PARAMS_ROW_CACHE[key] = row
    return row


class _StoreView(NamedTuple):
    """A store resolved to its live rows (:func:`_resolve_search_store`).
    ``n_docs``/``avgdl`` are the corpus statistics of a snapshotted
    mutated store, ``None`` where the caller aggregates ``docstats``
    itself."""

    postings: DataFrame | None
    docstats: DataFrame | None
    n_docs: int | None = None
    avgdl: float | None = None


# Reader snapshots of mutated stores, one per store path, least
# recently used first: abspath -> (key, live docstats frame (local
# checkpoint, with ``gen``), n_docs, avgdl).  The key is the docstats +
# params file listings plus the Spark application id, so any fold or
# compaction and any session restart misses.  A replaced or evicted
# entry's blocks are released at once (entries of a stopped
# application are only dropped — their blocks died with it), so a
# frame built on a superseded snapshot must be collected before the
# store's next generation is resolved.
_SNAPSHOTS: dict = {}
_SNAPSHOT_MAX = 8
_SNAPSHOT_LOCK = threading.Lock()


def _drop_snapshot(spark, ent) -> None:
    if ent[0][0] == spark.sparkContext.applicationId:
        release_checkpoint(ent[1])


def _live_snapshot(spark, store_path: str, docstats: DataFrame):
    """``(live docstats with gen, n_docs, avgdl)`` of a mutated store,
    resolved once per store generation: the live window runs once into
    a local checkpoint whose job also yields the corpus statistics;
    requests then semi-join the postings against the checkpointed
    ``(doc, gen)`` set.  A store whose listing cannot be read is
    resolved per call (``n_docs`` None)."""
    listing = _listing_key(
        _bm_docstats_path(store_path), _bm_params_path(store_path)
    )
    if listing is None:
        return _bm_live_docstats(docstats).drop("sig", "deleted"), None, None
    key = (spark.sparkContext.applicationId, listing)
    path = os.path.abspath(store_path)
    with _SNAPSHOT_LOCK:
        ent = _SNAPSHOTS.pop(path, None)
        if ent is not None and ent[0] == key:
            _SNAPSHOTS[path] = ent
            return ent[1:]
        if ent is not None:
            _drop_snapshot(spark, ent)
        live, row = checkpoint_with(
            _bm_live_docstats(docstats).drop("sig", "deleted"),
            n_docs=F.count("*"),
            avgdl=F.avg("dl"),
        )
        ent = (key, live, int(row["n_docs"]), row["avgdl"])
        _SNAPSHOTS[path] = ent
        while len(_SNAPSHOTS) > _SNAPSHOT_MAX:
            _drop_snapshot(spark, _SNAPSHOTS.pop(next(iter(_SNAPSHOTS))))
    return ent[1:]


def _forget_snapshot(spark, store_path: str) -> None:
    """Drop the store's reader snapshot, if any (it left the mutated
    state, or its files are gone)."""
    with _SNAPSHOT_LOCK:
        ent = _SNAPSHOTS.pop(os.path.abspath(store_path), None)
        if ent is not None:
            _drop_snapshot(spark, ent)


def store_analyzer(spark, store_path: str):
    """The :class:`~.analysis.Analyzer` the store was built with
    (legacy stores → raw whitespace)."""
    from .analysis import get_analyzer

    return get_analyzer(
        _params_analyzer(_store_params_row(spark, store_path))
    )


def analyze_store_terms(
    spark, store_path: str, terms: Sequence[str]
) -> list[str]:
    """Query-time term analysis through the STORE'S OWN chain — the
    search_analyzer side of the reference's per-field declaration
    (examples/config.json:64-66).  Every full-text serving op routes
    its terms here, so "SPARK" finds documents indexed as "spark" on
    an analyzed store while term-level ops (prefix / wildcard /
    regexp / fuzzy / suggest) stay raw, mirroring ES's
    analyzed-vs-term-level query split.  Identity (and one cached
    dict lookup) on legacy whitespace stores; idempotent, so layered
    entry points may each call it."""
    terms = list(terms)
    an = store_analyzer(spark, store_path)
    if an.name == "whitespace":
        return terms
    return an.analyze_terms(terms)


def _resolve_search_store(spark, store_path: str) -> _StoreView:
    """Resolve the store to its LIVE rows with the legacy reader
    shape: ``postings (token, doc, tf, pos)`` and ``docstats (doc, dl,
    fields…)``.  Three store states:

    * legacy scheme-2 store (no ``gen`` column) — returned as-is;
    * scheme-3, never mutated (params flag) — bookkeeping columns
      dropped, zero extra cost;
    * mutated — docstats resolve to latest-generation non-tombstone
      rows, postings semi-join the live ``(doc, gen)`` pairs (token
      pushdown still reaches the scan — the filter sits below the
      join on the postings side).

    A mutated store is served from a reader snapshot pinned to its
    generation, as a search engine pins a searcher until the next
    refresh (:func:`_live_snapshot`): the live-docstats window and the
    ``n_docs``/``avgdl`` aggregate run once, not per request, and the
    view carries those statistics for the scorers.  The snapshot is
    keyed on the docstats and params file listings plus the Spark
    application id, so the next fold or compaction, or a new session,
    resolves afresh; a store that returns to ``mutated=false`` (or
    disappears) drops its snapshot.

    Returns ``_StoreView(None, None)`` when either store is missing.
    """
    from ..storeio import read_parquet_if_exists

    postings = read_parquet_if_exists(
        spark, _bm_postings_path(store_path)
    )
    docstats = read_parquet_if_exists(
        spark, _bm_docstats_path(store_path)
    )
    if postings is None or docstats is None:
        view = _StoreView(None, None)
    elif "gen" not in docstats.columns:
        view = _StoreView(postings, docstats)
    elif not (_store_params_row(spark, store_path) or {}).get("mutated"):
        view = _StoreView(
            postings.drop("gen"), docstats.drop("sig", "gen", "deleted")
        )
    else:
        live, n_docs, avgdl = _live_snapshot(spark, store_path, docstats)
        live_postings = postings.join(
            live.select("doc", "gen"), ["doc", "gen"], "left_semi"
        ).drop("gen")
        return _StoreView(live_postings, live.drop("gen"), n_docs, avgdl)
    _forget_snapshot(spark, store_path)
    return view


def _read_search_store(spark, store_path: str):
    """``(postings, docstats)`` of :func:`_resolve_search_store` — the
    live frames every ``*_over_store`` helper serves from."""
    view = _resolve_search_store(spark, store_path)
    return view.postings, view.docstats


def bm25_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    exclude_docs: Sequence | None = None,
) -> DataFrame:
    """Query the incremental index: BM25 top-``k`` over the persisted
    postings — identical scoring to :func:`bm25_search` over the
    union of every folded batch (pinned by the registry oracle).

    Scale shape: the postings scan FILTERS on the query terms, so
    Parquet row-group statistics prune most of the index before it is
    read (``PushedFilters: In(token, ...)``); everything after is
    query-terms-sized except one doc-keyed join against ``docstats``
    for the length norm, ∝ matching docs.  The corpus stats
    (``n_docs``/``avgdl``) are one aggregate over ``docstats`` riding
    along as a broadcast one-row frame.  At true scale, sort each
    postings append by token (or bucket by token hash) so the
    pushdown prunes at file granularity.  Output: ``(doc, score)``.

    ``exclude_docs`` removes the given ids BEFORE every statistic
    (corpus size, avgdl, per-term df and the candidate set) — scoring
    is then identical to :func:`bm25_search` over the corpus minus
    those docs, the more-like-this "everything but the seed" shape.
    The exclusion list is model-sized (a handful of seed ids), applied
    as a NOT IN the scans push down.
    """
    scored = _bm25_scored(spark, store_path, terms, k1, b, exclude_docs)
    if scored is None:
        return spark.createDataFrame([], "doc long, score double")
    return scored.orderBy(
        F.col("score").desc(), F.col("doc").asc()
    ).limit(top_k)


def _bm25_scored(
    spark,
    store_path: str,
    terms: Sequence[str],
    k1: float,
    b: float,
    exclude_docs: Sequence | None = None,
    resolved: tuple | None = None,
):
    """The UNRANKED (doc, score) frame behind :func:`bm25_over_store`
    — shared with :func:`bm25_page_over_store`, whose cursor predicate
    must apply before any top-k, not after a bounded one.  Returns
    None when the store is missing.  ``resolved`` reuses an already
    MVCC-resolved ``(postings, docstats)`` pair so callers that also
    need docstats (the doc-values score functions) pay one store
    resolution, not two."""
    terms = analyze_store_terms(spark, store_path, terms)
    postings, docstats = (
        resolved
        if resolved is not None
        else _read_search_store(spark, store_path)
    )
    if postings is None or docstats is None:
        return None
    if exclude_docs:
        excl = list(exclude_docs)
        postings = postings.filter(~F.col("doc").isin(excl))
        docstats = docstats.filter(~F.col("doc").isin(excl))
    stats = docstats.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = postings.filter(F.col("token").isin(*list(terms)))
    n_t = tf.groupBy("token").agg(
        F.countDistinct("doc").alias("df_t")
    )
    scored = (
        tf.join(F.broadcast(n_t), "token")
        .join(docstats, "doc")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
        + 1.0
    )
    w = idf * (
        F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        scored.withColumn("w", w)
        .groupBy("doc")
        .agg(F.round(F.sum("w"), 6).alias("score"))
    )


def match_over_store(
    spark,
    store_path: str,
    query_text: str,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """ES ``match`` — the workhorse full-text query: FREE TEXT in,
    analyzed through the STORE'S OWN chain (the search_analyzer side
    of the reference's per-field declaration), BM25-scored union of
    the resulting terms out.  ``bm25_over_store`` with the analysis
    applied to one string instead of a pre-split term list; a query
    that analyzes to nothing returns the empty frame (the ES
    zero-terms NONE behavior)."""
    terms = analyze_store_terms(spark, store_path, [query_text])
    # raw-whitespace stores: the string still needs splitting (the
    # analyzer is identity there, not a tokenizer)
    if len(terms) == 1 and terms[0] == query_text:
        terms = query_text.split()
    terms = [t for t in dict.fromkeys(terms) if t]
    if not terms:
        return spark.createDataFrame([], "doc long, score double")
    return bm25_over_store(
        spark, store_path, terms, k1=k1, b=b, top_k=top_k
    )


def bm25_batch_over_store(
    spark,
    store_path: str,
    queries: Sequence[tuple],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    max_queries: int = 65_536,
) -> DataFrame:
    """Batched BM25 over the persisted index — the ES ``msearch``
    shape: ``queries`` is a model-sized batch of ``(q_id, [terms])``
    pairs served in ONE index pass, scoring each query identically to
    :func:`bm25_over_store` (pinned by tests and the registry oracle).

    Scale shape: one postings scan filtered to the UNION of every
    query's terms (``PushedFilters: In(token, …)``), the per-(doc,
    token) BM25 weight computed once (idf and length norm are
    query-independent), then a broadcast join against the tiny
    (q_id, token) map fans weights out to queries, one (q_id, doc)
    aggregation sums them, and a q_id-keyed window takes each top-k.
    Serving q queries costs one index read instead of q — the
    amortization msearch exists for.  Output: ``(q_id, doc, score)``,
    per-query rank ≤ ``top_k``, ordered q_id asc / score desc / doc
    asc.
    """
    from ..storeio import read_parquet_if_exists

    qlist = [
        (
            int(q),
            list(
                dict.fromkeys(analyze_store_terms(spark, store_path, terms))
            ),
        )
        for q, terms in queries
    ]
    if len(qlist) > max_queries:
        raise ValueError(
            f"bm25_batch_over_store: > {max_queries} queries — the "
            "query batch is driver-side model state; chunk it"
        )
    all_terms = sorted({t for _, terms in qlist for t in terms})
    postings, docstats = _read_search_store(spark, store_path)
    if postings is None or docstats is None or not all_terms:
        return spark.createDataFrame(
            [], "q_id long, doc long, score double"
        )
    qt = spark.createDataFrame(
        [(q, t) for q, terms in qlist for t in terms],
        "q_id long, token string",
    )
    stats = docstats.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = postings.filter(F.col("token").isin(all_terms))
    n_t = tf.groupBy("token").agg(
        F.countDistinct("doc").alias("df_t")
    )
    scored = (
        tf.join(F.broadcast(n_t), "token")
        .join(docstats, "doc")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
        + 1.0
    )
    w = idf * (
        F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    per_query = (
        scored.withColumn("w", w)
        .join(F.broadcast(qt), "token")
        .groupBy("q_id", "doc")
        .agg(F.round(F.sum("w"), 6).alias("score"))
    )
    rk = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("doc").asc()
    )
    return (
        per_query.withColumn("__rk", F.row_number().over(rk))
        .filter(F.col("__rk") <= top_k)
        .select("q_id", "doc", "score")
        .orderBy(
            F.col("q_id").asc(), F.col("score").desc(), F.col("doc").asc()
        )
    )


def _prefix_upper_bound(prefix: str) -> str | None:
    """Smallest string strictly above every ``prefix``-prefixed string
    in Spark's UTF-8 binary collation, or ``None`` when no such bound
    exists (an all-U+10FFFF prefix).  Code-point order equals UTF-8
    byte order for every encodable code point, so incrementing the
    last code point is correct — but the naive ``chr(ord(c)+1)``
    raises on U+10FFFF and lands inside the surrogate block after
    U+D7FF (where Python chars and Spark's UTF-8 comparison diverge):
    carry past maximal code points and hop the surrogate gap instead.
    Callers must keep the ``startswith`` predicate alongside — a
    carried bound over-covers (it spans sibling prefixes)."""
    s = list(prefix)
    while s:
        cp = ord(s[-1])
        if cp >= 0x10FFFF:
            s.pop()  # carry: no code point above — shorten and bump
            continue
        s[-1] = chr(0xE000 if cp == 0xD7FF else cp + 1)
        return "".join(s)
    return None


def prefix_search_over_store(
    spark,
    store_path: str,
    prefix: str,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """ES ``prefix`` query over the postings store: BM25 over every
    indexed term starting with ``prefix``, scored per expanded term
    (each matching token contributes with its own tf/idf — the ES
    multi-term expansion semantics, same as :func:`expand_fuzzy_terms`
    fed to BM25, but resolved without materializing the term list).

    Scale shape: the prefix is a half-open RANGE ``[prefix,
    prefix+1)`` on the token column, which the parquet scan pushes
    down (``PushedFilters: GreaterThanOrEqual/LessThan(token)``) —
    and because the postings are token-range-clustered, the range
    prunes at file/row-group granularity exactly like the ``In``
    pushdown does for exact terms.  Everything after the scan is
    expansion-sized.  Output: ``(doc, score)`` top-k.
    """
    from ..storeio import read_parquet_if_exists

    if not prefix:
        raise ValueError("empty prefix would scan the whole index")
    hi = _prefix_upper_bound(prefix)
    postings, docstats = _read_search_store(spark, store_path)
    if postings is None or docstats is None:
        return spark.createDataFrame([], "doc long, score double")
    stats = docstats.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # startswith is the SEMANTIC predicate (always correct, and itself
    # pushes down as StringStartsWith); the half-open range is the
    # pruning accelerator layered on top.  When the upper bound needed
    # a carry (trailing U+10FFFF dropped), the range over-covers —
    # e.g. ["a\U0010FFFF", "b") admits "ab" — so the range may never
    # stand alone.
    cond = F.col("token").startswith(prefix)
    if hi is not None:
        cond = cond & (F.col("token") >= prefix) & (F.col("token") < hi)
    tf = postings.filter(cond)
    n_t = tf.groupBy("token").agg(
        F.countDistinct("doc").alias("df_t")
    )
    scored = (
        tf.join(F.broadcast(n_t), "token")
        .join(docstats.select("doc", "dl"), "doc")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
        + 1.0
    )
    w = idf * (
        F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        scored.withColumn("w", w)
        .groupBy("doc")
        .agg(F.round(F.sum("w"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc").asc())
        .limit(top_k)
    )


def facets_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    facet_col: str,
) -> DataFrame:
    """ES terms aggregation over the search hit set, served ENTIRELY
    from the index: count the documents matching ANY of ``terms``
    per value of a stored field (``facet_col`` must have been indexed
    via ``incremental_bm25_index(field_cols=[...])`` — the ES
    doc-values idea: per-doc fields ride the docstats frame so facet
    queries never touch the corpus).

    Scale shape: matched ids from ONE token-pruned postings scan
    (``PushedFilters: In(token, …)``), a semi-join against docstats
    (doc-keyed, ∝ matched docs), one facet-keyed count.  ES computes
    aggregations over the FULL matched set, not the top-k page —
    same here.  Output: ``(facet value, n_docs)``, count desc then
    value asc.
    """
    from ..storeio import read_parquet_if_exists

    terms = analyze_store_terms(spark, store_path, terms)
    postings, docstats = _read_search_store(spark, store_path)
    if postings is None or docstats is None:
        return spark.createDataFrame(
            [], f"{facet_col} string, n_docs long"
        )
    if facet_col not in docstats.columns:
        raise ValueError(
            f"field {facet_col!r} is not stored in the index — "
            f"fold batches with field_cols=[{facet_col!r}]"
        )
    matched = (
        postings.filter(F.col("token").isin(*list(terms)))
        .select("doc")
        .distinct()
    )
    return (
        docstats.join(matched, "doc", "left_semi")
        .groupBy(facet_col)
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col(facet_col).asc())
    )


def current_generation(spark, store_path: str) -> int:
    """The store's generation counter (``_bm_params.gen``) — the
    ES point-in-time id analogue: capture it before a mutation and
    :func:`read_search_store_at` serves the pre-mutation view.  0 for
    an insert-only store (folds never bump it; the first CDC batch
    applies at generation 1)."""
    p = _store_params_row(spark, store_path)
    if p is None:
        raise ValueError(f"no search store at {store_path}")
    return int(p.get("gen") or 0)


def read_search_store_at(spark, store_path: str, gen: int):
    """ES point-in-time read over the MVCC store: resolve to the
    state as of generation ``gen`` — docstats rows with ``gen <= g``
    resolve latest-wins per doc minus tombstones, postings semi-join
    the snapshot's live ``(doc, gen)`` pairs.  Mutations applied at
    later generations (updates, deletes, inserts) are invisible, so a
    search that paginates against the snapshot never sees the index
    shift under it — exactly what ES opens PITs for.  Same shapes as
    :func:`_read_search_store`; one docstats-sized window.  The
    snapshot only exists until :func:`compact_bm25_store` reclaims
    superseded generations (the ES PIT keep-alive analogue: vacuum
    invalidates open snapshots — gate it with the maintenance policy).

    Returns ``(None, None)`` when either store is missing; raises on
    a legacy store with no generation column."""
    from ..storeio import read_parquet_if_exists

    postings = read_parquet_if_exists(
        spark, _bm_postings_path(store_path)
    )
    docstats = read_parquet_if_exists(
        spark, _bm_docstats_path(store_path)
    )
    if postings is None or docstats is None:
        return None, None
    if "gen" not in docstats.columns:
        raise ValueError(
            f"store at {store_path} predates generation bookkeeping "
            "(scheme 2) — point-in-time reads need the MVCC columns; "
            "rebuild the index"
        )
    g = int(gen)
    snap = _bm_live_docstats(docstats.filter(F.col("gen") <= g))
    live_postings = postings.filter(F.col("gen") <= g).join(
        snap.select("doc", "gen"), ["doc", "gen"], "left_semi"
    ).drop("gen")
    return live_postings, snap.drop("sig", "gen", "deleted")


def bm25_over_store_pit(
    spark,
    store_path: str,
    terms: Sequence[str],
    gen: int,
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k served from the :func:`read_search_store_at`
    snapshot — scores use the SNAPSHOT's document frequencies and
    length norms, so a PIT search is byte-identical to what the live
    query returned before the later mutations landed."""
    resolved = read_search_store_at(spark, store_path, gen)
    if resolved[0] is None:
        return spark.createDataFrame([], "doc long, score double")
    scored = _bm25_scored(
        spark, store_path, terms, k1, b, None, resolved=resolved
    )
    return scored.orderBy(
        F.col("score").desc(), F.col("doc").asc()
    ).limit(int(top_k))


def _matched_docstats(spark, store_path: str, terms: Sequence[str]):
    """Shared head of every doc-values aggregation over the hit set:
    the docstats rows of documents matching ANY of ``terms`` — one
    token-pruned postings scan (``PushedFilters: In(token, …)``) and
    a doc-keyed semi-join, ∝ matched docs.  Returns None when the
    store is missing."""
    terms = analyze_store_terms(spark, store_path, terms)
    postings, docstats = _read_search_store(spark, store_path)
    if postings is None or docstats is None:
        return None
    matched = (
        postings.filter(F.col("token").isin(*list(terms)))
        .select("doc")
        .distinct()
    )
    return docstats.join(matched, "doc", "left_semi")


def range_agg_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    field: str,
    ranges: Sequence[tuple],
) -> DataFrame:
    """ES ``range`` aggregation over the hit set, served from the
    index: each range is independent (ES buckets may overlap),
    ``from`` inclusive / ``to`` exclusive, ``None`` open, and EMPTY
    buckets are returned at zero like ES does.

    Scale shape: the matched docstats frame cross-joins the
    MODEL-SIZED broadcast range list (a handful of rows), so each doc
    tests each range map-side — ∝ matched docs × #ranges, no extra
    exchange beyond the bucket-count-sized final aggregate.  Output:
    ``(key, n_docs)`` in the given range order."""
    stats = _matched_docstats(spark, store_path, terms)
    if stats is None:
        return spark.createDataFrame([], "key string, n_docs long")

    def key_of(lo, hi):
        return f"{'*' if lo is None else lo}-{'*' if hi is None else hi}"

    rdf = spark.createDataFrame(
        [
            (i, key_of(lo, hi), float("-inf") if lo is None else float(lo),
             float("inf") if hi is None else float(hi))
            for i, (lo, hi) in enumerate(ranges)
        ],
        "ord int, key string, lo double, hi double",
    )
    counts = (
        stats.select(F.col(field).cast("double").alias("__v"))
        .crossJoin(F.broadcast(rdf))
        .filter((F.col("__v") >= F.col("lo")) & (F.col("__v") < F.col("hi")))
        .groupBy("ord", "key")
        .agg(F.count("*").alias("n_docs"))
    )
    return (
        rdf.join(counts, ["ord", "key"], "left")
        .select(
            "key",
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias(
                "n_docs"
            ),
            "ord",
        )
        .orderBy("ord")
        .drop("ord")
    )


def filters_agg_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    filters: "dict[str, Column]",
) -> DataFrame:
    """ES ``filters`` aggregation: named predicate buckets over the
    hit set, each counted independently, served from the stored
    doc-values fields.

    Scale shape: ONE pass over the matched docstats frame computing
    every bucket as a conditional sum (map-side partial aggregation
    to a single row), then the bucket-count-sized result frame is
    built from that row — the filter set is model-sized by
    definition.  Output: ``(filter_name, n_docs)``, name asc."""
    stats = _matched_docstats(spark, store_path, terms)
    names = sorted(filters)
    if stats is None:
        return spark.createDataFrame(
            [], "filter_name string, n_docs long"
        )
    row = stats.agg(
        *[
            F.sum(F.when(filters[n], 1).otherwise(0)).alias(n)
            for n in names
        ]
    ).head()
    return spark.createDataFrame(
        [(n, int(row[n] or 0)) for n in names],
        "filter_name string, n_docs long",
    )


def multi_terms_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    fields: Sequence[str],
    size: int = 10,
) -> DataFrame:
    """ES ``multi_terms`` aggregation: buckets keyed by the VALUE
    TUPLE of several stored fields over the hit set (the composite
    group-by ES runs shard-local then merges — here one distributed
    aggregate).  Docs null in ANY keyed field drop, per ES.  Output:
    ``(*fields, n_docs)``, count desc then fields asc, top ``size``."""
    stats = _matched_docstats(spark, store_path, terms)
    if stats is None:
        # NOTE: keyed fields type as string here — the store (and the
        # fields' real types) does not exist to consult (the top_hits
        # missing-store caveat)
        return spark.createDataFrame(
            [], ", ".join(f"{f} string" for f in fields) + ", n_docs long"
        )
    out = stats
    for f_ in fields:
        out = out.filter(F.col(f_).isNotNull())
    return (
        out.groupBy(*fields)
        .agg(F.count("*").alias("n_docs"))
        .orderBy(
            F.col("n_docs").desc(), *[F.col(f_).asc() for f_ in fields]
        )
        .limit(size)
    )


def rare_terms_over_store(
    spark,
    store_path: str,
    max_doc_count: int = 1,
) -> DataFrame:
    """ES ``rare_terms`` aggregation: the long-tail terms — every
    token whose index-wide document frequency is ≤ ``max_doc_count``
    (the inverse of ``terms``' most-common ordering; ES implements it
    with a CuckooFilter sweep for the same reason a naive terms agg
    with ascending sort would have to visit every bucket).

    Scale shape: served from the same live-df source as
    significant_terms' background (:func:`_background_df`) — the
    tokenstats ROLLUP when provably in sync (vocabulary-sized sidecar
    read, no postings touch), the exact postings-wide aggregate
    otherwise.  Output: ``(token, df)``, df asc then token asc."""
    postings, docstats = _read_search_store(spark, store_path)
    if postings is None or docstats is None:
        return spark.createDataFrame([], "token string, df long")
    n_live = docstats.count()
    bg = _background_df(spark, store_path, postings, n_live)
    return (
        bg.filter(F.col("bg_df") <= int(max_doc_count))
        .select("token", F.col("bg_df").alias("df"))
        .orderBy(F.col("df").asc(), F.col("token").asc())
    )


def percentiles_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    field: str,
    percents: Sequence[float] = (25.0, 50.0, 75.0, 95.0),
) -> DataFrame:
    """ES ``percentiles`` aggregation over a stored field of the hit
    set.  EXACT linear-interpolation percentiles (Spark's
    ``percentile``, the ``quantile_cont`` semantics) rather than ES's
    t-digest approximation — cross-engine value-pinnable, and the
    matched set a percentile query aggregates is the search hit set,
    not the corpus.  At true scale swap in ``percentile_approx``
    (ES's own accuracy class) if the hit set itself is corpus-sized.
    Output: ``(pct, value)`` in the given percent order."""
    stats = _matched_docstats(spark, store_path, terms)
    if stats is None:
        return spark.createDataFrame([], "pct double, value double")
    pcts = [float(p) for p in percents]
    # round IN-PLAN (F.round is half-away-from-zero, matching the
    # oracle's SQL round) — Python's round() is banker's and would
    # silently break the cross-engine value pin on .5e-6 boundaries
    row = stats.agg(
        F.transform(
            F.percentile(
                F.col(field).cast("double"),
                F.array(*[F.lit(p / 100.0) for p in pcts]),
            ),
            lambda x: F.round(x, 6),
        ).alias("q")
    ).head()
    vals = row["q"] or [None] * len(pcts)
    return spark.createDataFrame(
        [
            (p, None if v is None else float(v))
            for p, v in zip(pcts, vals)
        ],
        "pct double, value double",
    )


def geo_distance_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    lat: float,
    lon: float,
    radius_km: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    k: int = 10,
) -> DataFrame:
    """ES ``geo_distance`` query + distance sort over the hit set:
    documents matching ``terms`` whose stored point lies within
    ``radius_km`` (haversine, mean earth radius 6371 km), nearest
    first — the "coffee shops near me matching 'wifi'" shape.

    Scale shape: the distance is whole-stage-codegen trig over the
    matched docstats frame (∝ matched docs), the filter cuts before
    the top-k TakeOrdered — no index-wide work beyond the token-pruned
    match.  (A geo-heavy deployment would add a geohash/S2 cell
    column and range-prune cells before the exact test — the same
    cellstats pattern as the IVF store; documented, not built, since
    the fixture's point set is corpus-small.)  Output: ``(doc,
    dist_km)`` rounded 6dp, distance asc then doc asc, top ``k``."""
    stats = _matched_docstats(spark, store_path, terms)
    if stats is None:
        return spark.createDataFrame([], "doc long, dist_km double")
    phi1, phi2 = F.radians(F.lit(float(lat))), F.radians(F.col(lat_col))
    dphi = F.radians(F.col(lat_col) - F.lit(float(lat)))
    dlam = F.radians(F.col(lon_col) - F.lit(float(lon)))
    a = (
        F.pow(F.sin(dphi / 2), 2)
        + F.cos(phi1) * F.cos(phi2) * F.pow(F.sin(dlam / 2), 2)
    )
    dist = F.lit(2.0 * 6371.0) * F.asin(F.sqrt(a))
    return (
        stats.select("doc", F.round(dist, 6).alias("dist_km"))
        .filter(F.col("dist_km") <= float(radius_km))
        .orderBy(F.col("dist_km").asc(), F.col("doc").asc())
        .limit(int(k))
    )


def geo_bbox_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    lat_min: float,
    lat_max: float,
    lon_min: float,
    lon_max: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """ES ``geo_bounding_box`` filter over the hit set: matched docs
    whose stored point falls inside the box (edges inclusive, per
    ES).  Pure comparisons over the matched docstats frame — the box
    is a pushdown-friendly conjunction, no trig.  Output: ``(doc,
    lat, lon)``, doc asc."""
    stats = _matched_docstats(spark, store_path, terms)
    if stats is None:
        return spark.createDataFrame(
            [], "doc long, lat double, lon double"
        )
    return (
        stats.filter(
            (F.col(lat_col) >= float(lat_min))
            & (F.col(lat_col) <= float(lat_max))
            & (F.col(lon_col) >= float(lon_min))
            & (F.col(lon_col) <= float(lon_max))
        )
        .select("doc", lat_col, lon_col)
        .orderBy(F.col("doc").asc())
    )


def terms_set_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    min_match: int,
) -> DataFrame:
    """ES ``terms_set`` query: documents containing at least
    ``min_match`` DISTINCT terms of the given set — the
    minimum_should_match generalization between OR (1) and AND
    (len(terms)).

    Scale shape: one token-pruned postings scan; postings are unique
    per (token, doc) so the per-doc matched-term count is a plain
    count, no distinct exchange.  Output: ``(doc, n_matched)``,
    n desc then doc asc."""
    postings, _ds = _read_search_store(spark, store_path)
    if postings is None:
        return spark.createDataFrame([], "doc long, n_matched long")
    return (
        postings.filter(
            F.col("token").isin(*list(dict.fromkeys(terms)))
        )
        .groupBy("doc")
        .agg(F.count("*").alias("n_matched"))
        .filter(F.col("n_matched") >= int(min_match))
        .orderBy(F.col("n_matched").desc(), F.col("doc").asc())
    )


def span_first_over_store(
    spark,
    store_path: str,
    term: str,
    end: int,
) -> DataFrame:
    """ES ``span_first`` query: documents where ``term`` occurs
    within the first ``end`` positions (0-based: position < end) —
    the "title-ish match" heuristic over a positional index.

    Scale shape: one single-token pruned postings scan; the position
    test is an array predicate over the stored position list, no
    explode.  Output: ``(doc, first_pos)`` — the earliest qualifying
    position — doc asc."""
    postings, _ds = _read_search_store(spark, store_path)
    if postings is None:
        return spark.createDataFrame([], "doc long, first_pos long")
    qualifying = F.filter("pos", lambda p: p < F.lit(int(end)))
    return (
        postings.filter(F.col("token") == term)
        .select("doc", F.array_min(qualifying).alias("first_pos"))
        .filter(F.col("first_pos").isNotNull())
        .select("doc", F.col("first_pos").cast("long").alias("first_pos"))
        .orderBy(F.col("doc").asc())
    )


def span_near_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    slop: int = 0,
    in_order: bool = True,
) -> DataFrame:
    """ES ``span_near``: documents where ALL ``terms`` occur within a
    window of total gap ≤ ``slop`` — the Lucene contract for
    unit-length clauses: ``(max_pos − min_pos + 1) − n ≤ slop``, with
    ``in_order`` additionally requiring the chosen positions ascend
    in term order.  ``slop=0, in_order=True`` degenerates to the
    exact phrase.  Terms analyze through the store's chain.

    Scale shape: one single-token-pruned postings scan per term
    (``PushedFilters: In(token, …)`` semantics — each term's
    positions ride ONE array row per doc), doc-keyed joins of those
    matched-sized frames, and the window test is a nested ``EXISTS``
    higher-order predicate over the n position arrays — whole-stage
    codegen, no explode, no shuffle beyond the doc joins.  Worst-case
    per-doc cost is the product of the terms' occurrence counts,
    the same combinatorial bound Lucene's sloppy spans pay.  Output:
    ``(doc)`` matched docs, doc asc — membership, like the ES span
    family (span scoring is out of scope)."""
    terms = analyze_store_terms(spark, store_path, terms)
    n = len(terms)
    if n < 2:
        raise ValueError("span_near needs at least two terms")
    postings, _ds = _read_search_store(spark, store_path)
    if postings is None:
        return spark.createDataFrame([], "doc long")
    base = None
    for i, t in enumerate(terms):
        p = postings.filter(F.col("token") == t).select(
            "doc", F.col("pos").alias(f"__p{i}")
        )
        base = p if base is None else base.join(p, "doc")

    def build(i: int, chosen: list):
        if i == n:
            arr = F.array(*chosen)
            cond = (
                F.array_max(arr) - F.array_min(arr)
                + F.lit(1) - F.lit(n)
            ) <= F.lit(int(slop))
            if in_order:
                for j in range(n - 1):
                    cond = cond & (chosen[j] < chosen[j + 1])
            return cond
        # closure factory, not a defaulted lambda arg: pyspark's HOF
        # wrapper counts EVERY parameter (defaults included) and
        # would bind the index column to it
        def deeper(idx, prefix):
            return lambda x: build(idx + 1, prefix + [x])

        return F.exists(F.col(f"__p{i}"), deeper(i, chosen))

    return (
        base.filter(build(0, []))
        .select("doc")
        .orderBy(F.col("doc").asc())
    )


def bool_search_over_store(
    spark,
    store_path: str,
    must: Sequence[str] = (),
    should: Sequence[str] = (),
    must_not: Sequence[str] = (),
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """ES ``bool`` query over the postings store: candidates contain
    ALL ``must`` terms and NONE of ``must_not``; the score is the BM25
    sum over the candidate's ``must`` + ``should`` term matches
    (``should`` boosts ranking without gating membership — the ES
    semantics when ``must`` is present; with no ``must``, ``should``
    gates as an OR).

    Scale shape: ONE postings scan filtered to the union of all three
    clauses' terms (``PushedFilters: In(token, …)``); the must gate is
    a distinct-token count against ``len(must)``, the must_not gate a
    broadcast anti-join of blocked doc ids — every frame after the
    scan is query-terms-sized except the docstats length-norm join.
    Scoring math identical to :func:`bm25_over_store` restricted to
    the gated candidates.  Output: ``(doc, score)`` top-k.
    """
    from ..storeio import read_parquet_if_exists

    must = list(
        dict.fromkeys(analyze_store_terms(spark, store_path, must))
    )
    should = list(
        dict.fromkeys(analyze_store_terms(spark, store_path, should))
    )
    must_not = list(
        dict.fromkeys(analyze_store_terms(spark, store_path, must_not))
    )
    if not must and not should:
        raise ValueError("bool query needs at least one must/should term")
    all_terms = sorted(set(must) | set(should) | set(must_not))
    postings, docstats = _read_search_store(spark, store_path)
    if postings is None or docstats is None:
        return spark.createDataFrame([], "doc long, score double")
    tf = postings.filter(F.col("token").isin(all_terms)).select(
        "doc", "token", "tf"
    )
    gate_terms = must if must else should
    need = len(must) if must else 1
    cand = (
        tf.filter(F.col("token").isin(gate_terms))
        .groupBy("doc")
        .agg(F.countDistinct("token").alias("__nt"))
        .filter(F.col("__nt") >= need)
        .select("doc")
    )
    if must_not:
        blocked = (
            tf.filter(F.col("token").isin(must_not))
            .select("doc")
            .distinct()
        )
        cand = cand.join(F.broadcast(blocked), "doc", "left_anti")
    score_terms = sorted(set(must) | set(should))
    scored_tf = tf.filter(F.col("token").isin(score_terms)).join(
        cand, "doc", "left_semi"
    )
    stats = docstats.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # df_t over the SCANNED term set (matches the oracle's tf CTE):
    # document frequency is a corpus property, not a candidate one
    n_t = tf.groupBy("token").agg(
        F.countDistinct("doc").alias("df_t")
    )
    scored = (
        scored_tf.join(F.broadcast(n_t), "token")
        .join(docstats, "doc")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
        + 1.0
    )
    w = idf * (
        F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        scored.withColumn("w", w)
        .groupBy("doc")
        .agg(F.round(F.sum("w"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc").asc())
        .limit(top_k)
    )


def expand_fuzzy_terms(
    spark,
    store_path: str,
    terms: Sequence[str],
    max_dist: int = 1,
) -> list[str]:
    """ES ``fuzziness`` term expansion against the INDEX VOCABULARY:
    every distinct stored token within Levenshtein ``max_dist`` of any
    query term.  The vocabulary frame is index-metadata-sized (distinct
    tokens, not postings), the distance runs as the JVM ``levenshtein``
    with its early-exit threshold form, and the expanded set collects
    as driver-side model state (the query-vector budget class) to feed
    :func:`bm25_over_store` / :func:`bool_search_over_store`."""
    from ..storeio import read_parquet_if_exists

    postings, _ds = _read_search_store(spark, store_path)
    if postings is None:
        return []
    vocab = postings.select("token").distinct()
    cond = None
    for t in dict.fromkeys(terms):
        c = F.levenshtein(F.col("token"), F.lit(t)) <= max_dist
        cond = c if cond is None else (cond | c)
    return sorted(
        r["token"] for r in vocab.filter(cond).collect()
    )


def wildcard_to_regex(pattern: str) -> str:
    """ES ``wildcard`` pattern -> anchored regex: ``*`` matches any
    run (including empty), ``?`` exactly one character, everything
    else literal.  The produced regex stays inside the portable
    subset (escaped literals, ``.*``, ``.``) so the SAME string runs
    under Java regex (Spark ``rlike``) and RE2/DuckDB — the oracle
    replays it verbatim."""
    import re as _re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return "^" + "".join(out) + "$"


def _wildcard_literal_prefix(pattern: str) -> str:
    """The literal run before the first wildcard metacharacter —
    the scannable prefix ES's wildcard rewriting also exploits."""
    for i, ch in enumerate(pattern):
        if ch in "*?":
            return pattern[:i]
    return pattern


def expand_wildcard_terms(
    spark,
    store_path: str,
    pattern: str,
    max_terms: int = 1024,
) -> list[str]:
    """ES ``wildcard`` query term expansion against the INDEX
    VOCABULARY: every distinct stored token matching the pattern
    (``*`` = any run, ``?`` = one char), returned sorted as
    driver-side model state for :func:`bm25_over_store` /
    :func:`bool_search_over_store` — the same shape as
    :func:`expand_fuzzy_terms`.

    Scale shape: when the pattern has a LITERAL PREFIX before its
    first wildcard, the half-open token range ``[prefix, next)``
    pushes into the postings scan exactly like
    :func:`prefix_search_over_store` — the vocabulary distinct runs
    over the pruned files only.  A LEADING wildcard (``*foo``) cannot
    prune and sweeps the whole vocabulary, the same cost cliff ES
    documents for its wildcard query; it stays correct, just
    index-vocabulary-sized.  ``max_terms`` guards the driver-side
    expansion (ES's ``indices.query.bool.max_clause_count``): raise
    rather than silently truncate — a truncated expansion returns
    silently WRONG results."""
    postings, _ds = _read_search_store(spark, store_path)
    if postings is None:
        return []
    prefix = _wildcard_literal_prefix(pattern)
    if prefix:
        cond = F.col("token").startswith(prefix)
        hi = _prefix_upper_bound(prefix)
        if hi is not None:
            cond = cond & (F.col("token") >= prefix) & (F.col("token") < hi)
        postings = postings.filter(cond)
    vocab = postings.select("token").distinct()
    rows = (
        vocab.filter(F.col("token").rlike(wildcard_to_regex(pattern)))
        .limit(max_terms + 1)
        .collect()
    )
    if len(rows) > max_terms:
        raise ValueError(
            f"wildcard {pattern!r} expands past max_terms={max_terms} "
            "— narrow the pattern (a truncated expansion would score "
            "silently wrong)"
        )
    return sorted(r["token"] for r in rows)


def expand_regexp_terms(
    spark,
    store_path: str,
    regex: str,
    max_terms: int = 1024,
) -> list[str]:
    """ES ``regexp`` query term expansion: every distinct stored token
    whose ENTIRE text matches ``regex`` (ES anchors implicitly; so
    does this — the pattern is wrapped ``^(?:...)$``).  Keep the
    pattern inside the Java-regex/RE2 common subset so the DuckDB
    oracle can run the identical expression.  Whole-vocabulary sweep
    by design (a general regex has no scannable prefix); the
    vocabulary frame is index-metadata-sized and ``max_terms`` guards
    the driver-side expansion."""
    postings, _ds = _read_search_store(spark, store_path)
    if postings is None:
        return []
    vocab = postings.select("token").distinct()
    rows = (
        vocab.filter(F.col("token").rlike(f"^(?:{regex})$"))
        .limit(max_terms + 1)
        .collect()
    )
    if len(rows) > max_terms:
        raise ValueError(
            f"regexp {regex!r} expands past max_terms={max_terms} — "
            "narrow the pattern"
        )
    return sorted(r["token"] for r in rows)


def filtered_bm25_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    filters: Sequence[tuple],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """ES bool FILTER CONTEXT over the store: BM25 top-k over
    ``terms`` restricted to documents whose STORED FIELDS satisfy
    every filter — range-filtered retrieval served entirely from the
    index (the ``field_cols`` doc-values mechanism;
    :func:`facets_over_store` proves the read path, this adds the
    query shape).

    ``filters`` is a list of ``(column, op, value)`` with op in
    ``= != > >= < <= exists missing`` (the last two ignore ``value``
    — the ES ``exists`` query and its negation over a stored field);
    conjunctive (ES filter clauses AND).  ES
    semantics preserved: filters gate MEMBERSHIP but never scoring —
    idf/avgdl/n_docs stay whole-index statistics, so a document's
    score is identical with or without unrelated filters (the
    filter-context-is-non-scoring contract).

    Scale shape: the postings scan pushes ``In(token, …)``; the
    docstats scan pushes the field predicates (doc-values pushdown —
    ``PushedFilters`` on the stored columns); the corpus is never
    touched.  Everything after the scans is query-terms-sized except
    the doc-keyed docstats join the unfiltered query already pays.
    Output: ``(doc, score)`` top-k.
    """
    _OPS = {
        "=": lambda c, v: c == v,
        "!=": lambda c, v: c != v,
        ">": lambda c, v: c > v,
        ">=": lambda c, v: c >= v,
        "<": lambda c, v: c < v,
        "<=": lambda c, v: c <= v,
        "exists": lambda c, v: c.isNotNull(),
        "missing": lambda c, v: c.isNull(),
    }
    postings, docstats = _read_search_store(spark, store_path)
    if postings is None or docstats is None:
        return spark.createDataFrame([], "doc long, score double")
    for col, op, _v in filters:
        if col not in docstats.columns:
            raise ValueError(
                f"field {col!r} is not stored in the index — fold "
                f"batches with field_cols=[{col!r}]"
            )
        if op not in _OPS:
            raise ValueError(f"unsupported filter op {op!r}")
    # whole-index statistics (ES filter context never rescales idf)
    stats = docstats.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = postings.filter(F.col("token").isin(*list(terms)))
    n_t = tf.groupBy("token").agg(F.countDistinct("doc").alias("df_t"))
    gated = docstats
    for col, op, v in filters:
        gated = gated.filter(_OPS[op](F.col(col), F.lit(v)))
    scored = (
        tf.join(gated.select("doc", "dl"), "doc")  # gate + length norm
        .join(F.broadcast(n_t), "token")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
        + 1.0
    )
    w = idf * (
        F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        scored.withColumn("w", w)
        .groupBy("doc")
        .agg(F.round(F.sum("w"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc").asc())
        .limit(top_k)
    )


def histogram_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    field: str,
    interval: float,
) -> DataFrame:
    """ES ``histogram`` aggregation over the search hit set, served
    ENTIRELY from the index: bucket the documents matching ANY of
    ``terms`` by ``floor(field / interval) * interval`` over a STORED
    numeric field (the doc-values mechanism — ``field_cols`` at index
    time).  ES computes aggregations over the FULL matched set, not
    the top-k page — same here; empty buckets are omitted (ES
    ``min_doc_count=1`` behavior).

    Scale shape: one token-pruned postings scan for the matched ids,
    one semi-join against docstats (∝ matched docs), one bucket-keyed
    count.  The corpus is never touched.  Output: ``(bucket,
    n_docs)``, bucket asc."""
    terms = analyze_store_terms(spark, store_path, terms)
    postings, docstats = _read_search_store(spark, store_path)
    if postings is None or docstats is None:
        return spark.createDataFrame([], "bucket double, n_docs long")
    if field not in docstats.columns:
        raise ValueError(
            f"field {field!r} is not stored in the index — fold "
            f"batches with field_cols=[{field!r}]"
        )
    if interval <= 0:
        raise ValueError("histogram interval must be positive")
    matched = (
        postings.filter(F.col("token").isin(*list(terms)))
        .select("doc")
        .distinct()
    )
    return (
        docstats.join(matched, "doc", "left_semi")
        .filter(F.col(field).isNotNull())
        .groupBy(
            (
                F.floor(F.col(field) / F.lit(float(interval)))
                * F.lit(float(interval))
            ).alias("bucket")
        )
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.col("bucket").asc())
    )


def date_histogram_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    field: str,
    interval: str = "month",
) -> DataFrame:
    """ES ``date_histogram`` aggregation over the search hit set,
    served ENTIRELY from the index: bucket the documents matching ANY
    of ``terms`` by calendar interval (``day``/``week``/``month``/
    ``quarter``/``year``) over a STORED date field (doc values —
    ``field_cols`` at index time).  ES aggregates over the FULL
    matched set, omits empty buckets (``min_doc_count=1``) and drops
    docs with no value (default ``missing`` behavior) — all three
    pinned by the registry oracle.

    Scale shape: identical to :func:`histogram_over_store` — one
    token-pruned postings scan for the matched ids (``PushedFilters:
    In(token, …)``), one doc-keyed semi-join against docstats
    (∝ matched docs), one bucket-keyed count; the corpus is never
    touched.  Output: ``(bucket, n_docs)``, bucket asc."""
    allowed = {"day", "week", "month", "quarter", "year"}
    if interval not in allowed:
        raise ValueError(
            f"calendar interval must be one of {sorted(allowed)}"
        )
    terms = analyze_store_terms(spark, store_path, terms)
    postings, docstats = _read_search_store(spark, store_path)
    if postings is None or docstats is None:
        return spark.createDataFrame([], "bucket date, n_docs long")
    if field not in docstats.columns:
        raise ValueError(
            f"field {field!r} is not stored in the index — fold "
            f"batches with field_cols=[{field!r}]"
        )
    matched = (
        postings.filter(F.col("token").isin(*list(terms)))
        .select("doc")
        .distinct()
    )
    if interval == "day":
        bucket = F.col(field).cast("date")
    else:
        bucket = F.trunc(F.col(field), interval)
    return (
        docstats.join(matched, "doc", "left_semi")
        .filter(F.col(field).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.col("bucket").asc())
    )


def date_histogram_pipeline_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    field: str,
    interval: str = "month",
) -> DataFrame:
    """ES PIPELINE aggregations over the date_histogram buckets:
    ``cumulative_sum`` (running total of matched docs) and
    ``derivative`` (bucket-over-bucket delta, NULL for the first
    bucket, per ES) computed as second-pass windows over the bucket
    frame — the parent histogram runs the usual token-pruned scan +
    doc-values semi-join; the pipeline stage operates on the
    BUCKET-COUNT-sized result (a calendar axis, bounded by the time
    range, never the corpus), so its single-partition window is
    model-sized by construction.  Output: ``(bucket, n_docs,
    cum_docs, delta_docs)``, bucket asc."""
    from pyspark.sql import Window

    hist = date_histogram_over_store(
        spark, store_path, terms, field, interval
    )
    w = Window.orderBy(F.col("bucket").asc())
    return hist.select(
        "bucket",
        "n_docs",
        F.sum("n_docs")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_docs"),
        (F.col("n_docs") - F.lag("n_docs").over(w)).alias("delta_docs"),
    ).orderBy(F.col("bucket").asc())


def composite_agg_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    sources: Sequence[tuple],
    size: int = 10,
    after: tuple | None = None,
) -> DataFrame:
    """ES ``composite`` aggregation — the scalable paginated agg:
    multi-source buckets ``(value_1, …, value_n)`` in source order,
    ``size`` at a time, resumed with the ``after`` key (the last
    returned bucket) as a strictly-greater lexicographic cursor.
    ``sources`` is ``[(col, kind, param), …]`` with kind ``terms``
    (param ignored) or ``histogram`` (param = interval).  Docs missing
    any source value are omitted (ES default).  Concatenated pages
    tile the full ordered bucket list exactly (pinned by the registry
    oracle's LIMIT/OFFSET twin).

    Scale shape: the reason ES recommends composite over deep terms
    aggs — each page is one token-pruned scan + doc-values semi-join +
    bucket aggregate + a TakeOrdered of ``size`` buckets; the cursor
    is a predicate, so page N+1 costs the same as page 1 and no
    offset materializes.  Output: source columns + ``n_docs``."""
    terms = analyze_store_terms(spark, store_path, terms)
    postings, docstats = _read_search_store(spark, store_path)
    if postings is None or docstats is None:
        # keep the documented output shape on a missing store (source
        # columns type as string — no store to consult for real types)
        cols = ", ".join(f"`{c}` string" for c, _k, _p in sources)
        return spark.createDataFrame(
            [], f"{cols}, n_docs long" if sources else "n_docs long"
        )
    keys = []
    hits = docstats.join(
        postings.filter(F.col("token").isin(*list(terms)))
        .select("doc")
        .distinct(),
        "doc",
        "left_semi",
    )
    for col, kind, param in sources:
        if col not in docstats.columns:
            raise ValueError(
                f"field {col!r} is not stored in the index — fold "
                f"batches with field_cols=[{col!r}]"
            )
        if kind == "terms":
            keys.append(F.col(col).alias(col))
        elif kind == "histogram":
            if not param or float(param) <= 0:
                raise ValueError("histogram source needs an interval")
            keys.append(
                (
                    F.floor(F.col(col) / F.lit(float(param)))
                    * F.lit(float(param))
                ).alias(col)
            )
        else:
            raise ValueError(f"unknown composite source kind {kind!r}")
        hits = hits.filter(F.col(col).isNotNull())
    names = [c[0] for c in sources]
    buckets = hits.groupBy(*keys).agg(F.count("*").alias("n_docs"))
    if after is not None:
        if len(after) != len(names):
            raise ValueError("after key must match the source count")
        # strictly-greater lexicographic cursor
        pred = F.lit(False)
        eq = F.lit(True)
        for name, a in zip(names, after):
            pred = pred | (eq & (F.col(name) > F.lit(a)))
            eq = eq & (F.col(name) == F.lit(a))
        buckets = buckets.filter(pred)
    order = [F.col(n).asc() for n in names]
    return buckets.orderBy(*order).limit(size)


def adjacency_matrix_over_store(
    spark,
    store_path: str,
    filters: Mapping[str, Sequence[str]],
) -> DataFrame:
    """ES ``adjacency_matrix`` aggregation: named term filters, and
    the document counts of every filter AND every pairwise
    intersection — the co-occurrence matrix behind "users who matched
    A also matched B" dashboards.  Intersection keys join the two
    names with ``&`` in sorted order, per ES.

    Scale shape: ONE postings scan filtered to the union of all
    filters' terms produces a ``(doc, filter)`` membership frame
    (deduped map-side); the self-join for pairs runs on THAT frame —
    ∝ matching docs × their filter count, never the corpus — and the
    named-filter count is bounded by ES's own ``index.max_adjacency_
    matrix_filters``-style small N.  Output: ``(key, n_docs)``, key
    asc."""
    if not filters:
        raise ValueError("adjacency_matrix needs at least one filter")
    filters = {
        k: analyze_store_terms(spark, store_path, ts)
        for k, ts in filters.items()
    }
    postings, _ds = _read_search_store(spark, store_path)
    if postings is None:
        return spark.createDataFrame([], "key string, n_docs long")
    all_terms = sorted({t for ts in filters.values() for t in ts})
    tok = postings.filter(F.col("token").isin(all_terms)).select(
        "doc", "token"
    )
    mapping = [
        (name, t) for name, ts in filters.items() for t in set(ts)
    ]
    mdf = spark.createDataFrame(mapping, "name string, token string")
    membership = (
        tok.join(F.broadcast(mdf), "token").select("doc", "name").distinct()
    )
    singles = membership.groupBy("name").agg(
        F.count("*").alias("n_docs")
    ).select(F.col("name").alias("key"), "n_docs")
    a = membership.alias("a")
    b = membership.alias("b")
    pairs = (
        a.join(b, F.col("a.doc") == F.col("b.doc"))
        .filter(F.col("a.name") < F.col("b.name"))
        .groupBy("a.name", "b.name")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.concat_ws("&", F.col("a.name"), F.col("b.name")).alias(
                "key"
            ),
            "n_docs",
        )
    )
    return singles.unionByName(pairs).orderBy(F.col("key").asc())


def function_score_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    field: str,
    modifier: str = "log1p",
    weight: float = 1.0,
    missing: float = 1.0,
    boost_mode: str = "multiply",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """ES ``function_score`` + ``field_value_factor``: re-rank the
    BM25 relevance by a function of a STORED numeric field —
    ``factor = weight * modifier(coalesce(field, missing))`` combined
    with the query score per ``boost_mode`` (``multiply`` or ``sum``).
    Modifiers follow ES semantics exactly: ``log1p`` is the COMMON
    (base-10) log of ``value + 1``, ``ln1p`` the natural one;
    ``missing`` substitutes before the modifier applies.

    Scale shape: the scored frame is :func:`bm25_over_store`'s
    token-pruned plan (∝ matching docs), plus ONE doc-keyed join
    against a column-pruned docstats projection for the boost field —
    the corpus is never read, and the factor math is a pure JVM
    projection.  Output: ``(doc, score)`` top-k, score desc / doc asc.
    """
    mods = {
        "none": lambda v: v,
        "log1p": lambda v: F.log10(v + F.lit(1.0)),
        "ln1p": lambda v: F.log(v + F.lit(1.0)),
        "sqrt": F.sqrt,
        "square": lambda v: v * v,
        "reciprocal": lambda v: F.lit(1.0) / v,
    }
    if modifier not in mods:
        raise ValueError(
            f"field_value_factor modifier must be one of {sorted(mods)}"
        )
    if boost_mode not in ("multiply", "sum"):
        raise ValueError("boost_mode must be 'multiply' or 'sum'")
    resolved = _read_search_store(spark, store_path)
    scored = _bm25_scored(
        spark, store_path, terms, k1, b, resolved=resolved
    )
    if scored is None:
        return spark.createDataFrame([], "doc long, score double")
    docstats = resolved[1]
    if field not in docstats.columns:
        raise ValueError(
            f"field {field!r} is not stored in the index — fold "
            f"batches with field_cols=[{field!r}]"
        )
    val = F.coalesce(
        F.col(field).cast("double"), F.lit(float(missing))
    )
    factor = F.lit(float(weight)) * mods[modifier](val)
    combined = (
        F.col("score") * factor
        if boost_mode == "multiply"
        else F.col("score") + factor
    )
    return (
        scored.join(docstats.select("doc", field), "doc")
        .select("doc", F.round(combined, 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc").asc())
        .limit(top_k)
    )


def stats_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    field: str,
    cardinality_col: str | None = None,
) -> DataFrame:
    """ES ``stats`` aggregation (+ optional ``cardinality``) over the
    search hit set, served from the index: count / min / max / avg /
    sum of a STORED numeric field across ALL documents matching any of
    ``terms``, plus the distinct-value count of ``cardinality_col``.
    ES's cardinality is an HLL approximation; this serves the EXACT
    count (the approximate path exists as the HLL profile store in
    operators/profile.py — at true scale swap in
    ``approx_count_distinct`` for the ES-faithful trade).

    Scale shape: one token-pruned postings scan for the matched ids,
    one docstats semi-join (∝ matched docs), one global aggregate —
    the corpus is never read.  Output: one row ``(n_docs, min_v,
    max_v, avg_v, sum_v[, n_distinct])``."""
    terms = analyze_store_terms(spark, store_path, terms)
    postings, docstats = _read_search_store(spark, store_path)
    if postings is None or docstats is None:
        schema = (
            "n_docs long, min_v double, max_v double, avg_v double,"
            " sum_v double"
        )
        if cardinality_col:
            schema += ", n_distinct long"
        return spark.createDataFrame([], schema)
    for c in filter(None, (field, cardinality_col)):
        if c not in docstats.columns:
            raise ValueError(
                f"field {c!r} is not stored in the index — fold "
                f"batches with field_cols=[{c!r}]"
            )
    matched = (
        postings.filter(F.col("token").isin(*list(terms)))
        .select("doc")
        .distinct()
    )
    hits = docstats.join(matched, "doc", "left_semi")
    v = F.col(field).cast("double")
    aggs = [
        F.count(v).alias("n_docs"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.round(F.avg(v), 6).alias("avg_v"),
        F.round(F.sum(v), 6).alias("sum_v"),
    ]
    if cardinality_col:
        aggs.append(
            F.countDistinct(F.col(cardinality_col)).alias("n_distinct")
        )
    return hits.agg(*aggs)


def decay_score_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    field: str,
    origin: str,
    scale_days: float,
    offset_days: float = 0.0,
    decay: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """ES ``function_score`` with a ``gauss`` DATE decay: BM25
    relevance multiplied by ``exp(-d'^2 * ln(1/decay) / scale^2)``
    where ``d' = max(0, |days(field - origin)| - offset)`` — the
    recency-boost shape ("full score within ``offset`` of ``origin``,
    decayed to ``decay`` at ``scale`` days out").  The constant
    follows ES's definition: the multiplier equals ``decay`` exactly
    at ``offset + scale``.  Docs with no value keep their query score
    (factor 1 — ES treats missing as origin-distance 0).

    Scale shape: the BM25 plan (token-pruned) plus one doc-keyed join
    against a column-pruned docstats projection; the decay is a pure
    JVM projection.  Output: ``(doc, score)`` top-k."""
    import math

    if not (0.0 < decay < 1.0):
        raise ValueError("decay must be in (0, 1)")
    if scale_days <= 0:
        raise ValueError("scale must be positive")
    import datetime as _dt

    # parse driver-side: under ANSI-off a malformed origin would cast
    # to NULL and silently return UNDECAYED BM25 for every doc
    origin_d = (
        origin
        if isinstance(origin, _dt.date)
        else _dt.date.fromisoformat(str(origin))
    )
    resolved = _read_search_store(spark, store_path)
    scored = _bm25_scored(
        spark, store_path, terms, k1, b, resolved=resolved
    )
    if scored is None:
        return spark.createDataFrame([], "doc long, score double")
    docstats = resolved[1]
    if field not in docstats.columns:
        raise ValueError(
            f"field {field!r} is not stored in the index — fold "
            f"batches with field_cols=[{field!r}]"
        )
    c = math.log(1.0 / decay) / float(scale_days) ** 2
    d = F.greatest(
        F.lit(0.0),
        F.abs(
            F.datediff(F.col(field), F.lit(origin_d))
        ).cast("double")
        - F.lit(float(offset_days)),
    )
    factor = F.coalesce(
        F.exp(F.lit(-c) * d * d), F.lit(1.0)
    )
    return (
        scored.join(docstats.select("doc", field), "doc")
        .select(
            "doc", F.round(F.col("score") * factor, 6).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("doc").asc())
        .limit(top_k)
    )


def _background_df(spark, store_path: str, postings, n_live: int):
    """``(token, bg_df)`` over the LIVE index — the per-token document
    frequency every index-wide statistic needs (significant_terms'
    background, rare_terms' rarity cut).  Serves from the store-level
    ``tokenstats`` rollup when it is provably in sync (unmutated store
    AND the rollup's doc marker equals ``n_live``, the live docstats
    count the caller already has); otherwise the exact one-pass
    postings-wide aggregate.  Postings are unique per (token, doc) by
    construction, so df is a plain count either way."""
    from ..storeio import read_parquet_if_exists, read_params_rows

    rows = read_params_rows(spark, _bm_params_path(store_path))
    p_row = rows[0] if rows else None
    unmutated = p_row is not None and not bool(
        p_row.asDict().get("mutated", True)
    )
    tokenstats = (
        read_parquet_if_exists(spark, _bm_tokenstats_path(store_path))
        if unmutated
        else None
    )
    if tokenstats is not None:
        # the trust probe reads ONLY the doc-marker rows (IsNull
        # pushes into the sidecar scan); the vocabulary aggregate
        # stays lazy inside the caller's main plan
        marker = (
            tokenstats.filter(F.col("token").isNull())
            .agg(F.sum("df"))
            .head()[0]
        )
        if marker is not None and int(marker) == int(n_live):
            return (
                tokenstats.filter(F.col("token").isNotNull())
                .groupBy("token")
                .agg(F.sum("df").alias("bg_df"))
            )
    return postings.groupBy("token").agg(F.count("*").alias("bg_df"))


def significant_terms_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    size: int = 10,
) -> DataFrame:
    """ES ``significant_terms`` aggregation served from the index:
    for the FOREGROUND set (documents matching ANY of ``terms``),
    find the tokens whose foreground document frequency is unusually
    high vs the whole-index BACKGROUND, scored by JLH —
    ``(fg_rate - bg_rate) * (fg_rate / bg_rate)`` with
    ``fg_rate = fg_df / n_fg`` and ``bg_rate = bg_df / n_bg`` — the
    ES superset counting (the background includes the foreground).
    Only terms with ``fg_rate > bg_rate`` qualify, per ES.

    Scale shape: the foreground leg is the usual token-pruned scan +
    a postings semi-join (∝ foreground postings); the background
    document frequencies serve from the store-level ``tokenstats``
    df ROLLUP (a vocabulary-sized sidecar maintained per fold and
    rebuilt by :func:`compact_bm25_store` — the IVF-cellstats
    mergeable-stats shape) whenever it is provably in sync: the
    rollup's summed doc count must equal the live docstats count (a
    number this query needs anyway for ``bg_rate``), and the store
    must not be CDC-mutated since its last compaction.  Otherwise —
    mutated store, missed delta after a crash, legacy store — the bg
    leg falls back to the exact one-pass postings-wide aggregate
    (which is what the rollup itself folds toward).  All arithmetic
    exact then rounded, so the score is value-pinnable cross-engine.
    Output: ``(token, fg_df, bg_df, score)``, score desc / token asc,
    top ``size``."""
    terms = analyze_store_terms(spark, store_path, terms)
    postings, docstats = _read_search_store(spark, store_path)
    if postings is None or docstats is None:
        return spark.createDataFrame(
            [], "token string, fg_df long, bg_df long, score double"
        )
    matched = (
        postings.filter(F.col("token").isin(*list(terms)))
        .select("doc")
        .distinct()
    )
    # set sizes, eager: n_bg is both the JLH denominator and the
    # rollup trust check (for an unmutated store it is a parquet
    # footer-metadata count, not a scan); n_fg eager keeps `matched`'s
    # token-pruned postings scan out of the plan a second time
    n_bg_val = docstats.count()
    n_fg_val = matched.count()
    # postings are UNIQUE per (token, doc) by construction — the fold
    # aggregates tf per (doc, token) and the MVCC reader resolves each
    # doc to one generation (pinned in tests/test_search_cdc.py) — so
    # document frequency is a plain count: partial map-side aggregation
    # to a vocabulary-sized frame, never a (token, doc) distinct
    # exchange (measured 32 -> 14 s at 5M docs)
    fg = (
        postings.join(matched, "doc", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("fg_df"))
    )
    bg = _background_df(spark, store_path, postings, n_bg_val)
    fg_rate = F.col("fg_df") / F.lit(int(n_fg_val)).cast("long")
    bg_rate = F.col("bg_df") / F.lit(int(n_bg_val)).cast("long")
    jlh = (fg_rate - bg_rate) * (fg_rate / bg_rate)
    return (
        fg.join(bg, "token")
        .filter(fg_rate > bg_rate)
        .select(
            "token",
            "fg_df",
            "bg_df",
            F.round(jlh, 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("token").asc())
        .limit(size)
    )


def top_hits_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    group_col: str,
    per_group: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES ``terms`` aggregation + ``top_hits``: the best ``per_group``
    documents BY RELEVANCE within each value of a stored field —
    "top 3 hits per language" — served from the index alone.

    Scale shape: the scored frame is the token-pruned BM25 plan
    (∝ matching docs); the per-bucket top-k is one window partitioned
    by the stored field — every partition is the bucket's slice of
    the MATCHED set (never the corpus), so the window is matched-set
    sized and parallel across buckets.  Docs with no value for the
    field drop (ES's missing-bucket default).  Output: ``(group,
    doc, score, rnk)``, group asc / rnk asc."""
    from pyspark.sql import Window

    resolved = _read_search_store(spark, store_path)
    scored = _bm25_scored(
        spark, store_path, terms, k1, b, resolved=resolved
    )
    if scored is None:
        # NOTE: the group column types as string here — the store (and
        # its real type) does not exist to consult
        return spark.createDataFrame(
            [],
            f"{group_col} string, doc long, score double, rnk int",
        )
    docstats = resolved[1]
    if group_col not in docstats.columns:
        raise ValueError(
            f"field {group_col!r} is not stored in the index — fold "
            f"batches with field_cols=[{group_col!r}]"
        )
    w = Window.partitionBy(group_col).orderBy(
        F.col("score").desc(), F.col("doc").asc()
    )
    return (
        scored.join(docstats.select("doc", group_col), "doc")
        .filter(F.col(group_col).isNotNull())
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= per_group)
        .select(group_col, "doc", "score", "rnk")
        .orderBy(F.col(group_col).asc(), F.col("rnk").asc())
    )


def collapse_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    collapse_col: str,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """ES field ``collapse``: the ranked hit list keeps only the BEST
    document per value of a stored field — "one result per domain" —
    then the global top-k runs over the collapsed list.  Docs with no
    value for the field are their own group (ES keeps them
    uncollapsed; here each NULL doc survives individually).

    Scale shape: the BM25 plan (token-pruned) + one doc-keyed
    doc-values join + one window per collapse bucket over the MATCHED
    set, then a global top-k (TakeOrdered, no full sort).  Output:
    ``(doc, {collapse_col}, score)``, score desc / doc asc."""
    from pyspark.sql import Window

    resolved = _read_search_store(spark, store_path)
    scored = _bm25_scored(
        spark, store_path, terms, k1, b, resolved=resolved
    )
    if scored is None:
        # NOTE: collapse_col types as string — no store to consult
        return spark.createDataFrame(
            [], f"doc long, {collapse_col} string, score double"
        )
    docstats = resolved[1]
    if collapse_col not in docstats.columns:
        raise ValueError(
            f"field {collapse_col!r} is not stored in the index — "
            f"fold batches with field_cols=[{collapse_col!r}]"
        )
    joined = scored.join(docstats.select("doc", collapse_col), "doc")
    # NULL group values stay uncollapsed: partition them by their own
    # doc id so each is a singleton bucket
    part = F.coalesce(
        F.col(collapse_col).cast("string"),
        F.concat(F.lit("__doc_"), F.col("doc").cast("string")),
    )
    w = Window.partitionBy(part).orderBy(
        F.col("score").desc(), F.col("doc").asc()
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc", collapse_col, "score")
        .orderBy(F.col("score").desc(), F.col("doc").asc())
        .limit(top_k)
    )


def boosting_over_store(
    spark,
    store_path: str,
    positive: Sequence[str],
    negative: Sequence[str],
    negative_boost: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """ES ``boosting`` query: hits score by the POSITIVE terms'
    BM25, and any hit also matching a NEGATIVE term has its score
    multiplied by ``negative_boost`` — demotion without exclusion
    (the must_not alternative when "related but wrong topic" should
    sink, not vanish).

    Scale shape: ONE postings scan filtered to the union of both
    clauses' terms; the negative side reduces to a broadcast id set
    joined left onto the scored frame.  Output: ``(doc, score)``
    top-k."""
    if not positive:
        raise ValueError("boosting query needs positive terms")
    if not (0.0 <= negative_boost <= 1.0):
        raise ValueError("negative_boost must be in [0, 1]")
    negative = analyze_store_terms(spark, store_path, negative)
    resolved = _read_search_store(spark, store_path)
    scored = _bm25_scored(
        spark, store_path, positive, k1, b, resolved=resolved
    )
    if scored is None:
        return spark.createDataFrame([], "doc long, score double")
    postings = resolved[0]
    # join strategy left to AQE: a selective negative clause broadcasts
    # itself, a stopword-like one (corpus-scale matches) must not
    demoted = (
        postings.filter(F.col("token").isin(*list(negative)))
        .select("doc")
        .distinct()
        .withColumn("__neg", F.lit(True))
    )
    return (
        scored.join(demoted, "doc", "left")
        .select(
            "doc",
            F.round(
                F.when(
                    F.col("__neg").isNotNull(),
                    F.col("score") * F.lit(float(negative_boost)),
                ).otherwise(F.col("score")),
                6,
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc").asc())
        .limit(top_k)
    )


def percolate(
    spark,
    queries_df: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "broadcast",
    analyzer: str = "whitespace",
) -> DataFrame:
    """ES ``percolate`` — the REVERSE search: queries are the stored
    side, documents stream through and each doc reports which
    registered queries it matches (the alerting / saved-search shape).
    ``queries_df`` is ``(q_id, terms array<string>, match_all bool)``:
    ``match_all`` true requires every term present, false any.

    Two plans, selected by ``mode``:

    * ``"broadcast"`` — the registered query set is MODEL-SIZED (ES
      keeps it in a dedicated percolator index); its exploded
      ``(q_id, term)`` map broadcasts, the doc batch tokenizes once,
      one equi-join on the term and one ``(doc, q_id)`` aggregate
      compare distinct matches to the required count — per-doc work
      ∝ matching terms, never #queries × #docs.  Right for FEW or
      DENSE queries, where most joined pairs are output anyway.
    * ``"indexed"`` — the ES percolator's query-index trick for the
      realistic alerting shape (thousands of NARROW conjunctive
      queries each matching a sliver): a ``match_all`` query's
      candidates are generated from its single RAREST required term
      (rarest in this doc batch — one vocabulary-sized df aggregate
      picks it), then only candidates are verified against the full
      term set.  A doc containing every required term certainly
      contains the designated one, so candidate generation has no
      false negatives and verification is exact; a conjunction with
      one selective term among common ones costs ∝ docs holding the
      RARE term, not ∝ docs holding "the".  ``match_any`` queries
      keep the direct join (every hit is an output).  The whole plan
      derives from ONE vocabulary-filtered per-doc token-set frame,
      so the corpus is tokenized once and Spark's exchange reuse
      shares the shuffle across the legs.

    Output: ``(id_col, q_id)`` match pairs, UNORDERED — the result is
    match-pair-sized (on a dense query/vocabulary overlap that is
    #docs × #queries), and a global sort of it would dwarf the
    matching itself (measured 10x+ the match cost at 5M docs x 100
    dense queries); the driver-gate comparison is order-insensitive,
    and callers paging results should sort their own bounded slice."""
    from .analysis import get_analyzer

    an = get_analyzer(analyzer)
    if mode == "indexed":
        return _percolate_indexed(
            spark, queries_df, docs, id_col, text_col, an
        )
    if mode != "broadcast":
        raise ValueError(f"unknown percolate mode {mode!r}")
    qt = (
        queries_df.select(
            "q_id",
            F.size(F.array_distinct("terms")).alias("__need"),
            "match_all",
            F.explode(F.array_distinct("terms")).alias("token"),
        )
    )
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(an.tokens_col(F.col(text_col)))
        ).alias("token"),
    )
    # doc tokens and query terms are BOTH deduped before the join, so
    # (doc, q_id) groups hold unique tokens — a plain count avoids the
    # (doc, q_id, token) distinct exchange (the significant_terms
    # lesson; measured unusable at 5M docs x 100 dense queries with
    # countDistinct)
    hits = (
        toks.join(F.broadcast(qt), "token")
        .groupBy(id_col, "q_id", "__need", "match_all")
        .agg(F.count("*").alias("__got"))
        .filter(
            (~F.col("match_all") & (F.col("__got") >= 1))
            | (F.col("match_all") & (F.col("__got") == F.col("__need")))
        )
    )
    return hits.select(id_col, "q_id")


def _percolate_indexed(
    spark, queries_df, docs, id_col: str, text_col: str, an
) -> DataFrame:
    """The query-indexed percolate plan (see :func:`percolate`,
    ``mode="indexed"``)."""
    q = queries_df.select(
        "q_id",
        F.array_distinct("terms").alias("terms"),
        "match_all",
    )
    qt = q.select("q_id", "match_all", F.explode("terms").alias("token"))
    # ONE corpus pass: each doc's tokens restricted to the union query
    # vocabulary, collected to a set.  Every leg below derives from
    # this frame (df stats, any-hits, candidates, verification), so
    # identical-subplan exchange reuse shares the shuffle.
    doc_sets = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(an.tokens_col(F.col(text_col)))
            ).alias("token"),
        )
        .join(
            F.broadcast(qt.select("token").distinct()), "token", "left_semi"
        )
        .groupBy(id_col)
        .agg(F.collect_set("token").alias("__tset"))
    )
    hit_toks = doc_sets.select(
        id_col, F.explode("__tset").alias("token")
    )
    # match_any: every (doc, term-of-query) hit is an output row
    any_hits = (
        hit_toks.join(
            F.broadcast(
                qt.filter(~F.col("match_all")).select("token", "q_id")
            ),
            "token",
        )
        .select(id_col, "q_id")
        .distinct()
    )
    # match_all: designate each query's batch-rarest required term
    # (a term absent from the batch has df 0 — min-by picks it and the
    # query correctly generates zero candidates)
    dfb = hit_toks.groupBy("token").agg(F.count("*").alias("__df"))
    wq = Window.partitionBy("q_id").orderBy(
        F.col("__df").asc(), F.col("token").asc()
    )
    desig = (
        qt.filter(F.col("match_all"))
        .join(dfb, "token", "left")
        .withColumn("__df", F.coalesce(F.col("__df"), F.lit(0)))
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") == 1)
        .select("token", "q_id")
    )
    all_hits = (
        hit_toks.join(F.broadcast(desig), "token")
        .join(doc_sets, id_col)
        .join(
            F.broadcast(q.filter(F.col("match_all")).select("q_id", "terms")),
            "q_id",
        )
        .filter(
            F.forall(
                "terms", lambda t: F.array_contains(F.col("__tset"), t)
            )
        )
        .select(id_col, "q_id")
    )
    return any_hits.unionByName(all_hits)


def explain_score_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    doc_ids: Sequence,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES ``_explain`` API: the BM25 score DECOMPOSITION for specific
    documents — one row per (doc, matched term) carrying every factor
    the score multiplies (``tf``, ``df``, ``idf``, the length
    normalization, the term's weight), so a relevance engineer can see
    WHY a document ranked.  Sum of ``weight`` over a doc's rows ==
    its :func:`bm25_over_store` score (same formula, same rounding
    applied to the weight).

    Scale shape: the postings scan prunes to the requested terms
    (``PushedFilters: In(token, …)``) and then to the requested docs —
    the df/avgdl statistics are corpus aggregates, computed the same
    way the search path computes them.  Output ordered (doc asc,
    token asc)."""
    terms = analyze_store_terms(spark, store_path, terms)
    postings, docstats = _read_search_store(spark, store_path)
    if postings is None or docstats is None:
        return spark.createDataFrame(
            [],
            "doc long, token string, tf long, df long, idf double, "
            "tf_norm double, weight double",
        )
    ids = list(doc_ids)
    tf = postings.filter(F.col("token").isin(*list(terms))).select(
        "doc", "token", "tf"
    )
    n_t = tf.groupBy("token").agg(F.countDistinct("doc").alias("df"))
    stats = docstats.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    mine = (
        tf.filter(F.col("doc").isin(ids))
        .join(F.broadcast(n_t), "token")
        .join(docstats.select("doc", "dl"), "doc")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        + 1.0
    )
    tf_norm = (
        F.col("tf") * (k1 + 1)
        / (
            F.col("tf")
            + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    return mine.select(
        "doc",
        "token",
        "tf",
        "df",
        F.round(idf, 6).alias("idf"),
        F.round(tf_norm, 6).alias("tf_norm"),
        F.round(idf * tf_norm, 6).alias("weight"),
    ).orderBy(F.col("doc").asc(), F.col("token").asc())


def script_fields_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    scripts: "Mapping[str, Column]",
) -> DataFrame:
    """ES ``script_fields`` / runtime fields: serve the hit set with
    COMPUTED columns — each script is a column expression over the
    doc's stored values (doc values by name; ``dl`` is the indexed
    token count), evaluated at query time with zero index changes.
    Pure codegen over the matched docstats frame (∝ matched docs);
    the scale caveat is ES's own: a runtime field can't be filtered
    by the index, so pair it with an indexed query leg.  Output:
    ``doc`` plus one column per script, doc asc."""
    if not scripts:
        raise ValueError("script_fields needs at least one script")
    stats = _matched_docstats(spark, store_path, terms)
    if stats is None:
        return spark.createDataFrame([], "doc long")
    return stats.select(
        "doc", *[expr.alias(name) for name, expr in scripts.items()]
    ).orderBy("doc")


def sampler_facets_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    facet_col: str,
    shard_size: int = 100,
    max_docs_per_value: int | None = None,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES ``sampler`` / ``diversified_sampler`` aggregation: run the
    child terms aggregation over only the top-``shard_size``
    BEST-SCORING matched docs instead of the full hit set — the
    agg-on-a-budget pattern for expensive/noisy corpora.  With
    ``max_docs_per_value`` the sample first keeps at most that many
    docs per facet value (the diversified form: one viral value
    cannot flood the sample).  Deterministic: ranks tie-break by doc
    ascending, diversification by (score desc, doc asc) within the
    value.

    Scale shape: scoring is the token-pruned BM25 pass (∝ matched
    postings); both truncations are window ranks over the scored
    frame — the downstream agg then touches ``shard_size`` rows, a
    constant, regardless of corpus size.  Output: ``(facet, n_docs)``
    count desc then value asc over the SAMPLE."""
    scored = _bm25_scored(spark, store_path, terms, k1, b)
    if scored is None:
        return spark.createDataFrame(
            [], f"{facet_col} string, n_docs long"
        )
    _p, docstats = _read_search_store(spark, store_path)
    sample = scored.join(
        docstats.select("doc", facet_col), "doc"
    )
    if max_docs_per_value is not None:
        dw = Window.partitionBy(facet_col).orderBy(
            F.col("score").desc(), F.col("doc").asc()
        )
        sample = (
            sample.withColumn("__dr", F.row_number().over(dw))
            .filter(F.col("__dr") <= int(max_docs_per_value))
            .drop("__dr")
        )
    # TakeOrderedAndProject, not a partitionless window: the global
    # top-shard_size runs as distributed partial top-k + driver merge
    # of shard_size rows, never a single-partition sort
    sample = sample.orderBy(
        F.col("score").desc(), F.col("doc").asc()
    ).limit(int(shard_size))
    return (
        sample.groupBy(facet_col)
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col(facet_col).asc())
    )


def term_vectors_over_store(
    spark,
    store_path: str,
    doc_ids: Sequence,
) -> DataFrame:
    """ES ``term_vectors`` API: per-document term statistics straight
    from the index — each requested doc's tokens with their in-doc
    ``tf`` and corpus-wide ``df`` (``term_statistics=true``).

    Scale shape: the doc filter pushes into the postings scan
    (``PushedFilters: In(doc, …)`` — note postings files cluster by
    (token, doc), so doc-only lookups prune weakly; a serving tier
    doing heavy term_vectors traffic should keep a doc-clustered
    postings copy, the classic row/column-store duality); ``df`` joins
    from the vocabulary-sized per-token aggregate.  Output:
    ``(doc, token, tf, df)``, doc asc / token asc."""
    postings, _ds = _read_search_store(spark, store_path)
    if postings is None:
        return spark.createDataFrame(
            [], "doc long, token string, tf long, df long"
        )
    ids = list(doc_ids)
    mine = postings.filter(F.col("doc").isin(ids))
    # postings are unique per (token, doc) — df is a plain count
    df_t = postings.groupBy("token").agg(F.count("*").alias("df"))
    return (
        mine.join(df_t, "token")
        .select("doc", "token", "tf", "df")
        .orderBy(F.col("doc").asc(), F.col("token").asc())
    )


def suggest_terms(
    spark,
    store_path: str,
    terms: Sequence[str],
    max_dist: int = 1,
    size: int = 3,
) -> DataFrame:
    """ES ``term`` suggester (``suggest_mode: missing``): for each
    input term ABSENT from the index vocabulary, the closest indexed
    terms within Levenshtein ``max_dist``, ranked the ES way —
    distance first, then document frequency, then the term itself.
    Terms already in the vocabulary return no suggestions.

    Scale shape: the vocabulary frame is index-metadata-sized
    (distinct tokens + their df, one map-side postings aggregate);
    the distance runs as the JVM ``levenshtein`` against the handful
    of input terms.  Output: ``(term, suggestion, dist, df)``, term
    asc / rank asc, ≤ ``size`` per term."""
    from pyspark.sql import Window

    postings, _ds = _read_search_store(spark, store_path)
    if postings is None:
        return spark.createDataFrame(
            [], "term string, suggestion string, dist int, df long"
        )
    vocab = postings.groupBy("token").agg(F.count("*").alias("df"))
    tdf = spark.createDataFrame(
        [(t,) for t in dict.fromkeys(terms)], "term string"
    )
    present = {
        r["term"]
        for r in tdf.join(
            vocab, tdf["term"] == vocab["token"], "left_semi"
        ).collect()
    }
    missing = tdf.filter(~F.col("term").isin(*list(present)) if present else F.lit(True))
    # broadcast nested-loop on the threshold predicate: the small side
    # is the handful of missing terms, the big side the metadata-sized
    # vocabulary — never a materialized cross product
    cand = vocab.join(
        F.broadcast(missing),
        F.levenshtein(F.col("term"), F.col("token")) <= max_dist,
    ).withColumn("dist", F.levenshtein("term", "token"))
    w = Window.partitionBy("term").orderBy(
        F.col("dist").asc(), F.col("df").desc(), F.col("token").asc()
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= size)
        .select(
            "term",
            F.col("token").alias("suggestion"),
            "dist",
            "df",
        )
        .orderBy(F.col("term").asc(), F.col("__rn").asc())
    )


def rescore_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    phrase: Sequence[str],
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 1.0,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """ES ``rescore``: re-rank only the top ``window_size`` hits of
    the cheap query with a more expensive secondary signal — here the
    EXACT-PHRASE occurrence count from the positional postings
    (:func:`phrase_over_store`), combined as ES ``score_mode: total``:
    ``query_weight * bm25 + rescore_weight * n_occurrences``.  ES's
    own secondary is any relevance query; any ``(doc, score)`` frame
    plugs into the join the same way — the phrase counter is the
    deterministic primitive the store already serves.

    Scale shape: the primary is the token-pruned BM25 top-window
    (TakeOrdered, window-sized from then on); the secondary is the
    phrase plan (token-pruned scan + per-term doc joins + position
    intersection) — the whole point of rescoring is that this runs
    once against the window join, not against every hit.  Output:
    ``(doc, score)`` top-k over the rescored window."""
    if top_k > window_size:
        raise ValueError("top_k cannot exceed the rescore window")
    scored = _bm25_scored(spark, store_path, terms, k1, b)
    if scored is None:
        return spark.createDataFrame([], "doc long, score double")
    window = scored.orderBy(
        F.col("score").desc(), F.col("doc").asc()
    ).limit(window_size)
    sec = phrase_over_store(spark, store_path, list(phrase))
    combined = F.round(
        F.lit(float(query_weight)) * F.col("score")
        + F.lit(float(rescore_weight))
        * F.coalesce(F.col("n_occurrences").cast("double"), F.lit(0.0)),
        6,
    )
    return (
        window.join(sec, window["doc"] == sec["doc"], "left")
        .select(window["doc"], combined.alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc").asc())
        .limit(top_k)
    )


def bm25_page_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
    page_size: int = 10,
    search_after: tuple | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    pit_gen: int | None = None,
) -> DataFrame:
    """ES ``search_after`` pagination over the store: the next
    ``page_size`` hits strictly after the cursor ``(score, doc)`` in
    the total order (score desc, doc asc) — the deep-pagination shape
    ES recommends over from+size, because each page is a top-k with a
    predicate instead of a skip-scan.

    The cursor predicate applies AFTER scoring (scores are
    page-invariant: same statistics every page), so page N+1 costs
    the same one token-pruned scan as page 1 — no offset
    materialization, no state between calls beyond the last row's
    sort values.  Concatenating pages equals the single deep top-k
    (pinned in tests and by the registry oracle).  Output: ``(doc,
    score)``.

    ``pit_gen`` pins every page to the :func:`read_search_store_at`
    snapshot at that generation — ES's own pairing (search_after is
    only consistent under a PIT): pages keep tiling the SAME total
    order even while CDC folds mutate the live index between page
    fetches."""
    resolved = (
        read_search_store_at(spark, store_path, pit_gen)
        if pit_gen is not None
        else None
    )
    if resolved is not None and resolved[0] is None:
        return spark.createDataFrame([], "doc long, score double")
    scored = _bm25_scored(
        spark, store_path, terms, k1, b, resolved=resolved
    )
    if scored is None:
        return spark.createDataFrame([], "doc long, score double")
    if search_after is not None:
        s, d = float(search_after[0]), search_after[1]
        scored = scored.filter(
            (F.col("score") < s)
            | ((F.col("score") == s) & (F.col("doc") > d))
        )
    return scored.orderBy(
        F.col("score").desc(), F.col("doc").asc()
    ).limit(page_size)


def phrase_over_store(
    spark,
    store_path: str,
    phrase: Sequence[str],
) -> DataFrame:
    """Exact phrase query over the positional postings index: every
    document where ``phrase``'s tokens appear at CONSECUTIVE
    positions, with the occurrence count — the ES ``match_phrase``
    feature over the :func:`incremental_bm25_index` store.

    Scale shape: one postings scan FILTERED to the phrase's distinct
    tokens (``PushedFilters: In(token, …)`` — the index is never read
    whole), one doc-keyed equi-join per phrase term, then the
    adjacency test as a chained ``array_intersect`` over the position
    lists shifted by each term's offset (an occurrence at position p
    needs term i at ``p + i``; the intersection of the shifted lists
    IS the occurrence-start set, counting overlapping occurrences).
    All JVM; per-doc work ∝ the phrase terms' posting sizes.  Output:
    ``(doc, n_occurrences)``, occurrence-count-desc then doc asc.
    """
    from ..storeio import read_parquet_if_exists

    phrase = analyze_store_terms(spark, store_path, phrase)
    if len(phrase) < 1:
        raise ValueError("phrase needs at least one term")
    postings, _ds = _read_search_store(spark, store_path)
    if postings is None:
        return spark.createDataFrame(
            [], "doc long, n_occurrences long"
        )
    base = postings.filter(
        F.col("token").isin(*list(dict.fromkeys(phrase)))
    )
    def _shifted(offset: int):
        # NOTE: the lambda must stay single-argument — F.transform
        # passes the ARRAY INDEX to a second parameter, so the usual
        # `lambda x, _i=i` loop-capture idiom silently shifts each
        # position by its index in the list instead of by the term
        # offset
        return F.transform("pos", lambda x: x - F.lit(offset))

    joined = None
    for i, term in enumerate(phrase):
        leg = base.filter(F.col("token") == term).select(
            "doc", _shifted(i).alias(f"__p{i}")
        )
        joined = leg if joined is None else joined.join(leg, "doc")
    starts = F.col("__p0")
    for i in range(1, len(phrase)):
        starts = F.array_intersect(starts, F.col(f"__p{i}"))
    return (
        joined.select(
            "doc", F.size(starts).cast("long").alias("n_occurrences")
        )
        .filter(F.col("n_occurrences") > 0)
        .orderBy(F.col("n_occurrences").desc(), F.col("doc").asc())
    )


def match_phrase_prefix_over_store(
    spark,
    store_path: str,
    phrase: Sequence[str],
    prefix: str,
    max_expansions: int = 50,
) -> DataFrame:
    """ES ``match_phrase_prefix``: the search-as-you-type query —
    ``phrase``'s tokens at consecutive positions followed by ANY
    indexed term starting with ``prefix`` at the next position.  An
    occurrence at start p needs term i at ``p + i`` and a
    prefix-matching token at ``p + len(phrase)``.

    Scale shape: the exact legs are the :func:`phrase_over_store`
    plan (``In(token, …)`` pruned scans + shifted-position array
    intersection); the prefix leg is the half-open token RANGE scan
    :func:`prefix_search_over_store` uses (file-level pruning on the
    token-range-clustered postings), its positions unioned per doc
    across the expanded terms.  The expansion is capped at
    ``max_expansions`` TERMS in index order (the ES semantics and its
    result-set truncation caveat alike) via a vocabulary-bounded
    limit collect — the same guarded materialization the
    wildcard/regexp/fuzzy expansions use.  Output: ``(doc,
    n_occurrences)``, occurrence-count desc then doc asc."""
    from ..storeio import read_parquet_if_exists

    if not prefix:
        raise ValueError("empty prefix would scan the whole index")
    phrase = analyze_store_terms(spark, store_path, phrase)
    _ptoks = analyze_store_terms(spark, store_path, [prefix])
    prefix = _ptoks[-1] if _ptoks else prefix
    if not prefix:
        raise ValueError(
            "prefix analyzed to nothing under the store's analyzer"
        )
    postings, _ds = _read_search_store(spark, store_path)
    if postings is None:
        return spark.createDataFrame(
            [], "doc long, n_occurrences long"
        )
    hi = _prefix_upper_bound(prefix)
    cond = F.col("token").startswith(prefix)
    if hi is not None:
        cond = cond & (F.col("token") >= prefix) & (F.col("token") < hi)
    exp_terms = [
        r["token"]
        for r in postings.filter(cond)
        .select("token")
        .distinct()
        .orderBy("token")
        .limit(int(max_expansions))
        .collect()
    ]
    if not exp_terms:
        return spark.createDataFrame(
            [], "doc long, n_occurrences long"
        )

    def _shifted(offset: int):
        return F.transform("pos", lambda x: x - F.lit(offset))

    n = len(phrase)
    exp_rows = postings.filter(F.col("token").isin(exp_terms))
    if n == 0:
        joined = exp_rows.select(
            "doc", _shifted(0).alias("__pp")
        ).groupBy("doc").agg(
            F.array_distinct(
                F.flatten(F.collect_list("__pp"))
            ).alias("__pp")
        )
        starts = F.col("__pp")
    else:
        base = postings.filter(
            F.col("token").isin(*list(dict.fromkeys(phrase)))
        )
        joined = None
        for i, term in enumerate(phrase):
            leg = base.filter(F.col("token") == term).select(
                "doc", _shifted(i).alias(f"__p{i}")
            )
            joined = leg if joined is None else joined.join(leg, "doc")
        # the prefix expansion can cover COMMON terms (a one-letter
        # prefix over 'st…' hits most of the corpus) — restrict its
        # position aggregate to the exact legs' candidate docs FIRST,
        # so the per-doc union is ∝ phrase-matched docs, not
        # ∝ prefix-matched corpus (measured 15.7 -> ~floor at 5M docs
        # on a rare-phrase / common-prefix query)
        pleg = (
            exp_rows.join(joined.select("doc"), "doc", "left_semi")
            .select("doc", _shifted(n).alias("__pp"))
            .groupBy("doc")
            .agg(
                F.array_distinct(
                    F.flatten(F.collect_list("__pp"))
                ).alias("__pp")
            )
        )
        joined = joined.join(pleg, "doc")
        starts = F.col("__p0")
        for i in range(1, n):
            starts = F.array_intersect(starts, F.col(f"__p{i}"))
        starts = F.array_intersect(starts, F.col("__pp"))
    return (
        joined.select(
            "doc", F.size(starts).cast("long").alias("n_occurrences")
        )
        .filter(F.col("n_occurrences") > 0)
        .orderBy(F.col("n_occurrences").desc(), F.col("doc").asc())
    )


def describe_bm25_store(spark, store_path: str, full: bool = True) -> dict:
    """Ops observability for the search store — the ``_cat/indices``
    / ``_stats`` shape: file and row counts per component, live vs
    tombstoned vs superseded docs, generation depth, vocabulary size,
    stored fields and the mutated flag.

    ``full=False`` is the MAINTENANCE-POLICY view: strictly
    metadata-sized — parquet footer counts, file listings and the
    one-row params (whose ``dead`` counter the CDC folds maintain
    batch-side), plus the tokenstats marker rows.  It skips the
    postings row/vocabulary aggregates AND the docstats MVCC window,
    so a per-micro-batch policy check never pays an index-wide pass
    (the counter can only over-estimate dead rows after a crashed
    fold's retry — see :func:`_bm_write_params` — which at worst
    vacuums early).  Stores whose params predate the counter fall
    back to the exact window computation."""
    from ..storeio import read_params_rows, read_parquet_if_exists

    out: dict = {"store": store_path}
    postings = read_parquet_if_exists(
        spark, _bm_postings_path(store_path)
    )
    docstats = read_parquet_if_exists(
        spark, _bm_docstats_path(store_path)
    )
    p_rows = read_params_rows(spark, _bm_params_path(store_path))
    if postings is None or docstats is None:
        out["exists"] = False
        return out
    out["exists"] = True
    # inputFiles() is filesystem-agnostic (hdfs://, s3a://, file://) —
    # a local glob would silently report 0 for any non-local store
    out["postings_files"] = len(postings.inputFiles())
    out["docstats_files"] = len(docstats.inputFiles())
    if full:
        out["postings_rows"] = postings.count()
        out["vocab_size"] = postings.select("token").distinct().count()
    # (9) guard the zero-row params edge (a crash between creating the
    # component and committing its row): rows are empty there, and the
    # observability call must not crash on the store it describes.
    # Cached-row read — the per-trigger maintenance policy's decision
    # gate pays zero jobs for the params row.
    p_row = p_rows[0] if p_rows else None
    if p_row is not None:
        p = p_row.asDict()
        out["mutated"] = bool(p.get("mutated"))
        out["scheme"] = p.get("scheme")
        out["stored_fields"] = p.get("fields")
    params_dead = (
        p_row.asDict().get("dead") if p_row is not None else None
    )
    if "gen" not in docstats.columns:
        n = docstats.count()
        out.update(
            docstats_rows=n, live_docs=n, dead_rows=0, tombstones=0,
            superseded_rows=0, max_generation=0,
        )
    elif not full and params_dead is not None:
        total = docstats.count()  # parquet footer metadata
        dead = int(params_dead)
        out.update(
            docstats_rows=total,
            live_docs=total - dead,
            dead_rows=dead,
            max_generation=int(p_row.asDict().get("gen") or 0),
        )
    else:
        live = _bm_live_docstats(docstats)
        total = docstats.count()
        n_live = live.count()
        agg = docstats.agg(
            F.max("gen").alias("max_gen"),
            F.sum(F.col("deleted").cast("long")).alias("tombstones"),
        ).head()
        out.update(
            docstats_rows=total,
            live_docs=n_live,
            dead_rows=total - n_live,
            tombstones=int(agg["tombstones"] or 0),
            superseded_rows=total - n_live - int(agg["tombstones"] or 0),
            max_generation=int(agg["max_gen"] or 0),
        )
    # df-rollup health: files/doc-marker plus the same trust predicate
    # significant_terms applies (unmutated AND marker == live count) —
    # false on a mutated store (compaction revalidates) or after a
    # crash dropped a fold's delta
    tokenstats = read_parquet_if_exists(
        spark, _bm_tokenstats_path(store_path)
    )
    if tokenstats is None:
        out.update(tokenstats_files=0, tokenstats_docs=0,
                   tokenstats_synced=False)
    else:
        marker = tokenstats.filter(F.col("token").isNull()).agg(
            F.sum("df")
        ).head()[0]
        out["tokenstats_files"] = len(tokenstats.inputFiles())
        out["tokenstats_docs"] = int(marker or 0)
        out["tokenstats_synced"] = (
            not out.get("mutated", False)
            and out["tokenstats_docs"] == out["live_docs"]
        )
    return out


def compact_bm25_store(
    spark,
    store_path: str,
    target_bytes: int = 128 << 20,
    min_files: int | None = None,
) -> dict:
    """Vacuum/OPTIMIZE pass for the incremental BM25 index: rewrite
    ``postings/`` GLOBALLY token-range-clustered into ~``target_bytes``
    files and coalesce ``docstats/``.

    Why: each append range-clusters only within its own batch, so
    every batch contributes a file spanning the full token alphabet —
    as the store ages, the query-time ``In(token, …)`` pushdown
    filters rows but prunes no files.  One global recluster restores
    file-level pruning and collapses the per-batch small files.

    On a CDC-MUTATED store (params ``mutated`` flag) this pass also
    RECLAIMS: superseded generations and tombstoned docs are dropped
    from both stores, and once both rewrites land the flag resets so
    readers return to the no-window fast path — the vacuum step of
    the generation-MVCC scheme (:func:`apply_cdc_to_bm25_index`).
    Surviving rows KEEP their generation numbers: a crash between the
    two rewrites then leaves (live-only postings, still-multi-gen
    docstats) whose live join still matches — every crash point of
    the three-step sequence (postings, docstats, params) serves
    correct results and a re-run converges.

    QUERY results are EXACTLY unchanged (live rows only, different
    layout): ``bm25_over_store`` / ``phrase_over_store`` /
    ``proximity_over_store`` before == after, pinned in the registry
    and tests.  Uses the crash-aware directory swap
    (:func:`mongo_es_spark.storeio.rewrite_store`): single-writer
    maintenance op, re-runs self-heal.  Returns per-store file counts.
    """
    from ..storeio import list_data_files, read_params_dir, rewrite_store

    p = _bm_postings_path(store_path)
    d = _bm_docstats_path(store_path)
    params = read_params_dir(spark, _bm_params_path(store_path))
    prow = params.head() if params is not None else None
    mutated = (
        prow is not None
        and "mutated" in params.columns
        and bool(prow["mutated"])
    )
    before_p = list_data_files(p)
    before_d = list_data_files(d)
    size = sum(os.path.getsize(f) for f in before_p)
    # file-count floor = scheduler parallelism: sizing purely by bytes
    # collapsed a 298-file store to 7 files and made the query SLOWER
    # on 32 cores (measured 17.2 -> 26.4 s at 5M docs) — a handful of
    # token-sorted files serializes both the pruned scan and the
    # docstats join into a handful of tasks.  At cluster scale the
    # byte target dominates anyway; the floor only bites where the
    # store is small relative to the executor count.  ``min_files``
    # overrides the floor (tests pin exact layouts with it).
    floor = (
        spark.sparkContext.defaultParallelism
        if min_files is None
        else int(min_files)
    )
    n_out = max(1, floor, -(-size // target_bytes))

    def _live_pairs():
        # computed lazily INSIDE each writer so it reads the docstats
        # directory as it exists at execution time (pre-rewrite for
        # both writers — docstats is rewritten second)
        return _bm_live_docstats(spark.read.parquet(d)).select(
            "doc", "gen"
        )

    def write_postings(new: str) -> None:
        # composite (token, doc) range: every file still carries a
        # tight token min/max (file-level In(token) pruning), but a
        # HEAVY token's rows split across several files by doc range
        # instead of concentrating in one — post-pruning scan
        # parallelism survives skewed/common tokens (single-key range
        # clustering measured 7.0 -> 11.6 s on a 3-common-term query
        # at 5M docs because each term's postings landed in one file)
        rows = spark.read.parquet(p)
        if mutated:
            rows = rows.join(_live_pairs(), ["doc", "gen"], "left_semi")
        (
            rows.repartitionByRange(n_out, "token", "doc")
            .sortWithinPartitions("token", "doc")
            .write.mode("overwrite")
            .parquet(new)
        )

    rewrite_store(p, write_postings)

    size_d = sum(os.path.getsize(f) for f in before_d)
    n_out_d = max(1, floor, -(-size_d // target_bytes))

    def write_docstats(new: str) -> None:
        rows = spark.read.parquet(d)
        if mutated:
            rows = _bm_live_docstats(rows)
        (
            rows.repartition(n_out_d)
            .write.mode("overwrite")
            .parquet(new)
        )

    rewrite_store(d, write_docstats)

    # rebuild the df rollup from the now-live-only stores: ONE
    # postings pass amortized into the vacuum that already rewrote
    # them.  This is what re-validates the rollup after CDC mutation
    # (folds freeze it the moment the mutated flag sets) and what
    # backfills it for stores predating the sidecar.  Ordered BEFORE
    # the params reset: a reader may only trust the rollup once it is
    # provably in sync, and the doc-count verification would otherwise
    # accept a stale-but-count-equal copy after an unlucky crash.
    rebuild_bm25_tokenstats(
        spark, store_path, assume_live=True, n_files=max(1, floor // 8)
    )
    if mutated:
        # both stores now hold live rows only — readers may return to
        # the fast path.  Crash before this line: flag stays set, the
        # live filter runs over an all-live store (correct, just not
        # fast) and a re-run converges.  The generation COUNTER is
        # preserved (surviving rows keep their gen numbers, so a later
        # CDC fold must still allocate above them).
        prev_gen = (
            int(prow["gen"])
            if "gen" in params.columns and prow["gen"] is not None
            else int(
                spark.read.parquet(d).agg(F.max("gen")).head()[0] or 0
            )
        )
        _bm_write_params(
            spark,
            store_path,
            list(prow["fields"]),
            mutated=False,
            gen=prev_gen,
            dead=0,  # every surviving row is live after the reclaim
            analyzer=_params_analyzer(prow),
        )
    return {
        "postings_files": (len(before_p), len(list_data_files(p))),
        "docstats_files": (len(before_d), len(list_data_files(d))),
    }


def proximity_over_store(
    spark,
    store_path: str,
    terms: Sequence[str],
) -> DataFrame:
    """Proximity scoring over the positional postings index: for every
    document containing ALL the (distinct) query terms, the MINIMAL
    SPAN — the smallest ``max(pos) − min(pos)`` over any choice of one
    occurrence per term — the primitive behind ES ``match_phrase``
    slop and proximity boosting (a sloppy phrase match is
    ``min_span ≤ slop + len(terms) − 1``; a proximity boost is a
    monotone function of ``min_span``, e.g. ``1 / (1 + min_span)``).
    Completes the search-parity list alongside :func:`phrase_over_store`
    (exact adjacency) using the same scheme-2 positions.

    Scale shape: one postings scan FILTERED to the query terms
    (``PushedFilters: In(token, …)`` over the token-range-clustered
    files — the index is never read whole), one doc-keyed equi-join
    per term (docs missing any term drop out), then the classic
    LINEAR minimal-window algorithm as a pure-JVM fold: merge the
    per-term position lists into one position-sorted event array
    (size = Σ tf over the query terms, never the ∏ tf cross product)
    and ``F.aggregate`` over it tracking the last-seen position per
    term — each event's candidate window is ``pos − min(last_seen)``.
    Per-doc work ∝ the query terms' posting sizes.  Output:
    ``(doc, min_span)``, span asc then doc asc (0 for a single term).
    """
    from ..storeio import read_parquet_if_exists

    terms = list(
        dict.fromkeys(analyze_store_terms(spark, store_path, terms))
    )
    k = len(terms)
    if k < 1:
        raise ValueError("proximity needs at least one term")
    postings, _ds = _read_search_store(spark, store_path)
    if postings is None:
        return spark.createDataFrame([], "doc long, min_span long")
    base = postings.filter(F.col("token").isin(terms))
    joined = None
    for i, term in enumerate(terms):
        leg = base.filter(F.col("token") == term).select(
            "doc", F.col("pos").alias(f"__p{i}")
        )
        joined = leg if joined is None else joined.join(leg, "doc")

    def _tagged(i: int):
        # single-arg lambda: F.transform hands the ARRAY INDEX to a
        # second parameter, which would clobber the term tag (the
        # phrase_over_store lesson)
        lit_i = F.lit(i)
        return F.transform(
            F.col(f"__p{i}"),
            lambda x: F.struct(x.alias("pos"), lit_i.alias("t")),
        )

    merged = F.array_sort(
        F.flatten(F.array(*[_tagged(i) for i in range(k)]))
    )
    init = F.struct(
        *[F.lit(-1).alias(f"l{i}") for i in range(k)],
        F.lit(2**31).alias("best"),
    )

    def step(acc, e):
        post = [
            F.when(e["t"] == i, e["pos"]).otherwise(acc[f"l{i}"])
            for i in range(k)
        ]
        lo = F.least(*post) if k > 1 else post[0]
        best = F.when(
            lo >= 0, F.least(acc["best"], e["pos"] - lo)
        ).otherwise(acc["best"])
        return F.struct(
            *[p.alias(f"l{i}") for i, p in enumerate(post)],
            best.alias("best"),
        )

    acc = F.aggregate(merged, init, step)
    return joined.select(
        "doc", acc["best"].cast("long").alias("min_span")
    ).orderBy(F.col("min_span").asc(), F.col("doc").asc())


KNUTH = 2654435761
HASH_MOD = 2**32


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the mix-rebalancing
    step of a training-data pipeline (e.g. keep 50% of English, 20% of
    everything else).

    Selection hashes the id with Knuth's multiplicative constant —
    plain integer arithmetic, so any engine reproduces the exact same
    sample (no engine-specific RNG or hash), and membership is stable
    under re-runs and incremental appends.  Pure projection + filter:
    no shuffle, fully pushable.
    """
    u = F.pmod(F.col(id_col) * F.lit(KNUTH), F.lit(HASH_MOD)) / F.lit(
        float(HASH_MOD)
    )
    rate = F.lit(default_rate)
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(r)).otherwise(rate)
    return df.filter(u < rate)


def weighted_sample_topk(
    df: DataFrame,
    id_col: str,
    weight: Column,
    k: int,
    seed: int = 0,
) -> DataFrame:
    """Weighted random sampling WITHOUT replacement — exactly ``k``
    rows, inclusion probability proportional to ``weight`` — via the
    Efraimidis–Spirakis A-ES key: each row draws a deterministic
    uniform ``u`` from its id (Knuth multiplicative hash — plain
    integer arithmetic, reproducible on any engine) and ranks by
    ``ln(u) / weight``; the global top-k by key IS the weighted
    sample.  The textbook alternative — normalize weights, then
    sequential/rejection sampling — needs a total and a sequential
    pass; the A-ES key needs neither.

    Scale shape: ``orderBy(key).limit(k)`` compiles to
    TakeOrderedAndProject — a per-partition bounded heap plus a
    driver merge of ``k × partitions`` candidates.  No global sort,
    no shuffle, one scan; pinned in the plan contracts.

    Rows with ``weight <= 0`` or NULL are excluded (their key is
    NULL).  Output: the input columns plus the weight under
    ``__weight`` (the sampling key is internal — it is float-valued
    and engine-log-dependent at the last ulp, so callers pin the
    SELECTED SET, which is ulp-stable for continuous keys).
    """
    u = (
        F.pmod(
            (F.col(id_col) + F.lit(seed)) * F.lit(KNUTH), F.lit(HASH_MOD)
        )
        + F.lit(0.5)
    ) / F.lit(float(HASH_MOD))
    key = F.when(weight > 0, F.log(u) / weight)
    return (
        df.withColumn("__weight", weight)
        .withColumn("__key", key)
        .filter(F.col("__key").isNotNull())
        .orderBy(F.desc("__key"))
        .limit(k)
        .drop("__key")
    )


def weighted_sample_per_group(
    df: DataFrame,
    id_col: str,
    group_col: str,
    weight: Column,
    k: int,
    seed: int = 0,
    salt: int = 32,
) -> DataFrame:
    """Per-group weighted sampling without replacement: exactly ``k``
    rows PER GROUP (fewer when the group is smaller), inclusion
    probability proportional to ``weight`` within its group — the
    balanced-subset builder (e.g. 10k docs per language).  Same A-ES
    key as :func:`weighted_sample_topk`, ranked per group.

    Scale shape: two salted window stages (the topic-label pattern) —
    rank within ``(group, id-salt)`` first and keep k per shard, then
    rank the ≤ ``k × salt`` survivors per group — so no task ever
    sorts a whole group, only group-shards and the tiny survivor set.
    Exact: every global per-group top-k row survives its shard stage.
    Rows with NULL or non-positive weight are excluded.
    """
    u = (
        F.pmod(
            (F.col(id_col) + F.lit(seed)) * F.lit(KNUTH), F.lit(HASH_MOD)
        )
        + F.lit(0.5)
    ) / F.lit(float(HASH_MOD))
    key = F.when(weight > 0, F.log(u) / weight)
    shard = F.pmod(F.col(id_col), F.lit(salt))
    w1 = Window.partitionBy(group_col, "__shard").orderBy(
        F.col("__key").desc(), F.col(id_col).asc()
    )
    w2 = Window.partitionBy(group_col).orderBy(
        F.col("__key").desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__weight", weight)
        .withColumn("__key", key)
        .filter(F.col("__key").isNotNull())
        .withColumn("__shard", shard)
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .withColumn("__r2", F.row_number().over(w2))
        .filter(F.col("__r2") <= k)
        .drop("__key", "__shard", "__r1", "__r2")
    )


def token_budget_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    n_tokens: Column,
    budget: int,
    seed: int = 0,
) -> DataFrame:
    """Fill a per-group TOKEN budget (not a row count): order each
    group by a deterministic random key (Knuth id hash — any engine
    reproduces the order) and keep documents while the tokens
    consumed BEFORE each one stay under ``budget`` — the greedy
    random prefix, i.e. "sample ~1B tokens per domain", the unit
    data mixtures are actually specified in.  The last kept document
    may overshoot the budget (greedy-prefix semantics: a document is
    atomic).

    One window per group: the running sum is inherently sequential
    in the prefix order, so unlike top-k it cannot shard — but
    groups parallelize across the cluster and the window carries
    only (id, tokens, key).  Output: input columns + ``__tokens``
    (the document's counted tokens).
    """
    u = F.pmod(
        (F.col(id_col) + F.lit(seed)) * F.lit(KNUTH), F.lit(HASH_MOD)
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("__key").asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__tokens", n_tokens)
        .withColumn("__key", u)
        .withColumn(
            "__before",
            F.coalesce(
                F.sum("__tokens").over(w) - F.col("__tokens"), F.lit(0)
            ),
        )
        .filter(F.col("__before") < budget)
        .drop("__key", "__before")
    )


def unigram_cross_entropy(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document cross-entropy against the corpus's own unigram
    distribution — the classic perplexity-proxy quality signal (CCNet
    / Wenzek et al. style, with the corpus itself as the LM): low
    values mark repetitive/common-token text, high values mark
    noise and junk tokens.  Output: ``id, n_tokens, xent`` (nats,
    floor-stabilized to 6 dp).

    Shuffle shape at scale: explode -> token-keyed vocab aggregation
    (map-side combined) -> token-keyed join back -> doc-keyed mean.
    The vocabulary total joins in as a broadcast one-row frame; no
    driver-side vocab, no per-row Python.  Empty docs keep
    ``xent = 0`` by convention.
    """
    # clone-collapsed: LM counts weight distinct texts by their clone
    # multiplicity (sum(mult) == the per-doc token count exactly) and
    # per-text scores expand through a null-safe text-keyed join
    groups = df.groupBy(F.col(text_col).alias("__t")).agg(
        F.count("*").alias("__m")
    )
    nonempty = groups.filter(
        F.length(F.trim(F.coalesce(F.col("__t"), F.lit("")))) > 0
    )
    toks = nonempty.select(
        "__t", "__m", F.explode(tokens_col(F.col("__t"))).alias("t")
    )
    vocab = toks.groupBy("t").agg(F.sum("__m").alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("n"))
    per_text = (
        toks.join(vocab, "t")
        .join(F.broadcast(total))
        .groupBy("__t")
        .agg(
            F.count("*").alias("n_tokens"),
            _floor6(F.avg(-F.log(F.col("c") / F.col("n")))).alias("xent"),
        )
        .select(
            F.isnull("__t").alias("__k0"),
            F.coalesce(F.col("__t"), F.lit("")).alias("__k1"),
            "n_tokens",
            "xent",
        )
    )
    lhs = df.select(
        F.col(id_col),
        F.isnull(F.col(text_col)).alias("__k0"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__k1"),
    )
    return lhs.join(per_text, ["__k0", "__k1"], "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("xent", F.lit(0.0)).alias("xent"),
    )


def bigram_cross_entropy(
    df: DataFrame, id_col: str, text_col: str, lam: float = 0.7
) -> DataFrame:
    """Per-document cross-entropy under an interpolated bigram LM
    trained on the corpus itself:

        P(w_i | w_{i-1}) = lam * c(w_{i-1} w_i) / c(w_{i-1})
                         + (1 - lam) * c(w_i) / N

    The conditional term catches what unigram statistics can't —
    shuffled word salad scores high here while its unigram entropy
    looks normal — which is why fluency-style quality filters use a
    (at least) bigram model.  Output: ``id, n_bigrams, xent2`` (nats,
    floor-stabilized; docs with < 2 tokens get 0 by convention).

    Shuffle shape: bigram pairs come from zipping the token array
    with its tail (pure JVM, no self-join on positions), then the
    usual combined count aggregations and key-joins — the same plan
    family as the unigram signal, one extra join for the bigram table.
    """
    # clone-collapsed like the unigram signal: bigram/unigram LM
    # counts weight distinct texts by multiplicity; scoring runs per
    # distinct text and expands through a null-safe text join
    groups = df.groupBy(F.col(text_col).alias("__t")).agg(
        F.count("*").alias("__m")
    )
    nonempty = groups.filter(
        F.length(F.trim(F.coalesce(F.col("__t"), F.lit("")))) > 0
    )
    toks = tokens_col(F.col("__t"))
    nt = F.size(toks)
    pairs = nonempty.select(
        "__t",
        "__m",
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, nt - 1).alias("p"),
                F.slice(toks, 2, nt - 1).alias("c"),
            )
        ).alias("bg"),
    ).select(
        "__t", "__m", F.col("bg.p").alias("p"), F.col("bg.c").alias("c")
    )

    uni = (
        nonempty.select(
            "__m", F.explode(tokens_col(F.col("__t"))).alias("t")
        )
        .groupBy("t")
        .agg(F.sum("__m").alias("c1"))
    )
    total = uni.agg(F.sum("c1").cast("double").alias("n"))
    bi = pairs.groupBy("p", "c").agg(F.sum("__m").alias("c2"))

    prob = F.lit(lam) * (F.col("c2") / F.col("c1p")) + F.lit(1.0 - lam) * (
        F.col("c1c") / F.col("n")
    )
    per_text = (
        pairs.join(bi, ["p", "c"])
        .join(uni.select(F.col("t").alias("p"), F.col("c1").alias("c1p")), "p")
        .join(uni.select(F.col("t").alias("c"), F.col("c1").alias("c1c")), "c")
        .join(F.broadcast(total))
        .groupBy("__t")
        .agg(
            F.count("*").alias("n_bigrams"),
            _floor6(F.avg(-F.log(prob))).alias("xent2"),
        )
        .select(
            F.isnull("__t").alias("__k0"),
            F.coalesce(F.col("__t"), F.lit("")).alias("__k1"),
            "n_bigrams",
            "xent2",
        )
    )
    lhs = df.select(
        F.col(id_col),
        F.isnull(F.col(text_col)).alias("__k0"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__k1"),
    )
    return lhs.join(per_text, ["__k0", "__k1"], "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("xent2", F.lit(0.0)).alias("xent2"),
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    n_buckets: int = 3,
    lam: float = 0.7,
    rank_bins: int = 256,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., LREC'20):
    rank every document within its language by bigram cross-entropy
    and split each language into ``n_buckets`` equal-count tiers —
    head/middle/tail for the default 3 — then report per
    ``(lang, bucket)``: doc count, total bigrams, mean xent (exact
    integer micro-nats, so the cross-engine compare is float-free).

    Exact ntile semantics (the first ``c % n`` tiers of a
    ``c``-doc language get the extra row), but WITHOUT ntile's
    scale problem: a window partitioned by language sorts each
    language's rows in ONE task — the classic skew wall when one
    language is half the corpus.  Instead ranks come from the
    grid-offset two-pass of :func:`corpus_shuffle` generalized to
    group scope: the xent domain splits into ``rank_bins``
    contiguous ranges, per ``(lang, bin)`` counts roll into
    broadcast within-language offsets (``langs × rank_bins`` rows of
    driver state), and row_number runs inside each ``(lang, bin)``
    cell — parallelism = cells, no language-sized sort task.
    """
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    x = bigram_cross_entropy(df, id_col, text_col, lam)
    lx = df.select(F.col(id_col), F.col(lang_col).alias("lang")).join(
        x, id_col
    )
    # grid the xent domain: one tiny agg for the global bounds
    bounds = lx.agg(
        F.min("xent2").alias("lo"), F.max("xent2").alias("hi")
    ).head()
    lo, hi = float(bounds["lo"] or 0.0), float(bounds["hi"] or 0.0)
    span = max(hi - lo, 1e-12)
    binc = F.least(
        F.lit(rank_bins - 1),
        F.floor((F.col("xent2") - F.lit(lo)) / F.lit(span) * rank_bins),
    ).cast("int")
    # __lk: null-safe join/window key (equi-joins drop null keys; a
    # null-lang corpus slice must still bucket as its own group)
    binned = lx.withColumn("__bin", binc).withColumn(
        "__lk", F.coalesce(F.col("lang"), F.lit("\x00"))
    )
    cells = (
        binned.groupBy("__lk", "__bin").agg(F.count("*").alias("__c"))
    ).collect()
    # within-language prefix offsets + language totals (driver state:
    # langs × rank_bins rows)
    from collections import defaultdict

    per_lang: dict = defaultdict(list)
    for r in cells:
        per_lang[r["__lk"]].append((r["__bin"], int(r["__c"])))
    offs, totals = [], {}
    for lk, bl in per_lang.items():
        acc = 0
        for b, c in sorted(bl):
            offs.append((lk, b, acc))
            acc += c
        totals[lk] = acc
    if not offs:
        return df.sparkSession.createDataFrame(
            [],
            "lang string, bucket int, n_docs long, total_bigrams long, "
            "avg_xent2_micro long",
        )
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        offs, "__lk string, __bin int, __off long"
    )
    tot_df = spark.createDataFrame(
        list(totals.items()), "__lk string, __n long"
    )
    w = Window.partitionBy("__lk", "__bin").orderBy("xent2", id_col)
    ranked = (
        binned.join(F.broadcast(off_df), ["__lk", "__bin"])
        .join(F.broadcast(tot_df), "__lk")
        .select(
            "lang",
            "n_bigrams",
            "xent2",
            "__n",
            (F.col("__off") + F.row_number().over(w) - 1).alias("__r"),
        )
    )
    # exact ntile: the first rem = c % n tiers have size q+1, the
    # rest size q (integer div throughout; the q=0 branch is
    # unreachable when every row is a head row, but greatest() keeps
    # the divisor legal)
    n = n_buckets
    bucket = (
        F.expr(
            f"CASE WHEN __r < (__n % {n}) * (__n div {n} + 1) "
            f"THEN __r div (__n div {n} + 1) "
            f"ELSE (__n % {n}) + (__r - (__n % {n}) * (__n div {n} + 1)) "
            f"div greatest(__n div {n}, 1L) END"
        ).cast("int")
        + 1
    )
    return (
        ranked.withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("total_bigrams"),
            F.expr(
                "sum(cast(round(xent2 * 1000000) as bigint)) div count(*)"
            ).alias("avg_xent2_micro"),
        )
    )


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    fractions: Sequence[tuple[str, float]] = (
        ("train", 0.9),
        ("val", 0.05),
        ("test", 0.05),
    ),
    salt: int = 1,
) -> DataFrame:
    """Deterministic dataset split: tag every row with a split label
    by hashed-id interval — the standard leak-free train/val/test
    assignment for a training corpus.

    Same engine-portable scheme as :func:`stratified_sample` (Knuth
    multiplicative hash on the id, plain integer arithmetic): any
    engine reproduces the exact assignment, membership is stable under
    re-runs and appends (a doc's split never changes as the corpus
    grows — the property that keeps eval sets honest), and ``salt``
    re-deals the assignment when a fresh split is wanted.  Pure
    projection: no shuffle, no RNG, fully pushable.
    """
    u = F.pmod(
        (F.col(id_col) + F.lit(salt)) * F.lit(KNUTH), F.lit(HASH_MOD)
    ) / F.lit(float(HASH_MOD))
    acc = 0.0
    label: Column | None = None
    for name, frac in fractions:
        acc += frac
        cond = u < F.lit(acc)
        label = (
            F.when(cond, F.lit(name))
            if label is None
            else label.when(cond, F.lit(name))
        )
    # numeric slack: anything past the last boundary joins the final
    # split so fractions summing to 1.0 cover every row exactly
    out_label = label.otherwise(F.lit(fractions[-1][0]))
    return df.select("*", out_label.alias("split"))


def _floor6(x: Column) -> Column:
    # floor-stabilized 6-decimal truncation: engines' round() disagree
    # in the last ulp on .5 boundaries; floor of the same double is
    # bit-identical everywhere
    return F.floor(x * 1_000_000) / 1_000_000


def _repetition_kernel(texts):
    import re
    from collections import Counter

    import pandas as pd

    ws = re.compile(r"\s+")
    out_n, out_top, out_bi, out_dist = [], [], [], []
    for t in texts:
        s = t.strip(" ") if t is not None else ""  # SQL trim: spaces only
        if s == "":
            out_n.append(0)
            out_top.append(0)
            out_bi.append(0)
            out_dist.append(0)
            continue
        toks = ws.split(s)
        counts = Counter(toks)
        out_n.append(len(toks))
        out_top.append(max(counts.values()))
        out_dist.append(len(counts))
        if len(toks) > 1:
            out_bi.append(max(Counter(zip(toks, toks[1:])).values()))
        else:
            out_bi.append(0)
    return pd.DataFrame(
        {
            "n": out_n,
            "top_tok": out_top,
            "top_bi": out_bi,
            "n_distinct": out_dist,
        }
    )


def repetition_features(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Gopher-style repetition signals, per document: fraction of the
    text covered by the most frequent token / bigram, and the
    duplicate-token fraction.  High values mark boilerplate and
    degenerate generations — a standard pre-training quality filter
    (Rae et al. 2021, "Scaling Language Models", table A1 analog).

    Embarrassingly parallel and shuffle-free: one Arrow-batched
    Counter pass per document.  Measured against the alternatives on
    the 10x corpus: a higher-order ``transform``+``filter`` frequency
    fold evaluates *interpreted* per (distinct x token) pair — 192 s
    vs ~2 s for this kernel — and an explode + two-level groupBy
    costs two corpus-sized shuffles.  Only the count extraction is
    Python; the fractions are column arithmetic, so the float math
    stays identical to the SQL oracle.
    """
    stats = F.pandas_udf(
        _repetition_kernel,
        "struct<n:long,top_tok:long,top_bi:long,n_distinct:long>",
    )(F.col(text_col))
    out = df.select(F.col(id_col), stats.alias("__s"))
    n = F.col("__s.n").cast("double")
    n_safe = F.when(n > 0, n)
    n_bi = F.when(n > 1, n - 1)
    return out.select(
        F.col(id_col),
        F.col("__s.n").alias("n_tokens"),
        _floor6(
            F.col("__s.top_tok").cast("double") / n_safe
        ).alias("top_token_frac"),
        _floor6(
            F.when(n > 1, F.col("__s.top_bi").cast("double")) / n_bi
        ).alias("top_bigram_frac"),
        _floor6(
            (n - F.col("__s.n_distinct").cast("double")) / n_safe
        ).alias("dup_token_frac"),
    )


def _ngram_kernel(n: int):
    import re

    import pandas as pd

    ws = re.compile(r"\s+")

    def kernel(texts):
        out = []
        for t in texts:
            s = t.strip(" ") if t is not None else ""
            toks = ws.split(s) if s else []
            m = len(toks) - n + 1
            out.append(
                [" ".join(toks[i : i + n]) for i in range(m)] if m > 0 else []
            )
        return pd.Series(out)

    return kernel


def word_ngrams_col(text: Column, n: int) -> Column:
    """Overlapping word n-grams WITH multiplicity (positional), as an
    array column.  Arrow-batched kernel for the same reason as
    ``shingles_col``: the transform+slice+concat_ws alternative
    evaluates interpreted per gram, and when the resulting array is
    consumed by both ``size`` and ``explode`` the optimizer can
    inline the expression into each consumer — re-evaluating it per
    exploded row turned the 10x contamination probe pathological."""
    return F.pandas_udf(_ngram_kernel(n), "array<string>")(text)


def contamination(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark_df: DataFrame,
    benchmark_text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per document, how many of its word
    ``n``-grams appear anywhere in the benchmark set — the standard
    n-gram-overlap test run before training to keep eval data out of
    the corpus (GPT-3 appendix C / PaLM-style 8-gram checks; 5 here
    to suit short synthetic docs).

    Plan shape for scale: the benchmark's distinct grams are tiny
    (eval suites, not corpora) and broadcast; the corpus side explodes
    to (doc, gram), LEFT-joins the broadcast set, and re-aggregates by
    doc — one shuffle keyed by doc id, no corpus-side distinct.  If
    the "benchmark" ever is corpus-sized, drop the broadcast hint and
    let AQE pick a shuffle join.

    The per-doc gram count is derived arithmetically from the token
    count (``max(0, n_tokens - (n-1))``) instead of ``size(grams)``
    so the gram array has exactly ONE consumer (the explode) — a
    second consumer invites the optimizer to duplicate the gram
    computation per exploded row.
    """
    # clone-collapsed: the overlap verdict depends only on the text,
    # so the gram kernel + explode + broadcast probe run once per
    # DISTINCT text (the shuffled gram frame is distinct-content-
    # sized) and results expand through a null-safe text-keyed join
    n_grams_expr = F.greatest(
        token_count_col(F.col("__k1")) - (n - 1), F.lit(0)
    )
    distinct_t = df.select(
        F.isnull(F.col(text_col)).alias("__k0"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__k1"),
    ).distinct()
    text_grams = distinct_t.select(
        "__k0",
        "__k1",
        n_grams_expr.alias("__n_grams"),
        F.explode_outer(
            word_ngrams_col(F.col("__k1"), n)
        ).alias("__gram"),
    )
    bench = (
        benchmark_df.select(
            F.explode(
                word_ngrams_col(F.col(benchmark_text_col), n)
            ).alias("__gram")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    per_text = (
        text_grams.join(F.broadcast(bench), "__gram", "left")
        .groupBy("__k0", "__k1")
        .agg(
            F.max("__n_grams").alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias(
                "n_contaminated"
            ),
        )
        .withColumn("contaminated", F.col("n_contaminated") > 0)
    )
    lhs = df.select(
        F.col(id_col),
        F.isnull(F.col(text_col)).alias("__k0"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__k1"),
    )
    return lhs.join(per_text, ["__k0", "__k1"]).select(
        id_col, "n_grams", "n_contaminated", "contaminated"
    )


def contamination_bloom(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark_df: DataFrame,
    benchmark_text_col: str = "text",
    n: int = 5,
    n_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """:func:`contamination` with a BLOOM-FILTER PREFILTER — the
    trillion-gram decontamination shape.  :func:`contamination`
    broadcasts the benchmark's exact gram set, which stops working
    when the "benchmark" side is itself huge (every seen URL, every
    previously-trained shard): the exact join then shuffles EVERY
    corpus gram.  Here the benchmark grams build a driver-side Bloom
    bitmap (``n_bits`` bits, ``k`` xxhash64 probes — bounded model
    state: 2^20 bits = 128 KB regardless of benchmark size at the
    cost of FP rate), shipped as ONE array<long> literal; corpus
    grams test membership as pure codegen bit arithmetic, and only
    the survivors (true hits + Bloom false positives, ≈
    ``n_grams·fp_rate``) reach the exact join — the shuffled volume
    drops from all corpus grams to approximately the contaminated
    set.  The exact join keeps the result EQUAL to
    :func:`contamination` (false positives die there) — the Bloom
    stage is invisible to the output, which is what lets the registry
    row share the exact oracle.  Output schema identical to
    :func:`contamination`."""
    if n_bits & (n_bits - 1):
        raise ValueError("n_bits must be a power of two")
    bench_grams = (
        benchmark_df.select(
            F.explode(
                word_ngrams_col(F.col(benchmark_text_col), n)
            ).alias("__gram")
        )
        .distinct()
    )

    def probes(gram_col):
        # Kirsch-Mitzenmacher double hashing: ONE xxhash64 per gram,
        # k positions derived as (h1 + i*h2) mod n_bits — same FP
        # guarantees as k independent hashes at a kth of the hash
        # cost, identical JVM-side for build and test
        # reduce mod n_bits BEFORE combining — identical positions
        # ((h1 + i*h2) mod m == ((h1 mod m) + i*(h2 mod m)) mod m)
        # and the sum stays < (k+1)*n_bits, safe under ANSI overflow
        h1 = F.pmod(F.xxhash64(gram_col), F.lit(n_bits))
        h2 = F.pmod(
            F.xxhash64(gram_col, F.lit(0x9E3779B9)), F.lit(n_bits)
        )
        return [
            F.pmod(h1 + F.lit(i) * h2, F.lit(n_bits))
            for i in range(int(k))
        ]

    # the bit build explodes RAW bench grams (no gram-level distinct
    # — duplicate grams collapse in the bit-level distinct anyway,
    # which is capped at n_bits rows regardless of benchmark size)
    bit_rows = benchmark_df.select(
        F.explode(
            word_ngrams_col(F.col(benchmark_text_col), n)
        ).alias("__gram")
    ).select(
        F.explode(F.array(*probes(F.col("__gram")))).alias("bit")
    ).distinct()
    # driver bitmap: bounded by n_bits/8 bytes, NOT by benchmark
    # size.  Arrow transfer + one vectorized scatter — a row-wise
    # py4j collect of the bit set measured ~20 s at 2^25 bits
    import numpy as np

    bits = bit_rows.toPandas()["bit"].to_numpy(np.int64)
    arr = np.zeros(n_bits // 64, dtype=np.uint64)
    np.bitwise_or.at(
        arr,
        bits >> 6,
        np.uint64(1) << (bits & 63).astype(np.uint64),
    )
    # two's-complement view: JVM longs are signed, bit 63 must wrap
    words = arr.view(np.int64).tolist()
    # the bitmap travels as broadcast DATA (a one-row frame cross-
    # joined onto the gram stream), NOT as an expression literal: a
    # multi-MB array literal lands in the generated code k times and
    # measured 85x slower at 2^25 bits (SCALING.md round 11) — as a
    # row value it ships once per executor and element_at stays O(1)
    spark = df.sparkSession
    bitmap_df = spark.createDataFrame(
        [(words,)], "__bloom array<long>"
    )
    bitmap = F.col("__bloom")

    def might_contain(gram_col):
        cond = None
        for p in probes(gram_col):
            word = F.element_at(bitmap, (p / 64).cast("int") + 1)
            # call_function: the SQL shiftright takes a column bit
            # count; the typed Python wrapper insists on an int
            hit = F.call_function(
                "shiftright", word, F.pmod(p, F.lit(64)).cast("int")
            ).bitwiseAND(F.lit(1)) == 1
            cond = hit if cond is None else (cond & hit)
        return cond

    n_grams_expr = F.greatest(
        token_count_col(F.col("__k1")) - (n - 1), F.lit(0)
    )
    distinct_t = df.select(
        F.isnull(F.col(text_col)).alias("__k0"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__k1"),
    ).distinct()
    text_grams = distinct_t.select(
        "__k0",
        "__k1",
        n_grams_expr.alias("__n_grams"),
        F.explode_outer(
            word_ngrams_col(F.col("__k1"), n)
        ).alias("__gram"),
    )
    survivors = (
        text_grams.filter(F.col("__gram").isNotNull())
        .crossJoin(F.broadcast(bitmap_df))
        .filter(might_contain(F.col("__gram")))
        .drop("__bloom")
    )
    # exact verify on the Bloom survivors only — no broadcast hint:
    # at the scale this operator exists for, the benchmark side is
    # NOT broadcastable and AQE picks the join for the survivor
    # volume instead
    hits = (
        survivors.join(
            bench_grams.withColumn("__hit", F.lit(1)),
            "__gram",
            "left",
        )
        .groupBy("__k0", "__k1")
        .agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias(
                "n_contaminated"
            )
        )
    )
    base = distinct_t.select(
        "__k0", "__k1", n_grams_expr.alias("n_grams")
    )
    per_text = base.join(hits, ["__k0", "__k1"], "left").select(
        "__k0",
        "__k1",
        "n_grams",
        F.coalesce(F.col("n_contaminated"), F.lit(0)).alias(
            "n_contaminated"
        ),
        (F.coalesce(F.col("n_contaminated"), F.lit(0)) > 0).alias(
            "contaminated"
        ),
    )
    lhs = df.select(
        F.col(id_col),
        F.isnull(F.col(text_col)).alias("__k0"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__k1"),
    )
    return lhs.join(per_text, ["__k0", "__k1"]).select(
        id_col, "n_grams", "n_contaminated", "contaminated"
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows —
    the context-window preparation step for embedding/retrieval
    pipelines (chunk ``chunk_tokens`` words, advance ``stride``, so
    consecutive chunks share ``chunk_tokens - stride`` words).

    A document of n tokens yields 1 + ceil(max(0, n - chunk)/stride)
    chunks (always at least one, so empty docs survive as one empty
    chunk).  Pure JVM explode — no shuffle, no Python.
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = tokens_col(F.col(text_col))
    n = token_count_col(F.col(text_col))
    n_chunks = (
        F.lit(1)
        + F.ceil(
            F.greatest(n - chunk_tokens, F.lit(0)).cast("double")
            / stride
        ).cast("int")
    )
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("long").alias("chunk_id"),
                F.concat_ws(
                    " ", F.slice(toks, i * stride + 1, chunk_tokens)
                ).alias("chunk_text"),
            ),
        )
    )
    return df.select(F.col(id_col), chunk.alias("__c")).select(
        id_col,
        F.col("__c.chunk_id").alias("chunk_id"),
        F.col("__c.chunk_text").alias("chunk_text"),
        token_count_col(F.col("__c.chunk_text")).alias("chunk_tokens"),
    )


def vocabulary(
    df: DataFrame, id_col: str, text_col: str, top_k: int = 1000
) -> DataFrame:
    """Corpus vocabulary: top-K whitespace tokens by frequency (ties
    broken on token text) with document frequency alongside — the
    heavy-hitter aggregation BPE/tokenizer training starts from.

    One explode + one partial+final aggregation; the top-K is a
    TakeOrdered over the aggregated (distinct-token-sized) frame, not
    a full sort of the corpus.
    """
    toks = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(tokens_col(F.col(text_col))).alias("token"),
    ).filter(F.length("token") > 0)
    counts = toks.groupBy("token").agg(
        F.count("*").alias("term_freq"),
        F.countDistinct("__doc").alias("doc_freq"),
    )
    return counts.orderBy(
        F.col("term_freq").desc(), F.col("token").asc()
    ).limit(top_k)


def fingerprint_col(text: Column) -> Column:
    """Order-sensitive rolling-hash document fingerprint over tokens:
    ``h = (h*31 + ascii(tok[0])*31 + len(tok)) mod p`` — a fixed,
    engine-portable recurrence (no engine hash functions), foldable in
    any SQL dialect with a list-reduce."""
    toks = tokens_col(text)
    nums = F.transform(
        toks,
        lambda t: (
            F.ascii(F.substring(t, 1, 1)) * 31 + F.length(t)
        ).cast("long"),
    )
    return F.aggregate(
        nums,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % FINGERPRINT_MOD,
    )


def _winnow_kernel(k: int, w: int):
    import re

    import numpy as np
    import pandas as pd

    ws = re.compile(r"\s+")
    p = FINGERPRINT_MOD
    # 31^(k-1-i) mod p: the positional weights of the k-token rolling
    # hash, so a window's hash is one int64 dot product instead of a
    # per-token Python fold.  Bound check: token value < 0x10FFFF*31+L,
    # weight < p, so a k-term dot product stays far inside int64.
    pows = np.array([pow(31, k - 1 - i, p) for i in range(k)], dtype=np.int64)
    sw = np.lib.stride_tricks.sliding_window_view

    # no annotations: text.py imports pandas lazily, and under
    # `from __future__ import annotations` pyspark would try to
    # resolve the 'pd.Series' hint in module globals where pd is absent
    def kernel(texts):
        out = []
        for t in texts:
            # strip(' ') not strip(): SQL trim() removes spaces only
            toks = ws.split(t.strip(" ")) if t is not None else []
            if len(toks) < k:
                out.append([])
                continue
            nums = np.fromiter(
                ((ord(x[0]) if x else 0) * 31 + len(x) for x in toks),
                dtype=np.int64,
                count=len(toks),
            )
            h = (sw(nums, k) @ pows) % p
            mins = h.min(keepdims=True) if len(h) <= w else sw(h, w).min(axis=1)
            out.append(np.unique(mins).tolist())
        return pd.Series(out)

    return kernel


def winnow_fingerprints_col(text: Column, k: int = 5, w: int = 4) -> Column:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS algorithm): hash every k-token gram with the same
    portable rolling recurrence as :func:`fingerprint_col`, then keep
    the MINIMUM hash of each window of ``w`` consecutive gram hashes.
    The selected set is a position-robust local fingerprint with the
    winnowing guarantee: any shared token run of length >= k + w - 1
    between two documents yields at least one shared fingerprint —
    the detector for documents sharing PASSAGES, where whole-doc
    hashing (exact clones only) and doc-level Jaccard (diluted by
    unshared text) both miss.

    Arrow-batched kernel for the same reason as ``shingles_col``:
    per-element HOF lambdas evaluate interpreted; here the whole doc
    reduces to two numpy sliding-window passes.  Documents shorter
    than ``k`` tokens fingerprint to the empty set.  Density is
    ~2/(w+1) of the gram count, so the emitted state is a tunable
    fraction of the corpus — at 100 TB the fingerprint frame is the
    bucketed join input, never the raw grams.
    """
    from pyspark.sql.functions import pandas_udf

    return pandas_udf(_winnow_kernel(k, w), "array<long>")(text)


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, w: int = 4
) -> DataFrame:
    """Exploded ``(id, fp)`` winnowing-fingerprint frame — one row per
    distinct selected gram hash per document (the inverted-index shape
    consumed by :func:`~.dedup.winnow_overlap_pairs`)."""
    return df.select(
        F.col(id_col),
        F.explode(winnow_fingerprints_col(F.col(text_col), k, w)).alias(
            "fp"
        ),
    )


def hash_embed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 32,
    signed: bool = True,
    normalize: bool = False,
    collapse: bool = True,
) -> DataFrame:
    """Hashing-trick document embeddings (feature hashing, Weinberger
    et al. ICML'09): every whitespace token hashes to one of ``dim``
    buckets — bucket from the first 8 hex chars of ``md5(token)``,
    a ±1 sign from the 9th — and the document vector is the signed
    bucket-count histogram, optionally L2-normalized.  The model-free
    embedding any corpus can compute: it feeds the ANN / semantic
    stack (``ann_*_topk``, ``kmeans_clusters``, ``semantic_dedup``)
    when no trained encoder is available, and md5 keeps the bucket
    assignment bit-identical across engines so the registry pins the
    raw signed counts cross-engine.

    All JVM: md5/conv bucket + sign columns on the exploded token
    stream, then ONE doc-keyed hash aggregation of ``dim``
    conditional sums (map-side combined — each mapper emits ``dim``
    doubles per doc, the reducer adds them).  No token-keyed join at
    all (unlike the xent family), no Python anywhere.  Scale shape:
    explode + a single shuffle on the text/doc key.

    Clone-collapsed by default (the vector depends only on the
    text): the histogram aggregates once per DISTINCT text and
    expands back through a null-safe text-keyed join — crawl-shaped
    corpora pay for distinct content, not clones.

    ``normalize=True`` divides by the unrolled L2 norm (unit vectors
    for cosine consumers); zero vectors (empty/null docs) stay zero.
    Output: ``id, vec`` (array<double>, length ``dim``).
    """
    if dim <= 0:
        raise ValueError("dim must be positive")
    key = "__k"
    if collapse:
        # one histogram per DISTINCT text, keyed by the text itself
        base = df.select(F.col(text_col).alias(key)).distinct()
        text = F.col(key)
    else:
        base = df.select(F.col(id_col).alias(key), F.col(text_col))
        text = F.col(text_col)
    toks = base.filter(
        F.length(F.trim(F.coalesce(text, F.lit("")))) > 0
    ).select(F.col(key), F.explode(tokens_col(text)).alias("__tok"))
    h = F.md5(F.col("__tok"))
    bucket = F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(dim)
    )
    sgn = (
        F.when(
            F.pmod(
                F.conv(F.substring(h, 9, 1), 16, 10).cast("long"),
                F.lit(2),
            )
            == 0,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))
        if signed
        else F.lit(1.0)
    )
    hashed = toks.select(F.col(key), bucket.alias("__b"), sgn.alias("__s"))
    agg = hashed.groupBy(key).agg(
        *[
            F.sum(
                F.when(F.col("__b") == i, F.col("__s")).otherwise(0.0)
            ).alias(f"__c{i}")
            for i in range(dim)
        ]
    )
    comps = [F.coalesce(F.col(f"__c{i}"), F.lit(0.0)) for i in range(dim)]
    if normalize:
        # unrolled norm (no interpreted HOF fold on the hot path)
        sq = comps[0] * comps[0]
        for c in comps[1:]:
            sq = sq + c * c
        norm = F.sqrt(sq)
        vec = F.array(
            *[
                F.when(norm == 0.0, F.lit(0.0)).otherwise(c / norm)
                for c in comps
            ]
        )
    else:
        vec = F.array(*comps)
    zero = F.array(*[F.lit(0.0)] * dim)
    if not collapse:
        out = base.select(F.col(key).alias(id_col)).join(
            agg.select(F.col(key).alias(id_col), vec.alias("vec")),
            id_col,
            "left",
        )
        return out.select(
            id_col, F.coalesce(F.col("vec"), zero).alias("vec")
        )
    per_text = agg.select(
        F.isnull(key).alias("__k0"),
        F.coalesce(F.col(key), F.lit("")).alias("__k1"),
        vec.alias("vec"),
    )
    lhs = df.select(
        F.col(id_col),
        F.isnull(F.col(text_col)).alias("__k0"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__k1"),
    )
    return lhs.join(per_text, ["__k0", "__k1"], "left").select(
        id_col, F.coalesce(F.col("vec"), zero).alias("vec")
    )


def topic_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    dim: int = 32,
    top_terms: int = 3,
    seed: int = 7,
    label_salt: int = 32,
) -> DataFrame:
    """Model-free topic/domain discovery — the curation workflow that
    buckets an unlabeled corpus before mixing decisions: hash-embed
    every document (:func:`hash_embed`, unit-normalized), spherical
    k-means into ``<= k`` clusters
    (:func:`~mongo_es_spark.operators.similarity.kmeans_clusters`),
    then label each cluster with its ``top_terms`` TF-IDF tokens
    (cluster term frequency × ``ln(N/df)`` corpus IDF).

    Scale shape: embedding is one explode + one combined aggregation;
    assignment is a shuffle-free Arrow argmax against broadcast
    centroids; the label stage aggregates ``(cluster, token)`` counts
    (map-side combined) and picks top-N per cluster in TWO stages —
    row_number within ``(cluster, salt-of-token)`` first, then a
    final window over the surviving ``k × label_salt × top_terms``
    rows — so no task ever sorts a full per-cluster vocabulary (the
    same skew discipline as ``perplexity_buckets``' ranking).

    Output: ``(cluster, n_docs, top_terms_csv)`` — terms joined
    rank-ordered; a cluster whose members have no tokens keeps a
    NULL label.
    """
    from .similarity import kmeans_clusters

    emb = hash_embed(
        df, id_col, text_col, dim=dim, normalize=True
    )
    assigned, _C = kmeans_clusters(emb, id_col, "vec", k=k, seed=seed)
    assigned = assigned.select(id_col, "cluster").localCheckpoint(
        eager=True
    )

    toks = df.select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("__tok")
    ).filter(F.col("__tok") != "")
    n_total = df.select(F.count("*").cast("double").alias("__n"))
    dfreq = (
        toks.select(id_col, "__tok")
        .distinct()
        .groupBy("__tok")
        .agg(F.count("*").alias("__df"))
    )
    # merge hints: the assignment and doc-frequency sides are
    # corpus-sized at scale — AQE must never runtime-convert these to
    # broadcast builds (measured at the 500k-doc replica: the vocab
    # side's compressed estimate fits the threshold, the built hash
    # relation does not — driver OOM on an 8g local run)
    ct = (
        toks.join(assigned.hint("merge"), id_col)
        .groupBy("cluster", "__tok")
        .agg(F.count("*").alias("__tf"))
    )
    scored = (
        ct.join(dfreq.hint("merge"), "__tok")
        .join(F.broadcast(n_total))
        .select(
            "cluster",
            "__tok",
            (F.col("__tf") * F.log(F.col("__n") / F.col("__df"))).alias(
                "__score"
            ),
        )
    )
    salt = F.pmod(F.xxhash64("__tok"), F.lit(label_salt))
    w1 = Window.partitionBy("cluster", "__salt").orderBy(
        F.col("__score").desc(), F.col("__tok").asc()
    )
    w2 = Window.partitionBy("cluster").orderBy(
        F.col("__score").desc(), F.col("__tok").asc()
    )
    top = (
        scored.withColumn("__salt", salt)
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= top_terms)
        .withColumn("__r", F.row_number().over(w2))
        .filter(F.col("__r") <= top_terms)
    )
    labels = top.groupBy("cluster").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__r", "__tok"))
                ),
                lambda s: s["__tok"],
            ),
            ",",
        ).alias("top_terms_csv")
    )
    counts = assigned.groupBy("cluster").agg(
        F.count("*").alias("n_docs")
    )
    return counts.join(labels, "cluster", "left").select(
        "cluster", "n_docs", "top_terms_csv"
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col_name: str,
    max_tokens: int = 2048,
    n_buckets: int = 32,
) -> DataFrame:
    """Sequence packing via a distributed two-pass prefix sum: assign
    each doc (in ``id_col`` order) the context-window index its tokens
    start in.

    Pass 1 splits the id domain into ``n_buckets`` contiguous ranges
    (explicit arithmetic on min/max — deterministic, unlike sampled
    range partitioning) and aggregates one token sum per bucket; the
    per-bucket cumulative offsets (``n_buckets`` rows) broadcast-join
    back.  Pass 2 runs the cumulative window *inside* each bucket.  No
    single-partition Exchange anywhere: parallelism = ``n_buckets``
    for the window stage, and the only driver-side data is the
    ``n_buckets``-row offset table.  ``id_col`` must be numeric.
    """
    # three passes read this frame (id-domain min/max, per-bucket
    # sums, the packed output itself) — persist LAZILY so the first
    # pass materializes the upstream chain once instead of every
    # consumer re-running it (pipeline_curate feeds the full
    # quality->dedup->mix chain through here; guide §5)
    df = df.persist()
    mm = df.agg(
        F.min(id_col).alias("mn"), F.max(id_col).alias("mx")
    ).first()
    if mm["mn"] is None:
        return df.select(
            F.col(id_col),
            F.col(tokens_col_name),
            F.lit(0).cast("long").alias("seq_id"),
        )
    mn, mx = int(mm["mn"]), int(mm["mx"])
    width = max(1, -(-(mx - mn + 1) // n_buckets))  # ceil division
    bucket = ((F.col(id_col) - F.lit(mn)) / F.lit(width)).cast("long")
    bucketed = df.withColumn("__bucket", bucket)
    sums = (
        bucketed.groupBy("__bucket")
        .agg(F.sum(tokens_col_name).alias("__bsum"))
        .collect()
    )
    bsums = {int(r["__bucket"]): int(r["__bsum"]) for r in sums}
    offsets, acc = [], 0
    for b in sorted(bsums):
        offsets.append((b, acc))
        acc += bsums[b]
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        offsets, "__bucket long, __offset long"
    )
    w = (
        Window.partitionBy("__bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        bucketed.join(F.broadcast(off_df), "__bucket")
        .select(
            F.col(id_col),
            F.col(tokens_col_name),
            (
                (
                    F.col("__offset")
                    + F.sum(tokens_col_name).over(w)
                    - F.col(tokens_col_name)
                )
                / F.lit(max_tokens)
            )
            .cast("long")
            .alias("seq_id"),
        )
    )


def corpus_overlap(
    df: DataFrame,
    group_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Corpus-level content overlap between groups (sources, dumps,
    snapshots): distinct word-``n``-gram Jaccard for every group pair
    — the "how much of corpus B is already in corpus A" question that
    precedes any cross-corpus dedup or train/eval split.

    Output: ``src_a, src_b, n_a, n_b, n_shared, jaccard`` for pairs
    sharing at least one shingle (``src_a < src_b``).

    Scale shape: explode to distinct (group, shingle) postings (one
    combined aggregation), then the shared counts come from the same
    inverted-index merge-join the pair dedup uses — shuffle keyed by
    shingle, group-pair aggregation map-side combined.  Group count is
    assumed small (sources/dumps), shingle count is corpus-sized.
    """
    from .dedup import shingles_col

    sh = (
        df.select(
            F.col(group_col).alias("g"),
            F.explode(shingles_col(F.col(text_col), n)).alias("s"),
        )
        .dropDuplicates(["g", "s"])
    )
    counts = sh.groupBy("g").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        # identical subplans -> one shuffle via ReusedExchange
        a.hint("merge")
        .join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.g") < F.col("b.g")))
        .groupBy(F.col("a.g").alias("src_a"), F.col("b.g").alias("src_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    ca = counts.select(F.col("g").alias("src_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("g").alias("src_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        shared.join(ca, "src_a")
        .join(cb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_shared",
            _floor6(jac).alias("jaccard"),
        )
    )


def corpus_shuffle(
    df: DataFrame,
    id_col: str,
    salt: int = 1,
    n_buckets: int = 32,
) -> DataFrame:
    """Deterministic corpus shuffle: assign every row its 0-based
    position in a pseudo-random-but-reproducible global order — the
    training-order shuffle done as a dataset column instead of an
    in-memory permutation.

    Order key = Knuth-hashed id (ties broken by id), so any engine
    reproduces the identical permutation and ``salt`` re-deals it.
    Positions come from the same distributed two-pass prefix sum as
    :func:`pack_sequences`: the hash domain splits into ``n_buckets``
    contiguous ranges, one count per bucket rolls into broadcast
    offsets, and ranking runs *inside* each bucket — no
    single-partition Exchange, parallelism = ``n_buckets``, driver
    state = the offset table.
    """
    k = F.pmod(
        (F.col(id_col) + F.lit(salt)) * F.lit(KNUTH), F.lit(HASH_MOD)
    )
    width = max(1, -(-HASH_MOD // n_buckets))  # ceil division
    bucketed = df.withColumn("__k", k).withColumn(
        "__bucket", (F.col("__k") / F.lit(width)).cast("long")
    )
    counts = (
        bucketed.groupBy("__bucket").agg(F.count("*").alias("__c")).collect()
    )
    sizes = {int(r["__bucket"]): int(r["__c"]) for r in counts}
    offsets, acc = [], 0
    for b in sorted(sizes):
        offsets.append((b, acc))
        acc += sizes[b]
    if not offsets:
        return df.select("*", F.lit(0).cast("long").alias("shuffle_pos"))
    off_df = df.sparkSession.createDataFrame(
        offsets, "__bucket long, __offset long"
    )
    w = Window.partitionBy("__bucket").orderBy("__k", id_col)
    return (
        bucketed.join(F.broadcast(off_df), "__bucket")
        .select(
            *df.columns,
            (F.col("__offset") + F.row_number().over(w) - 1)
            .cast("long")
            .alias("shuffle_pos"),
        )
    )


def temperature_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-based domain mixing: resample the corpus so group
    ``g``'s share moves from ``n_g / N`` toward ``n_g^alpha /
    sum(n^alpha)`` — the multilingual/multi-domain rebalancing recipe
    (alpha < 1 upsamples small groups; rates are capped at 1 so
    nothing is duplicated, the big groups are downsampled instead).

    Deterministic and engine-portable by construction: membership is
    a Knuth-hash fraction of the id (same as ``stratified_sample``),
    and the per-group weights ``floor(sqrt(n_g)*1e6)`` are EXACT
    integers, so their cross-group sum is order-independent — no
    float accumulation for engines to disagree on (only the final
    fixed-shape division is floating point).  Only alpha=0.5 keeps
    that exactness (sqrt is IEEE-correctly-rounded; pow is not).

    Plan: one group-count aggregation (tiny result), broadcast back,
    then a scan-shaped filter — no corpus-wide shuffle.
    """
    if alpha != 0.5:
        raise ValueError(
            "only alpha=0.5 has an exact cross-engine weight; "
            "generalize with pow() only if bit-stability is not needed"
        )
    counts = df.groupBy(group_col).agg(F.count("*").alias("__n_g"))
    counts = counts.withColumn(
        "__w_g",
        F.floor(F.sqrt(F.col("__n_g").cast("double")) * 1_000_000)
        .cast("long"),
    )
    totals = counts.agg(
        F.sum("__n_g").alias("__n"), F.sum("__w_g").alias("__w")
    )
    rates = counts.crossJoin(F.broadcast(totals)).select(
        group_col,
        F.least(
            F.lit(1.0),
            (F.col("__w_g").cast("double") / F.col("__w").cast("double"))
            * F.col("__n")
            / F.col("__n_g"),
        ).alias("__rate"),
    )
    frac = (
        F.pmod(F.col(id_col) * F.lit(2654435761), F.lit(4294967296))
        / F.lit(4294967296.0)
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(frac < F.col("__rate"))
        .select(
            F.col(id_col),
            F.col(group_col),
            _floor6(F.col("__rate")).alias("rate"),
        )
    )


def rare_ngram_density(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    max_corpus_freq: int = 2,
) -> DataFrame:
    """Noisiness signal via rare-n-gram density: per document, how
    many of its word ``n``-grams occur at most ``max_corpus_freq``
    times in the WHOLE corpus — a high density marks garbled text,
    OCR noise, or boilerplate-free unique content, the
    integer-exact stand-in for LM-perplexity filtering (no float
    accumulation, so the cross-engine hash is stable by
    construction).

    Plan: one corpus-wide gram count (partial+final hash agg), the
    rare subset joined back to the exploded grams, re-aggregated by
    doc.  The rare-gram set is NOT broadcast — rare grams are most
    of the distinct mass (Zipf), so the join stays a shuffle join on
    the gram key and AQE handles skew.
    """
    grams = df.select(
        F.col(id_col),
        F.explode_outer(word_ngrams_col(F.col(text_col), n)).alias(
            "__gram"
        ),
    )
    rare = (
        grams.filter(F.col("__gram").isNotNull())
        .groupBy("__gram")
        .agg(F.count("*").alias("__cf"))
        .filter(F.col("__cf") <= max_corpus_freq)
        .select("__gram", F.lit(1).alias("__rare"))
    )
    return (
        grams.join(rare, "__gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("__gram").alias("n_grams"),
            F.sum(F.coalesce(F.col("__rare"), F.lit(0))).alias(
                "n_rare"
            ),
        )
        .select(
            id_col,
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_rare").cast("long").alias("n_rare"),
            _floor6(
                F.col("n_rare")
                / F.when(F.col("n_grams") > 0, F.col("n_grams"))
            ).alias("rare_frac"),
        )
    )


def tfidf_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 3,
) -> DataFrame:
    """Per-document keyword extraction by TF-IDF: score every (doc,
    term) as ``tf * ln(N/df)`` and keep each document's ``top_k``
    terms — the metadata tagger for corpus browsing/faceting.

    Plan: one explode + (doc, term) count, one term-keyed df
    aggregation joined back (term-keyed shuffle), then the per-doc
    top-k via a rank window — Spark turns the rank filter into
    WindowGroupLimit, so each partition retains k rows per doc rather
    than sorting whole documents.  Ordering uses the 6-dp ROUNDED
    score (ties then break on the term string) so any engine ranks
    identically — raw float ordering would be at the mercy of libm's
    last ulp.

    Output: ``(id, term, rank, score)``.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens_col(F.col(text_col))).alias("term"),
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("__id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(
        F.countDistinct("__id").alias("df")
    )
    # N rides along as a broadcast one-row frame (the scalar-subquery
    # shape): keeps the operator lazy and single-pipeline instead of
    # paying an eager extra scan+count job per call
    n_frame = df.select(
        F.countDistinct(F.col(id_col)).cast("double").alias("__n")
    )
    score = F.round(
        F.col("tf") * F.log(F.col("__n") / F.col("df").cast("double")),
        6,
    )
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_frame))
        .select("__id", "term", score.alias("score"))
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("__id").alias(id_col), "term", "rank", "score"
        )
    )


def quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 64,
    scale: float = 4.0,
) -> DataFrame:
    """fastText-shaped linear quality classifier: hashed unigram
    features x a weight table, mean-pooled, through a sigmoid — the
    architecture CCNet/fastText quality filters deploy at crawl scale.

    The weight table is a deterministic stand-in for trained
    parameters (this environment has no training artifacts): weight of
    bucket ``b`` is ``((b * 2654435761) % 1000) / 1000 - 0.5``.  The
    engine-relevant part is the *shape*: the feature hash is an
    engine-portable integer recurrence (first char, length, last
    char — no engine hash builtins) and scoring runs as a codegen'd
    token explode + map-side partial aggregation.  A zero-shuffle
    array-fold formulation exists but Spark evaluates lambda HOFs
    *interpreted* — measured 3.4x slower at 10x sf0.1 — while the
    explode stays in whole-stage codegen and the exchange carries one
    partially-aggregated row per document, not per token.  At 100 TB
    a real weight table (millions of buckets) would broadcast-join on
    the bucket id instead of inlining arithmetic.

    Output: ``(id, n_tokens, quality_score, label)`` with
    ``label = 'keep' iff round(score,6) >= 0.5`` and a NULL score for
    empty documents (union branch — they have no token rows).
    """
    t = F.col("__tok")
    bucket = (
        F.ascii(F.substring(t, 1, 1)) * 31
        + F.length(t) * 7
        + F.ascii(F.substring(t, -1, 1))
    ).cast("long") % n_buckets
    wgt = (
        (bucket * F.lit(2654435761).cast("long")) % 1000
    ).cast("double") / 1000.0 - 0.5

    # coalesce: a NULL text must land in the empties branch, not
    # vanish from both filters (NULL > 0 and NULL == 0 are both NULL)
    text_len = F.coalesce(
        F.length(F.trim(F.col(text_col))), F.lit(0)
    )
    nonempty = df.filter(text_len > 0)
    agg = (
        nonempty.select(
            F.col(id_col),
            F.explode(tokens_col(F.col(text_col))).alias("__tok"),
        )
        .groupBy(id_col)
        .agg(F.sum(wgt).alias("__sw"), F.count("*").alias("n_tokens"))
    )
    raw = F.col("__sw") / F.col("n_tokens").cast("double")
    score = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.lit(scale) * raw)), 6
    )
    scored = agg.select(
        F.col(id_col),
        F.col("n_tokens"),
        score.alias("quality_score"),
        F.when(score >= 0.5, F.lit("keep"))
        .when(score.isNotNull(), F.lit("drop"))
        .alias("label"),
    )
    empties = df.filter(text_len == 0).select(
        F.col(id_col),
        F.lit(0).cast("long").alias("n_tokens"),
        F.lit(None).cast("double").alias("quality_score"),
        F.lit(None).cast("string").alias("label"),
    )
    return scored.unionByName(empties)


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 8,
) -> DataFrame:
    """Train byte-pair-encoding merges on the corpus (Sennrich et al.
    2016, public paper): starting from characters, repeatedly merge
    the most frequent adjacent symbol pair, weighted by word
    frequency; ties break lexicographically on (left, right).

    Spark shape — the classic single-machine trainer keeps the corpus
    in RAM; here every heavy step is distributed and the only driver
    state is the model itself:

    * the *word frequency table* (distinct tokens + counts — the
      standard BPE compression of the corpus, turning O(corpus) work
      into O(vocab)) is built by one hash aggregation;
    * each round, adjacent-pair counts are a JVM-local ``zip_with``
      explode + one aggregation; the argmax is a 1-row collect
      (model state, the legitimate broadcast pattern);
    * the chosen merge is applied to every word via a greedy
      left-to-right array fold (pure column expressions — identical
      semantics to scanning replace), and the words frame is
      localCheckpoint'd so plan depth stays constant across rounds.

    ``n_merges`` driver round-trips is the honest cost of the
    sequential algorithm; a production 30k-merge run would batch
    several non-overlapping merges per round, which changes the
    schedule, not the shape.

    Output: ``(rank, left_sym, right_sym, pair_count)`` — the merge
    table, ``n_merges`` rows (fewer if the corpus runs out of pairs).
    """
    merges, _ = _bpe_train_state(df, text_col, n_merges)
    return df.sparkSession.createDataFrame(
        merges, "rank int, left_sym string, right_sym string, pair_count long"
    )


def _merge_fold(l: str, r: str) -> Column:
    """Greedy left-to-right application of one merge to the ``syms``
    array (pure column expressions; identical semantics to a scanning
    string replace over wrapped symbols)."""
    merged = l + r
    return F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(l))
            & (x == F.lit(r)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_train_state(df: DataFrame, text_col: str, n_merges: int):
    """Shared trainer core: returns ``(merges, folded_words)`` where
    ``folded_words`` is the distinct-word frame AFTER all merges
    (columns ``w, cnt, syms``) — the encoder reuses it instead of
    replaying every fold round."""
    words = (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    cur = words.select(
        "w", "cnt", F.split(F.col("w"), "").alias("syms")
    ).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        pairs = cur.filter(F.size("syms") > 1).select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1),
                    lambda l, r: F.struct(l.alias("l"), r.alias("r")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(
                F.col("p.l").alias("l"), F.col("p.r").alias("r")
            )
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, c = top[0]["l"], top[0]["r"], int(top[0]["c"])
        merges.append((rank, l, r, c))
        cur = cur.select(
            "w", "cnt", _merge_fold(l, r).alias("syms")
        ).localCheckpoint(eager=False)
    return merges, cur


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_merges: int = 8,
) -> DataFrame:
    """Train BPE merges on the corpus (:func:`bpe_train`) and encode
    every document with them, reporting per-document symbol counts —
    the tokenizer-efficiency measurement (chars per BPE symbol) that
    decides whether a tokenizer fits a corpus.

    Scale shape: encoding applies the merge folds to the DISTINCT
    word table only (vocab-sized work, exactly like training), then
    one explode + word-keyed join + per-doc aggregation attaches
    ``n_syms`` to every token occurrence.  Documents never carry
    their symbol arrays around — only two integers per doc survive.

    Output: ``(id, n_char_syms, n_bpe_syms, compression)`` where
    compression = chars/symbols rounded to 6 dp (NULL for empty
    docs).
    """
    _, folded_words = _bpe_train_state(df, text_col, n_merges)
    enc = folded_words.select(
        "w",
        F.length("w").cast("long").alias("__nc"),
        F.size("syms").cast("long").alias("__ns"),
    )
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens_col(F.col(text_col))).alias("w"),
    ).filter(F.length("w") > 0)
    agg = (
        toks.join(enc, "w")
        .groupBy("__id")
        .agg(
            F.sum("__nc").alias("n_char_syms"),
            F.sum("__ns").alias("n_bpe_syms"),
        )
    )
    base = df.select(F.col(id_col))
    out = base.join(agg, base[id_col] == agg["__id"], "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_char_syms"), F.lit(0)).alias("n_char_syms"),
        F.coalesce(F.col("n_bpe_syms"), F.lit(0)).alias("n_bpe_syms"),
        F.round(
            F.col("n_char_syms").cast("double")
            / F.when(F.col("n_bpe_syms") > 0, F.col("n_bpe_syms")),
            6,
        ).alias("compression"),
    )
    return out


def _substring_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("__id"),
        tokens_col(F.col(text_col)).alias("__toks"),
        # long, matching the oracle's BIGINT (DuckDB len()) so the
        # driver's dtype-aware hash agrees
        token_count_col(F.col(text_col)).cast("long").alias("n_tokens"),
    )


def _substring_instances(base: DataFrame, w: int) -> DataFrame:
    """All w-token window instances: 1-based pos in 1..n-w+1 (empty
    for short docs).  The downstream winner shuffle is keyed by a
    128-bit hash pair of the window text, not the text itself — w
    tokens per position would put ~w x corpus-bytes on the wire; two
    independently-seeded xxhash64s make a false window collision
    (which would wrongly mark a unique span as duplicated) a ~2^-128
    event, i.e. exact in practice at any corpus size."""
    return base.filter(F.col("n_tokens") >= w).select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - w + 1),
                lambda p: F.struct(
                    p.alias("pos"),
                    F.concat_ws(
                        " ", F.slice(F.col("__toks"), p, w)
                    ).alias("win"),
                ),
            )
        ).alias("__i"),
    ).select(
        "__id",
        F.col("__i.pos").alias("pos"),
        F.xxhash64(F.lit("sub0"), F.col("__i.win")).alias("h1"),
        F.xxhash64(F.lit("sub1"), F.col("__i.win")).alias("h2"),
    )


def _substring_cover_output(
    base: DataFrame, losers: DataFrame, id_col: str, w: int
) -> DataFrame:
    """(loser instances -> covered positions -> per-doc output) —
    shared tail of the batch and incremental substring dedup."""
    covered = (
        losers.select(
            "__id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + w - 1)
            ).alias("tp"),
        )
        .distinct()
        .groupBy("__id")
        .agg(
            F.count("*").alias("dup_tokens"),
            F.collect_set("tp").alias("__cov"),
        )
    )
    return base.join(covered, "__id", "left").select(
        F.col("__id").alias(id_col),
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
        F.round(
            F.lit(1.0)
            - F.coalesce(F.col("dup_tokens"), F.lit(0))
            / F.when(F.col("n_tokens") > 0, F.col("n_tokens")),
            6,
        ).alias("keep_frac"),
        F.concat_ws(
            " ",
            F.transform(
                F.filter(
                    F.transform(
                        F.col("__toks"),
                        lambda t, i: F.struct(
                            t.alias("t"), (i + 1).alias("p")
                        ),
                    ),
                    lambda s: ~F.array_contains(
                        F.coalesce(
                            F.col("__cov"),
                            F.array().cast("array<int>"),
                        ),
                        s["p"],
                    ),
                ),
                lambda s: s["t"],
            ),
        ).alias("clean_text"),
    )


def _sub_params_path(store_path: str) -> str:
    # underscore prefix: invisible to spark.read.parquet(store_path)
    return store_path.rstrip("/") + "/_sub_params"


def incremental_substring_dedup(
    spark,
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    store_path: str,
    window_tokens: int = 8,
) -> DataFrame:
    """Running ExactSubstr: dedup a NEW batch of documents against
    every window ever seen (persisted window-hash store) plus the
    batch itself, and append the batch's first-seen windows to the
    store — work ∝ the new batch, the same incremental contract as
    the MinHash/SimHash signature stores.

    Feeding a corpus through in ascending-id batches reproduces
    :func:`substring_dedup` on the full corpus exactly (first-seen ==
    global min ``(doc, pos)`` when arrival order matches id order).

    ``window_tokens`` is persisted in a ``_sub_params`` sidecar and
    validated on every call — a silent window-size mismatch would
    make old store entries unmatchable and quietly disable dedup.

    Replay-safe: the store append is guarded by an order-independent
    content-folded batch digest (the line-dedup store's contract) —
    a re-delivered batch excludes its own prior append from the
    store view, returns the identical output, and appends nothing,
    so at-least-once foreachBatch delivery composes into
    exactly-once store state.

    Output: the batch's ``(id, n_tokens, dup_tokens, keep_frac,
    clean_text)`` frame.
    """
    if window_tokens <= 1:
        raise ValueError("window_tokens must be > 1")
    w = window_tokens
    from ..storeio import read_params_rows, read_parquet_if_exists

    params_path = _sub_params_path(store_path)
    # sidecar and store read separately: a broken read RAISES (one
    # blanket try here would silently skip the window-size guard AND
    # dedup the batch against nothing).  Cached-row read: the sidecar
    # only changes on (re)creation, so folds after the first pay zero
    # jobs for the width guard.
    params_rows = read_params_rows(spark, params_path)
    if params_rows:
        stored_w = int(params_rows[0]["window_tokens"])
        if stored_w != w:
            raise ValueError(
                f"substring store at {store_path} was written with "
                f"window_tokens={stored_w}, called with {w}"
            )
    store_frame = read_parquet_if_exists(spark, store_path)
    store_exists = store_frame is not None
    if store_exists and "__batch" not in store_frame.columns:
        raise ValueError(
            f"substring store at {store_path} predates replay tags "
            "(no __batch column); rebuild the store — mixed-schema "
            "appends would make later reads schema-dependent"
        )
    # order-independent content-folded batch digest: identifies a
    # re-delivered batch regardless of partitioning or row order
    tag = int(
        batch_df.agg(
            F.coalesce(
                F.bit_xor(
                    F.xxhash64(
                        F.col(id_col),
                        F.coalesce(F.col(text_col), F.lit("")),
                    )
                ),
                F.lit(0),
            ).alias("t")
        ).head()["t"]
    )
    replay = store_exists and (
        store_frame.filter(F.col("__batch") == tag).limit(1).count() > 0
    )
    store = None
    if store_exists:
        prior = store_frame
        if replay:
            # exclude this batch's own prior append: its windows must
            # stay fresh so the replayed output is identical
            prior = prior.filter(F.col("__batch") != tag)
        store = prior.select("h1", "h2")

    # Clone-collapse (exact, the batch operator's proof carries over):
    # a window's batch-first instance always lands in a clone-group
    # REPRESENTATIVE (members share the rep's windows at the same
    # positions with a larger id), so window competition AND the
    # store probe/append run over reps only — a member's every
    # instance loses to its rep's copy regardless of store state, and
    # members never contribute first-seen windows the rep didn't.
    # Ingest batches can be clone-heavy (re-crawls, mirrored feeds);
    # instance volume scales with distinct content either way.
    groups = batch_df.groupBy(
        F.isnull(F.col(text_col)).alias("__k0"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__k1"),
    ).agg(F.min(id_col).alias("__rep"))
    rep_rows = groups.select(
        F.col("__rep").alias(id_col),
        F.when(~F.col("__k0"), F.col("__k1")).alias(text_col),
    )
    base = _substring_base(rep_rows, id_col, text_col)
    inst = _substring_instances(base, w)
    first = Window.partitionBy("h1", "h2")
    ranked = inst.withColumn(
        "__min",
        F.min(F.struct(F.col("__id"), F.col("pos"))).over(first),
    )
    is_winner = (F.col("__min.__id") == F.col("__id")) & (
        F.col("__min.pos") == F.col("pos")
    )
    # materialize once: winners feed the store probe, the store
    # append, AND (via their complement) the loser set
    marked = ranked.withColumn("__w", is_winner).localCheckpoint(
        eager=True
    )
    batch_losers = marked.filter(~F.col("__w")).select("__id", "pos")
    winners = marked.filter(F.col("__w")).select(
        "__id", "pos", "h1", "h2"
    )
    if store_exists:
        hit_store = winners.join(store, ["h1", "h2"], "left_semi").select(
            "__id", "pos"
        )
        losers = batch_losers.unionByName(hit_store)
        fresh = winners.join(store, ["h1", "h2"], "left_anti").select(
            "h1", "h2"
        )
    else:
        losers = batch_losers
        fresh = winners.select("h1", "h2")
    rep_out = _substring_cover_output(base, losers, id_col, w)
    # force the rep output (it reads the store listing pinned above)
    # before appending, then persist the batch's first-seen windows
    rep_out = rep_out.localCheckpoint(eager=True)
    # member expansion: every member window instance loses to its
    # rep's within-batch copy, so a member is fully covered when it
    # has windows at all (n_tokens >= w) and copies its rep's
    # untouched output otherwise
    members = (
        batch_df.select(
            F.col(id_col),
            F.isnull(F.col(text_col)).alias("__k0"),
            F.coalesce(F.col(text_col), F.lit("")).alias("__k1"),
        )
        .join(groups, ["__k0", "__k1"])
        .filter(F.col(id_col) != F.col("__rep"))
        .select(id_col, "__rep")
    )
    covered = F.col("n_tokens") >= w
    member_out = members.join(
        rep_out.withColumnRenamed(id_col, "__r"),
        members["__rep"] == F.col("__r"),
    ).select(
        members[id_col],
        "n_tokens",
        F.when(covered, F.col("n_tokens"))
        .otherwise(F.col("dup_tokens"))
        .alias("dup_tokens"),
        F.when(covered, F.lit(0.0))
        .otherwise(F.col("keep_frac"))
        .alias("keep_frac"),
        F.when(covered, F.lit(""))
        .otherwise(F.col("clean_text"))
        .alias("clean_text"),
    )
    out = rep_out.unionByName(member_out)
    if not replay:
        # sidecar FIRST: a crash after the store append but before
        # the params write would leave a populated store permanently
        # unguarded against the width mismatch the sidecar exists to
        # prevent (sidecar-then-crash is harmless — the store is
        # still empty).  fresh must be materialized before the append
        # (it reads the store listing pinned above via `marked`'s
        # localCheckpoint, so its lineage never re-lists the
        # directory it writes into).
        if not params_rows:
            # driver-side one-row sidecar write (storeio.write_params_row):
            # the value is a driver-known scalar; int32 round-trips the
            # old Spark writer's cast("int") exactly
            import pyarrow as pa

            from pyspark.sql import Row as _Row

            from ..storeio import prime_params_cache, write_params_row

            write_params_row(
                params_path,
                pa.schema([("window_tokens", pa.int32())]),
                {"window_tokens": int(w)},
            )
            prime_params_cache(
                params_path, [_Row(window_tokens=int(w))]
            )
        fresh.withColumn("__batch", F.lit(tag)).write.mode(
            "append"
        ).parquet(store_path)
    return out


def substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window_tokens: int = 8,
) -> DataFrame:
    """Sliding-window exact substring deduplication (the ExactSubstr
    move from Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better" — public paper; they use a suffix array,
    which is the single-machine shape).  Spark-first restatement:

    * every ``window_tokens``-token window at every position is an
      *instance* ``(doc, pos, window_text)`` — the explode is
      JVM-local, x``window_tokens`` the corpus token count;
    * the corpus-wide FIRST instance of each distinct window text
      (lexicographic min ``(doc, pos)``) survives; every other
      instance marks its token range ``[pos, pos+w)`` as duplicated —
      one shuffle keyed by a 128-bit window hash, carrying
      ``(doc, pos)`` pairs only;
    * a document's duplicated-token set is the union of its marked
      ranges (distinct positions — overlapping windows don't double
      count), bounded by the document's own length;
    * ``clean_text`` keeps the tokens not covered by any duplicated
      window, preserving order.

    Unlike :func:`span_dedup` (fixed non-overlapping spans), this
    catches duplicated passages at ANY offset — the common case for
    boilerplate and quoted text.  Within-document repeats beyond the
    first occurrence are marked too (self-repetition is duplication).

    Output: ``(id, n_tokens, dup_tokens, keep_frac, clean_text)``.
    Work is linear in DISTINCT-content tokens x window size (exact
    clone groups collapse to their representative before the window
    shuffle — see the in-body proof); no quadratic stage.
    """
    if window_tokens <= 1:
        raise ValueError("window_tokens must be > 1")
    w = window_tokens
    # Clone-collapse (exact): a window's global-first instance is
    # always in a clone-group REPRESENTATIVE — members share the rep's
    # windows at the same positions with a larger doc id, so the
    # lexicographic (doc, pos) minimum can never land on a member.
    # Window competition therefore runs over reps only; a non-rep
    # member loses EVERY instance (its rep's copy precedes it), which
    # fully covers it when n_tokens >= w and leaves it untouched (no
    # windows) otherwise.  Window instances scale with distinct
    # content, not raw corpus size.
    groups = df.groupBy(
        F.isnull(F.col(text_col)).alias("__k0"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__k1"),
    ).agg(F.min(id_col).alias("__rep"))
    rep_rows = groups.select(
        F.col("__rep").alias(id_col),
        F.when(~F.col("__k0"), F.col("__k1")).alias(text_col),
    )
    base = _substring_base(rep_rows, id_col, text_col)
    inst = _substring_instances(base, w)
    first = Window.partitionBy("h1", "h2")
    losers = (
        inst.withColumn(
            "__min",
            F.min(F.struct(F.col("__id"), F.col("pos"))).over(first),
        )
        .filter(
            ~((F.col("__min.__id") == F.col("__id"))
              & (F.col("__min.pos") == F.col("pos")))
        )
        .select("__id", "pos")
    )
    rep_out = _substring_cover_output(base, losers, id_col, w)
    members = (
        df.select(
            F.col(id_col),
            F.isnull(F.col(text_col)).alias("__k0"),
            F.coalesce(F.col(text_col), F.lit("")).alias("__k1"),
        )
        .join(groups, ["__k0", "__k1"])
        .filter(F.col(id_col) != F.col("__rep"))
        .select(id_col, "__rep")
    )
    covered = F.col("n_tokens") >= w
    member_out = members.join(
        rep_out.withColumnRenamed(id_col, "__r"),
        members["__rep"] == F.col("__r"),
    ).select(
        members[id_col],
        "n_tokens",
        F.when(covered, F.col("n_tokens"))
        .otherwise(F.col("dup_tokens"))
        .alias("dup_tokens"),
        F.when(covered, F.lit(0.0))
        .otherwise(F.col("keep_frac"))
        .alias("keep_frac"),
        F.when(covered, F.lit(""))
        .otherwise(F.col("clean_text"))
        .alias("clean_text"),
    )
    return rep_out.unionByName(member_out)


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 32,
) -> DataFrame:
    """Cross-document span deduplication (the C4/RefinedWeb move):
    split every document into fixed ``span_tokens``-token spans, keep
    exactly ONE instance of each distinct span corpus-wide (the
    lexicographically smallest ``(doc_id, span_id)`` occurrence), and
    reassemble documents from their surviving spans.

    Output: ``(id, clean_text, n_spans, n_kept)`` — a document whose
    every span occurs earlier elsewhere comes back empty, which is the
    corpus-level guarantee exact/near dedup can't give (those drop
    whole documents; this drops repeated *passages* inside otherwise
    unique documents).

    Scale shape: span explode is JVM-local (no shuffle); the winner
    per span content is a window ``min(struct(doc, span))`` partitioned
    by the span text — one shuffle whose keys are spans, so hot
    boilerplate spans concentrate but carry only (doc_id, span_id)
    pairs, not payloads; reassembly is one more grouped aggregation on
    doc id.  Work is linear in corpus tokens.
    """
    if span_tokens <= 0:
        raise ValueError("span_tokens must be positive")
    toks = tokens_col(F.col(text_col))
    n = token_count_col(F.col(text_col))
    n_spans = F.greatest(
        F.ceil(n.cast("double") / span_tokens).cast("long"), F.lit(1)
    )
    span = F.explode(
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda i: F.struct(
                i.cast("long").alias("span_id"),
                F.concat_ws(
                    " ", F.slice(toks, i * span_tokens + 1, span_tokens)
                ).alias("span_text"),
            ),
        )
    )
    spans = df.select(
        F.col(id_col).alias("__id"), span.alias("__s")
    ).select(
        "__id",
        F.col("__s.span_id").alias("__span_id"),
        F.col("__s.span_text").alias("__span_text"),
    )
    w = Window.partitionBy("__span_text")
    kept = (
        spans.withColumn(
            "__keep",
            F.min(F.struct(F.col("__id"), F.col("__span_id"))).over(w),
        )
        .filter(
            (F.col("__keep.__id") == F.col("__id"))
            & (F.col("__keep.__span_id") == F.col("__span_id"))
        )
        .drop("__keep")
    )
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("__span_id"), F.col("__span_text")
                        )
                    )
                ),
                lambda s: s["__span_text"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    base = df.select(
        F.col(id_col), n_spans.alias("n_spans")
    )
    return base.join(
        rebuilt, base[id_col] == rebuilt["__id"], "left"
    ).select(
        id_col,
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        "n_spans",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
    )


def source_cap(
    df: DataFrame,
    id_col: str,
    source_col: str,
    rank_col: str,
    cap: int,
) -> DataFrame:
    """Per-source document cap (the per-domain limit of web-corpus
    curation): keep at most ``cap`` documents per source, preferring
    the largest ``rank_col`` (ties to the smallest id — fully
    deterministic).  One shuffle on source; the window never holds
    more than a source's docs, and only (id, source, rank) columns
    travel."""
    if cap <= 0:
        raise ValueError("cap must be positive")
    w = Window.partitionBy(source_col).orderBy(
        F.col(rank_col).desc(), F.col(id_col).asc()
    )
    return (
        df.select(id_col, source_col, rank_col)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= cap)
    )


# --------------------------------------------------------------------
# PII / blocklist scrubbing
# --------------------------------------------------------------------

# Patterns restricted to syntax that Java regex and RE2 (the DuckDB
# engine) interpret identically: character classes, bounded repetition,
# \b word boundaries — no lookaround, no backreferences.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9()\- ]{6,}[0-9]\b",
}


def scrub_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    blocklist: tuple[str, ...] = (),
    replacement: str = "[REDACTED]",
) -> DataFrame:
    """PII / blocklist scrubbing: per-class match counts plus the
    redacted text.  All JVM regexp expressions (regexp_count /
    regexp_replace inside whole-stage codegen) — the corpus-scale
    scrub pass never leaves the executors' generated code, and the
    per-class counters are computed on the ORIGINAL text so classes
    report independently even when spans overlap.

    Redaction applies the classes in declaration order (email, ipv4,
    phone, then the blocklist), mirroring how CCNet-style cleaning
    stacks filters.  No reference counterpart — greenfield curation
    operator (SURVEY §7.9).
    """
    text = F.col(text_col)
    counts = []
    clean = text
    for name, pat in PII_PATTERNS.items():
        counts.append(
            F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        clean = F.regexp_replace(clean, pat, replacement)
    if blocklist:
        bl_pat = r"\b(" + "|".join(blocklist) + r")\b"
        counts.append(
            F.regexp_count(text, F.lit(bl_pat)).cast("long").alias("n_blocked")
        )
        clean = F.regexp_replace(clean, bl_pat, replacement)
    else:
        counts.append(F.lit(0).cast("long").alias("n_blocked"))
    return df.select(F.col(id_col), *counts, clean.alias("clean_text"))


# --------------------------------------------------------------------
# DSIR-style importance weighting (hashed-ngram importance resampling,
# reduced to integer-exact arithmetic so both engines agree bit-for-bit)
# --------------------------------------------------------------------

IMPORTANCE_SCALE = 1_000_000


def importance_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    k: int,
) -> DataFrame:
    """Data-selection-by-importance (the DSIR shape): score every
    document by how target-like its token distribution is, return the
    top ``k``.

    Per token t the weight is the integer
    ``(SCALE * (target_tf(t) + 1)) div (total_tf(t) + 1)`` — an
    add-one-smoothed ratio of target to overall term frequency kept in
    exact BIGINT arithmetic (no float log-likelihoods, so the DuckDB
    oracle matches exactly).  A document's score is the sum of its
    tokens' weights over token OCCURRENCES (a doc repeating
    target-typical words scores higher, as in the sampled-likelihood
    original).

    Shuffle shape: one explode + groupBy(token) for the weight table
    (map-side partial agg), one token-keyed join back (AQE may
    broadcast the vocab side when small), one groupBy(doc).  Top-k is
    TakeOrdered — no global single-partition window.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        is_target.alias("__tgt"),
        F.explode(
            F.when(
                F.length(F.trim(F.col(text_col))) == 0, F.array()
            ).otherwise(tokens_col(F.col(text_col)))
        ).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(
        F.count("*").alias("__total"),
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("__tgt_tf"),
    )
    weighted = toks.join(vocab, "tok").select(
        "__id",
        F.expr(
            f"({IMPORTANCE_SCALE}L * (__tgt_tf + 1)) div (__total + 1)"
        ).alias("__w"),
    )
    scores = weighted.groupBy("__id").agg(F.sum("__w").alias("score"))
    return (
        scores.orderBy(F.col("score").desc(), F.col("__id").asc())
        .limit(k)
        .select(F.col("__id").alias(id_col), "score")
    )


def corpus_sketch_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    rel_err: float = 0.05,
) -> DataFrame:
    """Corpus accounting, sketch vs exact: one row with the exact
    figures (document count, distinct-token count, p50/p95 token
    counts) alongside booleans asserting the sketch estimates land
    within ``rel_err`` of them.

    At 100 TB the sketches ARE the product — HyperLogLog++
    (``approx_count_distinct``) needs no shuffle of distinct values
    and ``percentile_approx`` (KLL-style) no full sort; the exact
    columns exist so a bounded-scale run can certify the sketch
    configuration before it is trusted on the full corpus.
    """
    toks = df.select(
        F.explode(
            F.when(
                F.length(F.trim(F.col(text_col))) == 0, F.array()
            ).otherwise(tokens_col(F.col(text_col)))
        ).alias("tok")
    )
    tok_stats = toks.agg(
        F.count_distinct(F.col("tok")).alias("n_distinct_tokens"),
        F.approx_count_distinct(F.col("tok"), rsd=0.02).alias("__hll"),
    )
    counts = df.select(token_count_col(F.col(text_col)).alias("n"))
    cnt_stats = counts.agg(
        F.count("*").alias("n_docs"),
        F.round(F.expr("percentile(n, 0.5)"), 6).alias("p50_tokens"),
        F.round(F.expr("percentile(n, 0.95)"), 6).alias("p95_tokens"),
        F.expr("approx_percentile(n, 0.5, 10000)").alias("__ap50"),
    )
    err = F.lit(float(rel_err))
    return cnt_stats.crossJoin(tok_stats).select(
        "n_docs",
        "n_distinct_tokens",
        "p50_tokens",
        "p95_tokens",
        (
            F.abs(F.col("__hll") - F.col("n_distinct_tokens"))
            <= err * F.col("n_distinct_tokens")
        ).alias("hll_ok"),
        (
            F.abs(F.col("__ap50") - F.col("p50_tokens"))
            <= err * F.greatest(F.col("p50_tokens"), F.lit(1.0))
        ).alias("approx_p50_ok"),
    )


# --------------------------------------------------------------------
# Misra-Gries heavy hitters (frequent tokens without a full shuffle)
# --------------------------------------------------------------------

def _mg_partition_kernel(k: int):
    """Per-partition Misra-Gries summary over a token column: at most
    ``k`` counters survive; each batch folds in via value_counts (one
    Python step per DISTINCT token per batch, Arrow-delivered).  Emits
    the k surviving (token, cnt) rows plus one null-token row carrying
    the partition's total decrement (the undercount bound)."""
    import pandas as pd

    def gen(batches):
        counters: dict[str, int] = {}
        err = 0
        for pdf in batches:
            for tok, c in pdf["t"].value_counts().items():
                c = int(c)
                if tok in counters:
                    counters[tok] += c
                elif len(counters) < k:
                    counters[tok] = c
                else:
                    # decrement-all by the largest amount that keeps
                    # counts non-negative (batched MG step): d =
                    # min(c, smallest surviving counter) per round
                    while c > 0:
                        m = min(counters.values())
                        d = min(c, m)
                        err += d
                        c -= d
                        dead = []
                        for t2 in counters:
                            counters[t2] -= d
                            if counters[t2] == 0:
                                dead.append(t2)
                        for t2 in dead:
                            del counters[t2]
                        if c > 0 and len(counters) < k:
                            counters[tok] = c
                            c = 0
        out = pd.DataFrame(
            {
                "token": list(counters) + [None],
                "cnt": list(counters.values()) + [0],
                "err": [0] * len(counters) + [err],
            }
        )
        yield out

    return gen


def frequent_tokens(
    df: DataFrame,
    text_col: str,
    k: int = 64,
    top: int | None = 20,
) -> DataFrame:
    """Corpus heavy hitters WITHOUT shuffling every token: each input
    partition reduces to a k-sized Misra-Gries summary (mapInPandas,
    bounded memory), summaries merge by token, and the global answer
    carries certified bounds — ``count_min <= true count <=
    count_max``, with every token of true frequency > N/(k+1)
    guaranteed present across the merged summaries.

    The shuffle moves at most partitions × (k+1) rows instead of N
    tokens — the sketch path for "what dominates this 100 TB corpus"
    next to the exact (full-shuffle) :func:`vocabulary`.

    Output: ``token, count_min, count_max`` for the ``top`` tokens by
    lower bound (ties broken by token for determinism); ``top=None``
    returns every surviving summary token (the frame the coverage
    guarantee speaks about).
    """
    toks = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.explode(tokens_col(F.col(text_col))).alias("t")
    )
    sk = toks.mapInPandas(
        _mg_partition_kernel(k), "token string, cnt long, err long"
    ).localCheckpoint(eager=True)  # tiny: partitions x (k+1) rows
    total_err = sk.agg(F.sum("err").alias("e"))
    merged = (
        sk.filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.sum("cnt").alias("count_min"))
    )
    out = merged.join(F.broadcast(total_err)).select(
        "token",
        "count_min",
        (F.col("count_min") + F.col("e")).alias("count_max"),
    )
    if top is None:
        return out
    return out.orderBy(F.col("count_min").desc(), F.col("token")).limit(top)


# ------------------------------------------------------------------ #
# cross-document boilerplate removal
# ------------------------------------------------------------------ #


def boilerplate_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 4,
    min_df: int = 2,
    scope_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Template/boilerplate removal (the CCNet/RefinedWeb cleanup
    step): segment every document into NON-overlapping
    ``chunk_words``-word chunks, count each distinct chunk's document
    frequency (optionally within a ``scope_cols`` grouping such as the
    source domain — boilerplate is usually site-local), and strip
    chunks that occur in ``min_df`` or more distinct documents.
    Output per document: ``clean_text`` (surviving chunks re-joined in
    order), ``n_chunks``, ``n_removed``.

    Scale shape — CLONE-COLLAPSED like the pair-dedup family:
    identical texts (within a scope) reduce to one representative
    with a multiplicity via a single hash aggregation, chunking /
    DF-counting / cleaning run per DISTINCT text only, and the
    per-text result expands back to documents through a text-keyed
    join.  Chunk work scales with distinct content, not raw corpus
    size (100x clone replica: 171 s naive -> seconds collapsed).
    Every shuffle is keyed on the two-salt ``xxhash64`` chunk pair or
    on text/doc keys — never on raw chunk text as a KEY, so key
    distribution stays uniform.  (A hash-only variant that re-derived
    chunk text doc-side was probed and rejected: hashing inside
    ``transform`` lambdas and ``array_contains`` reassembly run
    interpreted, 3x slower — the classifier lesson again.)  Chunk DF
    counts each document once even when a chunk repeats inside a
    text (per-text chunk dedup before the multiplicity sum), matching
    the naive countDistinct semantics exactly.  Ordered reassembly is
    ``collect_list`` of (chunk_id, text) structs + ``array_sort`` —
    per-text state, bounded by document length.
    """
    if chunk_words <= 0 or min_df < 1:
        raise ValueError("chunk_words must be positive, min_df >= 1")
    scope = list(scope_cols) if scope_cols else []
    # NULL text folds into the empty-string group (a null key would
    # silently drop out of the text-keyed join-back)
    groups = df.groupBy(
        *scope,
        F.coalesce(F.col(text_col), F.lit("")).alias("__text"),
    ).agg(F.count("*").alias("__mult"))
    chunks = _bp_chunks(
        groups, "__text", "__text", chunk_words, [*scope, "__mult"]
    )
    boiler = (
        chunks.dropDuplicates(["__doc", *scope, "__h1", "__h2"])
        .groupBy(*scope, "__h1", "__h2")
        .agg(F.sum("__mult").alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select(*scope, "__h1", "__h2")
    )
    per_text = _bp_clean(chunks.drop("__mult"), boiler, "__text", scope)
    lhs = df.select(
        F.col(id_col),
        *scope,
        F.coalesce(F.col(text_col), F.lit("")).alias("__text"),
    )
    # null-safe equality on the scope columns too: a null source must
    # rejoin its group, not silently drop out (scope types vary, so
    # eqNullSafe rather than the isnull/coalesce key trick)
    cond = lhs["__text"] == per_text["__text"]
    for c in scope:
        cond = cond & lhs[c].eqNullSafe(per_text[c])
    return lhs.join(per_text, cond).select(
        lhs[id_col],
        per_text["n_chunks"],
        per_text["n_removed"],
        per_text["clean_text"],
    )


def _bp_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int,
    scope: Sequence[str],
) -> DataFrame:
    """Exploded chunk frame: ``(__doc, *scope, chunk_id, chunk_text,
    __h1, __h2)`` — non-overlapping ``chunk_words``-word segments with
    the two-salt content hash computed in the (codegen'd) post-explode
    projection."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokens_col(text)
    n = token_count_col(text)
    n_chunks = F.greatest(
        F.ceil(n.cast("double") / chunk_words).cast("int"), F.lit(1)
    )
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("long").alias("chunk_id"),
                F.concat_ws(
                    " ", F.slice(toks, i * chunk_words + 1, chunk_words)
                ).alias("chunk_text"),
            ),
        )
    )
    return df.select(
        F.col(id_col).alias("__doc"), *scope, chunk.alias("__c")
    ).select(
        "__doc",
        *scope,
        F.col("__c.chunk_id").alias("chunk_id"),
        F.col("__c.chunk_text").alias("chunk_text"),
        F.xxhash64("__c.chunk_text").alias("__h1"),
        F.xxhash64(F.lit(1), "__c.chunk_text").alias("__h2"),
    )


def _bp_clean(
    chunks: DataFrame,
    boiler: DataFrame,
    id_col: str,
    scope: Sequence[str],
) -> DataFrame:
    """Membership join + ordered reassembly shared by the batch and
    incremental boilerplate paths.  ``boiler`` holds the
    over-threshold chunk keys ``(*scope, __h1, __h2)``."""
    # explicit join condition: hash columns are never null, but scope
    # columns can be — eqNullSafe keeps a null source in its group
    # instead of silently never matching the boiler side
    marked = boiler.select(
        *[F.col(c).alias(f"__b_{c}") for c in scope],
        F.col("__h1").alias("__b_h1"),
        F.col("__h2").alias("__b_h2"),
        F.lit(True).alias("__boiler"),
    )
    cond = (F.col("__h1") == F.col("__b_h1")) & (
        F.col("__h2") == F.col("__b_h2")
    )
    for c in scope:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__b_{c}"))
    joined = chunks.join(marked, cond, "left")
    kept_struct = F.when(
        F.col("__boiler").isNull(),
        F.struct(F.col("chunk_id"), F.col("chunk_text")),
    )
    return (
        joined.groupBy(F.col("__doc").alias(id_col), *scope)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(
                F.when(F.col("__boiler").isNotNull(), 1).otherwise(0)
            ).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(id_col, *scope, "n_chunks", "n_removed", "clean_text")
    )


def _bp_params_path(store_path: str) -> str:
    # underscore prefix: invisible to spark.read.parquet(store_path)
    return store_path.rstrip("/") + "/_bp_params"


def _bp_check_params(
    spark, store_path: str, chunk_words: int, scope: Sequence[str]
):
    """Sidecar guard: a chunk-width or scope mismatch silently makes
    every stored hash unmatchable (different segmentation ⇒ disjoint
    chunk sets), so refuse loudly.  Returns the sidecar frame or
    None when the store is new."""
    from ..storeio import read_parquet_if_exists

    from ..storeio import read_params_rows

    rows = read_params_rows(spark, _bp_params_path(store_path))
    if rows:
        row = rows[0]
        stored_w, stored_scope = int(row["chunk_words"]), row["scope"]
        if stored_w != chunk_words or stored_scope != ",".join(scope):
            raise ValueError(
                f"boilerplate store at {store_path} was written with "
                f"chunk_words={stored_w} scope=[{stored_scope}], "
                f"called with chunk_words={chunk_words} "
                f"scope=[{','.join(scope)}]"
            )
    return rows or None


def incremental_boilerplate(
    spark,
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    store_path: str,
    chunk_words: int = 4,
    min_df: int = 2,
    scope_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Running boilerplate removal: clean a NEW batch of documents
    against the chunk document frequencies accumulated over every
    batch ever seen (persisted DF store) plus the batch itself, then
    append the batch's per-chunk doc counts to the store — work ∝ the
    new batch + a store-sized aggregation, the same incremental
    contract as the MinHash/SimHash/substring stores.

    After feeding a partition of the corpus through (each document
    exactly once), :func:`boilerplate_clean_over_store` on the full
    corpus reproduces :func:`boilerplate_removal` exactly — the store
    holds the complete DF counts.  Cleaning is RUNNING by design: an
    early batch cannot know that a later batch will push a chunk over
    threshold (re-clean via the over-store path when retroactive
    removal matters).

    Replay-safe: each append is tagged with an order-independent
    digest of the batch's (id, text) rows; re-feeding a batch whose
    tag is already stored appends nothing and returns the same
    output, while the same ids with different content count as a new
    batch.
    ``chunk_words``/``scope_cols`` are pinned in a ``_bp_params``
    sidecar and validated on every call.
    """
    if chunk_words <= 0 or min_df < 1:
        raise ValueError("chunk_words must be positive, min_df >= 1")
    scope = list(scope_cols) if scope_cols else []
    from ..storeio import read_parquet_if_exists

    params = _bp_check_params(spark, store_path, chunk_words, scope)
    store = read_parquet_if_exists(spark, store_path)

    # order-independent batch digest (XOR of per-row hashes — XOR
    # rather than sum: ANSI mode makes an overflowing sum throw): the
    # replay guard — one tiny aggregate over the batch.  Content is
    # folded in alongside the id, so a batch re-submitted with the
    # same ids but DIFFERENT text is a new batch, not a replay.
    tag = int(
        batch_df.agg(
            F.coalesce(
                F.bit_xor(
                    F.xxhash64(
                        F.col(id_col),
                        F.coalesce(F.col(text_col), F.lit("")),
                    )
                ),
                F.lit(0),
            ).alias("t")
        ).head()["t"]
    )
    replay = store is not None and (
        store.filter(F.col("__batch") == tag).limit(1).count() > 0
    )

    # clone-collapsed like the batch operator: ingest batches can be
    # clone-heavy too (re-crawls, mirrored feeds), so chunking /
    # DF-counting / cleaning run per DISTINCT text and expand back
    # through the text-keyed join — per-text chunk dedup + a
    # multiplicity sum reproduces the per-doc countDistinct exactly
    groups = batch_df.groupBy(
        *scope,
        F.coalesce(F.col(text_col), F.lit("")).alias("__text"),
    ).agg(F.count("*").alias("__mult"))
    # ONE chunk pass per trigger (the tf_rows pattern from the BM25
    # fold): the batch's exploded chunk frame is materialized once and
    # the DF aggregation, the cleaning join AND the store append all
    # read the blocks — before this the tokenize/explode/hash pipeline
    # ran three times per micro-batch (once under the output's
    # localCheckpoint for batch_counts→boiler, once for per_text, once
    # more for the append's write).  Batch-sized by construction; the
    # BATCH operator's chunk frame stays lazy (corpus-sized — eager
    # materialization there is the memory cost this fold avoids).
    chunks = _bp_chunks(
        groups, "__text", "__text", chunk_words, [*scope, "__mult"]
    ).localCheckpoint(eager=True)
    batch_counts = (
        chunks.dropDuplicates(["__doc", *scope, "__h1", "__h2"])
        .groupBy(*scope, "__h1", "__h2")
        .agg(F.sum("__mult").alias("__df"))
    )
    if store is not None:
        prior = store
        if replay:
            # exclude this batch's own prior append: counting it AND
            # the live batch would double it
            prior = prior.filter(F.col("__batch") != tag)
        cumulative = (
            prior.select(*scope, "__h1", "__h2", "__df")
            .unionByName(batch_counts)
            .groupBy(*scope, "__h1", "__h2")
            .agg(F.sum("__df").alias("__df"))
        )
    else:
        cumulative = batch_counts
    boiler = cumulative.filter(F.col("__df") >= min_df).select(
        *scope, "__h1", "__h2"
    )
    per_text = _bp_clean(chunks.drop("__mult"), boiler, "__text", scope)
    lhs = batch_df.select(
        F.col(id_col),
        *scope,
        F.coalesce(F.col(text_col), F.lit("")).alias("__text"),
    )
    cond = lhs["__text"] == per_text["__text"]
    for c in scope:
        cond = cond & lhs[c].eqNullSafe(per_text[c])
    out = (
        lhs.join(per_text, cond)
        .select(
            lhs[id_col],
            per_text["n_chunks"],
            per_text["n_removed"],
            per_text["clean_text"],
        )
        .localCheckpoint(eager=True)
    )
    if not replay:
        # sidecar FIRST (see incremental_line_dedup: a crash between
        # the two writes must not leave a populated, unguarded store)
        if params is None:
            spark.range(1).select(
                F.lit(int(chunk_words)).cast("int").alias("chunk_words"),
                F.lit(",".join(scope)).alias("scope"),
            ).coalesce(1).write.mode("overwrite").parquet(
                _bp_params_path(store_path)
            )
        batch_counts.withColumn("__batch", F.lit(tag)).write.mode(
            "append"
        ).parquet(store_path)
    return out


def boilerplate_clean_over_store(
    spark,
    df: DataFrame,
    id_col: str,
    text_col: str,
    store_path: str,
    chunk_words: int = 4,
    min_df: int = 2,
    scope_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Clean ANY document frame against the persisted cumulative
    chunk-DF counts only (the apply/audit path — no store mutation,
    no batch-local counting).  With the store fed the full corpus,
    this equals :func:`boilerplate_removal` on that corpus.

    Clone-collapsed like the batch operator: chunking and the
    membership join run once per DISTINCT text and the per-text
    result expands back through a text-keyed join, so re-cleaning a
    clone-heavy corpus costs distinct content, not raw size."""
    scope = list(scope_cols) if scope_cols else []
    from ..storeio import read_parquet_if_exists

    _bp_check_params(spark, store_path, chunk_words, scope)
    store = read_parquet_if_exists(spark, store_path)
    if store is None:
        raise FileNotFoundError(
            f"no boilerplate store at {store_path}"
        )
    boiler = (
        store.groupBy(*scope, "__h1", "__h2")
        .agg(F.sum("__df").alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select(*scope, "__h1", "__h2")
    )
    groups = df.select(
        *scope,
        F.coalesce(F.col(text_col), F.lit("")).alias("__text"),
    ).distinct()
    chunks = _bp_chunks(groups, "__text", "__text", chunk_words, scope)
    per_text = _bp_clean(chunks, boiler, "__text", scope)
    lhs = df.select(
        F.col(id_col),
        *scope,
        F.coalesce(F.col(text_col), F.lit("")).alias("__text"),
    )
    cond = lhs["__text"] == per_text["__text"]
    for c in scope:
        cond = cond & lhs[c].eqNullSafe(per_text[c])
    return lhs.join(per_text, cond).select(
        lhs[id_col],
        per_text["n_chunks"],
        per_text["n_removed"],
        per_text["clean_text"],
    )


def quality_rank_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_cols: Sequence[str],
    quantile: float = 0.5,
) -> DataFrame:
    """Per-group quantile thresholding of the quality score: keep the
    documents at or above their group's ``quantile`` score (e.g. the
    top half of every language) — the normalization that stops a
    corpus-wide cutoff from wiping out whole languages whose score
    distribution sits lower.

    Scale shape: the naive formulation is ``percent_rank() OVER
    (PARTITION BY lang)`` — a full sort of the corpus shuffled into
    ONE partition per language (a handful of languages ⇒ a handful of
    straggler tasks).  Instead the per-group threshold is computed as
    a model-sized aggregate (|groups| rows), broadcast-joined back,
    and the filter is a projection: no window, no per-group sort, the
    corpus is never range-partitioned by a low-cardinality key.

    Threshold comparison uses the UNROUNDED group quantile: scores are
    floor-6dp multiples, so an interpolated threshold either equals an
    exact score (no interpolation happened) or sits strictly between
    two adjacent multiples — either way the comparison is ulp-robust
    across engines.  The reported ``group_threshold`` is rounded 6dp.
    """
    feats = quality_features(df, id_col, text_col)
    scored = df.select(F.col(id_col), *group_cols).join(
        feats.select(id_col, "quality_score"), id_col
    )
    thresholds = scored.groupBy(*group_cols).agg(
        F.percentile(F.col("quality_score"), F.lit(quantile)).alias(
            "__thr"
        )
    )
    return (
        scored.join(F.broadcast(thresholds), list(group_cols))
        .filter(F.col("quality_score") >= F.col("__thr"))
        .select(
            id_col,
            *group_cols,
            "quality_score",
            F.round(F.col("__thr"), 6).alias("group_threshold"),
        )
    )


def ngram_novelty(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-document novelty score: the fraction of a document's
    distinct word n-grams that appear NOWHERE else in the corpus
    (document frequency 1).  Low novelty flags boilerplate-heavy or
    near-duplicate content that pair-level dedup misses; high novelty
    is the memorization-risk signal for one-off strings.

    Clone-collapsed inverted-index shape: identical texts reduce to
    one representative with a multiplicity via ONE hash aggregation
    (no window sort — the agg combines map-side), shingles are
    evaluated per DISTINCT text only, shingle document frequency is
    the multiplicity-weighted sum, and per-rep scores expand back to
    members through a text-keyed membership join that reuses the
    aggregation's partitioning on the build side.  Posting volume scales with
    distinct content, not raw corpus size — the quantity a crawl
    keeps small — and any clone group of size >= 2 gets novelty 0
    without its shingles ever being re-evaluated.  Linear in
    postings (no pair join, unlike Jaccard); a hot shingle's probe
    rows are AQE-skew territory.  Documents shorter than ``n`` tokens
    have no n-grams and are absent from the output (same convention
    as the Jaccard family).
    """
    from .dedup import shingles_col

    base = df.select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("__text")
    )
    groups = base.groupBy("__text").agg(
        F.min("doc").alias("rep"), F.count("*").alias("__mult")
    )
    sh = groups.select(
        "rep",
        "__mult",
        F.explode(
            F.array_distinct(shingles_col(F.col("__text"), n))
        ).alias("__s"),
    )
    dfc = sh.groupBy("__s").agg(F.sum("__mult").alias("__df"))
    per_rep = (
        sh.join(dfc, "__s")
        .groupBy("rep")
        .agg(
            F.count("*").alias("n_grams"),
            F.round(
                F.sum(F.when(F.col("__df") == 1, 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("novelty"),
        )
    )
    membership = base.join(
        groups.select("__text", "rep"), "__text"
    ).select("doc", "rep")
    return membership.join(per_rep, "rep").select(
        F.col("doc").alias(id_col), "n_grams", "novelty"
    )


def _ld_per_rep(marked: DataFrame) -> DataFrame:
    """Per-representative assembly from ``__keep``-marked chunks:
    ``(rep, __n_chunks, __n_kept, __clean)`` with surviving segments
    re-joined in chunk order — the shared tail of :func:`line_dedup`
    and :func:`incremental_line_dedup`."""
    kept_struct = F.when(
        F.col("__keep"), F.struct(F.col("chunk_id"), F.col("chunk_text"))
    )
    return marked.groupBy(F.col("__doc").alias("rep")).agg(
        F.count("*").alias("__n_chunks"),
        F.sum(F.when(F.col("__keep"), 1).otherwise(0)).alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("__clean"),
    )


def _ld_fanout(
    df: DataFrame,
    id_col: str,
    text_col: str,
    groups: DataFrame,
    per_rep: DataFrame,
    scope: Sequence[str],
) -> DataFrame:
    """Copy each representative's line-dedup result to its clones:
    reps keep their cleaned text, non-rep clones (whose every segment
    lost to the rep's copy) get ``('', 0)`` with the rep's
    ``n_chunks`` — the shared member fan-out of :func:`line_dedup`
    and :func:`incremental_line_dedup`."""
    lhs = df.select(
        F.col(id_col),
        *scope,
        F.coalesce(F.col(text_col), F.lit("")).alias("__text"),
    )
    gsel = groups.select(
        *[F.col(c).alias(f"__gs_{c}") for c in scope], "__text", "rep"
    )
    gcond = lhs["__text"] == gsel["__text"]
    for c in scope:
        gcond = gcond & lhs[c].eqNullSafe(gsel[f"__gs_{c}"])
    is_rep = F.col(id_col) == F.col("rep")
    return (
        lhs.join(gsel, gcond)
        .join(per_rep, "rep")
        .select(
            F.col(id_col),
            F.when(is_rep, F.col("__clean"))
            .otherwise(F.lit(""))
            .alias("clean_text"),
            F.col("__n_chunks").cast("long").alias("n_chunks"),
            F.when(is_rep, F.col("__n_kept"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_kept"),
        )
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 4,
    scope_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Corpus-level segment dedup, first-occurrence-wins (the CCNet /
    Dolma "line dedup" pass, with non-overlapping ``chunk_words``-token
    segments standing in for lines on corpora without newline
    structure): every distinct segment keeps exactly ONE occurrence
    corpus-wide — the earliest by ``(doc_id, chunk_id)`` — and every
    later occurrence (across documents or repeated inside one) is
    stripped.  Complementary to :func:`boilerplate_removal`, which
    drops ALL copies of over-threshold chunks: line dedup preserves
    one copy of shared content, so corpus token mass shrinks without
    losing any distinct segment.  Output per document: ``clean_text``
    (surviving segments re-joined in order), ``n_chunks``, ``n_kept``.

    Scale shape — clone-collapsed: identical texts (null folds into
    the empty string) reduce to one representative via a single hash
    aggregation and only representatives are chunked.  The collapse is
    EXACT, not approximate: a non-representative clone shares every
    ``(segment, chunk_id)`` with its representative at a strictly
    smaller doc id, so it can never hold a first occurrence — its
    result is always ``clean_text = ''``, ``n_kept = 0`` with the
    representative's ``n_chunks``.  Winner election is one map-side-
    combining ``min(struct(doc, chunk_id))`` aggregation keyed on the
    two-salt 128-bit chunk hash (shared with the boilerplate family —
    segments shuffle as 16-byte keys, never as raw text), followed by
    an equi-join on the same key, which AQE serves from the
    aggregation's partitioning.  No window over the full occurrence
    frame and no pair join: work is linear in distinct-text segments.
    Ordered reassembly is the bounded per-text ``collect_list`` +
    ``array_sort`` used by ``_bp_clean``.

    ``scope_cols`` (e.g. the source domain) localizes the dedup:
    first-occurrence-wins runs independently per scope group, the
    boilerplate-family convention for site-local content — a segment
    shared across two sources then survives once PER source.
    """
    if chunk_words <= 0:
        raise ValueError("chunk_words must be positive")
    scope = list(scope_cols) if scope_cols else []
    groups = df.groupBy(
        *scope,
        F.coalesce(F.col(text_col), F.lit("")).alias("__text"),
    ).agg(F.min(id_col).alias("rep"))
    chunks = _bp_chunks(groups, "rep", "__text", chunk_words, scope)
    # null-safe scope grouping: groupBy treats nulls as one group ✓
    win = chunks.groupBy(*scope, "__h1", "__h2").agg(
        F.min(
            F.struct(
                F.col("__doc").alias("doc"), F.col("chunk_id").alias("cid")
            )
        ).alias("__w")
    )
    wcond = (F.col("__h1") == F.col("__wh1")) & (
        F.col("__h2") == F.col("__wh2")
    )
    wsel = win.select(
        *[F.col(c).alias(f"__ws_{c}") for c in scope],
        F.col("__h1").alias("__wh1"),
        F.col("__h2").alias("__wh2"),
        "__w",
    )
    for c in scope:
        wcond = wcond & F.col(c).eqNullSafe(F.col(f"__ws_{c}"))
    marked = chunks.join(wsel, wcond).withColumn(
        "__keep",
        (F.col("__doc") == F.col("__w.doc"))
        & (F.col("chunk_id") == F.col("__w.cid")),
    )
    return _ld_fanout(
        df, id_col, text_col, groups, _ld_per_rep(marked), scope
    )


def _ld_params_path(store_path: str) -> str:
    # underscore prefix: invisible to spark.read.parquet(store_path)
    return store_path.rstrip("/") + "/_ld_params"


def incremental_line_dedup(
    spark,
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    store_path: str,
    chunk_words: int = 4,
) -> DataFrame:
    """Running first-occurrence-wins segment dedup: clean a NEW batch
    against every segment kept in any earlier batch (persisted
    segment-hash store), elect first occurrences within the batch for
    store-fresh segments, and append the batch's newly-kept segment
    hashes — work ∝ the new batch plus one store anti-join.

    First-arrival-wins is inherently causal, so the incremental
    contract is EXACT, not running-approximate (unlike the
    boilerplate store, where an early batch cannot see later
    templates): feeding a corpus partition through in id order —
    each document once, batches ordered by ascending doc id —
    reproduces :func:`line_dedup` on the whole corpus, because the
    global ``min(doc_id, chunk_id)`` winner of every segment sits in
    the first batch that contains the segment.  Out-of-order feeds
    keep the same first-ARRIVAL semantics as the curation stores.

    Replay-safe: the store append is guarded by an order-independent
    content-folded batch digest; a re-delivered batch returns the
    identical output (its own prior append is excluded from the
    store view) and appends nothing.  ``chunk_words`` is pinned in a
    ``_ld_params`` sidecar, since a width mismatch would make every
    stored hash silently unmatchable.  Clone-collapsed like the
    batch operator: only distinct texts are chunked, and a
    non-representative clone can never hold a first occurrence.
    """
    if chunk_words <= 0:
        raise ValueError("chunk_words must be positive")
    from ..storeio import read_params_rows, read_parquet_if_exists

    params = read_params_rows(spark, _ld_params_path(store_path))
    if params:
        stored_w = int(params[0]["chunk_words"])
        if stored_w != chunk_words:
            raise ValueError(
                f"line-dedup store at {store_path} was written with "
                f"chunk_words={stored_w}, called with {chunk_words}"
            )
    store = read_parquet_if_exists(spark, store_path)
    tag = int(
        batch_df.agg(
            F.coalesce(
                F.bit_xor(
                    F.xxhash64(
                        F.col(id_col),
                        F.coalesce(F.col(text_col), F.lit("")),
                    )
                ),
                F.lit(0),
            ).alias("t")
        ).head()["t"]
    )
    replay = store is not None and (
        store.filter(F.col("__batch") == tag).limit(1).count() > 0
    )

    groups = batch_df.groupBy(
        F.coalesce(F.col(text_col), F.lit("")).alias("__text")
    ).agg(F.min(id_col).alias("rep"))
    chunks = _bp_chunks(groups, "rep", "__text", chunk_words, [])
    win = chunks.groupBy("__h1", "__h2").agg(
        F.min(
            F.struct(
                F.col("__doc").alias("doc"), F.col("chunk_id").alias("cid")
            )
        ).alias("__w")
    )
    if store is not None:
        prior = store
        if replay:
            # exclude this batch's own prior append: its segments
            # must stay fresh so the replayed output is identical
            prior = prior.filter(F.col("__batch") != tag)
        win = win.join(
            prior.select("__h1", "__h2"), ["__h1", "__h2"], "left_anti"
        )
    # materialize fresh winners ONCE: they feed both the output and
    # the store append, and the append must not carry lineage that
    # re-lists the very directory it is writing into
    win = win.localCheckpoint(eager=True)
    marked = chunks.join(win, ["__h1", "__h2"], "left").withColumn(
        "__keep",
        F.col("__w").isNotNull()
        & (F.col("__doc") == F.col("__w.doc"))
        & (F.col("chunk_id") == F.col("__w.cid")),
    )
    out = _ld_fanout(
        batch_df, id_col, text_col, groups, _ld_per_rep(marked), []
    ).localCheckpoint(eager=True)
    if not replay:
        # sidecar FIRST: a crash after the store append but before the
        # params write would leave a populated store permanently
        # unguarded against the width mismatch the sidecar exists to
        # prevent (sidecar-then-crash is harmless — the store is
        # still empty)
        if not params:
            spark.range(1).select(
                F.lit(int(chunk_words)).cast("int").alias("chunk_words")
            ).coalesce(1).write.mode("overwrite").parquet(
                _ld_params_path(store_path)
            )
        win.select("__h1", "__h2").withColumn(
            "__batch", F.lit(tag)
        ).write.mode("append").parquet(store_path)
    return out
