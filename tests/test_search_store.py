"""Store-backed search serving: the registered hybrid / more-like-this
queries must serve from the maintained indexes (postings store + IVF
store) and still equal the corpus-scan editions row for row — the
serving shape the reference's ES sink exists for, minus the corpus
re-tokenize per query."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_hybrid_over_store_equals_scan_path(spark):
    from mongo_es_spark.queries import (
        search_hybrid_over_store,
        search_hybrid_rrf,
    )

    assert _rows(search_hybrid_over_store(spark, SF)) == _rows(
        search_hybrid_rrf(spark, SF)
    )


def test_mlt_over_store_equals_scan_path(spark):
    from mongo_es_spark.queries import (
        search_mlt_over_store,
        search_more_like_this,
    )

    assert _rows(search_mlt_over_store(spark, SF)) == _rows(
        search_more_like_this(spark, SF)
    )


def test_bm25_exclude_docs_matches_minus_corpus(spark, tmp_path):
    """exclude_docs must remove the doc from EVERY statistic (n_docs,
    avgdl, df), not just the candidate set — the excluded doc here
    contains the query term, so a candidate-only exclusion would leave
    df one too high and shift every score."""
    from mongo_es_spark.operators.text import (
        bm25_over_store,
        bm25_search,
        incremental_bm25_index,
    )

    rows = [
        (0, "spark spark makes maps"),
        (1, "spark joins tables quickly"),
        (2, "tables hold rows"),
        (3, "spark spark spark everywhere now"),
        (4, "nothing relevant here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()

    got = [
        (r["doc"], r["score"])
        for r in bm25_over_store(
            spark, store, ["spark", "tables"], exclude_docs=[0]
        ).collect()
    ]
    want = [
        (r["doc_id"], r["score"])
        for r in bm25_search(
            docs.filter(F.col("doc_id") != 0),
            "doc_id",
            "text",
            ["spark", "tables"],
        ).collect()
    ]
    assert got == want and len(got) == 3


def test_prefix_search_pushes_range_and_matches_expansion(spark, tmp_path):
    """The prefix query must (a) score identically to BM25 over the
    explicitly expanded term list and (b) push the token RANGE into
    the parquet scan."""
    import re as _re

    from mongo_es_spark.operators.text import (
        bm25_over_store,
        incremental_bm25_index,
        prefix_search_over_store,
    )
    from mongo_es_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()
    got = [
        (r["doc"], r["score"])
        for r in prefix_search_over_store(
            spark, store, "s", top_k=10
        ).collect()
    ]
    vocab = [
        r["token"]
        for r in spark.read.parquet(f"{store}/postings")
        .select("token")
        .distinct()
        .collect()
        if r["token"].startswith("s")
    ]
    want = [
        (r["doc"], r["score"])
        for r in bm25_over_store(
            spark, store, sorted(vocab), top_k=10
        ).collect()
    ]
    assert got == want and len(got) == 10
    plan = (
        prefix_search_over_store(spark, store, "s")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert _re.search(
        r"PushedFilters: \[.*GreaterThanOrEqual\(token,s\)", plan
    )
    assert _re.search(r"LessThan\(token,t\)", plan)
    import pytest

    with pytest.raises(ValueError, match="empty prefix"):
        prefix_search_over_store(spark, store, "")


def test_bool_search_gates_and_boosts(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        bm25_over_store,
        bool_search_over_store,
        incremental_bm25_index,
    )

    rows = [
        (1, "a b c"),       # must hit
        (2, "a b c x"),     # must hit, blocked by must_not x
        (3, "a c"),         # missing must term b -> out
        (4, "a b"),         # must hit, no should term
        (5, "c x"),         # no must terms at all
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()

    got = {
        r["doc"]: r["score"]
        for r in bool_search_over_store(
            spark, store, must=["a", "b"], should=["c"], must_not=["x"]
        ).collect()
    }
    assert set(got) == {1, 4}          # gated by must, blocked by x
    assert got[1] > got[4]             # should term boosts 1 over 4
    # no must: should gates as OR
    or_hits = {
        r["doc"]
        for r in bool_search_over_store(
            spark, store, should=["c"], must_not=["x"]
        ).collect()
    }
    assert or_hits == {1, 3}
    # must-only bool == plain bm25 restricted to docs with ALL terms
    plain = {
        r["doc"]: r["score"]
        for r in bm25_over_store(spark, store, ["a", "b"]).collect()
        if r["doc"] in (1, 2, 4)
    }
    must_only = {
        r["doc"]: r["score"]
        for r in bool_search_over_store(
            spark, store, must=["a", "b"]
        ).collect()
    }
    assert must_only == plain


def test_fuzzy_expansion_against_vocabulary(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        expand_fuzzy_terms,
        incremental_bm25_index,
    )

    rows = [(1, "row slow stream spark"), (2, "grow crow rows")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()
    assert expand_fuzzy_terms(spark, store, ["sow"], max_dist=1) == [
        "row",
        "slow",
    ]
    assert expand_fuzzy_terms(spark, store, ["sow"], max_dist=2) == [
        "crow",
        "grow",
        "row",
        "rows",
        "slow",
    ]
    assert expand_fuzzy_terms(spark, store, ["zzz"], max_dist=1) == []


def test_bm25_batch_equals_per_query(spark, tmp_path):
    """The msearch batch must score every query identically to its
    standalone bm25_over_store run — one index pass, same math."""
    from mongo_es_spark.operators.text import (
        bm25_batch_over_store,
        bm25_over_store,
        incremental_bm25_index,
    )
    from mongo_es_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()
    queries = [
        (0, ["spark", "table"]),
        (1, ["stream", "value"]),
        (2, ["table", "table", "stream"]),  # dup term collapses
        (3, ["zzz_not_a_token"]),           # no hits -> no rows
    ]
    got = [
        (r["q_id"], r["doc"], r["score"])
        for r in bm25_batch_over_store(
            spark, store, queries, top_k=5
        ).collect()
    ]
    want = []
    for q_id, terms in queries:
        want += [
            (q_id, r["doc"], r["score"])
            for r in bm25_over_store(
                spark, store, terms, top_k=5
            ).collect()
        ]
    assert got == want
    assert not [r for r in got if r[0] == 3]

    plan = (
        bm25_batch_over_store(spark, store, queries[:3])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"PushedFilters: \[.*In\(token", plan)
    assert "CartesianProduct" not in plan


def test_proximity_min_span_edges(spark, tmp_path):
    """The linear merged-events fold must find the TIGHT window among
    interleaved repeats (a naive first-occurrence pairing would not),
    treat repeated query terms as one, require every term, and give a
    single term span 0."""
    from mongo_es_spark.operators.text import (
        incremental_bm25_index,
        proximity_over_store,
    )

    rows = [
        # a .... b a b  -> tight (a,b) window is 1, not 4
        (1, "a x x x b a b"),
        (2, "a x b"),          # span 2
        (3, "b a"),            # order-free: span 1
        (4, "a a a"),          # missing b -> drops
        (5, "x b x"),          # missing a -> drops
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()

    got = {
        r["doc"]: r["min_span"]
        for r in proximity_over_store(spark, store, ["a", "b"]).collect()
    }
    assert got == {1: 1, 2: 2, 3: 1}
    # repeated query terms collapse to the distinct set
    rep = {
        r["doc"]: r["min_span"]
        for r in proximity_over_store(
            spark, store, ["a", "b", "a"]
        ).collect()
    }
    assert rep == got
    # single term: every containing doc at span 0
    one = {
        r["doc"]: r["min_span"]
        for r in proximity_over_store(spark, store, ["b"]).collect()
    }
    assert one == {1: 0, 2: 0, 3: 0, 5: 0}


def test_proximity_pushes_token_filter(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        incremental_bm25_index,
        proximity_over_store,
    )
    from mongo_es_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()
    plan = (
        proximity_over_store(spark, store, ["value", "table"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"PushedFilters: \[.*In\(token", plan)
    assert "CartesianProduct" not in plan


def test_bm25_exclude_docs_keeps_token_pushdown(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        bm25_over_store,
        incremental_bm25_index,
    )
    from mongo_es_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()
    plan = (
        bm25_over_store(
            spark, store, ["spark", "table"], exclude_docs=[0]
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"PushedFilters: \[.*In\(token", plan)
    assert "CartesianProduct" not in plan

def test_prefix_upper_bound_edge_cases(spark, tmp_path):
    """_prefix_upper_bound: carry past U+10FFFF, hop the surrogate
    gap after U+D7FF, None for an unboundable prefix -- and the query
    path stays CORRECT on tokens around those boundaries (startswith
    is the semantic predicate; the range only accelerates)."""
    from mongo_es_spark.operators.text import (
        _prefix_upper_bound,
        incremental_bm25_index,
        prefix_search_over_store,
    )

    assert _prefix_upper_bound("abc") == "abd"
    # U+D7FF + 1 hops the (unencodable) surrogate block to U+E000
    assert _prefix_upper_bound("a\ud7ff") == "a\ue000"
    # trailing U+10FFFF: carry into the previous position
    assert _prefix_upper_bound("a\U0010FFFF") == "b"
    assert _prefix_upper_bound("\U0010FFFF\U0010FFFF") is None

    max_c = "\U0010FFFF"
    rows = [
        (1, "a" + max_c + "x " + "a" + max_c + "x plain"),
        (2, "ab decoy"),
        (3, "a\ud7ffq surrogate-edge"),
        (4, "a\ue000q gap-right"),
        (5, max_c + max_c + " lone"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()

    # carried bound ["a<max>", "b") admits "ab..." -- startswith must
    # exclude doc 2
    hits = {
        r["doc"]
        for r in prefix_search_over_store(
            spark, store, "a" + max_c, top_k=10
        ).collect()
    }
    assert hits == {1}
    # the D7FF bound "a\ue000" is EXCLUSIVE: doc 4's token equals the
    # bound's own prefix and must not leak into the D7FF range
    hits2 = {
        r["doc"]
        for r in prefix_search_over_store(
            spark, store, "a\ud7ff", top_k=10
        ).collect()
    }
    assert hits2 == {3}
    # plain prefix spans every a-token
    hits3 = {
        r["doc"]
        for r in prefix_search_over_store(
            spark, store, "a", top_k=10
        ).collect()
    }
    assert hits3 == {1, 2, 3, 4}
    # unboundable prefix: falls back to pure startswith, still correct
    hits4 = {
        r["doc"]
        for r in prefix_search_over_store(
            spark, store, max_c, top_k=10
        ).collect()
    }
    assert hits4 == {5}


def test_filtered_retrieval_gates_without_rescoring(spark, tmp_path):
    """ES filter context: membership gated on stored fields, scoring
    untouched (idf/avgdl/n_docs stay whole-index) — a surviving doc's
    score must BYTE-match its unfiltered score; and both predicates
    push into the docstats scan (doc-values pushdown), the token In
    into the postings scan."""
    import re as _re

    from mongo_es_spark.operators.text import (
        bm25_over_store,
        filtered_bm25_over_store,
        incremental_bm25_index,
    )

    rows = [
        (1, "spark streams tables", "en", 120),
        (2, "spark spark batch", "en", 80),
        (3, "spark tables rows", "fr", 300),
        (4, "tables of spark", "en", 500),
        (5, "spark spark spark", "en", 2000),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(
        spark, docs, store, field_cols=["lang", "n_chars"]
    ).count()

    flt = filtered_bm25_over_store(
        spark,
        store,
        ["spark", "tables"],
        [("lang", "=", "en"), ("n_chars", ">=", 100), ("n_chars", "<", 1000)],
    )
    got = {r["doc"]: r["score"] for r in flt.collect()}
    assert set(got) == {1, 4}  # 2: n_chars too small, 3: fr, 5: too big
    unfiltered = {
        r["doc"]: r["score"]
        for r in bm25_over_store(
            spark, store, ["spark", "tables"], top_k=10
        ).collect()
    }
    for d, s in got.items():
        assert s == unfiltered[d]  # non-scoring filter context

    plan = flt._jdf.queryExecution().executedPlan().toString()
    assert _re.search(r"PushedFilters: \[.*In\(token", plan)
    assert _re.search(r"EqualTo\(lang,en\)", plan)
    assert _re.search(r"GreaterThanOrEqual\(n_chars,100\)", plan)
    import pytest

    with pytest.raises(ValueError, match="not stored"):
        filtered_bm25_over_store(
            spark, store, ["spark"], [("missing", "=", 1)]
        )
    with pytest.raises(ValueError, match="unsupported filter op"):
        filtered_bm25_over_store(
            spark, store, ["spark"], [("lang", "~", "en")]
        )


def test_wildcard_and_regexp_expansion(spark, tmp_path):
    """Wildcard/regexp term expansion over the vocabulary: ES
    anchoring semantics, prefix-range pruning for non-leading
    wildcards, leading-wildcard correctness, max_terms guard."""
    import re as _re

    import pytest

    from mongo_es_spark.operators.text import (
        expand_regexp_terms,
        expand_wildcard_terms,
        incremental_bm25_index,
        wildcard_to_regex,
    )

    assert wildcard_to_regex("s*am") == "^s.*am$"
    assert wildcard_to_regex("ro?s") == "^ro.s$"
    assert wildcard_to_regex("a.b") == "^a\\.b$"  # literal dot escaped

    rows = [
        (1, "stream steam scam sam slam"),
        (2, "rows ross table tables"),
        (3, "spam exam team upstream"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()

    # non-leading wildcard: anchored both ends, '*' spans the empty
    # run ('sam' matches), 'upstream' excluded
    assert expand_wildcard_terms(spark, store, "s*am") == [
        "sam", "scam", "slam", "spam", "steam", "stream",
    ]
    # ? = exactly one char
    assert expand_wildcard_terms(spark, store, "s?am") == [
        "scam", "slam", "spam",
    ]
    # leading wildcard: full-vocabulary sweep, still correct
    assert expand_wildcard_terms(spark, store, "*eam") == [
        "steam", "stream", "team", "upstream",
    ]
    # regexp: ES whole-token anchoring
    assert expand_regexp_terms(spark, store, "[rt]ab?les?") == [
        "table", "tables",
    ]
    assert expand_regexp_terms(spark, store, "ro.s") == ["ross", "rows"]
    with pytest.raises(ValueError, match="max_terms"):
        expand_wildcard_terms(spark, store, "*", max_terms=3)

    # the prefix-range accelerator reaches the scan for a non-leading
    # wildcard (same pushdown contract as prefix_search_over_store)
    from mongo_es_spark.operators.text import _read_search_store

    postings, _ = _read_search_store(spark, store)
    pruned = postings.filter(
        (F.col("token").startswith("s"))
        & (F.col("token") >= "s")
        & (F.col("token") < "t")
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert _re.search(r"GreaterThanOrEqual\(token,s\)", plan)


def test_search_after_pages_tile_the_deep_topk(spark, tmp_path):
    """Concatenated search_after pages must equal the single deep
    top-k exactly — including across a tied-score boundary (the
    cursor is (score, doc), so ties split correctly by doc id)."""
    from mongo_es_spark.operators.text import (
        bm25_over_store,
        bm25_page_over_store,
        incremental_bm25_index,
    )
    from mongo_es_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()
    terms = ["spark", "table", "stream"]
    deep = [
        (r["doc"], r["score"])
        for r in bm25_over_store(spark, store, terms, top_k=15).collect()
    ]
    pages, cursor = [], None
    for _ in range(3):
        page = [
            (r["doc"], r["score"])
            for r in bm25_page_over_store(
                spark, store, terms, page_size=5, search_after=cursor
            ).collect()
        ]
        if not page:
            break
        pages += page
        cursor = (page[-1][1], page[-1][0])
    assert pages == deep


def test_histogram_over_store_matches_matched_set(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        histogram_over_store,
        incremental_bm25_index,
    )

    rows = [
        (1, "spark a", "en", 100),
        (2, "spark b", "en", 250),
        (3, "spark c", "fr", 260),
        (4, "other words", "en", 450),   # unmatched -> no bucket
        (5, "spark d", "de", 460),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(
        spark, docs, store, field_cols=["lang", "n_chars"]
    ).count()
    got = [
        (r["bucket"], r["n_docs"])
        for r in histogram_over_store(
            spark, store, ["spark"], "n_chars", interval=200.0
        ).collect()
    ]
    assert got == [(0.0, 1), (200.0, 2), (400.0, 1)]
    import pytest

    with pytest.raises(ValueError, match="not stored"):
        histogram_over_store(spark, store, ["spark"], "missing", 10.0)
    with pytest.raises(ValueError, match="positive"):
        histogram_over_store(spark, store, ["spark"], "n_chars", 0.0)


def test_date_histogram_over_store(spark, tmp_path):
    import datetime

    import pytest

    from mongo_es_spark.operators.text import (
        date_histogram_over_store,
        incremental_bm25_index,
    )

    rows = [
        (1, "spark a", datetime.date(2024, 1, 5)),
        (2, "spark b", datetime.date(2024, 1, 20)),
        (3, "spark c", datetime.date(2024, 2, 10)),
        (4, "other words", datetime.date(2024, 3, 1)),  # unmatched
        (5, "spark d", None),  # no value -> dropped (ES missing)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, day date"
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(
        spark, docs, store, field_cols=["day"]
    ).count()
    got = [
        (r["bucket"], r["n_docs"])
        for r in date_histogram_over_store(
            spark, store, ["spark"], "day", interval="month"
        ).collect()
    ]
    assert got == [
        (datetime.date(2024, 1, 1), 2),
        (datetime.date(2024, 2, 1), 1),
    ]
    # day interval: identity buckets
    got_d = [
        (r["bucket"], r["n_docs"])
        for r in date_histogram_over_store(
            spark, store, ["spark"], "day", interval="day"
        ).collect()
    ]
    assert got_d == [
        (datetime.date(2024, 1, 5), 1),
        (datetime.date(2024, 1, 20), 1),
        (datetime.date(2024, 2, 10), 1),
    ]
    with pytest.raises(ValueError, match="calendar interval"):
        date_histogram_over_store(spark, store, ["spark"], "day", "hour")
    with pytest.raises(ValueError, match="not stored"):
        date_histogram_over_store(spark, store, ["spark"], "missing")


def test_function_score_modifiers_and_boost_modes(spark, tmp_path):
    import math

    import pytest

    from mongo_es_spark.operators.text import (
        bm25_over_store,
        function_score_over_store,
        incremental_bm25_index,
    )

    rows = [
        # doc 1 scores higher on BM25 ("spark" twice) but doc 2's
        # much larger boost field must flip the final order
        (1, "spark spark table", 10),
        (2, "spark other words", 100_000),
        (3, "unrelated text here", 50),
        (4, "spark null field", None),  # missing -> substitute 1.0
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, n_chars long"
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(
        spark, docs, store, field_cols=["n_chars"]
    ).count()
    base = {
        r["doc"]: r["score"]
        for r in bm25_over_store(spark, store, ["spark"], top_k=10).collect()
    }
    vals = {1: 10.0, 2: 100_000.0, 4: 1.0}  # 4: missing=1.0
    got = {
        r["doc"]: r["score"]
        for r in function_score_over_store(
            spark, store, ["spark"], "n_chars", modifier="log1p"
        ).collect()
    }
    for d, s in got.items():
        want = round(base[d] * math.log10(1.0 + vals[d]), 6)
        assert abs(s - want) < 1e-9, (d, s, want)
    # the boost flipped the BM25 order: 2 outranks 1 now
    order = [
        r["doc"]
        for r in function_score_over_store(
            spark, store, ["spark"], "n_chars", modifier="log1p"
        ).collect()
    ]
    assert order.index(2) < order.index(1)
    assert base[1] > base[2]
    # sum mode with none modifier and weight
    got_sum = {
        r["doc"]: r["score"]
        for r in function_score_over_store(
            spark,
            store,
            ["spark"],
            "n_chars",
            modifier="none",
            weight=2.0,
            boost_mode="sum",
        ).collect()
    }
    for d, s in got_sum.items():
        assert abs(s - round(base[d] + 2.0 * vals[d], 6)) < 1e-9
    with pytest.raises(ValueError, match="modifier"):
        function_score_over_store(
            spark, store, ["spark"], "n_chars", modifier="cube"
        )
    with pytest.raises(ValueError, match="boost_mode"):
        function_score_over_store(
            spark, store, ["spark"], "n_chars", boost_mode="max"
        )
    with pytest.raises(ValueError, match="not stored"):
        function_score_over_store(spark, store, ["spark"], "missing")


def test_significant_terms_jlh(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        incremental_bm25_index,
        significant_terms_over_store,
    )

    rows = [
        (1, "q alpha beta"),
        (2, "q alpha"),
        (3, "alpha gamma"),
        (4, "delta gamma"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()
    got = [
        (r["token"], r["fg_df"], r["bg_df"], r["score"])
        for r in significant_terms_over_store(
            spark, store, ["q"], size=10
        ).collect()
    ]
    # n_fg=2 (docs 1,2), n_bg=4; JLH = (fg%-bg%)*(fg%/bg%)
    # q:     fg 2/2=1.0  bg 2/4=0.5  -> 0.5*2       = 1.0
    # beta:  fg 1/2=0.5  bg 1/4=0.25 -> 0.25*2      = 0.5
    # alpha: fg 2/2=1.0  bg 3/4=0.75 -> 0.25*1.3333 = 0.333333
    # gamma/delta: fg 0 -> excluded (fg% must exceed bg%)
    assert got == [
        ("q", 2, 2, 1.0),
        ("beta", 1, 1, 0.5),
        ("alpha", 2, 3, 0.333333),
    ]
    # size bounds the output
    assert (
        significant_terms_over_store(spark, store, ["q"], size=1).count()
        == 1
    )


def test_top_hits_per_group(spark, tmp_path):
    import pytest

    from mongo_es_spark.operators.text import (
        incremental_bm25_index,
        top_hits_over_store,
    )

    rows = [
        (1, "spark spark spark", "en"),
        (2, "spark spark other", "en"),
        (3, "spark words here", "en"),
        (4, "spark more words", "en"),  # en has 4 matches; top-2 cuts
        (5, "spark alone", "fr"),
        (6, "no match at all", "fr"),
        (7, "spark orphan", None),  # null group -> dropped
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(
        spark, docs, store, field_cols=["lang"]
    ).count()
    got = [
        (r["lang"], r["doc"], r["rnk"])
        for r in top_hits_over_store(
            spark, store, ["spark"], "lang", per_group=2
        ).collect()
    ]
    langs = [g[0] for g in got]
    assert langs == sorted(langs)
    by_lang = {}
    for lang, doc, rnk in got:
        by_lang.setdefault(lang, []).append((rnk, doc))
    # en: docs 1 (tf 3) and 2 (tf 2) outscore 3/4; fr: only doc 5
    assert [d for _r, d in sorted(by_lang["en"])] == [1, 2]
    assert [d for _r, d in sorted(by_lang["fr"])] == [5]
    assert None not in by_lang
    with pytest.raises(ValueError, match="not stored"):
        top_hits_over_store(spark, store, ["spark"], "missing")


def test_new_dsl_ops_keep_token_pushdown(spark, tmp_path):
    import datetime

    from mongo_es_spark.operators.text import (
        date_histogram_over_store,
        function_score_over_store,
        incremental_bm25_index,
        significant_terms_over_store,
        top_hits_over_store,
    )
    from mongo_es_spark.sources.tables import load_table

    docs = (
        load_table(spark, SF, "documents")
        .select("doc_id", "text", "lang", "n_chars")
        .withColumn(
            "day",
            F.date_add(
                F.lit("2024-01-01").cast("date"),
                (F.col("doc_id") % 365).cast("int"),
            ),
        )
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(
        spark, docs, store, field_cols=["lang", "n_chars", "day"]
    ).count()
    terms = ["spark", "value"]  # >= 2 so isin compiles to In(token,…)
    frames = [
        function_score_over_store(spark, store, terms, "n_chars"),
        top_hits_over_store(spark, store, terms, "lang"),
        date_histogram_over_store(spark, store, terms, "day"),
    ]
    for df in frames:
        plan = (
            df._jdf.queryExecution().executedPlan().toString()
        )
        assert re.search(r"PushedFilters: \[.*In\(token", plan), plan
        assert "CartesianProduct" not in plan
    # significant_terms: the FOREGROUND leg pushes the filter; the
    # background df aggregate is the one index-wide pass by design
    plan = (
        significant_terms_over_store(spark, store, terms)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"PushedFilters: \[.*In\(token", plan)
    assert "CartesianProduct" not in plan


def test_stats_over_store(spark, tmp_path):
    import pytest

    from mongo_es_spark.operators.text import (
        incremental_bm25_index,
        stats_over_store,
    )

    rows = [
        (1, "spark a", "en", 100),
        (2, "spark b", "en", 300),
        (3, "spark c", "fr", None),  # null field: out of count/sum
        (4, "no match", "de", 999),  # unmatched: excluded entirely
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(
        spark, docs, store, field_cols=["lang", "n_chars"]
    ).count()
    r = stats_over_store(
        spark, store, ["spark"], "n_chars", cardinality_col="lang"
    ).collect()[0]
    assert (
        r["n_docs"],
        r["min_v"],
        r["max_v"],
        r["avg_v"],
        r["sum_v"],
        r["n_distinct"],
    ) == (2, 100.0, 300.0, 200.0, 400.0, 2)
    with pytest.raises(ValueError, match="not stored"):
        stats_over_store(spark, store, ["spark"], "missing")


def test_decay_score_gauss_dates(spark, tmp_path):
    import datetime
    import math

    import pytest

    from mongo_es_spark.operators.text import (
        bm25_over_store,
        decay_score_over_store,
        incremental_bm25_index,
    )

    rows = [
        (1, "spark a", datetime.date(2024, 6, 1)),   # at origin: x1
        (2, "spark b", datetime.date(2024, 7, 1)),   # 30d: x decay
        (3, "spark c", datetime.date(2024, 5, 2)),   # -30d: symmetric
        (4, "spark d", None),                        # missing: x1
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, day date"
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(
        spark, docs, store, field_cols=["day"]
    ).count()
    base = {
        r["doc"]: r["score"]
        for r in bm25_over_store(spark, store, ["spark"], top_k=10).collect()
    }
    def r6(x: float) -> float:
        # Spark's F.round is HALF_UP; Python's round is half-even
        return math.floor(x * 1e6 + 0.5) / 1e6

    def gauss(d: float) -> float:
        return math.exp(-math.log(2.0) / 900.0 * d * d)

    got = {
        r["doc"]: r["score"]
        for r in decay_score_over_store(
            spark,
            store,
            ["spark"],
            "day",
            origin="2024-06-01",
            scale_days=30.0,
            decay=0.5,
        ).collect()
    }
    assert abs(got[1] - r6(base[1] * 1.0)) < 1e-9
    assert abs(got[2] - r6(base[2] * gauss(30.0))) < 1e-9
    assert abs(got[3] - r6(base[3] * gauss(30.0))) < 1e-9
    assert abs(got[4] - r6(base[4] * 1.0)) < 1e-9
    # offset: full score inside the no-decay plateau
    got_off = {
        r["doc"]: r["score"]
        for r in decay_score_over_store(
            spark,
            store,
            ["spark"],
            "day",
            origin="2024-06-01",
            scale_days=30.0,
            offset_days=30.0,
            decay=0.5,
        ).collect()
    }
    assert abs(got_off[2] - r6(base[2] * 1.0)) < 1e-9
    # general point on the curve: 15 days at scale 30 -> 2^(-1/4)
    got15 = {
        r["doc"]: r["score"]
        for r in decay_score_over_store(
            spark,
            store,
            ["spark"],
            "day",
            origin="2024-06-16",
            scale_days=30.0,
            decay=0.5,
        ).collect()
    }
    want = r6(base[1] * gauss(15.0))
    assert abs(got15[1] - want) < 1e-9
    with pytest.raises(ValueError, match="decay"):
        decay_score_over_store(
            spark, store, ["spark"], "day", "2024-06-01", 30.0, decay=1.0
        )
    # malformed origin must RAISE, not silently return undecayed BM25
    # (ANSI-off casts bad dates to NULL)
    with pytest.raises(ValueError):
        decay_score_over_store(
            spark, store, ["spark"], "day", "2024-13-01", 30.0
        )
    with pytest.raises(ValueError, match="scale"):
        decay_score_over_store(
            spark, store, ["spark"], "day", "2024-06-01", 0.0
        )


def test_collapse_over_store(spark, tmp_path):
    import pytest

    from mongo_es_spark.operators.text import (
        collapse_over_store,
        incremental_bm25_index,
    )

    rows = [
        (1, "spark spark spark", "en"),   # best en
        (2, "spark spark other", "en"),   # collapsed away
        (3, "spark alone", "fr"),         # best fr
        (4, "spark orphan one", None),    # NULL group: uncollapsed
        (5, "spark orphan two", None),    # NULL group: uncollapsed
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(
        spark, docs, store, field_cols=["lang"]
    ).count()
    got = [
        (r["doc"], r["lang"])
        for r in collapse_over_store(
            spark, store, ["spark"], "lang", top_k=10
        ).collect()
    ]
    docs_out = [d for d, _l in got]
    assert sorted(docs_out) == [1, 3, 4, 5]  # 2 collapsed under 1
    assert len(got) == 4
    # top_k applies AFTER collapsing
    assert (
        collapse_over_store(spark, store, ["spark"], "lang", top_k=2).count()
        == 2
    )
    with pytest.raises(ValueError, match="not stored"):
        collapse_over_store(spark, store, ["spark"], "missing")


def test_boosting_demotes_without_excluding(spark, tmp_path):
    import pytest

    from mongo_es_spark.operators.text import (
        bm25_over_store,
        boosting_over_store,
        incremental_bm25_index,
    )

    rows = [
        (1, "spark spark good"),
        (2, "spark spark spark bad"),  # higher bm25, demoted by 'bad'
        (3, "other words only"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()
    base = {
        r["doc"]: r["score"]
        for r in bm25_over_store(spark, store, ["spark"]).collect()
    }
    assert base[2] > base[1]
    got = {
        r["doc"]: r["score"]
        for r in boosting_over_store(
            spark, store, ["spark"], ["bad"], negative_boost=0.25
        ).collect()
    }
    assert set(got) == {1, 2}          # demoted, NOT excluded
    assert got[1] == base[1]           # clean doc untouched
    assert abs(got[2] - round(base[2] * 0.25, 6)) < 2e-6
    assert got[1] > got[2]             # the demotion flipped the order
    with pytest.raises(ValueError, match="positive"):
        boosting_over_store(spark, store, [], ["bad"])
    with pytest.raises(ValueError, match="negative_boost"):
        boosting_over_store(
            spark, store, ["spark"], ["bad"], negative_boost=2.0
        )


def test_dis_max_tie_breaker(spark, tmp_path):
    """The executor's dis_max: a doc's best leg plus tie_breaker times
    the rest, pinned to per-leg bm25_over_store scores."""
    import pytest

    from mongo_es_spark.operators.searchapi import search
    from mongo_es_spark.operators.text import (
        bm25_over_store,
        incremental_bm25_index,
    )

    rows = [
        (1, "cat dog"),       # hits both legs
        (2, "cat cat"),       # leg 1 only
        (3, "dog dog dog"),   # leg 2 only
        (4, "bird"),          # neither
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()
    s1 = {
        r["doc"]: r["score"]
        for r in bm25_over_store(spark, store, ["cat"]).collect()
    }
    s2 = {
        r["doc"]: r["score"]
        for r in bm25_over_store(spark, store, ["dog"]).collect()
    }

    def dis_max(tie_breaker, queries=("cat", "dog")):
        body = {"query": {"dis_max": {
            "queries": [{"match": {"text": q}} for q in queries],
            "tie_breaker": tie_breaker,
        }}}
        return {
            r["doc"]: r["score"]
            for r in search(spark, store, body).collect()
        }

    got = dis_max(0.4)
    assert set(got) == {1, 2, 3}
    both = sorted([s1[1], s2[1]])
    assert abs(got[1] - (both[1] + 0.4 * both[0])) < 2e-6
    # single-leg docs: their own leg score
    assert abs(got[2] - s1[2]) < 2e-6
    assert abs(got[3] - s2[3]) < 2e-6
    # tie_breaker=0 is strictly the max
    assert abs(dis_max(0.0)[1] - max(s1[1], s2[1])) < 2e-6
    with pytest.raises(ValueError, match="tie_breaker"):
        dis_max(1.5)
    with pytest.raises(ValueError, match="sub-query"):
        dis_max(0.0, queries=())


def test_rescore_window_semantics(spark, tmp_path):
    import pytest

    from mongo_es_spark.operators.text import (
        bm25_over_store,
        incremental_bm25_index,
        rescore_over_store,
    )

    rows = [
        (1, "value value value x"),      # top bm25, NO phrase
        (2, "value table y"),            # phrase once
        (3, "value table value table"),  # phrase twice
        (4, "value z"),
        (5, "table only here"),
        (6, "unrelated words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()
    terms = ["value", "table"]
    base = {
        r["doc"]: r["score"]
        for r in bm25_over_store(spark, store, terms, top_k=10).collect()
    }
    got = {
        r["doc"]: r["score"]
        for r in rescore_over_store(
            spark, store, terms, terms, window_size=10,
            rescore_weight=10.0, top_k=10,
        ).collect()
    }
    # phrase counts lift 3 (x2) above 2 (x1) above the no-phrase docs
    assert abs(got[3] - round(base[3] + 20.0, 6)) < 2e-6
    assert abs(got[2] - round(base[2] + 10.0, 6)) < 2e-6
    assert got[1] == base[1]
    order = sorted(got, key=lambda d: (-got[d], d))
    assert order[:2] == [3, 2]
    # a doc outside the window is NEVER rescored in: window_size=1
    # keeps only the bm25 winner, whatever the phrase would add
    top1 = sorted(base, key=lambda d: (-base[d], d))[0]
    win1 = rescore_over_store(
        spark, store, terms, terms, window_size=1,
        rescore_weight=10.0, top_k=1,
    ).collect()
    assert [r["doc"] for r in win1] == [top1]
    with pytest.raises(ValueError, match="window"):
        rescore_over_store(
            spark, store, terms, terms, window_size=5, top_k=6
        )


def test_percolate_reverse_search(spark):
    from mongo_es_spark.operators.text import percolate

    qdf = spark.createDataFrame(
        [
            (1, ["cat"], False),              # any
            (2, ["cat", "dog"], True),        # all
            (3, ["cat", "cat", "dog"], True), # dup terms collapse
            (4, ["bird", "fish"], False),     # any-of-two
        ],
        "q_id long, terms array<string>, match_all boolean",
    )
    docs = spark.createDataFrame(
        [
            (1, "cat sat"),
            (2, "cat dog day"),
            (3, "dog only"),
            (4, "fish tank"),
            (5, "nothing here"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["q_id"])
        for r in percolate(spark, qdf, docs).collect()
    )
    assert got == [
        (1, 1),
        (2, 1), (2, 2), (2, 3),
        (4, 4),
    ]


def test_term_vectors_over_store(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        incremental_bm25_index,
        term_vectors_over_store,
    )

    docs = spark.createDataFrame(
        [
            (1, "cat cat dog"),
            (2, "cat fish"),
            (3, "dog dog dog"),
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()
    got = [
        tuple(r)
        for r in term_vectors_over_store(spark, store, [1, 3]).collect()
    ]
    assert got == [
        (1, "cat", 2, 2),   # tf 2 in doc 1; df 2 (docs 1, 2)
        (1, "dog", 1, 2),
        (3, "dog", 3, 2),
    ]


def test_suggest_terms_ranking(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        incremental_bm25_index,
        suggest_terms,
    )

    # 'cart' df 3 and 'cast' df 1 are both dist-1 of 'caet';
    # frequency breaks the tie the ES way
    docs = spark.createDataFrame(
        [
            (1, "cart cast"),
            (2, "cart"),
            (3, "cart"),
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()
    got = [
        tuple(r)
        for r in suggest_terms(
            spark, store, ["caet", "cart"], max_dist=1, size=2
        ).collect()
    ]
    # 'cart' is present in the vocabulary -> no suggestions for it
    assert got == [
        ("caet", "cart", 1, 3),
        ("caet", "cast", 1, 1),
    ]
    # size bounds per-term output
    assert (
        suggest_terms(spark, store, ["caet"], max_dist=1, size=1).count()
        == 1
    )


def test_date_histogram_pipeline_aggs(spark, tmp_path):
    import datetime

    from mongo_es_spark.operators.text import (
        date_histogram_pipeline_over_store,
        incremental_bm25_index,
    )

    d = datetime.date
    docs = spark.createDataFrame(
        [
            (1, "spark a", d(2024, 1, 5)),
            (2, "spark b", d(2024, 1, 6)),
            (3, "spark c", d(2024, 2, 1)),
            (4, "spark d", d(2024, 4, 9)),
            (5, "no match", d(2024, 3, 1)),
        ],
        "doc_id long, text string, day date",
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store, field_cols=["day"]).count()
    got = [
        (r["bucket"], r["n_docs"], r["cum_docs"], r["delta_docs"])
        for r in date_histogram_pipeline_over_store(
            spark, store, ["spark"], "day"
        ).collect()
    ]
    assert got == [
        (d(2024, 1, 1), 2, 2, None),   # derivative NULL on bucket 1
        (d(2024, 2, 1), 1, 3, -1),
        (d(2024, 4, 1), 1, 4, 0),      # empty March omitted, per ES
    ]


def test_composite_agg_pages_tile(spark, tmp_path):
    import pytest

    from mongo_es_spark.operators.text import (
        composite_agg_over_store,
        incremental_bm25_index,
    )

    rows = [
        (1, "q a", "en", 10),
        (2, "q b", "en", 210),
        (3, "q c", "en", 215),
        (4, "q d", "fr", 10),
        (5, "q e", "fr", 410),
        (6, "q f", "de", 10),
        (7, "q g", None, 10),    # null source -> omitted
        (8, "skip", "en", 10),   # unmatched
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(
        spark, docs, store, field_cols=["lang", "n_chars"]
    ).count()
    sources = [("lang", "terms", None), ("n_chars", "histogram", 200.0)]
    full = [
        tuple(r)
        for r in composite_agg_over_store(
            spark, store, ["q"], sources, size=100
        ).collect()
    ]
    assert full == [
        ("de", 0.0, 1),
        ("en", 0.0, 1),
        ("en", 200.0, 2),
        ("fr", 0.0, 1),
        ("fr", 400.0, 1),
    ]
    # pages tile: size=2 with after-cursors reproduces the full list
    pages, after = [], None
    while True:
        page = [
            tuple(r)
            for r in composite_agg_over_store(
                spark, store, ["q"], sources, size=2, after=after
            ).collect()
        ]
        if not page:
            break
        pages += page
        after = page[-1][:2]
    assert pages == full
    with pytest.raises(ValueError, match="interval"):
        composite_agg_over_store(
            spark, store, ["q"], [("n_chars", "histogram", 0)],
        )
    with pytest.raises(ValueError, match="source count"):
        composite_agg_over_store(
            spark, store, ["q"], sources, after=("en",)
        )
    with pytest.raises(ValueError, match="not stored"):
        composite_agg_over_store(
            spark, store, ["q"], [("missing", "terms", None)]
        )


def test_adjacency_matrix_counts(spark, tmp_path):
    import pytest

    from mongo_es_spark.operators.text import (
        adjacency_matrix_over_store,
        incremental_bm25_index,
    )

    rows = [
        (1, "cat dog"),        # a & b
        (2, "cat"),            # a
        (3, "dog fish"),       # b & c
        (4, "cat dog fish"),   # a & b & c
        (5, "none of those"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store).count()
    got = [
        tuple(r)
        for r in adjacency_matrix_over_store(
            spark, store, {"a": ["cat"], "b": ["dog"], "c": ["fish"]}
        ).collect()
    ]
    assert got == [
        ("a", 3),
        ("a&b", 2),
        ("a&c", 1),
        ("b", 3),
        ("b&c", 2),
        ("c", 2),
    ]
    with pytest.raises(ValueError, match="at least one"):
        adjacency_matrix_over_store(spark, store, {})


def test_wave5_ops_keep_token_pushdown(spark, tmp_path):
    import datetime

    from mongo_es_spark.operators.text import (
        adjacency_matrix_over_store,
        composite_agg_over_store,
        incremental_bm25_index,
        rescore_over_store,
    )
    from mongo_es_spark.sources.tables import load_table

    docs = (
        load_table(spark, SF, "documents")
        .select("doc_id", "text", "lang", "n_chars")
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(
        spark, docs, store, field_cols=["lang", "n_chars"]
    ).count()
    terms = ["spark", "value"]
    frames = [
        composite_agg_over_store(
            spark, store, terms,
            [("lang", "terms", None), ("n_chars", "histogram", 200.0)],
        ),
        adjacency_matrix_over_store(
            spark, store, {"a": ["spark"], "b": ["value", "table"]}
        ),
        rescore_over_store(
            spark, store, terms, ["value", "table"], window_size=20
        ),
    ]
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PushedFilters: \[.*In\(token", plan), plan
        assert "CartesianProduct" not in plan


def test_wave6_ops_keep_token_pushdown(spark, tmp_path):
    """Round-10 ops: every store query still reaches the postings
    scan with a token predicate (the file-pruning contract), and no
    plan degenerates to a cartesian product."""
    from mongo_es_spark.operators.text import (
        filters_agg_over_store,
        geo_bbox_over_store,
        geo_distance_over_store,
        incremental_bm25_index,
        match_phrase_prefix_over_store,
        multi_terms_over_store,
        range_agg_over_store,
        span_first_over_store,
        terms_set_over_store,
    )
    from mongo_es_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = (
        load_table(spark, SF, "documents")
        .select("doc_id", "text", "lang", "n_chars")
        .withColumn(
            "lat",
            ((F.col("doc_id") % 180) - 90 + F.lit(0.5)).cast("double"),
        )
        .withColumn(
            "lon",
            ((F.col("doc_id") * 7 % 360) - 180 + F.lit(0.5)).cast(
                "double"
            ),
        )
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(
        spark, docs, store,
        field_cols=["lang", "n_chars", "lat", "lon"],
    ).count()
    terms = ["spark", "value"]
    frames = [
        range_agg_over_store(
            spark, store, terms, "n_chars", [(None, 200), (200, None)]
        ),
        multi_terms_over_store(spark, store, terms, ["lang"], size=5),
        geo_distance_over_store(
            spark, store, terms, 10.5, 20.5, 3000.0
        ),
        geo_bbox_over_store(
            spark, store, terms, -20.0, 40.0, -60.0, 60.0
        ),
        terms_set_over_store(spark, store, terms + ["table"], 2),
        span_first_over_store(spark, store, "spark", 3),
        match_phrase_prefix_over_store(spark, store, ["spark"], "t"),
    ]
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PushedFilters: \[.*token", plan), plan
        assert "CartesianProduct" not in plan
    # filters_agg materializes a single model-sized row; its matched
    # frame is the same _matched_docstats plan the others pin — just
    # assert it computes and is bucket-count-sized
    got = filters_agg_over_store(
        spark, store, terms, {"en": F.col("lang") == "en"}
    )
    assert got.count() == 1


def test_filter_context_exists_missing(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        filtered_bm25_over_store,
        incremental_bm25_index,
    )

    rows = [
        (1, "spark a", "en"),
        (2, "spark b", None),   # missing lang
        (3, "spark c", "fr"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(
        spark, docs, store, field_cols=["lang"]
    ).count()
    ex = {
        r["doc"]
        for r in filtered_bm25_over_store(
            spark, store, ["spark"], [("lang", "exists", None)]
        ).collect()
    }
    assert ex == {1, 3}
    mi = {
        r["doc"]
        for r in filtered_bm25_over_store(
            spark, store, ["spark"], [("lang", "missing", None)]
        ).collect()
    }
    assert mi == {2}


def test_span_near_semantics(spark, tmp_path):
    """Lucene window contract for unit clauses: (max-min+1)-n <= slop,
    in_order requires ascending chosen positions; slop=0 in_order is
    the exact phrase."""
    from mongo_es_spark.operators.text import (
        incremental_bm25_index,
        span_near_over_store,
    )

    store = str(tmp_path / "sn")
    df = spark.createDataFrame(
        [("d1", "alpha beta gamma"), ("d2", "alpha x beta"),
         ("d3", "beta alpha"), ("d4", "alpha x x x beta"),
         ("d5", "gamma delta")],
        "doc_id string, text string",
    )
    incremental_bm25_index(spark, df, store).count()

    def docs(terms, slop, in_order):
        return [
            r["doc"]
            for r in span_near_over_store(
                spark, store, terms, slop, in_order
            ).collect()
        ]

    assert docs(["alpha", "beta"], 0, True) == ["d1"]
    assert docs(["alpha", "beta"], 1, True) == ["d1", "d2"]
    assert docs(["alpha", "beta"], 3, True) == ["d1", "d2", "d4"]
    assert docs(["alpha", "beta"], 0, False) == ["d1", "d3"]
    assert docs(["alpha", "beta", "gamma"], 1, True) == ["d1"]
    # unordered 3-term: d1's window holds all three
    assert docs(["gamma", "alpha", "beta"], 0, False) == ["d1"]
    import pytest as _pt

    with _pt.raises(ValueError, match="at least two"):
        span_near_over_store(spark, store, ["alpha"], 1)
