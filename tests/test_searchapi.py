"""ES _search API executor: query-DSL compilation onto the store
primitives — Lucene additive scoring, filter-context zero scores,
should-boost vs should-gate, minimum_should_match, multi-term
constant score, aggs delegation over the compiled hit set.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongo_es_spark.operators.searchapi import search
from mongo_es_spark.operators.text import (
    bm25_over_store,
    incremental_bm25_index,
)


@pytest.fixture(scope="module")
def api_store(spark, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("api") / "bm")
    rows = [
        ("d1", "spark streaming engine", "en", 100),
        ("d2", "spark batch engine", "en", 200),
        ("d3", "flink streaming engine", "fr", 300),
        ("d4", "spark streaming deprecated", "fr", 400),
        ("d5", "pandas dataframe", "en", 500),
        ("d6", "streaming spark backwards", "en", 600),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, text string, lang string, n_chars long"
    )
    incremental_bm25_index(
        spark, df, store, field_cols=["lang", "n_chars"]
    ).count()
    return store


def _docs(df):
    return {r["doc"] for r in df.collect()}


def test_match_equals_bm25(spark, api_store):
    got = search(
        spark, api_store, {"query": {"match": {"text": "spark engine"}}}
    ).collect()
    want = bm25_over_store(
        spark, api_store, ["spark", "engine"], top_k=10
    ).collect()
    assert [(r["doc"], r["score"]) for r in got] == [
        (r["doc"], r["score"]) for r in want
    ]


def test_bool_full(spark, api_store):
    res = search(spark, api_store, {
        "query": {"bool": {
            "must": [{"match": {"text": "spark"}}],
            "filter": [{"range": {"n_chars": {"gte": 150}}}],
            "must_not": [{"term": {"text": "deprecated"}}],
        }},
    })
    # spark docs: d1, d2, d4, d6; n_chars >= 150 drops d1;
    # deprecated drops d4 -> d2, d6
    assert _docs(res) == {"d2", "d6"}
    # filter context adds no score: the two hits score identically
    # to a bare match (same tf/dl here for 'spark')
    scores = {r["doc"]: r["score"] for r in res.collect()}
    bare = {
        r["doc"]: r["score"]
        for r in search(
            spark, api_store, {"query": {"match": {"text": "spark"}}},
        ).collect()
    }
    for d in ("d2", "d6"):
        assert scores[d] == bare[d]


def test_match_operator_and(spark, api_store):
    res = search(spark, api_store, {
        "query": {"match": {"text": {
            "query": "spark streaming", "operator": "and"}}},
    })
    assert _docs(res) == {"d1", "d4", "d6"}


def test_match_phrase_gates_order(spark, api_store):
    res = search(spark, api_store, {
        "query": {"match_phrase": {"text": "spark streaming"}},
    })
    # d6 has both tokens but not adjacent in order
    assert _docs(res) == {"d1", "d4"}


def test_should_boosts_without_gating(spark, api_store):
    plain = search(spark, api_store, {
        "query": {"bool": {"must": [{"term": {"text": "engine"}}]}},
    })
    boosted = search(spark, api_store, {
        "query": {"bool": {
            "must": [{"term": {"text": "engine"}}],
            "should": [{"term": {"text": "flink"}}],
        }},
    })
    assert _docs(plain) == _docs(boosted) == {"d1", "d2", "d3"}
    ps = {r["doc"]: r["score"] for r in plain.collect()}
    bs = {r["doc"]: r["score"] for r in boosted.collect()}
    assert bs["d3"] > ps["d3"]  # flink doc boosted
    assert bs["d1"] == ps["d1"]


def test_pure_should_minimum_should_match(spark, api_store):
    res = search(spark, api_store, {
        "query": {"bool": {
            "should": [
                {"term": {"text": "spark"}},
                {"term": {"text": "streaming"}},
                {"term": {"text": "pandas"}},
            ],
            "minimum_should_match": 2,
        }},
    })
    assert _docs(res) == {"d1", "d4", "d6"}


def test_multi_term_constant_score(spark, api_store):
    res = search(spark, api_store, {
        "query": {"prefix": {"text": "str"}},
    })
    assert _docs(res) == {"d1", "d3", "d4", "d6"}
    assert {r["score"] for r in res.collect()} == {1.0}
    fz = search(spark, api_store, {
        "query": {"fuzzy": {"text": {"value": "sparc",
                                     "fuzziness": 1}}},
    })
    assert _docs(fz) == {"d1", "d2", "d4", "d6"}


def test_nested_bool(spark, api_store):
    # (streaming AND (spark OR flink)) NOT deprecated
    res = search(spark, api_store, {
        "query": {"bool": {
            "must": [
                {"term": {"text": "streaming"}},
                {"bool": {"should": [
                    {"term": {"text": "spark"}},
                    {"term": {"text": "flink"}},
                ]}},
            ],
            "must_not": [{"term": {"text": "deprecated"}}],
        }},
    })
    assert _docs(res) == {"d1", "d3", "d6"}


def test_exists_and_match_all(spark, api_store):
    res = search(spark, api_store, {
        "query": {"bool": {
            "filter": [{"exists": {"field": "lang"}}],
            "must": [{"match_all": {}}],
        }},
        "size": 100,
    })
    assert len(_docs(res)) == 6


def test_aggs_delegation(spark, api_store):
    res = search(spark, api_store, {
        "query": {"bool": {
            "must": [{"term": {"text": "streaming"}}],
            "must_not": [{"term": {"text": "deprecated"}}],
        }},
        "aggs": {"lang": {"terms": {"field": "lang"}},
                 },
    })
    got = {(r["lang"], r["n_docs"]) for r in res.collect()}
    # streaming minus deprecated: d1 (en), d3 (fr), d6 (en)
    assert got == {("en", 2), ("fr", 1)}


def test_validation(spark, api_store):
    with pytest.raises(ValueError, match="exactly one of"):
        search(spark, api_store, {"query": {"nope": {}}})
    with pytest.raises(ValueError, match="empty bool"):
        search(spark, api_store, {"query": {"bool": {}}})
    with pytest.raises(ValueError, match="range op"):
        search(spark, api_store, {
            "query": {"range": {"n_chars": {"between": 1}}},
        })


def test_query_string_end_to_end(spark, api_store):
    res = search(spark, api_store, {
        "query": {"query_string": {
            "query": '+engine -flink "spark streaming"'}},
    })
    scores = {r["doc"]: r["score"] for r in res.collect()}
    # must engine -> d1,d2,d3; -flink drops d3; the phrase boosts d1
    assert set(scores) == {"d1", "d2"}
    assert scores["d1"] > scores["d2"]


def test_query_string_default_operator_and(spark, api_store):
    res = search(spark, api_store, {
        "query": {"query_string": {
            "query": "spark streaming",
            "default_operator": "and"}},
    })
    assert _docs(res) == {"d1", "d4", "d6"}


def test_sort_from_fields(spark, api_store):
    body = {
        "query": {"match": {"text": "spark"}},
        "sort": [{"n_chars": {"order": "desc"}}],
        "fields": ["lang", "n_chars"],
        "size": 2,
    }
    page1 = search(spark, api_store, body).collect()
    # spark docs by n_chars desc: d6(600), d4(400), d2(200), d1(100)
    assert [r["doc"] for r in page1] == ["d6", "d4"]
    assert [r["n_chars"] for r in page1] == [600, 400]
    assert page1[0]["lang"] == "en"
    page2 = search(
        spark, api_store, {**body, "from": 2}
    ).collect()
    assert [r["doc"] for r in page2] == ["d2", "d1"]
    with pytest.raises(ValueError, match="not stored"):
        search(spark, api_store, {
            "query": {"match": {"text": "spark"}},
            "sort": [{"nope": {"order": "asc"}}],
        })


def test_term_on_stored_field(spark, api_store):
    # ES keyword-field term: filters doc values, no postings
    res = search(spark, api_store, {"query": {"bool": {
        "must": [{"match": {"text": "engine"}}],
        "filter": [{"term": {"lang": "fr"}}],
    }}})
    assert _docs(res) == {"d3"}
    res2 = search(spark, api_store, {
        "query": {"terms": {"lang": ["fr"]}}, "size": 10,
    })
    assert _docs(res2) == {"d3", "d4"}
    assert {r["score"] for r in res2.collect()} == {1.0}


def test_boost_and_constant_score(spark, api_store):
    plain = {
        r["doc"]: r["score"]
        for r in search(spark, api_store, {
            "query": {"match": {"text": "engine"}},
        }).collect()
    }
    boosted = {
        r["doc"]: r["score"]
        for r in search(spark, api_store, {
            "query": {"match": {"text": {
                "query": "engine", "boost": 3.0}}},
        }).collect()
    }
    assert set(boosted) == set(plain)
    for d in plain:
        assert abs(boosted[d] - 3.0 * plain[d]) < 1e-6

    cs = search(spark, api_store, {
        "query": {"constant_score": {
            "filter": {"match": {"text": "engine"}},
            "boost": 7.5,
        }},
    })
    assert {r["score"] for r in cs.collect()} == {7.5}
    assert _docs(cs) == set(plain)


def test_match_minimum_should_match(spark, api_store):
    res = search(spark, api_store, {
        "query": {"match": {"text": {
            "query": "spark streaming pandas",
            "minimum_should_match": 2}}},
    })
    assert _docs(res) == {"d1", "d4", "d6"}


def test_minimum_should_match_forms(spark, api_store):
    # "67%" of 3 optional terms = 2 required — same set as integer 2
    base = {"query": {"match": {"text": {
        "query": "spark streaming pandas",
        "minimum_should_match": "67%"}}}}
    res = search(spark, api_store, base)
    assert _docs(res) == {"d1", "d4", "d6"}
    # "-1": all but one of 3 = 2 required
    neg = {"query": {"match": {"text": {
        "query": "spark streaming pandas",
        "minimum_should_match": "-1"}}}}
    assert _docs(search(spark, api_store, neg)) == {"d1", "d4", "d6"}
    # "-40%": 3 - floor(1.2) = 2 required
    negp = {"query": {"match": {"text": {
        "query": "spark streaming pandas",
        "minimum_should_match": "-40%"}}}}
    assert _docs(search(spark, api_store, negp)) == {"d1", "d4", "d6"}
    # bool-level percentage gates the pure-should clause count
    b = {"query": {"bool": {
        "should": [
            {"term": {"text": "spark"}},
            {"term": {"text": "streaming"}},
            {"term": {"text": "pandas"}},
        ],
        "minimum_should_match": "67%",
    }}}
    assert _docs(search(spark, api_store, b)) == {"d1", "d4", "d6"}
    # unsupported forms raise naming the supported ones
    with pytest.raises(ValueError, match="minimum_should_match"):
        search(spark, api_store, {"query": {"match": {"text": {
            "query": "spark streaming",
            "minimum_should_match": "2<75%"}}}}).collect()


def test_dis_max(spark, api_store):
    body = lambda tb: {
        "query": {"dis_max": {
            "queries": [
                {"term": {"text": "spark"}},
                {"term": {"text": "streaming"}},
            ],
            "tie_breaker": tb,
        }},
    }
    zero = {r["doc"]: r["score"] for r in search(
        spark, api_store, body(0.0)).collect()}
    spark_s = {r["doc"]: r["score"] for r in search(
        spark, api_store, {"query": {"term": {"text": "spark"}}},
    ).collect()}
    stream_s = {r["doc"]: r["score"] for r in search(
        spark, api_store, {"query": {"term": {"text": "streaming"}}},
    ).collect()}
    assert set(zero) == set(spark_s) | set(stream_s)
    for d, s in zero.items():
        assert abs(s - max(spark_s.get(d, 0), stream_s.get(d, 0))) < 1e-6
    tb = {r["doc"]: r["score"] for r in search(
        spark, api_store, body(0.5)).collect()}
    for d in tb:
        a, b = spark_s.get(d, 0.0), stream_s.get(d, 0.0)
        assert abs(tb[d] - (max(a, b) + 0.5 * min(a, b))) < 1e-6


def test_function_score_fvf_and_decay(spark, api_store):
    import math

    base = {r["doc"]: r["score"] for r in search(
        spark, api_store, {"query": {"match": {"text": "spark"}}},
    ).collect()}
    # field_value_factor: multiply by 2 * ln1p(n_chars)
    fvf = {r["doc"]: r["score"] for r in search(spark, api_store, {
        "query": {"function_score": {
            "query": {"match": {"text": "spark"}},
            "functions": [{"field_value_factor": {
                "field": "n_chars", "modifier": "ln1p", "factor": 2.0,
            }}],
        }},
    }).collect()}
    chars = {"d1": 100, "d2": 200, "d4": 400, "d6": 600}
    assert set(fvf) == set(base)
    for d in fvf:
        want = base[d] * 2.0 * math.log(chars[d] + 1.0)
        assert abs(fvf[d] - round(want, 6)) < 1e-4

    # numeric gauss decay around n_chars=100, scale 200, decay 0.5:
    # factor at distance exactly `scale` must be 0.5
    dec = {r["doc"]: r["score"] for r in search(spark, api_store, {
        "query": {"function_score": {
            "query": {"match": {"text": "spark"}},
            "functions": [{"gauss": {"n_chars": {
                "origin": 100, "scale": 200, "decay": 0.5}}}],
        }},
    }).collect()}
    for d in dec:
        dist = abs(chars[d] - 100)
        want = base[d] * math.exp(
            -(dist ** 2) * math.log(2.0) / 200.0 ** 2
        )
        assert abs(dec[d] - round(want, 6)) < 1e-4
    # d2 sits at half a scale; d1 at the origin keeps its base score
    assert abs(dec["d1"] - base["d1"]) < 1e-6


def test_function_score_weight_and_modes(spark, api_store):
    base = {r["doc"]: r["score"] for r in search(
        spark, api_store, {"query": {"term": {"text": "pandas"}}},
    ).collect()}
    out = {r["doc"]: r["score"] for r in search(spark, api_store, {
        "query": {"function_score": {
            "query": {"term": {"text": "pandas"}},
            "functions": [{"weight": 4.0}, {"weight": 0.5}],
            "score_mode": "multiply",
            "boost_mode": "sum",
        }},
    }).collect()}
    for d in out:
        assert abs(out[d] - (base[d] + 2.0)) < 1e-6


def test_collapse_in_body(spark, api_store):
    res = search(spark, api_store, {
        "query": {"match": {"text": "spark streaming engine"}},
        "collapse": {"field": "lang"},
        "size": 10,
    })
    rows = res.collect()
    # one best hit per language
    full = {r["doc"]: r["score"] for r in search(spark, api_store, {
        "query": {"match": {"text": "spark streaming engine"}},
        "size": 100,
    }).collect()}
    langs = {"d1": "en", "d2": "en", "d3": "fr", "d4": "fr",
             "d5": "en", "d6": "en"}
    best = {}
    for d, s in sorted(full.items()):
        lg = langs[d]
        if lg not in best or s > best[lg][1]:
            best[lg] = (d, s)  # doc-asc iteration breaks score ties
    assert {r["doc"] for r in rows} == {v[0] for v in best.values()}

    with pytest.raises(ValueError, match="collapse field"):
        search(spark, api_store, {
            "query": {"match": {"text": "spark"}},
            "collapse": {"field": "nope"},
        })


def test_msearch(spark, api_store):
    from mongo_es_spark.operators.searchapi import msearch

    res = msearch(spark, api_store, [
        {"query": {"term": {"text": "pandas"}}},
        {"query": {"term": {"text": "flink"}}},
    ]).collect()
    got = {(r["q"], r["doc"]) for r in res}
    assert got == {(0, "d5"), (1, "d3")}
    with pytest.raises(ValueError, match="aggs"):
        msearch(spark, api_store, [
            {"query": {"term": {"text": "x"}},
             "aggs": {"l": {"terms": {"field": "lang"}}}},
        ])


def test_executor_matches_standalone_bool_search(spark, api_store):
    """Cross-validation: the executor's bool compilation and the
    standalone bool_search_over_store score identically (same gate,
    same BM25 sum over must+should matches, same rounding)."""
    from mongo_es_spark.operators.text import bool_search_over_store

    a = sorted(
        (r["doc"], r["score"])
        for r in bool_search_over_store(
            spark, api_store,
            must=["spark"], should=["engine"],
            must_not=["deprecated"], top_k=10,
        ).collect()
    )
    b = sorted(
        (r["doc"], r["score"])
        for r in search(spark, api_store, {
            "query": {"bool": {
                "must": [{"term": {"text": "spark"}}],
                "should": [{"term": {"text": "engine"}}],
                "must_not": [{"term": {"text": "deprecated"}}],
            }},
            "size": 10,
        }).collect()
    )
    assert a == b


def _best_fields(legs, tie_breaker=0.0):
    """Reference combination of per-field scores: best field plus
    tie_breaker times the rest, per doc."""
    per: dict = {}
    for leg in legs:
        for d, sc in leg.items():
            per.setdefault(d, []).append(sc)
    return {
        d: max(v) + tie_breaker * (sum(v) - max(v)) for d, v in per.items()
    }


def _leg(spark, store, terms, boost=1.0):
    return {
        r["doc"]: r["score"] * boost
        for r in bm25_over_store(spark, store, terms, top_k=100).collect()
    }


def test_multi_match_types(spark, api_store, tmp_path):
    """best_fields = dis_max over per-field stores; most_fields sums;
    boosts multiply the field's BM25 — pinned to per-field
    bm25_over_store scores."""
    # second field: first token only
    title = str(tmp_path / "title")
    rows = [("d1", "spark"), ("d2", "spark"), ("d3", "flink"),
            ("d4", "spark"), ("d5", "pandas"), ("d6", "streaming")]
    incremental_bm25_index(
        spark,
        spark.createDataFrame(rows, "doc_id string, text string"),
        title,
    ).count()
    fields = {"title": title, "body": api_store}

    def scores(mtype, names=("title^3", "body")):
        return {
            r["doc"]: r["score"]
            for r in search(spark, api_store, {
                "query": {"multi_match": {
                    "query": "streaming", "fields": list(names),
                    "type": mtype,
                }},
                "size": 10,
            }, field_stores=fields).collect()
        }

    t = _leg(spark, title, ["streaming"], boost=3.0)
    bd = _leg(spark, api_store, ["streaming"])
    best = scores("best_fields")
    most = scores("most_fields")
    want_best = _best_fields([t, bd])
    want_most = _best_fields([t, bd], tie_breaker=1.0)
    assert set(best) == set(most) == set(want_best)
    for d in want_best:
        assert abs(best[d] - want_best[d]) < 2e-6
        assert abs(most[d] - want_most[d]) < 2e-6
    # d6 matches in BOTH fields: most_fields > best_fields there
    assert most["d6"] > best["d6"]
    # docs matching only the body keep their body score everywhere
    body_only = scores("best_fields", names=("body",))
    for d in ("d1", "d3", "d4"):
        assert best[d] == most[d] == body_only[d]
    with pytest.raises(ValueError, match="type"):
        scores("nope")


def test_ids_query(spark, api_store):
    got = search(spark, api_store, {
        "query": {"ids": {"values": ["d1", "d3", "nope"]}},
    })
    assert {(r["doc"], r["score"]) for r in got.collect()} == {
        ("d1", 1.0), ("d3", 1.0)
    }
    # composes in bool: ids restrict, match scores
    got2 = search(spark, api_store, {
        "query": {"bool": {
            "must": [{"match": {"text": "spark"}}],
            "filter": [{"ids": {"values": ["d1", "d2", "d3"]}}],
        }},
    })
    assert {r["doc"] for r in got2.collect()} == {"d1", "d2"}


def test_boosting_query_demotes(spark, api_store):
    """boosting: negative matches stay members at negative_boost x
    score — the soft must_not."""
    plain = {
        r["doc"]: r["score"]
        for r in search(spark, api_store, {
            "query": {"match": {"text": "spark"}}, "size": 10,
        }).collect()
    }
    got = {
        r["doc"]: r["score"]
        for r in search(spark, api_store, {
            "query": {"boosting": {
                "positive": {"match": {"text": "spark"}},
                "negative": {"term": {"text": "deprecated"}},
                "negative_boost": 0.1,
            }},
            "size": 10,
        }).collect()
    }
    assert set(got) == set(plain)  # membership unchanged
    for d, s in plain.items():
        if d == "d4":  # the deprecated doc demotes
            assert abs(got[d] - round(s * 0.1, 6)) < 1e-6
        else:
            assert got[d] == s


def test_rescore_window(spark, api_store):
    """Top-2 window re-ranks by original + phrase rescore; docs
    beyond the window keep original order below the block."""
    base = search(spark, api_store, {
        "query": {"match": {"text": "spark streaming"}}, "size": 10,
    }).collect()
    assert len(base) >= 4
    got = search(spark, api_store, {
        "query": {"match": {"text": "spark streaming"}},
        "size": 10,
        "rescore": {
            "window_size": 2,
            "query": {
                "rescore_query": {
                    "match_phrase": {"text": "spark streaming"}},
                "query_weight": 1.0,
                "rescore_query_weight": 2.0,
            },
        },
    }).collect()
    win = {r["doc"]: r["score"] for r in base[:2]}
    phrase = {
        r["doc"]: r["score"]
        for r in search(spark, api_store, {
            "query": {"match_phrase": {"text": "spark streaming"}},
            "size": 10,
        }).collect()
    }
    want_win = sorted(
        (
            (d, round(s + 2.0 * phrase.get(d, 0.0), 6))
            for d, s in win.items()
        ),
        key=lambda t: (-t[1], t[0]),
    )
    tail = [(r["doc"], r["score"]) for r in base[2:]]
    assert [(r["doc"], r["score"]) for r in got] == want_win + tail
    with pytest.raises(ValueError, match="rescore supports only"):
        search(spark, api_store, {
            "query": {"match": {"text": "spark"}},
            "sort": [{"n_chars": {"order": "asc"}}],
            "rescore": {"query": {"rescore_query": {
                "term": {"text": "spark"}}}},
        })


def test_multi_match_in_body(spark, api_store, tmp_path):
    """multi_match as an executor leaf over per-field stores — pinned
    to per-field bm25_over_store scores combined best_fields with a
    title^2 boost and tie_breaker 0.3."""
    title = str(tmp_path / "title")
    tdf = spark.createDataFrame(
        [("d1", "spark intro"), ("d2", "batch guide"),
         ("d3", "spark flink"), ("d4", "old spark"),
         ("d5", "pandas"), ("d6", "misc")],
        "doc_id string, text string",
    )
    incremental_bm25_index(spark, tdf, title).count()

    body = {
        "query": {"multi_match": {
            "query": "spark streaming",
            "fields": ["title^2", "text"],
            "type": "best_fields",
            "tie_breaker": 0.3,
        }},
        "size": 10,
    }
    got = search(
        spark, api_store, body, field_stores={"title": title}
    ).collect()
    terms = ["spark", "streaming"]
    want = _best_fields(
        [_leg(spark, title, terms, boost=2.0), _leg(spark, api_store, terms)],
        tie_breaker=0.3,
    )
    assert [r["doc"] for r in got] == sorted(
        want, key=lambda d: (-round(want[d], 6), d)
    )[:10]
    for r in got:
        assert abs(r["score"] - want[r["doc"]]) < 2e-6
    # most_fields sums; composes under bool must_not
    got2 = search(spark, api_store, {
        "query": {"bool": {
            "must": [{"multi_match": {
                "query": "spark",
                "fields": ["title", "text"],
                "type": "most_fields",
            }}],
            "must_not": [{"term": {"text": "deprecated"}}],
        }},
        "size": 10,
    }, field_stores={"title": title}).collect()
    assert "d4" not in {r["doc"] for r in got2}
    assert {r["doc"] for r in got2} >= {"d1", "d2", "d3"}
    with pytest.raises(ValueError, match="no per-field store"):
        search(spark, api_store, {
            "query": {"multi_match": {
                "query": "x", "fields": ["nope"]}},
        })
