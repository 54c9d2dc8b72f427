"""Invariant tests for the training-data extension operators over the
sf0.001 fixtures (cross-engine value equality is covered by the
oracle gate; these pin the operator-level contracts)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from mongo_es_spark.streaming.fold import drain


SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    from mongo_es_spark.sources.tables import load_table

    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    from mongo_es_spark.sources.tables import load_table

    return load_table(spark, SF, "embeddings").cache()


def test_minhash_equals_bruteforce(docs):
    from mongo_es_spark.operators.dedup import jaccard_pairs, minhash_lsh_pairs

    brute = {
        (r["i"], r["j"]) for r in jaccard_pairs(
            docs, "doc_id", "text", threshold=0.8).collect()
    }
    lsh = {
        (r["i"], r["j"]) for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.8).collect()
    }
    assert lsh == brute and len(brute) > 0


def test_simhash_identical_and_perturbed_docs(spark):
    from mongo_es_spark.operators.dedup import simhash_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # identical token set -> hamming 0
            (3, "totally different words nothing shared here at all xyz"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["i"], r["j"]): r["hamming"]
        for r in simhash_pairs(df, "doc_id", "text", max_hamming=3).collect()
    }
    assert got.get((1, 2)) == 0
    assert (1, 3) not in got and (2, 3) not in got


def test_embedding_lsh_subset_of_exact(emb):
    from mongo_es_spark.operators.dedup import (
        embedding_dup_pairs,
        embedding_dup_pairs_lsh,
    )

    exact = {
        (r["i"], r["j"]) for r in embedding_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.45).collect()
    }
    lsh = {
        (r["i"], r["j"]) for r in embedding_dup_pairs_lsh(
            emb, "vec_id", "embedding", dims=64, threshold=0.45).collect()
    }
    # verification makes LSH precise; banding only limits recall
    assert lsh <= exact


def test_ann_results_are_true_neighbors(emb):
    from mongo_es_spark.operators.similarity import ann_lsh_topk, cosine_topk

    exact = [r["vec_id"] for r in cosine_topk(
        emb, "vec_id", "embedding", query_id=0, k=50).collect()]
    ann = ann_lsh_topk(
        emb, "vec_id", "embedding", query_id=0, dims=64, k=10).collect()
    assert len(ann) == 10
    # every ANN hit carries its exact cosine; scores must be sorted
    scores = [r["score"] for r in ann]
    assert scores == sorted(scores, reverse=True)
    # recall@10 against exact top-50 should be nontrivial
    hits = sum(1 for r in ann if r["vec_id"] in exact)
    assert hits >= 3


def test_quantize_roundtrip_preserves_cosine(spark, emb):
    from mongo_es_spark.operators.dedup import cosine_pairs_col
    from mongo_es_spark.operators.similarity import (
        dequantize_col,
        quantize_embeddings,
    )

    q = quantize_embeddings(emb, "vec_id", "embedding")
    joined = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("orig")
    ).join(q, "vec_id")
    checked = joined.select(
        F.col("vec_id"),
        F.array_max(F.col("codes")).alias("cmax"),
        F.array_min(F.col("codes")).alias("cmin"),
        cosine_pairs_col(
            F.col("orig"), dequantize_col(F.col("codes"), F.col("scale"))
        ).alias("cos"),
    ).collect()
    assert len(checked) == emb.count()
    for r in checked:
        assert -127 <= r["cmin"] and r["cmax"] <= 127  # int8 range
        assert r["cos"] > 0.999                        # reconstruction


def test_ivf_index_prunes_partitions(spark, emb, tmp_path):
    from mongo_es_spark.operators.similarity import (
        ann_ivf_search,
        ann_ivf_topk,
        materialize_ivf_index,
    )

    path = str(tmp_path / "ivf")
    materialize_ivf_index(emb, "vec_id", "embedding", path)
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    got = ann_ivf_search(spark, path, qv, "vec_id", k=10).collect()
    assert len(got) == 10
    scores = [r["score"] for r in got]
    assert scores == sorted(scores, reverse=True)
    # same corpus, same quantizer seed -> same result as the inline op
    # (the query vector itself lives in the index; drop it for parity)
    inline = ann_ivf_topk(emb, "vec_id", "embedding", query_id=0, k=11)
    inline_ids = [r["vec_id"] for r in inline.collect()]
    got_ids = [r["vec_id"] for r in got if r["vec_id"] != 0]
    assert got_ids[: len(inline_ids)] == [i for i in inline_ids][: len(got_ids)]
    # the probe filter must prune at the partition level, not post-scan
    plan = (
        spark.read.parquet(f"{path}/vectors")
        .filter(F.col("cell").isin([0, 1]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "cell" in plan


def test_quality_features_ranges(docs):
    from mongo_es_spark.operators.text import quality_features

    rows = quality_features(docs, "doc_id", "text").collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert 0 <= r["stopword_ratio"] <= 1
        assert 0 < r["distinct_ratio"] <= 1
        assert 0 <= r["quality_score"] <= 1


def test_language_id_total_and_valid(docs):
    from mongo_es_spark.operators.text import language_id

    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    preds = language_id(docs, "doc_id", "text", "lang").collect()
    assert len(preds) == docs.count()
    assert {r["pred_lang"] for r in preds} <= langs


def test_multimodal_plumbing_roundtrip(docs):
    from mongo_es_spark.operators.multimodal import (
        attach_payload,
        decode_image,
        fake_decode_metadata,
    )

    with_payload = attach_payload(docs, "doc_id", "text")
    assert dict(with_payload.dtypes)["payload"] == "binary"
    meta = fake_decode_metadata(with_payload)
    row = meta.join(docs, "doc_id").select(
        "n_bytes", F.length("text").alias("chars")
    ).first()
    assert row["n_bytes"] >= row["chars"]  # utf-8 >= char count
    # decode_image always runs (stdlib PPM/BMP fallback where pillow
    # is absent); text payloads are undecodable on either path and
    # drop silently — the 100 TB corrupt-blob contract
    assert decode_image(with_payload).count() == 0


def test_ivf_results_are_true_neighbors(emb):
    from mongo_es_spark.operators.similarity import ann_ivf_topk, cosine_topk

    exact = [r["vec_id"] for r in cosine_topk(
        emb, "vec_id", "embedding", query_id=0, k=50).collect()]
    ivf = ann_ivf_topk(
        emb, "vec_id", "embedding", query_id=0, k=10).collect()
    assert len(ivf) == 10
    scores = [r["score"] for r in ivf]
    assert scores == sorted(scores, reverse=True)
    # probing 4/16 cells must still recover most true neighbors
    hits = sum(1 for r in ivf if r["vec_id"] in exact)
    assert hits >= 5


def test_frame_sample_covers_payload(docs):
    from mongo_es_spark.operators.multimodal import (
        attach_payload,
        fake_frame_sample,
    )

    with_payload = attach_payload(docs, "doc_id", "text")
    frames = fake_frame_sample(with_payload, frame_size=256, max_frames=8)
    per_doc = (
        frames.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.sum("frame_len").alias("covered"),
            F.max("frame_idx").alias("last_idx"),
        )
        .collect()
    )
    n_bytes = {
        r["doc_id"]: r["n"]
        for r in with_payload.select(
            "doc_id", F.length("payload").alias("n")
        ).collect()
    }
    assert len(per_doc) == len(n_bytes)
    for r in per_doc:
        n = n_bytes[r["doc_id"]]
        assert r["n_frames"] == min(8, (n + 255) // 256)
        assert r["last_idx"] == r["n_frames"] - 1
        if r["n_frames"] < 8:
            assert r["covered"] == n  # full coverage when not truncated


def test_byte_histogram_is_distribution(docs):
    from mongo_es_spark.operators.multimodal import (
        attach_payload,
        byte_histogram_features,
    )

    feats = byte_histogram_features(
        attach_payload(docs, "doc_id", "text")
    ).collect()
    assert len(feats) == docs.count()
    for r in feats[:20]:
        assert len(r["features"]) == 32
        assert abs(sum(r["features"]) - 1.0) < 1e-9


def test_bpe_token_count_matches_python(spark):
    import re

    from mongo_es_spark.operators.text import (
        BPE_SPLIT_PATTERN,
        bpe_token_count_col,
    )

    rows = [
        (1, "hello, world! it's 2024"),
        (2, "a1b2 c--d  e"),
        (3, ""),
        (4, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", bpe_token_count_col(F.col("text")).alias("n")
        ).collect()
    }
    for doc_id, text in rows:
        assert got[doc_id] == len(re.findall(BPE_SPLIT_PATTERN, text))


def test_incremental_minhash_equals_full(spark, docs, tmp_path):
    from mongo_es_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
        minhash_signature_frame,
    )

    full = {
        (r["i"], r["j"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    old_docs = docs.filter(F.col("doc_id") < 400)
    new_docs = docs.filter(F.col("doc_id") >= 400)
    store = str(tmp_path / "sigstore")
    minhash_signature_frame(old_docs, "doc_id", "text").write.parquet(store)
    first = {
        (r["i"], r["j"]): r["jaccard"]
        for r in minhash_lsh_pairs(old_docs, "doc_id", "text").collect()
    }
    inc = {
        (r["i"], r["j"]): r["jaccard"]
        for r in incremental_minhash_pairs(
            spark, new_docs, "doc_id", "text", store
        ).collect()
    }
    # every incremental pair touches a new doc; old-only pairs came
    # from the first run; together they reproduce the full result
    assert all(i >= 400 or j >= 400 for i, j in inc)
    assert {**first, **inc} == full
    # the store now holds signatures for the whole corpus
    n_sigs = spark.read.parquet(store).count()
    assert n_sigs == minhash_signature_frame(docs, "doc_id", "text").count()


@pytest.mark.parametrize(
    "algorithm", ["propagation", "propagation_distributed", "star"]
)
def test_components_match_union_find(spark, algorithm, monkeypatch):
    import random

    from mongo_es_spark.operators import dedup as dedup_mod
    from mongo_es_spark.operators.dedup import dedup_components

    if algorithm == "propagation_distributed":
        # a small graph would take the driver union-find fast path;
        # force the distributed propagation rounds so both sides of
        # the cutoff stay pinned to the same reference answer
        monkeypatch.setattr(dedup_mod, "_DRIVER_CC_CUTOFF", 0)
        algorithm = "propagation"

    rng = random.Random(13)
    # random graph with chains, cliques and singles mixed in
    edges = {tuple(sorted((rng.randint(0, 60), rng.randint(0, 60))))
             for _ in range(80)}
    edges = [(a, b) for a, b in edges if a != b]
    edges += [(100, 101), (101, 102), (102, 103), (103, 104)]  # chain

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(edges, "i long, j long")
    got = {
        r["doc"]: r["component"]
        for r in dedup_components(pairs, algorithm=algorithm).collect()
    }
    assert got == want


def test_components_driver_path_string_ids(spark):
    """The driver union-find fast path must keep the min-label
    contract for non-numeric id columns (object dtype through
    factorize + lexicographic min)."""
    from mongo_es_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("x", "y"), ("q", "q")],
        "i string, j string",
    )
    got = {
        r["doc"]: r["component"]
        for r in dedup_components(pairs).collect()
    }
    assert got == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "q": "q",
    }


def test_stratified_sample_deterministic_membership(spark):
    from mongo_es_spark.operators.text import stratified_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(1000)],
        "doc_id long, lang string",
    )
    kept1 = {r["doc_id"] for r in stratified_sample(
        df, "doc_id", "lang", {"en": 0.5}, 0.2).collect()}
    kept2 = {r["doc_id"] for r in stratified_sample(
        df, "doc_id", "lang", {"en": 0.5}, 0.2).collect()}
    assert kept1 == kept2                      # stable under re-runs
    # membership is per-id: a subset of the corpus samples identically
    sub = df.filter(F.col("doc_id") < 500)
    kept_sub = {r["doc_id"] for r in stratified_sample(
        sub, "doc_id", "lang", {"en": 0.5}, 0.2).collect()}
    assert kept_sub == {i for i in kept1 if i < 500}
    # rates land in the right neighborhood
    en = sum(1 for i in kept1 if i % 2 == 0) / 500
    de = sum(1 for i in kept1 if i % 2 == 1) / 500
    assert 0.4 < en < 0.6 and 0.1 < de < 0.3


def test_exact_dedup_keeps_min_id(spark):
    from mongo_es_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y")], "doc_id long, text string"
    )
    got = {(r["text"], r["doc_id"]) for r in exact_dedup(df, ["text"], "doc_id").collect()}
    assert got == {("x", 1), ("y", 2)}


_EDGE_DOCS = [
    (0, "a a a a"),                      # one token repeated
    (1, "a b a b a"),                    # dominant bigram both ways
    (2, "x"),                            # single token: no bigrams
    (3, ""),                             # empty
    (4, "   "),                          # whitespace only
    (5, "u v w x y z u v w x y z u v"),  # period-6 repetition
]


def test_repetition_features_vs_python(spark):
    import math
    from collections import Counter

    from mongo_es_spark.operators.text import repetition_features

    df = spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in repetition_features(df, "doc_id", "text").collect()
    }

    def fl6(x):
        return math.floor(x * 1_000_000) / 1_000_000

    for doc_id, text in _EDGE_DOCS:
        toks = text.split()
        n = len(toks)
        r = got[doc_id]
        assert r["n_tokens"] == n
        if n == 0:
            assert r["top_token_frac"] is None
            assert r["dup_token_frac"] is None
            continue
        assert r["top_token_frac"] == fl6(
            max(Counter(toks).values()) / n
        )
        assert r["dup_token_frac"] == fl6((n - len(set(toks))) / n)
        bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        if n <= 1:
            assert r["top_bigram_frac"] is None
        else:
            assert r["top_bigram_frac"] == fl6(
                max(Counter(bigrams).values()) / (n - 1)
            )


def test_contamination_counts_vs_python(spark):
    from mongo_es_spark.operators.text import contamination

    corpus = [
        (0, "one two three four five six"),     # contains bench gram
        (1, "one two three four7 five six"),    # near miss
        (2, "a b c d"),                         # too short for 5-grams
        (3, "one two three four five one two three four five"),
    ]
    bench_rows = [(100, "zero one two three four five")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_contaminated"], r["contaminated"])
        for r in contamination(df, "doc_id", "text", bench, n=5).collect()
    }
    # bench 5-grams: "zero one two three four", "one two three four five"
    assert got[0] == (2, 1, True)
    assert got[1] == (2, 0, False)
    assert got[2] == (0, 0, False)   # kept via explode_outer
    assert got[3] == (6, 2, True)    # both occurrences counted
    assert set(got) == {0, 1, 2, 3}


def test_chunk_documents_vs_python(spark):
    from mongo_es_spark.operators.text import chunk_documents

    rows = [
        (0, " ".join(f"t{i}" for i in range(10))),   # 1 chunk (n < size)
        (1, " ".join(f"t{i}" for i in range(16))),   # n == 16: 1+ceil(12/4)=4
        (2, ""),                                     # 1 empty chunk
        (3, " ".join(f"t{i}" for i in range(17))),   # ragged tail
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=4, stride=4)
    got: dict[int, list] = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_text"], r["chunk_tokens"])
        )
    for doc_id, text in rows:
        toks = text.split()
        n = len(toks)
        n_chunks = 1 + max(0, -(-(n - 4) // 4)) if n > 4 else 1
        want = []
        for i in range(n_chunks):
            sl = toks[i * 4: i * 4 + 4]
            want.append((i, " ".join(sl), len(sl)))
        assert sorted(got[doc_id]) == want, doc_id
    # overlap variant: stride < chunk shares tokens between chunks
    ov = chunk_documents(df, "doc_id", "text", chunk_tokens=4, stride=2)
    chunks1 = sorted(
        (r["chunk_id"], r["chunk_text"])
        for r in ov.filter("doc_id = 1").collect()
    )
    toks1 = rows[1][1].split()
    assert chunks1[0][1].split() == toks1[0:4]
    assert chunks1[1][1].split() == toks1[2:6]


@pytest.mark.parametrize("block_rows", [64, 10_000])
def test_knn_graph_matches_bruteforce(spark, emb, block_rows):
    import numpy as np

    from mongo_es_spark.operators.similarity import knn_graph

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.asarray([r["vec_id"] for r in rows])
    X = np.asarray(
        [np.asarray(r["embedding"], dtype=np.float64) for r in rows]
    )
    Xn = X / np.linalg.norm(X, axis=1)[:, None]
    gram = np.round(Xn @ Xn.T, 6)
    np.fill_diagonal(gram, -np.inf)
    want = {}
    for a in range(len(ids)):
        # sort by (-cosine, id) like the operator's total order
        order = sorted(range(len(ids)), key=lambda b: (-gram[a, b], ids[b]))
        want[ids[a]] = [
            (ids[b], gram[a, b], rk + 1) for rk, b in enumerate(order[:5])
        ]

    out = knn_graph(emb, "vec_id", "embedding", k=5, block_rows=block_rows)
    got: dict[int, list] = {}
    for r in sorted(out.collect(), key=lambda r: (r["i"], r["rk"])):
        got.setdefault(r["i"], []).append((r["j"], r["cosine"], r["rk"]))
    assert got == want


def test_temperature_sample_vs_python(spark):
    import math

    from mongo_es_spark.operators.text import temperature_sample

    # skewed groups: 60 'big', 30 'mid', 10 'small'
    rows = [
        (i, "big" if i < 60 else ("mid" if i < 90 else "small"))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = temperature_sample(df, "doc_id", "grp", alpha=0.5)
    got = {(r["doc_id"], r["grp"], r["rate"]) for r in out.collect()}

    counts = {"big": 60, "mid": 30, "small": 10}
    w = {g: math.floor(math.sqrt(n) * 1e6) for g, n in counts.items()}
    W, N = sum(w.values()), sum(counts.values())
    rate = {g: min(1.0, (w[g] / W) * N / counts[g]) for g in counts}
    want = set()
    for doc_id, grp in rows:
        if (doc_id * 2654435761) % 4294967296 / 4294967296.0 < rate[grp]:
            want.add(
                (doc_id, grp, math.floor(rate[grp] * 1e6) / 1e6)
            )
    assert got == want
    # the point of the exercise: big downsampled, small kept whole
    assert rate["big"] < 1.0 and rate["small"] == 1.0
    with pytest.raises(ValueError):
        temperature_sample(df, "doc_id", "grp", alpha=0.7)


def test_sessionize_matches_python_on_random_events(spark):
    import random

    from mongo_es_spark.operators.sessions import sessionize

    rng = random.Random(29)
    GAP = 500
    rows = []
    eid = 0
    for uid in range(12):
        t = 0
        for _ in range(rng.randint(0, 40)):
            # mix of in-gap steps, exact-gap boundaries, and jumps;
            # occasional zero step makes timestamp ties
            t += rng.choice([0, 1, GAP, GAP + 1, rng.randint(1, 2000)])
            rows.append((uid, eid, t))
            eid += 1
    df = spark.createDataFrame(rows, "uid long, event_id long, ts long")
    got = {
        (r["uid"], r["session_id"]): (
            r["n_events"], r["start_ms"], r["end_ms"]
        )
        for r in sessionize(df, "uid", "ts", "event_id", GAP).collect()
    }

    want = {}
    by_uid: dict[int, list] = {}
    for uid, e, t in sorted(rows, key=lambda r: (r[0], r[2], r[1])):
        by_uid.setdefault(uid, []).append(t)
    for uid, ts_list in by_uid.items():
        sid, start, last, n = -1, None, None, 0
        for t in ts_list:
            if start is None or t - last > GAP:
                if start is not None:
                    want[(uid, sid)] = (n, start, last)
                sid, start, last, n = sid + 1, t, t, 1
            else:
                last, n = t, n + 1
        if start is not None:
            want[(uid, sid)] = (n, start, last)
    assert got == want


def test_chunk_documents_random_roundtrip(spark):
    """Every token appears in the chunk(s) its position maps to, and
    concatenating stride-aligned prefixes reconstructs the document."""
    import random

    from mongo_es_spark.operators.text import chunk_documents

    rng = random.Random(31)
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(rng.randint(0, 40))))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    CH, ST = 8, 5
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=CH, stride=ST)
    chunks: dict[int, dict[int, list[str]]] = {}
    for r in out.collect():
        toks = r["chunk_text"].split() if r["chunk_text"] else []
        assert len(toks) == r["chunk_tokens"] <= CH
        chunks.setdefault(r["doc_id"], {})[r["chunk_id"]] = toks
    for doc_id, text in rows:
        toks = text.split()
        doc_chunks = chunks[doc_id]
        # chunk c covers source positions [c*ST, c*ST + len(chunk))
        for c, ctoks in doc_chunks.items():
            assert ctoks == toks[c * ST: c * ST + len(ctoks)]
        # stride-aligned reconstruction: first ST tokens of each chunk
        # (all of the last) concatenate back to the full document
        ordered = [doc_chunks[c] for c in sorted(doc_chunks)]
        rebuilt = [
            t
            for i, ctoks in enumerate(ordered)
            for t in (ctoks[:ST] if i < len(ordered) - 1 else ctoks)
        ]
        assert rebuilt == toks, doc_id


def test_rare_ngram_density_vs_python(spark):
    from collections import Counter

    from mongo_es_spark.operators.text import rare_ngram_density

    rows = [
        (0, "a b c d"),          # "a b" shared 3x; "b c","c d" shared 2x
        (1, "a b c d"),
        (2, "a b x y"),          # "b x","x y" unique
        (3, "z"),                # no bigrams
        (4, ""),                 # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_rare"])
        for r in rare_ngram_density(
            df, "doc_id", "text", n=2, max_corpus_freq=2
        ).collect()
    }
    all_grams = Counter(
        g
        for _, t in rows
        for g in [
            " ".join(p) for p in zip(t.split(), t.split()[1:])
        ]
    )
    for doc_id, t in rows:
        grams = [" ".join(p) for p in zip(t.split(), t.split()[1:])]
        rare = sum(1 for g in grams if all_grams[g] <= 2)
        assert got[doc_id] == (len(grams), rare), doc_id
    # "a b" occurs 3x -> not rare; docs 0/1 have 2 rare of 3
    assert got[0] == (3, 2) and got[2] == (3, 2) and got[3] == (0, 0)


def test_pipeline_curate_stages_compose(spark):
    from mongo_es_spark.queries import REGISTRY

    fn, oracle = REGISTRY["pipeline_curate"]
    assert oracle is not None
    out = fn(spark, SF).collect()
    ids = [r["doc_id"] for r in out]
    assert len(ids) == len(set(ids))      # no duplicates survive
    assert 0 < len(ids) < 500             # both filters actually fired
    # packing invariant: walking docs in id order, seq_id is
    # non-decreasing and the running token total within a seq <= 2048
    by_id = sorted(out, key=lambda r: r["doc_id"])
    acc, prev_seq = 0, 0
    for r in by_id:
        if r["seq_id"] != prev_seq:
            assert r["seq_id"] >= prev_seq
            prev_seq, acc = r["seq_id"], 0
        acc += r["n_tokens"]
    assert all(
        r["n_tokens"] <= 2048 for r in by_id
    )


def test_sessionize_gaps_and_ties(spark):
    from mongo_es_spark.operators.sessions import sessionize

    GAP = 1000
    rows = [
        # user 1: two sessions, with a timestamp TIE at the first event
        (1, 10, 100), (1, 11, 100), (1, 12, 500),
        (1, 13, 2000), (1, 14, 2500),
        # user 2: single event
        (2, 20, 50),
        # user 3: gap exactly == GAP stays in-session, GAP+1 splits
        (3, 30, 0), (3, 31, 1000), (3, 32, 2001),
    ]
    df = spark.createDataFrame(rows, "uid long, event_id long, ts_ms long")
    out = sessionize(df, "uid", "ts_ms", "event_id", gap_ms=GAP)
    got = {
        (r["uid"], r["session_id"]): (
            r["n_events"], r["start_ms"], r["end_ms"], r["duration_ms"]
        )
        for r in out.collect()
    }
    assert got == {
        (1, 0): (3, 100, 500, 400),
        (1, 1): (2, 2000, 2500, 500),
        (2, 0): (1, 50, 50, 0),
        (3, 0): (2, 0, 1000, 1000),
        (3, 1): (1, 2001, 2001, 0),
    }


def test_dedup_payloads_counts_exact_copies(spark):
    from mongo_es_spark.operators.multimodal import (
        attach_payload,
        dedup_payloads,
    )

    rows = [(0, "same"), (1, "same"), (2, "other"), (3, "same")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["keep_id"]: r["n_copies"]
        for r in dedup_payloads(
            attach_payload(df, "doc_id", "text")
        ).collect()
    }
    assert out == {0: 3, 2: 1}


def test_pack_sequences_matches_serial_prefix_sum(spark):
    from pyspark.sql import Window

    from mongo_es_spark.operators.text import pack_sequences

    # sparse, unordered ids and a token distribution that straddles
    # bucket and window boundaries
    rows = [(i * 7 + 3, (i * 131) % 900 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")

    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    serial = {
        r["doc_id"]: r["seq_id"]
        for r in df.select(
            "doc_id",
            (
                (F.sum("n_tokens").over(w) - F.col("n_tokens"))
                / F.lit(512)
            )
            .cast("long")
            .alias("seq_id"),
        ).collect()
    }
    for n_buckets in (1, 5, 32, 1000):
        got = {
            r["doc_id"]: r["seq_id"]
            for r in pack_sequences(
                df, "doc_id", "n_tokens", max_tokens=512,
                n_buckets=n_buckets,
            ).collect()
        }
        assert got == serial, f"n_buckets={n_buckets}"


def test_pack_sequences_empty_frame(spark):
    from mongo_es_spark.operators.text import pack_sequences

    df = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert pack_sequences(df, "doc_id", "n_tokens").count() == 0


def test_incremental_simhash_equals_full(spark, docs, tmp_path):
    from mongo_es_spark.operators.dedup import (
        incremental_simhash_pairs,
        simhash_pairs,
        simhash_signature_frame,
    )

    full = {
        (r["i"], r["j"]): r["hamming"]
        for r in simhash_pairs(docs, "doc_id", "text").collect()
    }
    old_docs = docs.filter(F.col("doc_id") < 400)
    new_docs = docs.filter(F.col("doc_id") >= 400)
    store = str(tmp_path / "shstore")
    simhash_signature_frame(old_docs, "doc_id", "text").write.parquet(store)
    first = {
        (r["i"], r["j"]): r["hamming"]
        for r in simhash_pairs(old_docs, "doc_id", "text").collect()
    }
    inc = {
        (r["i"], r["j"]): r["hamming"]
        for r in incremental_simhash_pairs(
            spark, new_docs, "doc_id", "text", store
        ).collect()
    }
    assert all(i >= 400 or j >= 400 for i, j in inc)
    assert {**first, **inc} == full
    assert spark.read.parquet(store).count() == docs.count()


def test_incremental_simhash_replay_is_idempotent(spark, docs, tmp_path):
    from mongo_es_spark.operators.dedup import (
        incremental_simhash_pairs,
        simhash_signature_frame,
    )

    old_docs = docs.filter(F.col("doc_id") < 400)
    new_docs = docs.filter(F.col("doc_id") >= 400)
    store = str(tmp_path / "shstore")
    simhash_signature_frame(old_docs, "doc_id", "text").write.parquet(store)
    incremental_simhash_pairs(
        spark, new_docs, "doc_id", "text", store
    ).collect()
    n_after_first = spark.read.parquet(store).count()
    replay = incremental_simhash_pairs(
        spark, new_docs, "doc_id", "text", store
    ).collect()
    assert spark.read.parquet(store).count() == n_after_first
    assert replay == []


def test_incremental_minhash_replay_is_idempotent(spark, docs, tmp_path):
    from mongo_es_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_signature_frame,
    )

    old_docs = docs.filter(F.col("doc_id") < 400)
    new_docs = docs.filter(F.col("doc_id") >= 400)
    store = str(tmp_path / "sigstore")
    minhash_signature_frame(old_docs, "doc_id", "text").write.parquet(store)
    incremental_minhash_pairs(
        spark, new_docs, "doc_id", "text", store
    ).collect()
    n_after_first = spark.read.parquet(store).count()
    # a retried/replayed call with the same batch must not double-
    # append signatures nor re-emit pairs for already-ingested docs
    replay = incremental_minhash_pairs(
        spark, new_docs, "doc_id", "text", store
    ).collect()
    assert spark.read.parquet(store).count() == n_after_first
    assert replay == []


def test_span_dedup_matches_python(spark):
    """Randomized replay: keep-first-instance per distinct span,
    reassemble in span order."""
    import random

    from mongo_es_spark.operators.text import span_dedup

    rng = random.Random(67)
    vocab = ["a", "bb", "ccc", "dd", "e"]
    SPAN = 4
    rows = []
    for d in range(30):
        n = rng.randint(0, 20)
        # repeated spans across docs: draw half the docs from a tiny
        # shared prefix so span collisions are common
        toks = (
            ["x", "y", "z", "w"] * rng.randint(0, 2)
            + [rng.choice(vocab) for _ in range(n)]
        )
        rows.append((d, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_spans"], r["n_kept"])
        for r in span_dedup(df, "doc_id", "text", span_tokens=SPAN).collect()
    }

    spans = []  # (doc, span_id, text)
    for d, text in rows:
        toks = text.split() if text.strip() else [""]
        if text.strip():
            n_spans = max((len(toks) + SPAN - 1) // SPAN, 1)
        else:
            n_spans = 1
            toks = [""]
        for i in range(n_spans):
            spans.append((d, i, " ".join(toks[i * SPAN:(i + 1) * SPAN])))
    first = {}
    for d, i, s in sorted(spans, key=lambda x: (x[2], x[0], x[1])):
        first.setdefault(s, (d, i))
    want = {}
    for d, text in rows:
        mine = [
            (i, s) for (dd, i, s) in spans
            if dd == d and first[s] == (dd, i)
        ]
        mine.sort()
        n_spans = len([s for s in spans if s[0] == d])
        want[d] = (
            " ".join(s for _, s in mine),
            n_spans,
            len(mine),
        )
    assert got == want


def test_span_dedup_identical_docs_keep_one_copy(spark):
    from mongo_es_spark.operators.text import span_dedup

    df = spark.createDataFrame(
        [(1, "p q r s p q r s"), (2, "p q r s p q r s"), (3, "u v")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_kept"])
        for r in span_dedup(df, "doc_id", "text", span_tokens=4).collect()
    }
    # doc 1 keeps its first "p q r s" (second span is a duplicate of
    # it); doc 2 is entirely boilerplate; doc 3 untouched
    assert out == {
        1: ("p q r s", 1),
        2: ("", 0),
        3: ("u v", 1),
    }


def test_source_cap_binds_and_orders(spark):
    from mongo_es_spark.operators.text import source_cap

    rows = [
        (i, f"s{i % 3}", 100 - i) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = source_cap(df, "doc_id", "source", "n_chars", cap=4).collect()
    by_src: dict[str, list] = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(
            (r["rank"], r["n_chars"], r["doc_id"])
        )
    for src, lst in by_src.items():
        assert len(lst) == 4
        lst.sort()
        # rank follows n_chars desc (ties impossible here)
        chars = [c for _, c, _ in lst]
        assert chars == sorted(chars, reverse=True)
    assert {len(v) for v in by_src.values()} == {4}


def test_ivf_pq_results_are_true_neighbors(emb):
    from mongo_es_spark.operators.similarity import (
        ann_ivf_pq_topk,
        cosine_topk,
    )

    exact = {
        r["vec_id"]: r["score"]
        for r in cosine_topk(
            emb, "vec_id", "embedding", query_id=0, k=50
        ).collect()
    }
    pq = ann_ivf_pq_topk(
        emb, "vec_id", "embedding", query_id=0, k=10
    ).collect()
    assert len(pq) == 10
    scores = [r["score"] for r in pq]
    assert scores == sorted(scores, reverse=True)
    # re-ranked scores are EXACT cosines: every hit that also appears
    # in the exact top-50 must carry the identical score
    for r in pq:
        if r["vec_id"] in exact:
            assert r["score"] == exact[r["vec_id"]]
    # ADC ranking over 2-byte-ish codes must still recover neighbors
    hits = sum(1 for r in pq if r["vec_id"] in exact)
    assert hits >= 5


def test_pq_fit_deterministic_and_shaped(spark):
    import numpy as np

    from mongo_es_spark.operators.similarity import _pq_fit

    rng = np.random.default_rng(3)
    X = rng.normal(size=(200, 64))
    a = _pq_fit(X, m=8, ksub=16, seed=7)
    b = _pq_fit(X, m=8, ksub=16, seed=7)
    assert a.shape == (8, 16, 8)
    assert np.array_equal(a, b)


def test_scrub_text_classes_and_order(spark):
    from mongo_es_spark.operators.text import scrub_text

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-a.co.uk and 10.0.255.3 and +1 (555) 123-4567"),
            (2, "blocked term only"),
            (3, ""),
            # counts are per-class on the ORIGINAL text: the email's
            # host looks nothing like an ip, the phone digits overlap
            # nothing — classes stay independent
            (4, "x@y.io 1.2.3.4 5551234567"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in scrub_text(
            df, "doc_id", "text", blocklist=("blocked",)
        ).collect()
    }
    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_phone"]) == (1, 1, 1)
    assert "[REDACTED]" in got[1]["clean_text"]
    assert "@" not in got[1]["clean_text"]
    assert got[2]["n_blocked"] == 1
    assert got[2]["clean_text"] == "[REDACTED] term only"
    assert got[3]["clean_text"] == ""
    assert (got[4]["n_email"], got[4]["n_ipv4"], got[4]["n_phone"]) == (1, 1, 1)
    assert got[4]["clean_text"] == "[REDACTED] [REDACTED] [REDACTED]"


def test_importance_topk_vs_python(spark):
    import random

    from pyspark.sql import functions as F

    from mongo_es_spark.operators.text import importance_topk

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(200):
        tgt = i % 3 == 0
        # target docs skew toward the first third of the vocab
        pool = vocab[:10] if tgt else vocab
        rows.append((i, " ".join(rng.choice(pool) for _ in range(20)), tgt))
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")

    total, tgt_tf = {}, {}
    for _, text, tgt in rows:
        for t in text.split():
            total[t] = total.get(t, 0) + 1
            if tgt:
                tgt_tf[t] = tgt_tf.get(t, 0) + 1
    scores = {}
    for i, text, _ in rows:
        scores[i] = sum(
            (1_000_000 * (tgt_tf.get(t, 0) + 1)) // (total[t] + 1)
            for t in text.split()
        )
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:25]

    got = [
        (r["doc_id"], r["score"])
        for r in importance_topk(
            df, "doc_id", "text", F.col("tgt"), k=25
        ).collect()
    ]
    assert got == expect


def test_semantic_dedup_keeps_one_per_near_group(spark):
    import random

    from mongo_es_spark.operators.similarity import semantic_dedup_frames

    rng = random.Random(3)
    rows = []
    # 10 well-separated base directions, 3 exact copies each, plus 20
    # random singletons in higher dimensions
    for g in range(10):
        base = [0.0] * 16
        base[g] = 1.0
        for c in range(3):
            rows.append((g * 10 + c, list(base)))
    for s in range(20):
        v = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((1000 + s, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    per_doc, pairs = semantic_dedup_frames(
        df, "vec_id", "embedding", n_clusters=6, threshold=0.999
    )
    got = {r["vec_id"]: r["kept"] for r in per_doc.collect()}
    assert len(got) == len(rows)
    # each exact-copy group keeps exactly its min id (copies always
    # land in the same cell: identical vectors, same argmax)
    for g in range(10):
        ids = [g * 10 + c for c in range(3)]
        assert [got[i] for i in ids] == [True, False, False]
    # no within-cell near pair survives fully kept
    flags = got
    for r in pairs.collect():
        assert not (flags[r["i"]] and flags[r["j"]])


@pytest.mark.parametrize("fmt", ["parquet", "json"])
def test_export_shards_manifest(spark, docs, tmp_path, fmt):
    from mongo_es_spark.operators.export import export_shards

    path = str(tmp_path / f"shards_{fmt}")
    man = export_shards(
        docs, path, "doc_id", rows_per_shard=20, fmt=fmt
    ).collect()
    n = docs.count()
    assert sum(r["n_rows"] for r in man) == n
    assert all(r["n_rows"] <= 20 for r in man)
    assert all(r["bytes"] > 0 for r in man)
    # shard key ranges are disjoint and ordered
    ordered = sorted(man, key=lambda r: r["min_key"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["max_key"] < b["min_key"]
    # round-trip: the shards hold exactly the input ids
    back = spark.read.format(fmt).load(path + "/data")
    assert back.count() == n
    assert (
        {r["doc_id"] for r in back.select("doc_id").collect()}
        == {r["doc_id"] for r in docs.select("doc_id").collect()}
    )


def test_funnel_strict_ordering(spark):
    from mongo_es_spark.operators.sessions import funnel

    rows = [
        # u1 converts: signup(10) -> click(20) -> purchase(30)
        (1, 10, "signup"), (1, 20, "click"), (1, 30, "purchase"),
        # u2 stalls: click BEFORE signup doesn't count; purchase
        # before any click doesn't count
        (2, 20, "signup"), (2, 10, "click"), (2, 15, "purchase"),
        # u3: same-ms click is NOT strictly after signup; later click
        # + purchase completes
        (3, 10, "signup"), (3, 10, "click"), (3, 40, "click"),
        (3, 50, "purchase"),
        # u4 never signs up -> absent from output
        (4, 5, "click"), (4, 6, "purchase"),
        # u5: earliest-signup greedy: second signup irrelevant
        (5, 100, "signup"), (5, 1, "signup"), (5, 2, "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_ms long, event_type string")
    got = {
        r["user_id"]: (r["step1_ms"], r["step2_ms"], r["step3_ms"], r["converted"])
        for r in funnel(
            df, "user_id", "ts_ms", ("signup", "click", "purchase")
        ).collect()
    }
    assert got[1] == (10, 20, 30, True)
    assert got[2] == (20, None, None, False)
    assert got[3] == (10, 40, 50, True)
    assert 4 not in got
    assert got[5] == (1, 2, None, False)


def test_knn_classify_majority_and_ties(spark):
    from mongo_es_spark.operators.similarity import knn_classify

    # two tight clusters in 4-d; each point's 3-NN are its own
    # cluster-mates, so predicted label == own cluster label
    rows = []
    for i in range(4):
        rows.append((i, [1.0, 0.01 * i, 0.0, 0.0], "a"))
    for i in range(4):
        rows.append((10 + i, [0.0, 0.0, 1.0, 0.01 * i], "b"))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    got = {
        r["vec_id"]: (r["predicted_label"], r["votes"])
        for r in knn_classify(df, "vec_id", "embedding", "label", k=3).collect()
    }
    for i in range(4):
        assert got[i] == ("a", 3)
        assert got[10 + i] == ("b", 3)


def test_retention_cohorts_and_offsets(spark):
    from mongo_es_spark.operators.sessions import retention

    B = 100  # bucket size for readable test timestamps
    rows = [
        # u1 signs up in bucket 0, active buckets 0,1,3 (dup events
        # same bucket collapse)
        (1, 10, "signup"), (1, 20, "click"), (1, 150, "view"),
        (1, 160, "view"), (1, 399, "purchase"),
        # u2 signs up bucket 1; pre-signup activity excluded
        (2, 50, "click"), (2, 110, "signup"), (2, 210, "view"),
        # u3 never signs up -> excluded entirely
        (3, 10, "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_ms long, event_type string")
    got = {
        (r["cohort_bucket"], r["offset"]): r["n_active"]
        for r in retention(
            df, "user_id", "ts_ms", "signup", bucket_ms=B
        ).collect()
    }
    assert got == {
        (0, 0): 1, (0, 1): 1, (0, 3): 1,   # u1
        (1, 0): 1, (1, 1): 1,              # u2
    }


def test_frame_overlap_trimmed_copy(spark):
    from mongo_es_spark.operators.multimodal import (
        attach_payload,
        frame_overlap_pairs,
    )

    blk = lambda ch: ch * 256  # one full frame of a single byte
    rows = [
        (1, blk("a") + blk("b") + blk("c") + blk("d")),
        (2, blk("a") + blk("b") + blk("c")),          # trimmed copy: 3 shared
        (3, blk("x") + blk("b")),                     # only 1 shared frame
        (4, blk("p") + blk("q")),                     # nothing shared
        (5, ""),                                      # empty payload
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["i"], r["j"]): r["n_shared"]
        for r in frame_overlap_pairs(
            attach_payload(df, "doc_id", "text"), k_shared=2
        ).collect()
    }
    assert pairs == {(1, 2): 3}


def test_incremental_embedding_equals_single_batch(spark, emb, tmp_path):
    from mongo_es_spark.operators.dedup import embedding_dup_pairs
    from mongo_es_spark.operators.similarity import (
        incremental_embedding_pairs,
    )

    one = str(tmp_path / "one")
    two = str(tmp_path / "two")
    full = {
        (r["i"], r["j"]): r["cosine"]
        for r in incremental_embedding_pairs(
            spark, emb, "vec_id", "embedding", one, threshold=0.45
        ).collect()
    }
    lo = emb.filter(F.col("vec_id") < 250)
    hi = emb.filter(F.col("vec_id") >= 250)
    inc = {}
    for batch in (lo, hi):
        for r in incremental_embedding_pairs(
            spark, batch, "vec_id", "embedding", two, threshold=0.45
        ).collect():
            inc[(r["i"], r["j"])] = r["cosine"]
    # NOTE: the two stores train centroids on different first batches,
    # so cell boundaries differ — compare against the brute-force exact
    # pair set instead of pair-set equality across stores
    exact = {
        (r["i"], r["j"]): r["cosine"]
        for r in embedding_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.45
        ).collect()
    }
    for got in (full, inc):
        assert set(got) <= set(exact)
        for k, v in got.items():
            assert v == exact[k]
        assert len(got) >= len(exact) * 0.5  # recall floor

    # replay: re-delivering the second half emits nothing, store stable
    import os
    n_before = spark.read.parquet(os.path.join(two, "vectors")).count()
    replay = incremental_embedding_pairs(
        spark, hi, "vec_id", "embedding", two, threshold=0.45
    )
    assert replay.count() == 0
    assert spark.read.parquet(os.path.join(two, "vectors")).count() == n_before


def test_clone_weighted_contract_matches_expanded(spark):
    """clone_weighted=True must account for exactly the pairs the
    expanded contract emits: sum(n_pairs) == expanded row count, and
    the rep-level cross pairs carry the same scores."""
    from mongo_es_spark.operators.dedup import jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again "
    near = base.replace("lazy", "sleepy")
    rows = (
        [(i, base) for i in range(1, 6)]        # 5 clones of base
        + [(10 + i, near) for i in range(1, 4)]  # 3 clones of a near-dup
        + [(100, "completely different words in this unrelated text")]
        + [(101, "x")]                            # too short to shingle
        + [(102, "x")]                            # clone of too-short
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")

    expanded = jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()
    weighted = jaccard_pairs(
        df, "doc_id", "text", threshold=0.5, clone_weighted=True
    ).collect()

    assert sum(r["n_pairs"] for r in weighted) == len(expanded)
    # 5x3 cross pairs between the two clone groups + C(5,2) + C(3,2)
    by_key = {(r["i"], r["j"]): r for r in weighted}
    assert by_key[(1, 11)]["n_pairs"] == 15
    assert by_key[(1, 1)]["n_pairs"] == 10 and by_key[(1, 1)]["jaccard"] == 1.0
    assert by_key[(11, 11)]["n_pairs"] == 3
    # too-short clone group (101, 102) produces no pairs in either shape
    assert (101, 101) not in by_key
    assert not any(r["i"] in (101, 102) or r["j"] in (101, 102) for r in expanded)
    # cross-pair scores match the expanded contract's scores
    exp_scores = {(r["i"], r["j"]): r["jaccard"] for r in expanded}
    assert by_key[(1, 11)]["jaccard"] == exp_scores[(1, 11)]


def test_pathological_clone_group_completes_bounded(spark):
    """A degenerate clone group (100k copies of one text) must not
    materialize per-group arrays or O(k^2) pair rows: the weighted
    contract emits ONE row for the group, and drop_near_duplicates
    keeps exactly one survivor — without ever expanding ~5e9 pairs."""
    from mongo_es_spark.operators.dedup import (
        drop_near_duplicates,
        minhash_lsh_pairs,
    )

    k = 100_000
    clones = spark.range(1, k + 1).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "one single very duplicated document body with enough words "
            "to shingle properly across the whole corpus"
        ).alias("text"),
    )
    distinct = spark.createDataFrame(
        [
            (k + 1, "first unique document talking about entirely other things"),
            (k + 2, "second unique document on yet another unrelated subject"),
        ],
        "doc_id long, text string",
    )
    df = clones.unionByName(distinct)

    weighted = minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.8, clone_weighted=True
    ).collect()
    assert len(weighted) == 1  # the within-group row only
    r = weighted[0]
    assert (r["i"], r["j"]) == (1, 1)
    assert r["n_pairs"] == k * (k - 1) // 2

    kept = drop_near_duplicates(df, "doc_id", "text").select("doc_id")
    assert {x["doc_id"] for x in kept.collect()} == {1, k + 1, k + 2}


def test_train_val_test_split_deterministic_and_leakfree(spark, docs):
    """Split labels: cover every row, reproduce exactly across calls,
    and stay stable when the corpus grows (append-invariance — the
    property that keeps eval sets honest)."""
    from mongo_es_spark.operators.text import train_val_test_split

    out = train_val_test_split(docs.select("doc_id"), "doc_id")
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == docs.count()
    frac = {
        s: sum(1 for v in rows.values() if v == s) / len(rows)
        for s in ("train", "val", "test")
    }
    assert 0.8 < frac["train"] < 1.0
    assert frac["val"] > 0 and frac["test"] > 0

    again = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(
            docs.select("doc_id"), "doc_id"
        ).collect()
    }
    assert again == rows

    # append-invariance: labels computed on half the corpus match the
    # full-corpus labels on the overlap
    half = docs.select("doc_id").limit(docs.count() // 2)
    sub = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(half, "doc_id").collect()
    }
    assert all(rows[k] == v for k, v in sub.items())

    # different salt re-deals at least some assignments
    redeal = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(
            docs.select("doc_id"), "doc_id", salt=7
        ).collect()
    }
    assert redeal != rows


def test_train_split_is_scan_shaped(spark, docs):
    """Pure projection: no exchange in the plan (assignment pushes to
    the scan at any corpus size)."""
    from mongo_es_spark.operators.text import train_val_test_split

    plan = train_val_test_split(
        docs.select("doc_id"), "doc_id"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_minhash_pairs_over_store_equals_batch(spark, docs, tmp_path):
    """The store-audit pair operator reproduces the batch LSH pair set
    exactly on exact-unique content (the store's population contract),
    with and without an ids restriction."""
    from mongo_es_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_pairs_over_store,
        minhash_signature_frame,
    )

    uniq = docs.dropDuplicates(["text"])
    store = str(tmp_path / "sigs")
    minhash_signature_frame(uniq, "doc_id", "text").write.parquet(store)

    want = {
        (r["i"], r["j"]): r["jaccard"]
        for r in minhash_lsh_pairs(uniq, "doc_id", "text").collect()
    }
    got = {
        (r["i"], r["j"]): r["jaccard"]
        for r in minhash_pairs_over_store(spark, store).collect()
    }
    assert got == want and len(want) > 0

    some = uniq.limit(uniq.count() // 2).select(
        F.col("doc_id").alias("doc")
    )
    ids = {r["doc"] for r in some.collect()}
    sub = {
        (r["i"], r["j"]): r["jaccard"]
        for r in minhash_pairs_over_store(spark, store, ids_df=some).collect()
    }
    assert sub == {
        k: v for k, v in want.items() if k[0] in ids and k[1] in ids
    }


def test_frequent_tokens_mg_bounds_and_coverage(spark):
    """Misra-Gries invariants under forced eviction (k=4, many
    distinct tokens): every token above N/(k+1) survives the merge,
    and each reported interval brackets the exact count — for any
    partitioning of the input."""
    from mongo_es_spark.operators.text import frequent_tokens

    rows = []
    doc = 0
    # heavy tokens: 'alpha' x 300, 'beta' x 200; tail: 150 singletons
    for tok, m in (("alpha", 300), ("beta", 200)):
        for i in range(0, m, 10):
            rows.append((doc, " ".join([tok] * 10)))
            doc += 1
    for i in range(150):
        rows.append((doc, f"tail{i}"))
        doc += 1
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)

    sk = {
        r["token"]: (r["count_min"], r["count_max"])
        for r in frequent_tokens(df, "text", k=4, top=None).collect()
    }
    n = 300 + 200 + 150
    exact = {"alpha": 300, "beta": 200}
    # coverage: true count > N/(k+1) = 130 -> must be present
    for tok, c in exact.items():
        assert tok in sk, tok
    # bounds bracket the truth for every reported token
    for tok, (lo, hi) in sk.items():
        c = exact.get(tok, 1)
        assert lo <= c <= hi, (tok, lo, c, hi)
    # top ordering surfaces the heavies first
    top2 = [
        r["token"]
        for r in frequent_tokens(df, "text", k=4, top=2).collect()
    ]
    assert top2[0] == "alpha" and top2[1] == "beta"


def test_salted_join_equals_plain_join_under_skew(spark):
    """salted_join must reproduce the plain join exactly on a
    pathologically skewed key distribution (one key owning 95% of
    rows), for inner and left, and spread each key over n_salts."""
    from mongo_es_spark.operators.joins import salted_join

    big = spark.range(0, 20_000).select(
        F.col("id").alias("k").cast("long"),
        F.when(F.col("id") < 19_000, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold"), (F.col("id") % 37).cast("string")))
        .alias("key"),
    ).select(F.col("key"), F.col("k"))
    small = spark.createDataFrame(
        [("hot", 1), ("cold3", 2), ("absent", 9)], "key string, v int"
    )

    for how in ("inner", "left"):
        want = sorted(
            (r["key"], r["k"], r["v"])
            for r in big.join(small, "key", how).collect()
        )
        got = sorted(
            (r["key"], r["k"], r["v"])
            for r in salted_join(big, small, ["key"], n_salts=8, how=how).collect()
        )
        assert got == want and len(want) > 0


def test_multiprobe_lsh_recall_dominates_single_probe(emb):
    """Multi-probe candidates are a superset of single-probe (Hamming
    radius 0 is always probed), scores stay exact cosines, and the
    probe radius strictly expands the candidate set on this corpus."""
    from mongo_es_spark.operators.similarity import ann_lsh_topk, cosine_topk

    exact = {
        r["vec_id"]: r["score"]
        for r in cosine_topk(emb, "vec_id", "embedding", 0, k=10).collect()
    }
    r0 = {
        r["vec_id"]: r["score"]
        for r in ann_lsh_topk(
            emb, "vec_id", "embedding", 0, 64, k=10, multiprobe=0
        ).collect()
    }
    r1 = {
        r["vec_id"]: r["score"]
        for r in ann_lsh_topk(
            emb, "vec_id", "embedding", 0, 64, k=10, multiprobe=1
        ).collect()
    }
    # where ANN and exact top-10 overlap, scores are the exact cosines
    for got in (r0, r1):
        for vid, s in got.items():
            if vid in exact:
                assert s == exact[vid], (vid, s)
    # recall (overlap with exact top-10) never decreases with probes
    assert len(set(r1) & set(exact)) >= len(set(r0) & set(exact))
    assert len(set(r1) & set(exact)) >= 5  # the asserted floor


def test_bigram_xent_flags_word_salad(spark):
    """The conditional term must separate fluent repetition from
    shuffled word salad built from the same vocabulary — the signal
    unigram entropy cannot see (identical token multiset => identical
    unigram xent)."""
    from mongo_es_spark.operators.text import (
        bigram_cross_entropy,
        unigram_cross_entropy,
    )

    fluent = "the cat sat on the mat " * 20
    # same token multiset, scrambled order (fixed co-prime stride) —
    # the corpus is dominated by fluent docs, so the LM's bigram
    # statistics reflect fluent order and the salad's transitions
    # are rare under it
    toks = fluent.split()
    salad = " ".join(toks[(i * 77) % len(toks)] for i in range(len(toks)))
    rows = [(i, fluent) for i in range(1, 11)] + [(99, salad)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bx = {
        r["doc_id"]: r["xent2"]
        for r in bigram_cross_entropy(df, "doc_id", "text").collect()
    }
    ux = {
        r["doc_id"]: r["xent"]
        for r in unigram_cross_entropy(df, "doc_id", "text").collect()
    }
    assert abs(ux[1] - ux[99]) < 0.05     # unigram can't tell them apart
    assert bx[99] > bx[1] + 0.1           # bigram can


def test_char_shingles_catch_unsegmented_near_dups(spark):
    """mode='char' must find near-duplicates in whitespace-free text
    where word shingles see one giant token and find nothing."""
    from mongo_es_spark.operators.dedup import jaccard_pairs

    base = "abcdefghijklmnopqrstuvwxyz0123456789" * 4
    near = base[:-3] + "XYZ"  # ~98% shared char-12-grams
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, "Z" * 60)], "doc_id long, text string"
    )
    word = jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    char = jaccard_pairs(
        df, "doc_id", "text", n=12, threshold=0.5, mode="char"
    ).collect()
    assert word == []  # single-token docs: no word 3-grams at all
    got = {(r["i"], r["j"]): r["jaccard"] for r in char}
    assert (1, 2) in got and got[(1, 2)] > 0.5
    assert all(3 not in k for k in got)


def test_substring_dedup_matches_python(spark):
    """Randomized replay of the ExactSubstr semantics: the corpus-wide
    first instance (min (doc, pos)) of each distinct w-token window
    survives; every other instance marks its token range; clean_text
    keeps unmarked tokens in order."""
    import random

    from mongo_es_spark.operators.text import substring_dedup

    rng = random.Random(41)
    vocab = ["a", "b", "c", "d"]
    W = 4
    rows = []
    for d in range(40):
        n = rng.randint(0, 14)
        toks = (
            ["p", "q", "r", "s", "t"] * rng.randint(0, 2)
            + [rng.choice(vocab) for _ in range(n)]
        )
        rows.append((d, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["dup_tokens"], r["clean_text"]
        )
        for r in substring_dedup(
            df, "doc_id", "text", window_tokens=W
        ).collect()
    }

    inst = []  # (doc, pos 1-based, window text)
    for d, text in rows:
        toks = text.split()
        for p in range(1, len(toks) - W + 2):
            inst.append((d, p, " ".join(toks[p - 1:p - 1 + W])))
    first = {}
    for d, p, s in sorted(inst, key=lambda x: (x[2], x[0], x[1])):
        first.setdefault(s, (d, p))
    covered = {}  # doc -> set of 1-based positions
    for d, p, s in inst:
        if first[s] != (d, p):
            covered.setdefault(d, set()).update(range(p, p + W))
    want = {}
    for d, text in rows:
        toks = text.split() if text.strip() else [""]
        n = len(text.split()) if text.strip() else 0
        cov = covered.get(d, set())
        clean = " ".join(
            t for i, t in enumerate(toks, start=1) if i not in cov
        )
        want[d] = (n, len(cov), clean)
    assert got == want


def test_substring_dedup_marks_offset_and_self_repeats(spark):
    from mongo_es_spark.operators.text import substring_dedup

    rows = [
        (1, "a b c d e f g h i j"),          # original
        (2, "x x a b c d e f g h w"),        # contains d1's 8-gram at offset
        (3, "a b c d e f g h i j"),          # exact clone -> fully covered
        (4, "p q"),                           # too short for any window
        (5, "r s t u v w y z r s t u v w y z"),  # self-repeat
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in substring_dedup(
            df, "doc_id", "text", window_tokens=8
        ).collect()
    }
    assert out[1]["dup_tokens"] == 0
    assert out[2]["dup_tokens"] == 8  # positions 3..10
    assert out[2]["clean_text"] == "x x w"
    assert out[3]["dup_tokens"] == 10 and out[3]["clean_text"] == ""
    assert out[4]["dup_tokens"] == 0 and out[4]["clean_text"] == "p q"
    assert out[5]["dup_tokens"] == 8
    assert out[5]["clean_text"] == "r s t u v w y z"


def test_bpe_train_classic_corpus(spark):
    """The worked example every BPE description uses: 'low lower
    lowest' family — first merges build up the shared stem."""
    from mongo_es_spark.operators.text import bpe_train

    rows = [(1, "low low low lower lower lowest")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [tuple(r) for r in bpe_train(df, "text", n_merges=4).collect()]
    # pair counts over words weighted by frequency:
    # low x3, lower x2, lowest x1 -> (l,o)=6 ties (o,w)=6, lexicographic
    # tie-break picks (l,o); then (lo,w)=6, (low,e)=3, and after that
    # merge 'lower' is [lowe r] so round 4 finds (lowe,r)=2
    assert got == [
        (0, "l", "o", 6),
        (1, "lo", "w", 6),
        (2, "low", "e", 3),
        (3, "lowe", "r", 2),
    ]


def test_bpe_train_greedy_overlap_and_ties(spark):
    from mongo_es_spark.operators.text import bpe_train

    # 'aaaa': adjacent (a,a) occurs 3x per word instance (overlapping
    # counts), but the merge application is greedy non-overlapping:
    # aaaa -> [aa][aa], so round 2's top pair is (aa,aa)
    df = spark.createDataFrame(
        [(1, "aaaa aaaa bb")], "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe_train(df, "text", n_merges=2).collect()]
    assert got[0] == (0, "a", "a", 6)
    assert got[1] == (1, "aa", "aa", 2)


def test_bpe_train_runs_out_of_pairs(spark):
    from mongo_es_spark.operators.text import bpe_train

    df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    got = [tuple(r) for r in bpe_train(df, "text", n_merges=5).collect()]
    # one merge exhausts the corpus (every word becomes one symbol)
    assert got == [(0, "a", "b", 2)]


def test_quality_classifier_shape_and_edges(spark):
    from mongo_es_spark.operators.text import quality_classifier

    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "   "), (4, "a")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           quality_classifier(df, "doc_id", "text").collect()}
    assert out[1]["n_tokens"] == 2
    assert 0.0 < out[1]["quality_score"] < 1.0
    assert out[1]["label"] in ("keep", "drop")
    for d in (2, 3):  # empty docs: NULL score, NULL label
        assert out[d]["n_tokens"] == 0
        assert out[d]["quality_score"] is None
        assert out[d]["label"] is None
    # deterministic: same text -> same score
    df2 = spark.createDataFrame(
        [(9, "hello world")], "doc_id long, text string"
    )
    s2 = quality_classifier(df2, "doc_id", "text").collect()[0]
    assert s2["quality_score"] == out[1]["quality_score"]


def test_trailing_features_strictly_before(spark):
    from mongo_es_spark.operators.sessions import trailing_features

    rows = [
        # user 1: events at t=0, 500, 1000, 5000 (window 1000ms)
        (1, 10, 0, 2.0),
        (1, 11, 500, 3.0),
        (1, 12, 1000, 5.0),
        (1, 13, 5000, 7.0),
        # same-ts peers must NOT see each other (strictly before)
        (2, 20, 100, 1.0),
        (2, 21, 100, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts_ms long, value double"
    )
    out = {r["event_id"]: r for r in trailing_features(
        df, "user_id", "event_id", "ts_ms", "value", window_ms=1000
    ).collect()}
    assert (out[10]["n_prev"], out[10]["sum_value_milli_prev"]) == (0, 0)
    assert (out[11]["n_prev"], out[11]["sum_value_milli_prev"]) == (1, 2000)
    # t=1000 sees [0, 999]: both earlier events
    assert (out[12]["n_prev"], out[12]["sum_value_milli_prev"]) == (2, 5000)
    assert out[13]["n_prev"] == 0  # window expired
    assert out[20]["n_prev"] == 0 and out[21]["n_prev"] == 0


def test_transition_counts_orders_by_ts_then_id(spark):
    from mongo_es_spark.operators.sessions import transition_counts

    rows = [
        (1, 1, 100, "a"),
        (1, 2, 200, "b"),
        (1, 3, 200, "c"),  # tie on ts: event_id orders b before c
        (1, 4, 300, "a"),
        (2, 5, 50, "a"),
        (2, 6, 60, "b"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts_ms long, event_type string"
    )
    got = {
        (r["prev_state"], r["next_state"]): r["n"]
        for r in transition_counts(
            df, "user_id", "ts_ms", "event_id", "event_type"
        ).collect()
    }
    assert got == {("a", "b"): 2, ("b", "c"): 1, ("c", "a"): 1}


def test_bpe_encode_compression(spark):
    from mongo_es_spark.operators.text import bpe_encode

    # one merge trained: (a,b) wins round 1 (count 2 beats (b,a)'s 1).
    df = spark.createDataFrame(
        [(1, "ab ab"), (2, "ba"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           bpe_encode(df, "doc_id", "text", n_merges=1).collect()}
    assert (out[1]["n_char_syms"], out[1]["n_bpe_syms"]) == (4, 2)
    assert out[1]["compression"] == 2.0
    assert (out[2]["n_char_syms"], out[2]["n_bpe_syms"]) == (2, 2)
    assert out[3]["n_bpe_syms"] == 0 and out[3]["compression"] is None


def test_incremental_substring_dedup_matches_full_run(spark, tmp_path):
    """Ascending-id batches through the window-hash store == the batch
    operator over the concatenated corpus; replaying a batch is a
    no-op on the store; a window-size mismatch fails loudly."""
    import pytest as _pytest

    from mongo_es_spark.operators.text import (
        incremental_substring_dedup,
        substring_dedup,
    )

    W = 4
    rows = [
        (1, "a b c d e f"),
        (2, "x a b c d y"),        # contains batch-1's 4-gram
        (3, "x a b c d y"),        # exact clone of 2 (later batch)
        (4, "p q r s p q r s"),    # self-repeat
        (5, "zz"),                 # short
    ]
    full = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["clean_text"])
        for r in substring_dedup(
            spark.createDataFrame(rows, "doc_id long, text string"),
            "doc_id", "text", window_tokens=W,
        ).collect()
    }

    store = str(tmp_path / "substore")
    got = {}
    for lo, hi in ((0, 2), (2, 5)):
        batch = spark.createDataFrame(
            rows[lo:hi], "doc_id long, text string"
        )
        out = incremental_substring_dedup(
            spark, batch, "doc_id", "text", store, window_tokens=W
        )
        for r in out.collect():
            got[r["doc_id"]] = (
                r["n_tokens"], r["dup_tokens"], r["clean_text"]
            )
    assert got == full

    n_store = spark.read.parquet(store).count()
    # replay batch 2: the digest guard must exclude the batch's own
    # prior append from the store view, so the replayed OUTPUT is
    # value-identical (not "everything I appended is now a dup") and
    # the store append is skipped entirely
    replay = incremental_substring_dedup(
        spark,
        spark.createDataFrame(rows[2:5], "doc_id long, text string"),
        "doc_id", "text", store, window_tokens=W,
    )
    replayed = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["clean_text"])
        for r in replay.collect()
    }
    assert replayed == {d: got[d] for d in (3, 4, 5)}
    assert spark.read.parquet(store).count() == n_store

    with _pytest.raises(ValueError, match="window_tokens"):
        incremental_substring_dedup(
            spark,
            spark.createDataFrame(rows[:1], "doc_id long, text string"),
            "doc_id", "text", store, window_tokens=5,
        )


def test_substring_store_legacy_schema_rejected(spark, tmp_path):
    """A store without the __batch replay tag (pre-r7 layout) fails
    loudly instead of silently mixing parquet schemas on append."""
    import pytest as _pytest

    from mongo_es_spark.operators.text import incremental_substring_dedup

    store = str(tmp_path / "legacy")
    spark.createDataFrame(
        [(1, 2)], "h1 long, h2 long"
    ).write.parquet(store)
    with _pytest.raises(ValueError, match="replay tags"):
        incremental_substring_dedup(
            spark,
            spark.createDataFrame([(1, "a b c d")], "doc_id long, text string"),
            "doc_id", "text", store, window_tokens=4,
        )


def test_streaming_substring_dedup_equals_batch(spark):
    """The Structured-Streaming drain over an id-ordered feed equals
    the one-shot batch operator row for row (registry query pins the
    same at sf0.01 under the cross-engine oracle)."""
    from mongo_es_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    batch = REGISTRY["text_substring_dedup"][0](spark, sf)
    stream = REGISTRY["streaming_substring_dedup"][0](spark, sf)
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, stream.select(*batch.columns).collect()))
    assert b == s and len(b) == 500


def test_ivf_append_assigns_to_existing_cells(spark, tmp_path):
    """Appending new vectors to a materialized IVF index: assignment
    uses the EXISTING centroids (no retrain), search finds the new
    vectors through the probed partitions, replay appends nothing."""
    import numpy as np

    from mongo_es_spark.operators.similarity import (
        ann_ivf_search,
        append_to_ivf_index,
        materialize_ivf_index,
    )

    rng = np.random.RandomState(3)
    base = [
        (i, (rng.randn(8) + (5.0 if i % 2 else -5.0) * np.eye(8)[0])
            .astype(float).tolist())
        for i in range(40)
    ]
    df = spark.createDataFrame(base, "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivf")
    materialize_ivf_index(df, "vec_id", "embedding", path, n_cells=2)

    # a new vector deep inside the +x cluster
    target = [5.0] + [0.0] * 7
    newdf = spark.createDataFrame(
        [(100, target), (1, base[1][1])],  # id 1 already indexed
        "vec_id long, embedding array<float>",
    )
    appended = append_to_ivf_index(newdf, "vec_id", "embedding", path)
    assert appended == 1  # the resident id was skipped

    hits = ann_ivf_search(
        spark, path, target, "vec_id", k=3, n_probe=1
    ).collect()
    assert hits[0]["vec_id"] == 100 and hits[0]["score"] == 1.0

    # replay: nothing new to add
    assert append_to_ivf_index(newdf, "vec_id", "embedding", path) == 0


def test_keep_best_per_cluster_policy(spark):
    from mongo_es_spark.operators.dedup import keep_best_per_cluster

    df = spark.createDataFrame(
        [
            (1, 10, "a"),   # cluster {1,2,3}: 2 is longest -> kept
            (2, 99, "b"),
            (3, 50, "c"),
            (4, 7, "d"),    # singleton -> kept, own component
            (5, 20, "e"),   # cluster {5,6}: tie on quality ->
            (6, 20, "f"),   # smallest id (5) kept
        ],
        "doc_id long, n_chars long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "i long, j long"
    )
    got = {
        r["doc_id"]: r["component"]
        for r in keep_best_per_cluster(
            df, pairs, "doc_id", "n_chars"
        ).collect()
    }
    assert got == {2: 1, 4: 4, 5: 5}


def test_normalized_dedup_case_punct_space(spark):
    from mongo_es_spark.operators.dedup import normalized_dedup

    df = spark.createDataFrame(
        [
            (1, "Hello,  World!"),
            (2, "hello world"),
            (3, "HELLO   world."),
            (4, "different doc"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["norm_text"]: (r["doc_id"], r["multiplicity"])
        for r in normalized_dedup(df, "doc_id", "text").collect()
    }
    assert rows == {"hello world": (1, 3), "different doc": (4, 1)}


def test_boilerplate_removal_semantics(spark):
    from mongo_es_spark.operators.text import boilerplate_removal

    # chunk_words=2: "c1 c2" is the shared template chunk (df=3);
    # everything else is unique per doc
    df = spark.createDataFrame(
        [
            (1, "c1 c2 u1 u2"),
            (2, "c1 c2 v1 v2"),
            (3, "w1 w2 c1 c2"),
            (4, "x1 x2 x3"),       # odd tail chunk "x3"
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_removed"], r["clean_text"])
        for r in boilerplate_removal(
            df, "doc_id", "text", chunk_words=2, min_df=2
        ).collect()
    }
    assert got[1] == (2, 1, "u1 u2")
    assert got[2] == (2, 1, "v1 v2")
    assert got[3] == (2, 1, "w1 w2")
    assert got[4] == (2, 0, "x1 x2 x3")


def test_boilerplate_scoped_by_source(spark):
    from mongo_es_spark.operators.text import boilerplate_removal

    # same chunk across two sources: df is counted per source, so
    # neither side reaches min_df=2 and nothing is removed
    df = spark.createDataFrame(
        [
            (1, "s1", "c1 c2"),
            (2, "s2", "c1 c2"),
        ],
        "doc_id long, source string, text string",
    )
    got = {
        r["doc_id"]: r["n_removed"]
        for r in boilerplate_removal(
            df, "doc_id", "text", chunk_words=2, min_df=2,
            scope_cols=["source"],
        ).collect()
    }
    assert got == {1: 0, 2: 0}


def test_key_skew_profile_numbers(spark):
    from mongo_es_spark.operators.profile import key_skew_profile

    # key a: 8 rows, b: 1, c: 1  -> n=10, keys=3, avg=10/3,
    # skew = 8/(10/3) = 2.4 -> recommended_salts = ceil(2.4/4)=1
    df = spark.createDataFrame(
        [("a",)] * 8 + [("b",)] + [("c",)], "k string"
    )
    r = key_skew_profile(df, ["k"], top_k=2).collect()[0]
    assert r["n_rows"] == 10 and r["n_keys"] == 3
    assert r["max_key_rows"] == 8
    assert abs(r["skew_ratio"] - 2.4) < 1e-9
    assert abs(r["topk_share"] - 0.9) < 1e-9
    assert r["recommended_salts"] == 1


def test_quality_rank_keeps_top_half_per_group(spark):
    from mongo_es_spark.operators.text import quality_rank_filter

    # lang A: clearly ordered scores; lang B: one doc (median == its
    # own score -> kept)
    df = spark.createDataFrame(
        [
            (1, "A", "a b c d e f g h i j k l"),
            (2, "A", "a a a a a a a a"),
            (3, "B", "unique words here"),
        ],
        "doc_id long, lang string, text string",
    )
    kept = quality_rank_filter(
        df, "doc_id", "text", ["lang"], quantile=0.5
    )
    ids = {r["doc_id"] for r in kept.collect()}
    assert 3 in ids            # singleton group always survives
    assert 1 in ids and 2 not in ids   # distinct-ratio favors doc 1


def test_ngram_novelty_shared_vs_unique(spark):
    from mongo_es_spark.operators.text import ngram_novelty

    df = spark.createDataFrame(
        [
            (1, "x y z q r s"),      # shares prefix 3-grams with 2
            (2, "x y z q a b"),
            (3, "totally different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["novelty"])
        for r in ngram_novelty(df, "doc_id", "text", n=3).collect()
    }
    # doc1/doc2: 4 grams each, share "x y z" and "y z q" -> 2 unique
    assert got[1] == (4, 0.5) and got[2] == (4, 0.5)
    assert got[3] == (4, 1.0)


def test_incremental_boilerplate_matches_full_corpus(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        boilerplate_clean_over_store,
        boilerplate_removal,
        incremental_boilerplate,
    )

    rows = [
        (1, "c1 c2 u1 u2"),
        (2, "c1 c2 v1 v2"),
        (3, "w1 w2 c1 c2"),
        (4, "x1 x2 x3"),
    ]
    schema = "doc_id long, text string"
    full = spark.createDataFrame(rows, schema)
    store = str(tmp_path / "bp_store")

    b1 = spark.createDataFrame(rows[:2], schema)
    b2 = spark.createDataFrame(rows[2:], schema)
    out1 = incremental_boilerplate(
        spark, b1, "doc_id", "text", store, chunk_words=2, min_df=2
    )
    # running semantics: within batch 1 alone "c1 c2" already has
    # df=2 -> removed from both docs
    got1 = {r["doc_id"]: r["n_removed"] for r in out1.collect()}
    assert got1 == {1: 1, 2: 1}
    out2 = incremental_boilerplate(
        spark, b2, "doc_id", "text", store, chunk_words=2, min_df=2
    )
    # doc 3's "c1 c2" hits the STORE (df 2 prior + 1) -> removed
    got2 = {r["doc_id"]: r["n_removed"] for r in out2.collect()}
    assert got2 == {3: 1, 4: 0}

    # the store now holds full-corpus DF counts: over-store cleaning
    # of the whole corpus == the batch operator on the whole corpus
    ref = {
        tuple(r)
        for r in boilerplate_removal(
            full, "doc_id", "text", chunk_words=2, min_df=2
        ).collect()
    }
    got = {
        tuple(r)
        for r in boilerplate_clean_over_store(
            spark, full, "doc_id", "text", store,
            chunk_words=2, min_df=2,
        ).collect()
    }
    assert got == ref

    # replay: re-feeding batch 2 appends nothing and returns the same
    n_store = spark.read.parquet(store).count()
    out2b = incremental_boilerplate(
        spark, b2, "doc_id", "text", store, chunk_words=2, min_df=2
    )
    assert {r["doc_id"]: r["n_removed"] for r in out2b.collect()} == got2
    assert spark.read.parquet(store).count() == n_store

    # chunk-width mismatch fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="chunk_words"):
        incremental_boilerplate(
            spark, b2, "doc_id", "text", store, chunk_words=3, min_df=2
        )


def test_cdc_chunks_cover_and_shift_resilience(spark):
    import hashlib

    from mongo_es_spark.operators.multimodal import content_defined_chunks

    base = bytes(
        hashlib.md5(bytes([i % 256, i // 256])).digest()[0]
        for i in range(400)
    ) * 2  # 800 pseudo-random-but-deterministic bytes
    shifted = b"PREFIX!!" + base
    df = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytearray(shifted)), (3, bytearray(base))],
        "doc_id long, payload binary",
    )
    rows = content_defined_chunks(
        df, window=4, mask_bits=5, min_len=16, max_len=64
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, ch in by_doc.items():
        ch.sort(key=lambda r: r["chunk_idx"])
        # exact cover: contiguous, lengths sum to payload size
        pos = 0
        for r in ch:
            assert r["offset"] == pos and 1 <= r["length"] <= 64
            pos += r["length"]
        assert pos == (808 if doc == 2 else 800)
        # all but the last chunk respect min_len
        assert all(r["length"] >= 16 for r in ch[:-1])
    # identical payloads -> identical chunk sequences
    assert [r["digest"] for r in by_doc[1]] == [
        r["digest"] for r in by_doc[3]
    ]
    # shift resilience: after an 8-byte prefix insertion most chunk
    # digests are still shared (fixed-size chunking would share none)
    d1 = {r["digest"] for r in by_doc[1]}
    d2 = {r["digest"] for r in by_doc[2]}
    assert len(d1 & d2) >= len(d1) * 0.6


def test_boilerplate_null_text_survives(spark):
    from mongo_es_spark.operators.text import boilerplate_removal

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_chunks"], r["clean_text"])
        for r in boilerplate_removal(
            df, "doc_id", "text", chunk_words=2, min_df=2
        ).collect()
    }
    # null text folds to the empty group: both null docs present,
    # their single empty chunk removed as a df=2 template
    assert set(got) == {1, 2, 3}
    assert got[2] == (1, "") and got[3] == (1, "")


def test_boilerplate_null_scope_survives(spark):
    from mongo_es_spark.operators.text import boilerplate_removal

    # two docs with a NULL source: scoped DF counting must treat the
    # null scope as one group (template removed at df=2), and the
    # join-back must not drop null-scope docs
    df = spark.createDataFrame(
        [
            (1, None, "c1 c2"),
            (2, None, "c1 c2 u1 u2"),
            (3, "s1", "c1 c2"),
        ],
        "doc_id long, source string, text string",
    )
    got = {
        r["doc_id"]: r["n_removed"]
        for r in boilerplate_removal(
            df, "doc_id", "text", chunk_words=2, min_df=2,
            scope_cols=["source"],
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 0}


def test_keep_best_near_dup_short_groups_stay_singletons(spark):
    # ADVICE r4: clone groups too short to shingle (empty / < n
    # tokens / null) must NOT collapse to one survivor — the Jaccard
    # semantics (and drop_near_duplicates) keep each as a singleton
    from mongo_es_spark.operators.dedup import (
        drop_near_duplicates,
        keep_best_near_dup,
    )

    base = "the quick brown fox jumps over the lazy dog again and"
    df = spark.createDataFrame(
        [
            (1, base + " alpha", 10),
            (2, base + " beta", 99),      # near-dup cluster {1,2}: 2 wins
            (3, "", 5),                   # empty clones: all kept
            (4, "", 7),
            (5, "tiny", 3),               # < n tokens clones: all kept
            (6, "tiny", 4),
            (7, None, 1),                 # null texts: kept
            (8, None, 2),
        ],
        "doc_id long, text string, n_chars long",
    )
    kept = keep_best_near_dup(
        df, "doc_id", "text", "n_chars", n=3, threshold=0.5,
        keep_cols=["doc_id", "n_chars"],
    )
    got = sorted(r["doc_id"] for r in kept.collect())
    assert got == [2, 3, 4, 5, 6, 7, 8]
    # and it mirrors drop_near_duplicates' survivor set cardinality
    assert drop_near_duplicates(
        df, "doc_id", "text", n=3, threshold=0.5
    ).count() == 7


def test_normalized_dedup_unicode_and_empty_guard(spark):
    # ADVICE r4: Unicode letters survive normalization; texts whose
    # normalization is empty (symbol-only / null) stay singletons
    from mongo_es_spark.operators.dedup import normalized_dedup

    df = spark.createDataFrame(
        [
            (1, "你好世界"),    # CJK
            (2, "你好世界!!"),  # CJK + trailing punct: same group
            (3, "Привет"),  # Cyrillic
            (4, "!!! ???"),                     # symbol-only -> empty norm
            (5, "@@@"),                         # symbol-only -> empty norm
            (6, None),
            (7, None),
        ],
        "doc_id long, text string",
    )
    rows = normalized_dedup(df, "doc_id", "text").collect()
    by_id = {r["doc_id"]: r for r in rows}
    # CJK pair merged (punct stripped), Cyrillic its own group
    assert by_id[1]["multiplicity"] == 2 and 2 not in by_id
    assert by_id[3]["multiplicity"] == 1
    # empty-norm and null docs each kept as singletons
    for d in (4, 5, 6, 7):
        assert by_id[d]["multiplicity"] == 1
    assert len(rows) == 6


def test_quantize_null_vector_stays_null(spark):
    # ADVICE r4: null-in/null-out — a missing embedding must not
    # become codes=[] with a meaningless scale
    from mongo_es_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.5]),
            (2, None),
            (3, [0.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r
        for r in quantize_embeddings(df, "vec_id", "embedding").collect()
    }
    assert got[2]["scale"] is None and got[2]["codes"] is None
    assert got[1]["codes"] is not None and len(got[1]["codes"]) == 3
    assert got[3]["codes"] == [0, 0, 0]
    # all-null batch exercises the vstack-bypass path too
    df2 = spark.createDataFrame(
        [(9, None)], "vec_id long, embedding array<double>"
    )
    r9 = quantize_embeddings(df2, "vec_id", "embedding").head()
    assert r9["scale"] is None and r9["codes"] is None


def test_incremental_boilerplate_content_change_is_new_batch(
    spark, tmp_path
):
    # ADVICE r4: same ids + different text must NOT classify as a
    # replay — the digest folds content, so the store grows
    from mongo_es_spark.operators.text import incremental_boilerplate

    store = str(tmp_path / "bp_store")
    b1 = spark.createDataFrame(
        [(1, "tpl a b c unique one"), (2, "tpl a b c unique two")],
        "doc_id long, text string",
    )
    incremental_boilerplate(
        spark, b1, "doc_id", "text", store, chunk_words=2, min_df=2
    ).collect()
    n1 = spark.read.parquet(store).count()
    # true replay: appends nothing
    incremental_boilerplate(
        spark, b1, "doc_id", "text", store, chunk_words=2, min_df=2
    ).collect()
    assert spark.read.parquet(store).count() == n1
    # same ids, edited content: a NEW batch, store must grow
    b1_edited = spark.createDataFrame(
        [(1, "edited x y z alpha"), (2, "edited x y z beta")],
        "doc_id long, text string",
    )
    incremental_boilerplate(
        spark, b1_edited, "doc_id", "text", store,
        chunk_words=2, min_df=2,
    ).collect()
    assert spark.read.parquet(store).count() > n1


def test_streaming_boilerplate_output_replay_idempotent(
    spark, tmp_path
):
    # ADVICE r4: a foreachBatch replay must not duplicate the cleaned
    # rows under out_path — same batch id overwrites its own partition
    from mongo_es_spark.streaming.fold import write_batch_output

    out_path = str(tmp_path / "bp_out")
    batch = spark.createDataFrame(
        [(1, 4, 1, "clean one"), (2, 4, 0, "clean two")],
        "doc_id long, n_chunks long, n_removed long, clean_text string",
    )
    write_batch_output(batch, 0, out_path)
    write_batch_output(batch, 0, out_path)  # replay of batch 0
    assert spark.read.parquet(out_path).count() == 2
    # a different batch id appends alongside, untouched
    b2 = spark.createDataFrame(
        [(3, 2, 0, "clean three")],
        "doc_id long, n_chunks long, n_removed long, clean_text string",
    )
    write_batch_output(b2, 1, out_path)
    df = spark.read.parquet(out_path)
    assert df.count() == 3
    assert df.select("__batch_id").distinct().count() == 2


def test_decode_image_both_paths(spark):
    # one contract, two decode paths: pillow (PNG fixture) where it
    # imports, the stdlib PPM/BMP fallback everywhere else — a solid
    # red image decodes identically on both (resample-invariant)
    from mongo_es_spark.operators.multimodal import (
        _have_pil,
        decode_image,
    )

    if _have_pil():
        from io import BytesIO

        from PIL import Image

        buf = BytesIO()
        Image.new("RGB", (8, 6), (255, 0, 0)).save(buf, format="PNG")
        good = buf.getvalue()
    else:
        good = b"P6\n8 6\n255\n" + bytes([255, 0, 0] * 48)
    df = spark.createDataFrame(
        [(1, bytearray(good), "image/x"),
         (2, bytearray(b"not an image"), "image/x")],
        "doc_id long, payload binary, media_type string",
    )
    rows = decode_image(df, target_size=(4, 4)).collect()
    # corrupt payload dropped, good one decoded
    assert [r["doc_id"] for r in rows] == [1]
    r = rows[0]
    assert (r["width"], r["height"]) == (8, 6)
    assert len(r["pixels"]) == 4 * 4 * 3
    assert abs(r["pixels"][0] - 1.0) < 1e-6  # red channel
    assert abs(r["pixels"][1]) < 1e-6


def test_decode_image_stdlib_bmp(spark):
    # the BMP leg of the fallback: bottom-up rows, BGR order, 4-byte
    # padding — a 2-row image with distinct row colors pins the
    # row-flip and channel swap
    import struct

    from mongo_es_spark.operators.multimodal import _stdlib_decode_image

    w, h = 2, 2
    stride = (w * 3 + 3) & ~3
    red_bgr = bytes([0, 0, 255] * w) + b"\x00" * (stride - w * 3)
    blue_bgr = bytes([255, 0, 0] * w) + b"\x00" * (stride - w * 3)
    body = red_bgr + blue_bgr  # bottom row first on disk
    hdr = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0
        )
    )
    arr = _stdlib_decode_image(hdr + body)
    assert arr.shape == (2, 2, 3)
    assert arr[0, 0].tolist() == [0, 0, 255]  # top row = blue (flip)
    assert arr[1, 0].tolist() == [255, 0, 0]  # bottom row = red


def test_decode_audio_both_paths(spark):
    # ffmpeg where present, the stdlib `wave` fallback everywhere
    # else — the PCM16 mono fixture decodes identically on both
    import io
    import struct
    import wave

    from mongo_es_spark.operators.multimodal import decode_audio

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(
            b"".join(struct.pack("<h", 1000) for _ in range(800))
        )
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()), "audio/wav"),
         (2, bytearray(b"junk"), "audio/wav")],
        "doc_id long, payload binary, media_type string",
    )
    rows = decode_audio(df, sample_rate=8000).collect()
    assert [r["doc_id"] for r in rows] == [1]
    assert rows[0]["sample_rate"] == 8000
    # 0.1 s at 8 kHz -> ~800 samples of amplitude 1000/32768
    assert abs(len(rows[0]["pcm"]) - 800) <= 8
    assert abs(rows[0]["pcm"][10] - 1000 / 32768) < 1e-3


def test_decode_audio_stereo_resample(spark):
    # channel mixdown + resample through the public operator: a
    # stereo 16 kHz fixture decoded at 8 kHz halves the sample count
    # and averages the channels (ffmpeg and the fallback agree within
    # resampler tolerance on a constant signal)
    import io
    import struct
    import wave

    from mongo_es_spark.operators.multimodal import decode_audio

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(
            b"".join(
                struct.pack("<hh", 2000, 1000) for _ in range(1600)
            )
        )
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()), "audio/wav")],
        "doc_id long, payload binary, media_type string",
    )
    rows = decode_audio(df, sample_rate=8000).collect()
    assert len(rows) == 1
    pcm = rows[0]["pcm"]
    assert abs(len(pcm) - 800) <= 8
    assert abs(pcm[50] - 1500 / 32768) < 2e-3  # mean of the channels


def test_streaming_ivf_maintenance(spark, tmp_path):
    # streaming edition of the IVF store (fold_into_ivf_index under
    # run_fold_stream): first trigger trains, later triggers append
    # idempotently; the final index holds every vector exactly once.
    # The feed is ordered, so slice 0 always trains.
    from pyspark.sql import functions as F

    from mongo_es_spark.operators.similarity import (
        append_to_ivf_index,
        fold_into_ivf_index,
    )
    from mongo_es_spark.sources.tables import load_table
    from mongo_es_spark.streaming.fold import (
        run_fold_stream,
        write_ordered_feed,
    )

    emb = load_table(
        spark, "/root/testdata/sf0.001", "embeddings"
    ).select("vec_id", "embedding")
    n = emb.count()
    feed = str(tmp_path / "feed")
    write_ordered_feed(
        feed, [emb.filter(F.pmod("vec_id", F.lit(3)) == i) for i in range(3)]
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    index = str(tmp_path / "index")
    q = run_fold_stream(
        stream,
        lambda b, _: fold_into_ivf_index(b, "vec_id", "embedding", index),
        checkpoint=str(tmp_path / "ckpt"),
    )
    drain(q)
    idx = spark.read.parquet(f"{index}/vectors")
    assert idx.count() == n
    assert idx.select("vec_id").distinct().count() == n
    # replayed slice appends nothing
    assert (
        append_to_ivf_index(
            emb.filter(F.pmod("vec_id", F.lit(3)) == 1),
            "vec_id",
            "embedding",
            index,
        )
        == 0
    )


def test_ann_batch_matches_single_query_form(spark, emb):
    # batch retrieval for one query must reproduce the single-query
    # operator exactly (same quantizer seed, same probes)
    from mongo_es_spark.operators.similarity import (
        ann_ivf_batch_topk,
        ann_ivf_topk,
    )

    qs = emb.filter(F.col("vec_id") == 3)
    batch = ann_ivf_batch_topk(
        emb, "vec_id", "embedding", qs, "vec_id", "embedding",
        k=5, n_probe=4, exclude_self=True,
    ).orderBy("rank")
    single = ann_ivf_topk(
        emb, "vec_id", "embedding", query_id=3, k=5, n_probe=4
    )
    got = [(r["vec_id"], r["score"]) for r in batch.collect()]
    want = [(r["vec_id"], r["score"]) for r in single.collect()]
    assert got == want
    assert [r["q_id"] for r in batch.collect()] == [3] * 5


def test_line_dedup_first_occurrence_wins(spark):
    from mongo_es_spark.operators.text import line_dedup

    # chunk_words=2: "c1 c2" appears in docs 1, 2 and twice inside
    # doc 3 — exactly one occurrence (doc 1, chunk 0) survives.
    df = spark.createDataFrame(
        [
            (1, "c1 c2 u1 u2"),
            (2, "c1 c2 v1 v2"),
            (3, "c1 c2 c1 c2"),      # intra-doc repeat, both lose
            (4, "x1 x2 x3"),         # odd tail chunk "x3"
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_chunks"], r["n_kept"])
        for r in line_dedup(df, "doc_id", "text", chunk_words=2).collect()
    }
    assert got[1] == ("c1 c2 u1 u2", 2, 2)
    assert got[2] == ("v1 v2", 2, 1)
    assert got[3] == ("", 2, 0)
    assert got[4] == ("x1 x2 x3", 2, 2)


def test_line_dedup_clone_collapse_and_empty(spark):
    from mongo_es_spark.operators.text import line_dedup

    # clone group {10, 11, 12}: only the representative (min id)
    # keeps anything; null and empty texts fold into the '' group,
    # whose single '' chunk survives once at the smallest doc id.
    df = spark.createDataFrame(
        [
            (10, "a b c d"),
            (11, "a b c d"),
            (12, "a b c d"),
            (20, None),
            (21, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_chunks"], r["n_kept"])
        for r in line_dedup(df, "doc_id", "text", chunk_words=2).collect()
    }
    assert got[10] == ("a b c d", 2, 2)
    assert got[11] == ("", 2, 0)
    assert got[12] == ("", 2, 0)
    # the '' group: rep 20 keeps the single empty chunk, 21 loses it
    assert got[20] == ("", 1, 1)
    assert got[21] == ("", 1, 0)


def test_edit_distance_pairs_rejects_permuted_ngrams(spark):
    from mongo_es_spark.operators.dedup import edit_distance_pairs

    # 1 vs 2: one substitution — passes both gates.  1 vs 3: same
    # 4-gram blocks in REVERSED order — Jaccard-similar but
    # sequence-distant, so the edit gate must reject it.
    df = spark.createDataFrame(
        [
            (1, "aaaa bbbb cccc dddd"),
            (2, "aaaa bbbb cccc dddx"),
            (3, "dddd cccc bbbb aaaa"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["i"], r["j"]): (r["dist"], r["ratio"])
        for r in edit_distance_pairs(
            df, "doc_id", "text", n=3, jaccard_floor=0.3, max_ratio=0.1
        ).collect()
    }
    assert rows == {(1, 2): (1, round(1 / 19, 6))}


def test_edit_distance_pairs_banded_cap_and_clones(spark):
    from mongo_es_spark.operators.dedup import edit_distance_pairs

    # max_dist=2 banded DP: the dist-4 pair (1,4) is dropped even
    # though max_ratio=1.0 would admit it; clone pair (2,20) short-
    # circuits to dist 0 without the DP.
    df = spark.createDataFrame(
        [
            (1, "aaaa bbbb cccc dddd"),
            (2, "aaaa bbbb cccc dddx"),
            (20, "aaaa bbbb cccc dddx"),
            (4, "aaaa bbbb cccc wxyz"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["i"], r["j"]): r["dist"]
        for r in edit_distance_pairs(
            df,
            "doc_id",
            "text",
            n=3,
            jaccard_floor=0.3,
            max_ratio=1.0,
            max_dist=2,
        ).collect()
    }
    assert rows[(2, 20)] == 0
    assert rows[(1, 2)] == 1
    # every pair against doc 4 ("wxyz" tail, dist 4) is beyond the cap
    assert (1, 4) not in rows and (2, 4) not in rows


def test_kmeans_clusters_separates_blobs(spark):
    from mongo_es_spark.operators.similarity import kmeans_clusters

    # two orthogonal blobs with tiny jitter: k=2 must put each blob in
    # one cluster, and every sim is the cosine to a unit centroid
    rows = []
    for i in range(8):
        rows.append((i, [10.0, 0.1 * i, 0.0, 0.0]))
    for i in range(8, 16):
        rows.append((i, [0.0, 0.0, 10.0, 0.1 * i]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, C = kmeans_clusters(df, "vec_id", "embedding", k=2, seed=7)
    got = {r["vec_id"]: (r["cluster"], r["sim"]) for r in assigned.collect()}
    blob_a = {got[i][0] for i in range(8)}
    blob_b = {got[i][0] for i in range(8, 16)}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b
    assert all(s > 0.99 for _, s in got.values())
    assert C.shape[0] == 2


def test_incremental_line_dedup_store_and_replay(spark, tmp_path):
    import pytest
    from mongo_es_spark.operators.text import incremental_line_dedup

    store = str(tmp_path / "ld_store")
    b0 = spark.createDataFrame(
        [(1, "c1 c2 u1 u2"), (2, "c1 c2 v1 v2")],
        "doc_id long, text string",
    )
    got0 = {
        r["doc_id"]: (r["clean_text"], r["n_kept"])
        for r in incremental_line_dedup(
            spark, b0, "doc_id", "text", store, chunk_words=2
        ).collect()
    }
    assert got0[1] == ("c1 c2 u1 u2", 2)
    assert got0[2] == ("v1 v2", 1)

    # batch 1: "v1 v2" and "c1 c2" are store hits, "w1 w2" is fresh
    b1 = spark.createDataFrame(
        [(5, "v1 v2 w1 w2"), (6, "c1 c2")], "doc_id long, text string"
    )
    got1 = {
        r["doc_id"]: (r["clean_text"], r["n_kept"])
        for r in incremental_line_dedup(
            spark, b1, "doc_id", "text", store, chunk_words=2
        ).collect()
    }
    assert got1[5] == ("w1 w2", 1)
    assert got1[6] == ("", 0)

    # replaying batch 1 returns identical rows and appends nothing
    n_store = spark.read.parquet(store).count()
    replay = {
        r["doc_id"]: (r["clean_text"], r["n_kept"])
        for r in incremental_line_dedup(
            spark, b1, "doc_id", "text", store, chunk_words=2
        ).collect()
    }
    assert replay == got1
    assert spark.read.parquet(store).count() == n_store

    # chunk-width mismatch refuses loudly
    with pytest.raises(ValueError, match="chunk_words"):
        incremental_line_dedup(
            spark, b1, "doc_id", "text", store, chunk_words=3
        )


def test_zorder_blocks_bound_both_dimensions(spark, tmp_path):
    from mongo_es_spark.operators.layout import (
        zorder_frame,
        write_zorder_layout,
        zorder_block_stats,
    )

    # complete 64x64 grid with 6-bit codes: each of the 64 z-blocks
    # (z >> 6) is exactly an 8x8 rectangle -> span 7 in BOTH dims,
    # where a 1-D sort on x would leave the y span at the full 63.
    rows = [(x * 64 + y, x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "rid long, x long, y long")
    z = zorder_frame(df, "x", "y", bits=6)
    stats = zorder_block_stats(z, "x", "y", block_shift=6).collect()
    assert len(stats) == 64
    assert all(r["x_span"] == 7 and r["y_span"] == 7 for r in stats)
    assert all(r["n_rows"] == 64 for r in stats)

    # the layout write clusters files by contiguous z-ranges
    out = str(tmp_path / "zlayout")
    write_zorder_layout(df, "x", "y", out, n_files=16, bits=6)
    back = spark.read.parquet(out)
    assert back.count() == 64 * 64
    # every file covers a bounded rectangle: max in-file span of each
    # dim is far below the 63 a 1-D-sorted layout leaves on y
    import glob as _glob

    spans = []
    for f in _glob.glob(out + "/part-*.parquet"):
        one = spark.read.parquet(f).agg(
            (F.max("x") - F.min("x")).alias("xs"),
            (F.max("y") - F.min("y")).alias("ys"),
        ).head()
        spans.append((one["xs"], one["ys"]))
    assert len(spans) == 16
    assert max(s[0] for s in spans) <= 31
    assert max(s[1] for s in spans) <= 31


def test_line_dedup_matches_python_model(spark):
    """Randomized (fixed-seed) corpus vs a direct Python model of the
    declared semantics — clones, intra-doc repeats, empties, nulls,
    odd tails all mixed."""
    import math
    import random
    import re as _re

    from mongo_es_spark.operators.text import line_dedup

    rng = random.Random(7)
    vocab = ["a", "b", "c", "d", "e", "f"]
    rows, texts = [], []
    for d in range(80):
        r = rng.random()
        if r < 0.08:
            t = None
        elif r < 0.16:
            t = ""
        elif r < 0.4 and texts:
            t = rng.choice(texts)          # clone
        else:
            t = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 9)))
            texts.append(t)
        rows.append((d, t))

    w = 2
    occ = []
    for d, t in rows:
        s = (t or "").strip()
        toks = _re.split(r"\s+", s) if s else []
        nch = max(math.ceil(len(toks) / w), 1)
        for i in range(nch):
            occ.append((d, i, " ".join(toks[i * w:(i + 1) * w])))
    first = {}
    for d, i, seg in sorted(occ):
        first.setdefault(seg, (d, i))
    want = {}
    for d, _t in rows:
        mine = sorted((i, seg) for (dd, i, seg) in occ if dd == d)
        kept = [(i, seg) for i, seg in mine if first[seg] == (d, i)]
        want[d] = (" ".join(seg for _, seg in kept), len(mine), len(kept))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_chunks"], r["n_kept"])
        for r in line_dedup(df, "doc_id", "text", chunk_words=w).collect()
    }
    assert got == want


def test_zorder_matches_python_model(spark):
    import random

    from mongo_es_spark.operators.layout import zorder_frame

    rng = random.Random(11)
    rows = [
        (i, rng.randint(-500, 500), rng.randint(-10**12, 10**12))
        for i in range(300)
    ]
    bits = 8
    xs = [x for _, x, _ in rows]
    ys = [y for _, _, y in rows]
    xlo, xhi, ylo, yhi = min(xs), max(xs), min(ys), max(ys)
    m = (1 << bits) - 1

    def z_of(x, y):
        sx = ((x - xlo) * m) // max(xhi - xlo, 1)
        sy = ((y - ylo) * m) // max(yhi - ylo, 1)
        z = 0
        for i in range(bits):
            z |= ((sx >> i) & 1) << (2 * i)
            z |= ((sy >> i) & 1) << (2 * i + 1)
        return z

    want = {rid: z_of(x, y) for rid, x, y in rows}
    df = spark.createDataFrame(rows, "rid long, x long, y long")
    got = {
        r["rid"]: r["z"]
        for r in zorder_frame(df, "x", "y", bits=bits).collect()
    }
    assert got == want


def test_line_dedup_scoped_by_source(spark):
    from mongo_es_spark.operators.text import line_dedup

    # "c1 c2" is shared across sources: scoped dedup keeps it once
    # PER source; a null scope forms its own group.
    df = spark.createDataFrame(
        [
            (1, "c1 c2 u1 u2", "a"),
            (2, "c1 c2 v1 v2", "a"),
            (3, "c1 c2 w1 w2", "b"),
            (4, "c1 c2", None),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"])
        for r in line_dedup(
            df, "doc_id", "text", chunk_words=2, scope_cols=["source"]
        ).collect()
    }
    assert got[1] == ("c1 c2 u1 u2", 2)
    assert got[2] == ("v1 v2", 1)
    assert got[3] == ("c1 c2 w1 w2", 2)   # source b keeps its own copy
    assert got[4] == ("c1 c2", 1)         # null scope keeps its own copy


def test_edit_distance_pairs_clone_weighted_contract(spark):
    from mongo_es_spark.operators.dedup import edit_distance_pairs
    from pyspark.sql import functions as _F

    # 3 clones of A, 2 clones of B (a near-dup of A): bounded output
    # is ONE cross rep row with n_pairs=6 plus (rep,rep) rows for the
    # within-group exact pairs; sum(n_pairs) equals the expanded count.
    df = spark.createDataFrame(
        [
            (1, "aaaa bbbb cccc dddd"), (2, "aaaa bbbb cccc dddd"),
            (3, "aaaa bbbb cccc dddd"),
            (10, "aaaa bbbb cccc dddx"), (11, "aaaa bbbb cccc dddx"),
        ],
        "doc_id long, text string",
    )
    kw = dict(n=3, jaccard_floor=0.3, max_ratio=0.2)
    w = {
        (r["i"], r["j"]): (r["dist"], r["n_pairs"])
        for r in edit_distance_pairs(
            df, "doc_id", "text", clone_weighted=True, **kw
        ).collect()
    }
    assert w == {(1, 10): (1, 6), (1, 1): (0, 3), (10, 10): (0, 1)}
    expanded = edit_distance_pairs(df, "doc_id", "text", **kw)
    assert expanded.count() == sum(n for _, n in w.values())
    # multiplicity algebra: expanded rows with dist 0 == within mass
    assert (
        expanded.filter(_F.col("dist") == 0).count()
        == w[(1, 1)][1] + w[(10, 10)][1]
    )


def test_keep_best_semantic_prefers_high_score(spark):
    from mongo_es_spark.operators.similarity import keep_best_semantic

    # component {1, 2, 3}: near-identical vectors; doc 2 has the best
    # score. doc 9 is orthogonal (singleton, always kept). docs 4/5
    # are exact clones of 1's vector with lower scores.
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.01]),
            (2, [1.0, 0.0, 0.02]),
            (3, [1.0, 0.0, 0.03]),
            (4, [1.0, 0.0, 0.01]),
            (5, [1.0, 0.0, 0.01]),
            (9, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    scores = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (4, 10), (5, 10), (9, 1)],
        "vec_id long, q long",
    )
    out = {
        r["vec_id"]: (r["component"], r["kept"])
        for r in keep_best_semantic(
            emb, "vec_id", "embedding", scores, "q",
            n_clusters=2, threshold=0.9,
        ).collect()
    }
    comp = out[1][0]
    assert all(out[d][0] == comp for d in (2, 3, 4, 5))
    assert out[2][1] is True                       # best score wins
    assert all(out[d][1] is False for d in (1, 3, 4, 5))
    assert out[9][1] is True                       # singleton kept


def test_keep_best_semantic_tie_breaks_to_min_id(spark):
    from mongo_es_spark.operators.similarity import keep_best_semantic

    emb = spark.createDataFrame(
        [(7, [1.0, 0.0]), (3, [1.0, 0.001]), (5, [1.0, 0.002])],
        "vec_id long, embedding array<double>",
    )
    scores = spark.createDataFrame(
        [(7, 10), (3, 10), (5, 10)], "vec_id long, q long"
    )
    out = {
        r["vec_id"]: r["kept"]
        for r in keep_best_semantic(
            emb, "vec_id", "embedding", scores, "q",
            n_clusters=1, threshold=0.9,
        ).collect()
    }
    assert out == {3: True, 5: False, 7: False}


def test_keep_best_semantic_unscored_docs_survive(spark):
    from mongo_es_spark.operators.similarity import keep_best_semantic

    # doc 2 has no score row: it must remain in the component and
    # lose to the scored member; an all-unscored component (8, 9)
    # still elects exactly one winner (min id).
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]), (2, [1.0, 0.001]),
            (8, [0.0, 1.0]), (9, [0.001, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    scores = spark.createDataFrame([(1, 5)], "vec_id long, q long")
    out = {
        r["vec_id"]: (r["kept"], r["q"])
        for r in keep_best_semantic(
            emb, "vec_id", "embedding", scores, "q",
            n_clusters=1, threshold=0.9,
        ).collect()
    }
    assert set(out) == {1, 2, 8, 9}
    assert out[1] == (True, 5)
    assert out[2] == (False, None)
    assert out[8][0] is True and out[9][0] is False


def test_kcenter_coreset_farthest_first(spark):
    from mongo_es_spark.operators.similarity import kcenter_coreset

    # three tight direction clusters: k=3 must pick one point from
    # each cluster, and the cover radius collapses to ~0 after the
    # third pick.
    rows = []
    for base, direc in [(0, (1.0, 0.0, 0.0)), (10, (0.0, 1.0, 0.0)),
                        (20, (0.0, 0.0, 1.0))]:
        for i in range(4):
            v = [direc[0] + 0.001 * i, direc[1], direc[2]]
            rows.append((base + i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centers = kcenter_coreset(df, "vec_id", "embedding", k=3).collect()
    ids = sorted(r["vec_id"] for r in centers)
    assert len(ids) == 3
    assert {i // 10 for i in ids} == {0, 1, 2}   # one per cluster
    assert centers[0]["vec_id"] == 0             # deterministic start
    radii = [r["radius_after"] for r in sorted(centers, key=lambda r: r["round"])]
    assert radii[0] >= radii[1] >= radii[2]
    assert radii[2] < 1e-5


def test_kcenter_k_capped_at_n(spark):
    from mongo_es_spark.operators.similarity import kcenter_coreset

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    centers = kcenter_coreset(df, "vec_id", "embedding", k=10).collect()
    assert sorted(r["vec_id"] for r in centers) == [1, 2]


def test_kcenter_driver_path_matches_distributed(spark, monkeypatch):
    """Both sides of the driver fast-path cutoff must make identical
    greedy selections (centers, rounds, radii) — including exact
    duplicate vectors, where ties break to the smaller id."""
    import random

    from mongo_es_spark.operators import similarity as sim

    rng = random.Random(41)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(80)
    ]
    rows += [(100 + i, list(rows[3][1])) for i in range(3)]  # dup ties
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    fast = sim.kcenter_coreset(df, "vec_id", "embedding", k=7).collect()
    monkeypatch.setattr(sim, "_DRIVER_KCENTER_CUTOFF", 0)
    slow = sim.kcenter_coreset(df, "vec_id", "embedding", k=7).collect()
    key = lambda r: r["round"]
    assert sorted(
        [(r["vec_id"], r["round"]) for r in fast], key=lambda t: t[1]
    ) == sorted(
        [(r["vec_id"], r["round"]) for r in slow], key=lambda t: t[1]
    )
    for a, b in zip(sorted(fast, key=key), sorted(slow, key=key)):
        assert abs(a["radius_after"] - b["radius_after"]) < 1e-12


def test_incremental_profile_merge_and_replay(spark, tmp_path):
    from mongo_es_spark.operators.profile import (
        incremental_profile,
        profile_over_store,
    )

    store = str(tmp_path / "prof")
    b0 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "id long, s string"
    )
    b1 = spark.createDataFrame(
        [(4, "a"), (5, "c"), (6, None)], "id long, s string"
    )
    incremental_profile(spark, b0, store, ["id", "s"])
    incremental_profile(spark, b1, store, ["id", "s"])
    got = {
        r["column"]: (r["n_rows"], r["n_nulls"], r["approx_distinct"])
        for r in profile_over_store(spark, store).collect()
    }
    assert got["id"] == (6, 0, 6)     # tiny cardinalities: HLL exact
    assert got["s"] == (6, 2, 3)      # nulls excluded from the sketch
    # replay: same content appends nothing
    n = spark.read.parquet(store).count()
    incremental_profile(spark, b1, store, ["id", "s"])
    assert spark.read.parquet(store).count() == n


def test_streaming_profile_drain(spark, tmp_path):
    from mongo_es_spark.operators.profile import (
        incremental_profile,
        profile_over_store,
    )
    from mongo_es_spark.streaming.fold import (
        run_fold_stream,
        write_ordered_feed,
    )

    feed = tmp_path / "feed"
    write_ordered_feed(str(feed), [
        [{"id": k, "s": f"v{k % 7}"} for k in range(ix * 10, ix * 10 + 10)]
        for ix in range(3)
    ])
    stream = spark.readStream.schema("id long, s string").option(
        "maxFilesPerTrigger", 1
    ).json(str(feed))
    store = str(tmp_path / "store")
    q = run_fold_stream(
        stream,
        lambda b, _: incremental_profile(spark, b, store, ["id", "s"]),
        checkpoint=str(tmp_path / "ckpt"),
    )
    drain(q)
    got = {
        r["column"]: (r["n_rows"], r["n_nulls"], r["approx_distinct"])
        for r in profile_over_store(spark, store).collect()
    }
    assert got["id"] == (30, 0, 30)
    assert got["s"] == (30, 0, 7)


def test_streaming_funnel_cross_batch_and_late(spark, tmp_path):
    from mongo_es_spark.streaming.fold import write_ordered_feed
    from mongo_es_spark.streaming.funnel import (
        funnel_snapshot,
        run_streaming_funnel,
    )

    feed = tmp_path / "ffeed"
    # user 1 converts across batches; user 2's purchase precedes its
    # click (never converts); user 3's batch-2 signup is LATE (behind
    # its own high-water mark) and must be dropped, not spliced
    b0 = [
        (1, 100, 1000, "signup"), (2, 101, 1000, "signup"),
        (2, 102, 1500, "purchase"), (3, 103, 5000, "signup"),
    ]
    b1 = [
        (1, 200, 2000, "click"), (2, 201, 2500, "click"),
        (3, 202, 1000, "signup"),          # late for user 3
        (1, 203, 3000, "purchase"),
    ]
    write_ordered_feed(str(feed), [
        [{"user_id": u, "event_id": e, "ts_ms": t, "event_type": ty}
         for u, e, t, ty in rows]
        for rows in (b0, b1)
    ])
    stream = spark.readStream.schema(
        "user_id long, event_id long, ts_ms long, event_type string"
    ).option("maxFilesPerTrigger", 1).json(str(feed))
    sink = str(tmp_path / "fsink")
    q = run_streaming_funnel(
        spark, stream, ("signup", "click", "purchase"),
        sink, str(tmp_path / "fckpt"),
    )
    drain(q)
    snap = {
        r["user_id"]: (r["step1_ms"], r["step2_ms"], r["step3_ms"],
                       r["converted"])
        for r in funnel_snapshot(spark, sink, 3).collect()
    }
    assert snap[1] == (1000, 2000, 3000, True)
    assert snap[2] == (1000, 2500, None, False)   # purchase-before-click
    assert snap[3] == (5000, None, None, False)
    # the late signup was dropped and surfaced in the counter
    log = spark.read.parquet(sink)
    assert log.filter(
        (F.col("user_id") == 3) & (F.col("late") == 1)
    ).count() == 1


def test_kcenter_over_reps_composition(spark):
    from mongo_es_spark.operators.similarity import kcenter_over_reps

    # three tight clusters, 30 points: reps reduce to <= n_cells
    # input points, greedy still lands one center per cluster
    rows = []
    for base, direc in [(0, (1.0, 0.0, 0.0)), (100, (0.0, 1.0, 0.0)),
                        (200, (0.0, 0.0, 1.0))]:
        for i in range(10):
            rows.append((base + i, [direc[0] + 0.001 * i, direc[1],
                                    direc[2]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centers, assigned = kcenter_over_reps(
        df, "vec_id", "embedding", k=3, n_cells=8
    )
    ids = sorted(r["vec_id"] for r in centers.collect())
    assert len(ids) == 3
    assert {i // 100 for i in ids} == {0, 1, 2}
    assert assigned.count() == 30


def test_profile_digest_sensitive_to_even_multiplicity(spark, tmp_path):
    # regression: two different batches whose rows all have even
    # multiplicity must NOT collide (a plain XOR digests both to 0)
    from mongo_es_spark.operators.profile import (
        incremental_profile,
        profile_over_store,
    )

    store = str(tmp_path / "prof")
    a = spark.createDataFrame([("a",), ("a",)], "s string")
    b = spark.createDataFrame([("b",), ("b",)], "s string")
    incremental_profile(spark, a, store, ["s"])
    incremental_profile(spark, b, store, ["s"])
    got = {
        r["column"]: (r["n_rows"], r["approx_distinct"])
        for r in profile_over_store(spark, store).collect()
    }
    assert got["s"] == (4, 2)
    # true replay of an even-multiplicity batch is still a no-op
    n = spark.read.parquet(store).count()
    incremental_profile(spark, a, store, ["s"])
    assert spark.read.parquet(store).count() == n


def test_zorder_refuses_overflowing_domain(spark):
    import pytest

    from mongo_es_spark.operators.layout import zorder_frame

    df = spark.createDataFrame(
        [(1, 0, 0), (2, 1, (1 << 62))], "rid long, x long, y long"
    )
    with pytest.raises(Exception, match="pre-scale"):
        zorder_frame(df, "x", "y", bits=8).collect()


def test_kcenter_and_kmeans_empty_input(spark):
    import pytest

    from mongo_es_spark.operators.similarity import (
        kcenter_coreset,
        kmeans_clusters,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    assert kcenter_coreset(empty, "vec_id", "embedding", k=4).count() == 0
    with pytest.raises(ValueError, match="empty input"):
        kmeans_clusters(empty, "vec_id", "embedding", k=4)


# ---------------------------------------------------------------------------
# Null-tolerance contract pins for the masked embedding kernels
# (_mask_stack / _scatter and every kernel built on them).  Contract:
# a batch containing NULL vectors must (a) not abort the job, (b) yield
# NULL outputs for exactly the NULL rows (or drop them from candidate
# sets), and (c) leave every non-null row's result bit-identical to the
# same operator run on the null-filtered frame — the training sample is
# null-filtered in both runs, so model state matches exactly.
# ---------------------------------------------------------------------------


def _null_vecs(df, ids, vec_col="embedding"):
    """Null out ``vec_col`` for the listed ids (when-without-otherwise
    keeps the array type and yields NULL)."""
    return df.withColumn(
        vec_col,
        F.when(~F.col("vec_id").isin(list(ids)), F.col(vec_col)),
    )


def test_mask_stack_fast_path_and_nulls():
    import numpy as np
    import pandas as pd

    from mongo_es_spark.operators.dedup import _mask_stack, _scatter

    # all-non-null fast path: float64 dense matrix, identity index
    s = pd.Series([np.array([1.0, 2.0]), np.array([3.0, 4.0])])
    M, idx = _mask_stack(s)
    assert M.dtype == np.float64 and M.shape == (2, 2)
    assert list(idx) == [0, 1]
    # holes: only non-null rows stacked, index points at them
    s2 = pd.Series([None, np.array([3.0, 4.0]), None], dtype=object)
    M2, idx2 = _mask_stack(s2)
    assert M2.shape == (1, 2) and list(idx2) == [1]
    out = _scatter(3, idx2, np.array([7.0]))
    assert out[0] is None and out[1] == 7.0 and out[2] is None
    # all-null and empty batches both give the (0, 0) sentinel
    M3, idx3 = _mask_stack(pd.Series([None, None], dtype=object))
    assert M3.shape == (0, 0) and len(idx3) == 0
    M4, idx4 = _mask_stack(pd.Series([], dtype=object))
    assert M4.shape == (0, 0) and len(idx4) == 0


def test_cosine_pairs_null_in_null_out(spark, emb):
    from mongo_es_spark.operators.dedup import cosine_pairs_col

    base = emb.limit(40).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    pairs = (
        base.alias("a")
        .join(
            base.alias("b"),
            F.col("a.vec_id") + 1 == F.col("b.vec_id"),
        )
        .select(
            F.col("a.vec_id").alias("i"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
        )
    )
    clean = {
        r["i"]: r["c"]
        for r in pairs.select(
            "i",
            F.round(cosine_pairs_col(F.col("va"), F.col("vb")), 6).alias("c"),
        ).collect()
    }
    holed = pairs.withColumn(
        "va", F.when(~F.col("i").isin([3, 7]), F.col("va"))
    ).withColumn("vb", F.when(~F.col("i").isin([7, 11]), F.col("vb")))
    got = {
        r["i"]: r["c"]
        for r in holed.select(
            "i",
            F.round(cosine_pairs_col(F.col("va"), F.col("vb")), 6).alias("c"),
        ).collect()
    }
    assert set(got) == set(clean)
    for i, c in got.items():
        if i in (3, 7, 11):  # either side NULL -> NULL cosine
            assert c is None
        else:  # untouched rows bit-identical
            assert c == clean[i]


def test_cosine_pairs_one_side_all_null_batch(spark):
    """One side entirely NULL in a single Arrow batch: the masked
    matrices are (0, 0) vs (0, d) — must short-circuit to all-NULL,
    not abort in einsum (ADVICE r6 medium)."""
    from mongo_es_spark.operators.dedup import cosine_pairs_col

    rows = [(i, None, [1.0, 0.0]) for i in range(8)]
    df = spark.createDataFrame(
        rows, "i int, va array<double>, vb array<double>"
    ).repartition(1)
    out = df.select(cosine_pairs_col(F.col("va"), F.col("vb")).alias("c"))
    assert [r["c"] for r in out.collect()] == [None] * 8
    # and mirrored / both-null
    rows2 = [(i, [1.0, 0.0], None) for i in range(4)] + [
        (9, None, None)
    ]
    df2 = spark.createDataFrame(
        rows2, "i int, va array<double>, vb array<double>"
    ).repartition(1)
    out2 = df2.select(cosine_pairs_col(F.col("va"), F.col("vb")).alias("c"))
    assert [r["c"] for r in out2.collect()] == [None] * 5


def test_hyperplane_signature_null_rows(spark, emb):
    from mongo_es_spark.operators.dedup import hyperplane_signature

    base = emb.limit(50).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dims = len(base.first()["v"])
    clean = {
        r["vec_id"]: r["s"]
        for r in base.select(
            "vec_id", hyperplane_signature(F.col("v"), dims).alias("s")
        ).collect()
    }
    holed = base.withColumn(
        "v", F.when(~F.col("vec_id").isin([1, 5]), F.col("v"))
    )
    got = {
        r["vec_id"]: r["s"]
        for r in holed.select(
            "vec_id", hyperplane_signature(F.col("v"), dims).alias("s")
        ).collect()
    }
    assert got[1] is None and got[5] is None
    for i, s in got.items():
        if i not in (1, 5):
            assert s == clean[i]
    # all-null single batch -> all-NULL signatures, no abort
    allnull = spark.createDataFrame(
        [(i, None) for i in range(6)], "vec_id int, v array<double>"
    ).repartition(1)
    out = allnull.select(
        hyperplane_signature(F.col("v"), dims).alias("s")
    ).collect()
    assert all(r["s"] is None for r in out)


def test_kmeans_null_rows_null_out(spark, emb):
    from mongo_es_spark.operators.similarity import kmeans_clusters

    holed = _null_vecs(emb.limit(80), [2, 9, 33])
    got, _ = kmeans_clusters(holed, "vec_id", "embedding", k=4, seed=3)
    gotm = {r["vec_id"]: (r["cluster"], r["sim"]) for r in got.collect()}
    ref, _ = kmeans_clusters(
        holed.filter(F.col("embedding").isNotNull()),
        "vec_id",
        "embedding",
        k=4,
        seed=3,
    )
    refm = {r["vec_id"]: (r["cluster"], r["sim"]) for r in ref.collect()}
    assert gotm[2] == (None, None)
    assert gotm[9] == (None, None)
    assert gotm[33] == (None, None)
    for i, cs in refm.items():
        assert gotm[i] == cs  # non-null rows bit-identical


def test_ann_ivf_null_corpus_rows_excluded(spark, emb):
    from mongo_es_spark.operators.similarity import ann_ivf_topk

    base = emb.limit(120)
    holed = _null_vecs(base, [5, 40, 77])
    got = ann_ivf_topk(
        holed, "vec_id", "embedding", query_id=0, k=8, n_cells=4, n_probe=2
    ).collect()
    ref = ann_ivf_topk(
        holed.filter(F.col("embedding").isNotNull()),
        "vec_id",
        "embedding",
        query_id=0,
        k=8,
        n_cells=4,
        n_probe=2,
    ).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in ref
    ]
    assert not {5, 40, 77} & {r["vec_id"] for r in got}


def test_ann_ivf_pq_null_corpus_rows_excluded(spark, emb):
    from mongo_es_spark.operators.similarity import ann_ivf_pq_topk

    base = emb.limit(120)
    holed = _null_vecs(base, [5, 40, 77])
    kw = dict(k=6, n_cells=4, n_probe=2, m=4, ksub=8, refine=3)
    got = ann_ivf_pq_topk(
        holed, "vec_id", "embedding", query_id=0, **kw
    ).collect()
    ref = ann_ivf_pq_topk(
        holed.filter(F.col("embedding").isNotNull()),
        "vec_id",
        "embedding",
        query_id=0,
        **kw,
    ).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in ref
    ]
    assert not {5, 40, 77} & {r["vec_id"] for r in got}


def test_ann_ivf_batch_null_queries_and_corpus(spark, emb):
    from mongo_es_spark.operators.similarity import ann_ivf_batch_topk

    corpus = _null_vecs(emb.limit(120), [11, 63])
    queries = _null_vecs(emb.limit(6), [3], vec_col="embedding").select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
    )
    kw = dict(k=5, n_cells=4, n_probe=2)
    got = ann_ivf_batch_topk(
        corpus, "vec_id", "embedding", queries, "qid", "qv", **kw
    ).collect()
    ref = ann_ivf_batch_topk(
        corpus.filter(F.col("embedding").isNotNull()),
        "vec_id",
        "embedding",
        queries.filter(F.col("qv").isNotNull()),
        "qid",
        "qv",
        **kw,
    ).collect()
    key = lambda rows: sorted(
        (r["q_id"], r["rank"], r["vec_id"], r["score"]) for r in rows
    )
    assert key(got) == key(ref)
    # the null-vector query emits no rows; null corpus rows never appear
    assert 3 not in {r["q_id"] for r in got}
    assert not {11, 63} & {r["vec_id"] for r in got}


def test_plabels_fixed_point_labels():
    import pytest as _pt

    from mongo_es_spark.operators.profile import _plabels

    assert _plabels([0.5, 0.9, 0.99]) == ["p50", "p90", "p99"]
    assert _plabels([0.999]) == ["p99_9"]
    # tiny prob must format fixed-point, never 'p1e-05' (broken alias)
    assert _plabels([1e-7]) == ["p0_00001"]
    assert _plabels([0.0, 1.0]) == ["p0", "p100"]
    with _pt.raises(ValueError, match="duplicate|precision"):
        _plabels([1e-13, 0.0])  # below label precision collides with p0


def test_incremental_components_matches_batch(spark, tmp_path):
    """Random pair graph fed through the label+merge stores in three
    arbitrary batches == one-shot dedup_components; a replayed batch
    changes neither store nor the resolved view."""
    import random

    from mongo_es_spark.operators.dedup import (
        components_over_store,
        dedup_components,
        incremental_components,
    )

    rng = random.Random(11)
    edges = sorted(
        {
            tuple(sorted(rng.sample(range(200), 2)))
            for _ in range(260)
        }
    )
    pairs = spark.createDataFrame(edges, "i long, j long")
    want = {
        (r["doc"], r["component"])
        for r in dedup_components(pairs).collect()
    }

    store = str(tmp_path / "cc")
    batches = [edges[0::3], edges[1::3], edges[2::3]]
    for b in batches:
        incremental_components(
            spark, spark.createDataFrame(b, "i long, j long"), store
        ).count()
    got = {
        (r["doc"], r["component"])
        for r in components_over_store(spark, store).collect()
    }
    assert got == want

    # replay the middle batch: stores and view must be unchanged
    n_docs = spark.read.parquet(store + "/docs").count()
    n_merges = spark.read.parquet(store + "/merges").count()
    out = incremental_components(
        spark, spark.createDataFrame(batches[1], "i long, j long"), store
    )
    # replayed endpoints resolve to their (final) components
    view = {
        (r["doc"], r["component"])
        for r in components_over_store(spark, store).collect()
    }
    assert view == want
    assert spark.read.parquet(store + "/docs").count() == n_docs
    assert spark.read.parquet(store + "/merges").count() == n_merges
    got_docs = {r["doc"] for r in out.collect()}
    assert got_docs == {d for e in batches[1] for d in e}


def test_incremental_components_late_small_id_bridge(spark, tmp_path):
    """A later batch introduces a SMALLER doc id that bridges two
    existing components: both components' docs must relabel to the
    new min through the merge closure (no store rewrite)."""
    from mongo_es_spark.operators.dedup import (
        components_over_store,
        incremental_components,
    )

    store = str(tmp_path / "cc2")
    incremental_components(
        spark, spark.createDataFrame([(10, 11)], "i long, j long"), store
    ).count()
    incremental_components(
        spark, spark.createDataFrame([(20, 21)], "i long, j long"), store
    ).count()
    # doc 5 bridges both clusters; 5 < every existing label
    incremental_components(
        spark,
        spark.createDataFrame([(5, 11), (5, 21)], "i long, j long"),
        store,
    ).count()
    got = {
        (r["doc"], r["component"])
        for r in components_over_store(spark, store).collect()
    }
    assert got == {(5, 5), (10, 5), (11, 5), (20, 5), (21, 5)}
    # exactly two merge events were recorded (10 -> 5, 20 -> 5 family)
    merges = {
        (r["src"], r["dst"])
        for r in spark.read.parquet(store + "/merges").collect()
    }
    assert merges == {(10, 5), (20, 5)}


def test_streaming_components_equals_batch(spark):
    """The Structured-Streaming pair drain (unordered hash-split
    batches) equals one-shot dedup_components — min labels compose
    across merges in any feed order; registry query pins the same at
    sf0.01 under the cross-engine oracle."""
    from mongo_es_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    batch = {
        (r["doc"], r["component"])
        for r in REGISTRY["dedup_clusters"][0](spark, sf).collect()
    }
    stream = {
        (r["doc"], r["component"])
        for r in REGISTRY["streaming_components"][0](spark, sf).collect()
    }
    assert stream == batch and len(batch) > 0


@pytest.mark.parametrize("seed,n_batches", [(23, 2), (37, 5)])
def test_incremental_components_random_batching(spark, tmp_path, seed, n_batches):
    """Property: ANY partition of the edge set into ANY number of
    batches yields the same final clustering as the one-shot batch
    operator (min labels compose across merges in any order)."""
    import random

    from mongo_es_spark.operators.dedup import (
        components_over_store,
        dedup_components,
        incremental_components,
    )

    rng = random.Random(seed)
    edges = sorted(
        {tuple(sorted(rng.sample(range(120), 2))) for _ in range(150)}
    )
    rng.shuffle(edges)
    pairs = spark.createDataFrame(edges, "i long, j long")
    want = {
        (r["doc"], r["component"])
        for r in dedup_components(pairs).collect()
    }
    store = str(tmp_path / f"cc_{seed}")
    cut = len(edges) // n_batches or 1
    for b in range(n_batches):
        chunk = edges[b * cut:] if b == n_batches - 1 else edges[
            b * cut:(b + 1) * cut
        ]
        if not chunk:
            continue
        incremental_components(
            spark, spark.createDataFrame(chunk, "i long, j long"), store
        ).count()
    got = {
        (r["doc"], r["component"])
        for r in components_over_store(spark, store).collect()
    }
    assert got == want


def test_incremental_components_driver_distributed_parity(
    spark, tmp_path, monkeypatch
):
    """The driver union-find fast path and the distributed fold are
    bit-identical on the SAME batched feed: same resolved views per
    batch, same final clustering, same merge-event store (up to row
    order).  Late small-id bridge included so the merge closure is
    exercised on both sides of the cutoff."""
    import random

    from mongo_es_spark.operators import dedup as dedup_mod
    from mongo_es_spark.operators.dedup import (
        components_over_store,
        incremental_components,
    )

    rng = random.Random(41)
    edges = sorted(
        {tuple(sorted(rng.sample(range(30, 160), 2))) for _ in range(140)}
    )
    rng.shuffle(edges)
    batches = [edges[0::3], edges[1::3], edges[2::3]]
    batches.append([(5, e[0]) for e in edges[:4]])  # small-id bridge

    def run(store):
        views, outs = [], []
        for b in batches:
            out = incremental_components(
                spark, spark.createDataFrame(b, "i long, j long"), store
            )
            outs.append({(r["doc"], r["component"]) for r in out.collect()})
            views.append(
                {
                    (r["doc"], r["component"])
                    for r in components_over_store(spark, store).collect()
                }
            )
        merges = {
            (r["src"], r["dst"])
            for r in spark.read.parquet(store + "/merges").collect()
        }
        return views, outs, merges

    fast = run(str(tmp_path / "cc_fast"))
    monkeypatch.setattr(dedup_mod, "_DRIVER_CC_CUTOFF", 0)
    slow = run(str(tmp_path / "cc_dist"))
    assert fast == slow


def test_embedding_clone_weighted_matches_expanded(spark, emb):
    """sum(n_pairs) over the bounded clone contract == the expanded
    member-pair count, for both the exact (blocked gram) and the LSH
    embedding pair operators, on a corpus with 2 clones per vector."""
    from mongo_es_spark.operators.dedup import (
        embedding_dup_pairs,
        embedding_dup_pairs_lsh,
    )

    base = emb.limit(60).select("vec_id", "embedding")
    doubled = base.unionByName(
        base.select(
            (F.col("vec_id") + F.lit(10_000)).alias("vec_id"), "embedding"
        )
    )
    for fn, kw in (
        (embedding_dup_pairs, {}),
        (embedding_dup_pairs_lsh, {"dims": 64}),
    ):
        expanded = fn(
            doubled, "vec_id", "embedding", threshold=0.45, **kw
        )
        weighted = fn(
            doubled,
            "vec_id",
            "embedding",
            threshold=0.45,
            clone_weighted=True,
            **kw,
        )
        n_exp = expanded.count()
        wrows = weighted.collect()
        assert sum(r["n_pairs"] for r in wrows) == n_exp
        # every cross-group rep pair stands for exactly 2x2 members,
        # every within row for k*(k-1)/2 = 1
        for r in wrows:
            assert r["n_pairs"] == (1 if r["i"] == r["j"] else 4)
            if r["i"] == r["j"]:
                assert r["cosine"] == 1.0


def test_export_order_staleness_first(monkeypatch):
    """The driver checks only the first 50 exported queries, so the
    export order must self-rotate: never-driver-checked names first,
    then ascending last-checked round; ties break to the manual
    priority list, then registration order; every registry name
    appears exactly once."""
    import mongo_es_spark.queries as q

    names = list(q.REGISTRY)
    fake_hist = {n: 3 for n in names[: len(names) // 2]}
    fake_hist.update({n: 5 for n in names[len(names) // 2 : -4]})
    # the last 4 registrations: never checked
    monkeypatch.setattr(q, "_driver_row_history", lambda: fake_hist)
    # the fake scenario tests PURE staleness rotation — neutralize
    # any active force-recheck entries (they deliberately outrank it)
    monkeypatch.setattr(q, "_FORCE_RECHECK", {})
    order = q._export_order()
    assert sorted(order) == sorted(names)
    last = [fake_hist.get(n, -1) for n in order]
    assert last == sorted(last)          # staleness-ascending
    assert set(order[:4]) == set(names[-4:])  # never-checked lead

    # with the real records on disk: full coverage, stable, and no
    # name the driver checked LAST round sits inside the window while
    # a staler name sits outside it
    real = q._export_order()
    assert sorted(real) == sorted(names)
    hist = q._driver_row_history()
    if hist:
        window, outside = real[:50], real[50:]
        worst_in = max(hist.get(n, -1) for n in window)
        best_out = min(hist.get(n, -1) for n in outside)
        assert worst_in <= best_out


def test_streaming_embedding_pairs_equals_sequential_batches(spark, tmp_path):
    """The Structured-Streaming vector drain must equal feeding the
    SAME three slices sequentially through the batch incremental
    store: identical pair set (id pair + round-6 cosine) and
    identical indexed-vector set — foreachBatch adds delivery
    mechanics, never semantics."""
    import os

    from mongo_es_spark.operators.similarity import (
        incremental_embedding_pairs,
    )
    from mongo_es_spark.streaming.fold import (
        run_fold_stream,
        write_ordered_feed,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    slices = [
        emb.filter(F.pmod(F.col("vec_id"), F.lit(3)) == i)
        for i in range(3)
    ]

    batch_store = str(tmp_path / "batch_store")
    batch_pairs: set = set()
    for sl in slices:
        batch_pairs |= {
            (r["i"], r["j"], r["cosine"])
            for r in incremental_embedding_pairs(
                spark, sl, "vec_id", "embedding", batch_store,
                threshold=0.45,
            ).collect()
        }

    feed = str(tmp_path / "feed")
    write_ordered_feed(feed, slices)
    stream = (
        spark.readStream.schema(spark.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    stream_store = str(tmp_path / "stream_store")
    q = run_fold_stream(
        stream,
        lambda b, _: incremental_embedding_pairs(
            spark, b, "vec_id", "embedding", stream_store, threshold=0.45
        ),
        checkpoint=str(tmp_path / "ckpt"),
        out=str(tmp_path / "out"),
    )
    drain(q)
    stream_pairs = {
        (r["i"], r["j"], r["cosine"])
        for r in spark.read.parquet(str(tmp_path / "out"))
        .select("i", "j", "cosine")
        .collect()
    }
    assert stream_pairs == batch_pairs and len(batch_pairs) > 0
    sv = {
        r["doc"]
        for r in spark.read.parquet(
            os.path.join(stream_store, "vectors")
        ).collect()
    }
    bv = {
        r["doc"]
        for r in spark.read.parquet(
            os.path.join(batch_store, "vectors")
        ).collect()
    }
    assert sv == bv == {r["vec_id"] for r in emb.collect()}


# ------------------------------------------------------------------ #
# hash embeddings + perplexity buckets (round-7 continuation)
# ------------------------------------------------------------------ #


def test_hash_embed_deterministic_and_zero_for_empty(spark):
    from mongo_es_spark.operators.text import hash_embed

    df = spark.createDataFrame(
        [
            (0, "alpha beta alpha"),
            (1, "alpha beta alpha"),  # clone of 0
            (2, "gamma"),
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: list(r["vec"]) for r in hash_embed(
        df, "doc_id", "text", dim=8
    ).collect()}
    assert len(out) == 5
    assert out[0] == out[1]  # clones embed identically
    assert out[3] == [0.0] * 8 and out[4] == [0.0] * 8
    # signed counts sum of |v| equals token multiset size for docs
    # without bucket collisions cancelling: at minimum, nonzero
    assert any(v != 0 for v in out[0]) and any(v != 0 for v in out[2])
    # collapse parity
    nc = {r["doc_id"]: list(r["vec"]) for r in hash_embed(
        df, "doc_id", "text", dim=8, collapse=False
    ).collect()}
    assert nc == out


def test_hash_embed_normalize_unit_norm(spark):
    import math

    from mongo_es_spark.operators.text import hash_embed

    df = spark.createDataFrame(
        [(0, "a b c d"), (1, "zz"), (2, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: list(r["vec"]) for r in hash_embed(
        df, "doc_id", "text", dim=8, normalize=True
    ).collect()}
    for i in (0, 1):
        assert abs(math.sqrt(sum(x * x for x in out[i])) - 1.0) < 1e-12
    assert out[2] == [0.0] * 8  # zero vector stays zero, not NaN


def test_perplexity_buckets_exact_ntile(spark):
    from mongo_es_spark.operators.text import perplexity_buckets

    # 7 docs in one lang -> ntile(3) sizes 3/2/2; 2 docs in another
    # -> sizes 1/1/0 (bucket 3 empty)
    rows = [
        (i, " ".join(["tok%d" % (i * 3 + j) for j in range(i + 2)]), "en")
        for i in range(7)
    ] + [(10, "x y z", "fr"), (11, "x y x y", "fr")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = perplexity_buckets(df, "doc_id", "text", "lang", n_buckets=3)
    got = {(r["lang"], r["bucket"]): r["n_docs"] for r in out.collect()}
    assert got[("en", 1)] == 3 and got[("en", 2)] == 2 and got[("en", 3)] == 2
    assert got[("fr", 1)] == 1 and got[("fr", 2)] == 1
    assert ("fr", 3) not in got


def test_perplexity_buckets_no_single_task_language_sort(spark):
    from mongo_es_spark.operators.text import perplexity_buckets

    rows = [(i, "w%d w%d" % (i, i + 1), "en") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = perplexity_buckets(df, "doc_id", "text", "lang", rank_bins=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the ranking window partitions by (lang, bin) cells, never by
    # lang alone — the skew-wall shape this operator exists to avoid
    for line in plan.splitlines():
        if "Window" in line and "row_number" in line:
            assert "__bin" in line
    assert out.count() > 0


def test_pipeline_text_ann_recall_floor(spark):
    import __spark_entry__ as entry

    q = entry.queries()["pipeline_text_ann"]
    row = q(spark, "/root/testdata/sf0.001").head()
    assert row["n_results"] == 10
    assert row["scores_exact"] and row["recall_ok"]


def test_attribution_first_last_touch_and_no_touch(spark):
    from mongo_es_spark.operators.sessions import attribution

    rows = [
        # user 1: touches at 100 (view), 200 (click); purchase at 250
        (1, 10, 100, "view"),
        (1, 11, 200, "click"),
        (1, 12, 250, "purchase"),
        # same-ms touch must NOT count (frame ends at ts-1)
        (1, 13, 250, "click"),
        # user 2: purchase with no touches
        (2, 20, 500, "purchase"),
        # user 3: touch outside the lookback
        (3, 30, 100, "click"),
        (3, 31, 5000, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts_ms long, event_type string"
    )
    out = {
        r["conv_id"]: r
        for r in attribution(
            df,
            "user_id",
            "event_id",
            "ts_ms",
            "event_type",
            touch_types=("click", "view"),
            conversion_type="purchase",
            lookback_ms=1000,
        ).collect()
    }
    assert len(out) == 3
    r1 = out[12]
    assert (r1["first_touch_id"], r1["first_touch_type"]) == (10, "view")
    assert (r1["last_touch_id"], r1["last_touch_type"]) == (11, "click")
    assert r1["n_touches"] == 2
    r2 = out[20]
    assert r2["first_touch_id"] is None and r2["n_touches"] == 0
    r3 = out[31]
    assert r3["first_touch_id"] is None and r3["n_touches"] == 0


def test_attribution_plan_has_no_self_join(spark):
    from mongo_es_spark.operators.sessions import attribution

    df = spark.createDataFrame(
        [(1, 1, 1, "click"), (1, 2, 2, "purchase")],
        "user_id long, event_id long, ts_ms long, event_type string",
    )
    out = attribution(
        df, "user_id", "event_id", "ts_ms", "event_type",
        touch_types=("click",), conversion_type="purchase",
        lookback_ms=10,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # one window pass, never a range self-join


def test_topic_clusters_separates_disjoint_vocabularies(spark):
    from mongo_es_spark.operators.text import topic_clusters

    sports = "goal match team score league referee stadium win"
    cooking = "recipe oven flour butter simmer saute whisk bake"
    rows = []
    for i in range(40):
        words = sports.split() if i % 2 == 0 else cooking.split()
        # vary doc composition deterministically but keep vocab pure
        rows.append((i, " ".join(words[(i // 2) % 4:] + words[: (i // 2) % 4])))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = topic_clusters(df, "doc_id", "text", k=2, dim=16, top_terms=3)
    rowsc = out.collect()
    assert sum(r["n_docs"] for r in rowsc) == 40
    assert 1 <= len(rowsc) <= 2
    if len(rowsc) == 2:
        svoc, cvoc = set(sports.split()), set(cooking.split())
        labels = [set(r["top_terms_csv"].split(",")) for r in rowsc]
        # each cluster's label vocabulary is pure: all terms from one
        # topic's vocabulary, and the two clusters pick different topics
        purity = [
            ("s" if lab <= svoc else "c" if lab <= cvoc else "x")
            for lab in labels
        ]
        assert sorted(purity) == ["c", "s"], (labels, purity)


def test_topic_clusters_empty_text_cluster_keeps_null_label(spark):
    from mongo_es_spark.operators.text import topic_clusters

    df = spark.createDataFrame(
        [(0, ""), (1, ""), (2, "")], "doc_id long, text string"
    )
    out = topic_clusters(df, "doc_id", "text", k=2, dim=8).collect()
    assert sum(r["n_docs"] for r in out) == 3
    assert all(r["top_terms_csv"] is None for r in out)


def test_incremental_embedding_pairs_clone_collapse_parity(spark, tmp_path):
    """The collapsed probe path (rep scoring + member expansion) must
    emit EXACTLY the same pair set as the definition: every unordered
    same-cell pair at cosine >= threshold, each exactly once, across
    any batch split — including heavy exact-vector clones and a pair
    whose endpoints arrive in different batches."""
    import itertools

    import numpy as np

    from mongo_es_spark.operators.similarity import (
        incremental_embedding_pairs,
    )

    rng = np.random.default_rng(5)
    base = rng.normal(size=(4, 8))
    rows = []
    vid = 0
    for b in range(4):
        for copy in range(6):  # 6 exact clones of each base vector
            rows.append((vid, [float(x) for x in base[b]]))
            vid += 1
    # perturbed near-dup of base[0] (not an exact clone)
    rows.append((vid, [float(x) for x in base[0] + 0.01 * rng.normal(size=8)]))
    store = str(tmp_path / "store")
    batches = [rows[:9], rows[9:17], rows[17:]]
    got = []
    for b in batches:
        df = spark.createDataFrame(b, "vec_id long, embedding array<double>")
        out = incremental_embedding_pairs(
            spark, df, "vec_id", "embedding", store,
            threshold=0.9, n_clusters=2,
        ).collect()
        got.extend((r["i"], r["j"], r["cosine"]) for r in out)
    # no pair reported twice
    keys = [(i, j) for i, j, _ in got]
    assert len(keys) == len(set(keys))
    # model: all unordered same-cell pairs at threshold
    vecs = spark.read.parquet(store + "/vectors").collect()
    byid = {r["doc"]: (r["cell"], np.asarray(r["v"])) for r in vecs}
    assert len(byid) == len(rows)  # every vector stored once
    expected = {}
    for a, b in itertools.combinations(sorted(byid), 2):
        ca, va = byid[a]
        cb, vb = byid[b]
        if ca != cb:
            continue
        c = float(va @ vb / max(np.linalg.norm(va) * np.linalg.norm(vb), 1e-12))
        c = round(c, 6)
        if c >= 0.9:
            expected[(a, b)] = c
    assert set(keys) == set(expected)
    for i, j, c in got:
        assert abs(c - expected[(i, j)]) <= 1e-9
    # replay: refolding batch 0 emits nothing, appends nothing
    df0 = spark.createDataFrame(
        batches[0], "vec_id long, embedding array<double>"
    )
    again = incremental_embedding_pairs(
        spark, df0, "vec_id", "embedding", store,
        threshold=0.9, n_clusters=2,
    )
    assert again.count() == 0
    assert spark.read.parquet(store + "/vectors").count() == len(rows)


@pytest.mark.parametrize("seed", [3, 11])
def test_attribution_matches_python_model(spark, seed):
    """Randomized model check: the single-window attribution equals a
    brute-force python scan over every (conversion, touch) pair —
    including same-ms collisions, multi-conversion users, and
    conversions at the exact lookback edge."""
    import random

    rng = random.Random(seed)
    types = ["click", "view", "purchase", "noise"]
    rows = []
    for eid in range(300):
        rows.append(
            (
                rng.randrange(8),           # user
                eid,
                rng.randrange(50),          # coarse ts: many collisions
                rng.choice(types),
            )
        )
    look = 10
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts_ms long, event_type string"
    )
    from mongo_es_spark.operators.sessions import attribution

    got = {
        r["conv_id"]: (
            r["first_touch_id"],
            r["last_touch_id"],
            r["n_touches"],
        )
        for r in attribution(
            df, "user_id", "event_id", "ts_ms", "event_type",
            touch_types=("click", "view"), conversion_type="purchase",
            lookback_ms=look,
        ).collect()
    }
    convs = [r for r in rows if r[3] == "purchase"]
    assert len(got) == len(convs)
    for u, cid, cts, _ in convs:
        win = [
            (ts, eid)
            for (uu, eid, ts, tp) in rows
            if uu == u
            and tp in ("click", "view")
            and cts - look <= ts <= cts - 1
        ]
        if not win:
            assert got[cid] == (None, None, 0)
        else:
            first = min(win)[1]
            last = max(win)[1]
            assert got[cid] == (first, last, len(win)), (cid, win)


def _winnow_model(text, k=5, w=4, p=1_000_000_007):
    """Independent pure-Python winnowing reference (no numpy, no
    shared code with the kernel): per-window fold exactly as the
    DuckDB oracle computes it."""
    import re

    toks = re.split(r"\s+", text.strip(" ")) if text is not None else []
    if len(toks) < k:
        return set()
    nums = [(ord(t[0]) if t else 0) * 31 + len(t) for t in toks]
    grams = []
    for i in range(len(nums) - k + 1):
        acc = 0
        for x in nums[i : i + k]:
            acc = (acc * 31 + x) % p
        grams.append(acc)
    if len(grams) <= w:
        return {min(grams)}
    return {
        min(grams[j : j + w]) for j in range(len(grams) - w + 1)
    }


def test_winnow_fingerprints_match_model(spark):
    """Kernel output == the independent per-window fold model on
    mixed-length docs (short, exactly-k, k..k+w, long), including the
    empty set for sub-k docs and None text."""
    from mongo_es_spark.operators.text import winnow_fingerprints

    rows = [
        (0, "too short"),
        (1, "one two three four five"),  # exactly k tokens
        (2, "a b c d e f g h"),  # k + w - 1 tokens
        (3, " ".join(f"tok{i % 7}x{i % 3}" for i in range(60))),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df, "doc_id", "text").collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for doc_id, text in rows:
        want = _winnow_model(text)
        assert got.get(doc_id, set()) == want, doc_id


def test_winnow_guarantee_shared_run_forces_shared_fp(spark):
    """The winnowing guarantee: two docs sharing a token run of
    length >= k + w - 1 (8) share at least one fingerprint, for
    random surrounding junk — pinned on 25 random constructions."""
    import random

    from mongo_es_spark.operators.text import winnow_fingerprints

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    rows = []
    for c in range(25):
        run = [rng.choice(vocab) for _ in range(8)]
        a = [rng.choice(vocab) for _ in range(rng.randint(0, 30))] + run + [
            rng.choice(vocab) for _ in range(rng.randint(0, 30))
        ]
        b = [rng.choice(vocab) for _ in range(rng.randint(0, 30))] + run + [
            rng.choice(vocab) for _ in range(rng.randint(0, 30))
        ]
        rows.append((2 * c, " ".join(a)))
        rows.append((2 * c + 1, " ".join(b)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps: dict[int, set] = {}
    for r in winnow_fingerprints(df, "doc_id", "text").collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    for c in range(25):
        assert fps[2 * c] & fps[2 * c + 1], f"construction {c}"


def test_winnow_overlap_pairs_match_brute_force(spark):
    """winnow_overlap_pairs (clone-collapsed inverted index) == the
    brute-force pair set over per-doc fingerprint sets, on a corpus
    with exact clones, a shared-passage pair, and sub-k docs."""
    import random

    from mongo_es_spark.operators.dedup import winnow_overlap_pairs

    rng = random.Random(19)
    vocab = [f"w{i}" for i in range(40)]
    passage = [rng.choice(vocab) for _ in range(20)]
    texts = {
        0: " ".join(rng.choice(vocab) for _ in range(50)),
        1: " ".join(passage + [rng.choice(vocab) for _ in range(10)]),
        2: " ".join([rng.choice(vocab) for _ in range(10)] + passage),
        3: "tiny doc",
        4: "tiny doc",
    }
    texts[5] = texts[0]  # exact clone
    texts[6] = texts[0]
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    fps = {d: _winnow_model(t) for d, t in texts.items()}
    want = set()
    for i in sorted(fps):
        for j in sorted(fps):
            if i < j and fps[i] and fps[j]:
                c = len(fps[i] & fps[j]) / min(len(fps[i]), len(fps[j]))
                if round(c, 6) >= 0.5:
                    want.add((i, j, round(c, 6)))
    got = {
        (r["i"], r["j"], r["containment"])
        for r in winnow_overlap_pairs(
            df, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert got == want
    # the clone family (0,5,6) must be present via within-group pairs
    assert {(0, 5), (0, 6), (5, 6)} <= {(i, j) for i, j, _ in got}


def test_incremental_winnow_equals_full(spark, docs, tmp_path):
    from mongo_es_spark.operators.dedup import (
        incremental_winnow_pairs,
        winnow_overlap_pairs,
    )

    full = {
        (r["i"], r["j"]): r["containment"]
        for r in winnow_overlap_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    store = str(tmp_path / "wnstore")
    # unordered feed: high-id batch first — the family is order-free
    batches = [
        docs.filter(F.col("doc_id") >= 400),
        docs.filter(F.col("doc_id") < 400),
    ]
    merged: dict = {}
    for b in batches:
        for r in incremental_winnow_pairs(
            spark, b, "doc_id", "text", store, threshold=0.5
        ).collect():
            key = (r["i"], r["j"])
            # each pair must be emitted by exactly one batch
            assert key not in merged
            merged[key] = r["containment"]
    assert merged == full


def test_incremental_winnow_replay_is_idempotent(spark, docs, tmp_path):
    from mongo_es_spark.operators.dedup import incremental_winnow_pairs

    store = str(tmp_path / "wnstore")
    batch = docs.filter(F.col("doc_id") < 200)
    first = incremental_winnow_pairs(
        spark, batch, "doc_id", "text", store
    ).count()
    n_store = spark.read.parquet(store).count()
    replay = incremental_winnow_pairs(
        spark, batch, "doc_id", "text", store
    )
    assert replay.count() == 0
    assert spark.read.parquet(store).count() == n_store
    assert first >= 0  # first call ran through the same code path


def test_incremental_winnow_param_mismatch_raises(spark, docs, tmp_path):
    from mongo_es_spark.operators.dedup import incremental_winnow_pairs

    store = str(tmp_path / "wnstore")
    batch = docs.filter(F.col("doc_id") < 100)
    incremental_winnow_pairs(spark, batch, "doc_id", "text", store, k=5, w=4)
    with pytest.raises(ValueError, match="k=5"):
        incremental_winnow_pairs(
            spark, batch, "doc_id", "text", store, k=4, w=4
        )


def test_weighted_sample_matches_model(spark, docs):
    import math

    from mongo_es_spark.operators.text import (
        HASH_MOD,
        KNUTH,
        weighted_sample_topk,
    )

    rows = docs.select("doc_id", "text").collect()
    keyed = []
    for r in rows:
        w = len(r["text"]) + 1
        u = ((r["doc_id"] * KNUTH) % HASH_MOD + 0.5) / float(HASH_MOD)
        keyed.append((math.log(u) / w, r["doc_id"], w))
    keyed.sort(reverse=True)
    want = {(d, w) for _, d, w in keyed[:50]}
    got = {
        (r["doc_id"], r["__weight"])
        for r in weighted_sample_topk(
            docs, "doc_id", (F.length("text") + F.lit(1)).cast("long"), k=50
        )
        .select("doc_id", "__weight")
        .collect()
    }
    assert got == want


def test_weighted_sample_excludes_nonpositive_and_null_weights(spark):
    from mongo_es_spark.operators.text import weighted_sample_topk

    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, -5), (4, None), (5, 3)],
        "id long, w int",
    )
    got = {
        r["id"]
        for r in weighted_sample_topk(df, "id", F.col("w"), k=5).collect()
    }
    assert got == {1, 5}


def test_gopher_rules_edge_docs(spark):
    from mongo_es_spark.operators.text import gopher_rules

    good = " ".join(
        ["the quick brown fox jumps over with lazy dogs near rivers"] * 6
    )  # 66 words, stopwords 'the'/'with', alpha-heavy
    rows = [
        (1, good),
        (2, "short text"),                      # fails word count
        (3, "- a\n- b\n- c"),                   # all bullet lines
        (4, "so...\nmuch...\nsuspense..."),     # all ellipsis lines
        (5, "#### " + good),                    # symbol-heavy prefix
        (6, ""),                                # empty -> fail closed
        (7, None),                              # null  -> fail closed
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in gopher_rules(
        df, "doc_id", "text").collect()}
    assert got[1]["passes"] is True
    assert got[1]["n_words"] == 66 and got[1]["n_stopwords"] >= 2
    assert got[2]["passes"] is False            # n_words < 50
    assert got[3]["bullet_frac"] == 1.0 and got[3]["passes"] is False
    assert got[4]["ellipsis_frac"] == 1.0 and got[4]["passes"] is False
    assert got[5]["symbol_ratio"] > 0.05 and got[5]["n_words"] == 67
    assert got[6]["passes"] is False and got[6]["n_words"] == 0
    assert got[7]["passes"] is False


def test_gopher_rules_clone_collapse_identical(spark, docs):
    from mongo_es_spark.operators.text import gopher_rules

    # duplicate every doc under a shifted id: per-doc outputs must be
    # identical for identical texts (the collapse join is exact)
    doubled = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    out = gopher_rules(doubled, "doc_id", "text")
    base = {r["doc_id"]: tuple(r)[1:] for r in out.filter(
        F.col("doc_id") < 100000).collect()}
    shifted = {r["doc_id"] - 100000: tuple(r)[1:] for r in out.filter(
        F.col("doc_id") >= 100000).collect()}
    assert base == shifted and len(base) > 0


def test_incremental_winnow_clone_heavy_parity(spark, docs, tmp_path):
    from mongo_es_spark.operators.dedup import (
        incremental_winnow_pairs,
        winnow_overlap_pairs,
    )

    # 5 exact clones of every doc, ids striped so clones of one text
    # land in BOTH batches — the set-collapse must still emit every
    # clone pair and every cross pair exactly once
    cloned = docs.select("doc_id", "text")
    for c in range(1, 5):
        cloned = cloned.unionByName(
            docs.select(
                (F.col("doc_id") + 10000 * c).alias("doc_id"), "text"
            )
        )
    full = {
        (r["i"], r["j"]): r["containment"]
        for r in winnow_overlap_pairs(
            cloned, "doc_id", "text", threshold=0.5
        ).collect()
    }
    store = str(tmp_path / "wnstore")
    merged: dict = {}
    batches = [
        cloned.filter(F.col("doc_id") % 2 == 1),
        cloned.filter(F.col("doc_id") % 2 == 0),
    ]
    for b in batches:
        for r in incremental_winnow_pairs(
            spark, b, "doc_id", "text", store, threshold=0.5
        ).collect():
            key = (r["i"], r["j"])
            assert key not in merged
            merged[key] = r["containment"]
    assert merged == full and len(full) > 0


def test_weighted_sample_per_group_matches_single_window(spark, docs):
    from pyspark.sql import Window
    from mongo_es_spark.operators.text import (
        HASH_MOD,
        KNUTH,
        weighted_sample_per_group,
    )

    w = (F.length("text") + F.lit(1)).cast("long")
    u = (F.pmod(F.col("doc_id") * F.lit(KNUTH), F.lit(HASH_MOD))
         + F.lit(0.5)) / F.lit(float(HASH_MOD))
    ref_rn = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            (F.log(u) / w).desc(), F.col("doc_id").asc()
        )
    )
    want = {
        (r["doc_id"], r["lang"])
        for r in docs.withColumn("rn", ref_rn)
        .filter(F.col("rn") <= 7)
        .select("doc_id", "lang")
        .collect()
    }
    got = {
        (r["doc_id"], r["lang"])
        for r in weighted_sample_per_group(
            docs, "doc_id", "lang", w, k=7
        ).select("doc_id", "lang").collect()
    }
    assert got == want and len(got) > 0


def test_incremental_winnow_clone_weighted_algebra(spark, docs, tmp_path):
    from mongo_es_spark.operators.dedup import incremental_winnow_pairs

    cloned = docs.select("doc_id", "text")
    for c in range(1, 4):
        cloned = cloned.unionByName(
            docs.select(
                (F.col("doc_id") + 10000 * c).alias("doc_id"), "text"
            )
        )
    batches = [
        cloned.filter(F.col("doc_id") % 2 == 1),
        cloned.filter(F.col("doc_id") % 2 == 0),
    ]
    exp_store = str(tmp_path / "exp")
    w_store = str(tmp_path / "wtd")
    for b in batches:
        expanded = incremental_winnow_pairs(
            spark, b, "doc_id", "text", exp_store, threshold=0.5
        )
        weighted = incremental_winnow_pairs(
            spark, b, "doc_id", "text", w_store, threshold=0.5,
            clone_weighted=True,
        )
        n_exp = expanded.count()
        rows = weighted.collect()
        # multiplicity algebra: the bounded rows stand for exactly
        # the expanded per-batch pair set
        assert sum(r["n_pairs"] for r in rows) == n_exp
        assert all(r["n_pairs"] > 0 for r in rows)
        assert all(r["i"] <= r["j"] for r in rows)


def test_token_budget_sample_greedy_prefix(spark):
    from mongo_es_spark.operators.text import (
        HASH_MOD,
        KNUTH,
        token_budget_sample,
    )

    rows = [(i, "g", 10) for i in range(1, 21)]  # 20 docs x 10 tokens
    df = spark.createDataFrame(rows, "id long, grp string, nt long")
    got = token_budget_sample(
        df, "id", "grp", F.col("nt"), budget=45
    ).collect()
    # greedy prefix: 10+10+10+10 = 40 < 45 -> fifth doc still starts
    # under budget and overshoots; sixth does not
    assert len(got) == 5
    # the kept set is the prefix of the Knuth-hash order
    order = sorted(range(1, 21), key=lambda i: ((i * KNUTH) % HASH_MOD, i))
    assert {r["id"] for r in got} == set(order[:5])
    assert all(r["__tokens"] == 10 for r in got)


def test_token_budget_sample_groups_independent(spark):
    from mongo_es_spark.operators.text import token_budget_sample

    df = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 100), (3, "b", 5), (4, "b", 5)],
        "id long, grp string, nt long",
    )
    got = token_budget_sample(df, "id", "grp", F.col("nt"), budget=10)
    by_grp = {}
    for r in got.collect():
        by_grp.setdefault(r["grp"], set()).add(r["id"])
    # group a: first doc overshoots alone; group b: both fit
    assert len(by_grp["a"]) == 1
    assert by_grp["b"] == {3, 4}


def test_cross_minhash_pairs_expected_set(spark):
    from mongo_es_spark.operators.dedup import cross_minhash_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    train = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # clone of 1 -> expands through membership
            (3, "one two three four five six"),  # shingled, unrelated
            (4, "tiny"),  # too short to shingle
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            (100, near),  # 3-shingle jaccard 7/9 with base
            (101, base),  # exact cross-corpus clone
            (102, "tiny"),  # short on BOTH sides: no pair by contract
        ],
        "doc_id long, text string",
    )
    got = {
        (r["i"], r["j"]): r["jaccard"]
        for r in cross_minhash_pairs(
            train, bench, "doc_id", "text", n=3, threshold=0.7
        ).collect()
    }
    exp_score = round(7 / 9, 6)
    assert got == {
        (1, 100): exp_score,
        (2, 100): exp_score,
        (1, 101): 1.0,
        (2, 101): 1.0,
    }
    # the shuffled-join variant returns the identical pair set
    got_shuffle = {
        (r["i"], r["j"]): r["jaccard"]
        for r in cross_minhash_pairs(
            train,
            bench,
            "doc_id",
            "text",
            n=3,
            threshold=0.7,
            broadcast_b=False,
        ).collect()
    }
    assert got_shuffle == got


def test_rrf_fuse_math_and_missing_legs(spark):
    from mongo_es_spark.operators.text import rrf_fuse

    bm = spark.createDataFrame(
        [(1, 5.0), (2, 4.0), (3, 3.0)], "doc_id long, score double"
    )
    cos = spark.createDataFrame(
        [(2, 0.9), (4, 0.8)], "doc_id long, score double"
    )
    rows = rrf_fuse(
        [bm, cos], "doc_id", ["bm25_rank", "cos_rank"], top_k=10
    ).collect()
    m = {
        r["doc_id"]: (r["rrf_score"], r["bm25_rank"], r["cos_rank"])
        for r in rows
    }
    assert m[2] == (round(1 / 62 + 1 / 61, 6), 2, 1)
    assert m[1] == (round(1 / 61, 6), 1, None)
    assert m[4] == (round(1 / 62, 6), None, 2)
    assert m[3] == (round(1 / 63, 6), 3, None)
    # ordering: fused score desc (doc 2 first, then the bm25 #1,
    # then the cos #2, then the bm25 #3)
    assert [r["doc_id"] for r in rows] == [2, 1, 4, 3]


def test_rrf_fuse_tiebreak_and_topk(spark):
    from mongo_es_spark.operators.text import rrf_fuse

    # equal scores inside a leg rank by id ASC (deterministic), and
    # equal fused scores order by id ASC; top_k truncates
    leg = spark.createDataFrame(
        [(7, 1.0), (5, 1.0), (6, 1.0)], "doc_id long, score double"
    )
    rows = rrf_fuse([leg], "doc_id", ["r"], top_k=2).collect()
    assert [(r["doc_id"], r["r"]) for r in rows] == [(5, 1), (6, 2)]


def test_cross_embedding_pairs_expected_set(spark):
    import numpy as np

    from mongo_es_spark.operators.dedup import cross_embedding_pairs

    rng = np.random.default_rng(11)
    base = rng.standard_normal(8)
    near = base + 0.05 * rng.standard_normal(8)  # cosine ~0.999
    far = rng.standard_normal(8)  # ~orthogonal in expectation
    rows_a = [
        (1, base.tolist()),
        (2, base.tolist()),  # clone of 1 -> expands through membership
        (3, far.tolist()),
        (4, None),  # NULL vec never pairs
    ]
    rows_b = [
        (100, near.tolist()),
        (101, base.tolist()),  # exact cross-corpus clone
        (102, None),  # NULL on the benchmark side
    ]
    train = spark.createDataFrame(rows_a, "vec_id long, v array<double>")
    bench = spark.createDataFrame(rows_b, "vec_id long, v array<double>")
    got = {
        (r["i"], r["j"]): r["cosine"]
        for r in cross_embedding_pairs(
            train, bench, "vec_id", "v", dims=8, threshold=0.9
        ).collect()
    }
    exp_near = round(
        float(
            base @ near / (np.linalg.norm(base) * np.linalg.norm(near))
        ),
        6,
    )
    assert got == {
        (1, 100): exp_near,
        (2, 100): exp_near,
        (1, 101): 1.0,
        (2, 101): 1.0,
    }
    # the shuffled-join variant returns the identical pair set
    got_shuffle = {
        (r["i"], r["j"]): r["cosine"]
        for r in cross_embedding_pairs(
            train,
            bench,
            "vec_id",
            "v",
            dims=8,
            threshold=0.9,
            broadcast_b=False,
        ).collect()
    }
    assert got_shuffle == got


def test_cross_embedding_pairs_zero_vectors_never_pair(spark):
    from mongo_es_spark.operators.dedup import cross_embedding_pairs

    zero = [0.0] * 4
    train = spark.createDataFrame(
        [(1, zero), (2, [1.0, 0.0, 0.0, 0.0])], "vec_id long, v array<double>"
    )
    bench = spark.createDataFrame(
        [(100, zero), (101, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, v array<double>",
    )
    got = {
        (r["i"], r["j"])
        for r in cross_embedding_pairs(
            train, bench, "vec_id", "v", dims=4, threshold=0.0
        ).collect()
    }
    # zero vectors have no cosine with anything, their clones included
    assert got == {(2, 101)}


def test_cosine_pairs_col_zero_vector_is_null_not_nan(spark):
    from mongo_es_spark.operators.dedup import cosine_pairs_col

    df = spark.createDataFrame(
        [
            ([0.0, 0.0], [1.0, 0.0]),
            ([1.0, 0.0], [1.0, 0.0]),
            (None, [1.0, 0.0]),
        ],
        "a array<double>, b array<double>",
    )
    vals = [
        r["c"]
        for r in df.select(
            cosine_pairs_col(F.col("a"), F.col("b")).alias("c")
        ).collect()
    ]
    # zero-norm pair -> NULL (NaN would pass ">= t" in Spark); null
    # input -> NULL; real pair scores
    assert vals[0] is None
    assert vals[1] == 1.0
    assert vals[2] is None
    # and NULL fails the verify filter
    kept = (
        df.select(cosine_pairs_col(F.col("a"), F.col("b")).alias("c"))
        .filter(F.col("c") >= 0.0)
        .count()
    )
    assert kept == 1


def test_pipeline_decontaminate_consistency(spark):
    import __spark_entry__ as e

    rows = e.queries()["pipeline_decontaminate"](spark, SF).collect()
    from mongo_es_spark.sources.tables import load_table

    n_train = (
        load_table(spark, SF, "documents")
        .filter(F.col("doc_id") % 10 != 0)
        .count()
    )
    # one row per train doc, keep == no leg hit, flags never NULL
    assert len(rows) == n_train
    for r in rows:
        assert r["exact_hit"] is not None
        assert r["lexical_hit"] is not None
        assert r["semantic_hit"] is not None
        assert r["keep"] == (
            not (r["exact_hit"] or r["lexical_hit"] or r["semantic_hit"])
        )
    # the composition is non-degenerate at this SF: something kept
    assert any(r["keep"] for r in rows)


def test_exact_batch_topk_band_and_exclusions(spark):
    from mongo_es_spark.operators.similarity import exact_batch_topk

    # corpus along one axis: cosine with q0=[1,0] is simply v[0]/|v|
    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),   # the query itself (excluded)
            (1, [1.0, 0.01]),  # near-dup (cos > 0.99 -> excluded)
            (2, [1.0, 0.5]),
            (3, [1.0, 1.0]),
            (4, [0.5, 1.0]),
            (5, [0.0, 1.0]),
            (6, [-1.0, 0.0]),
            (7, None),         # never matches
            (8, [0.0, 0.0]),   # zero vec: no cosine
        ],
        "vec_id long, v array<double>",
    )
    qs = corpus.filter(F.col("vec_id") == 0)
    rows = exact_batch_topk(
        corpus,
        "vec_id",
        "v",
        qs,
        "vec_id",
        "v",
        k=2,
        skip=1,
        dup_threshold=0.99,
        exclude_self=True,
    ).collect()
    # surviving order by cosine desc: 2 (0.894), 3 (0.707), 4 (0.447),
    # 5 (0.0), 6 (-1.0); band ranks (2, 3] -> docs 3 and 4
    got = [(r["q_id"], r["vec_id"], r["rank"]) for r in rows]
    assert got == [(0, 3, 2), (0, 4, 3)]


def test_exact_batch_topk_matches_window_oracle(spark):
    import numpy as np

    from mongo_es_spark.operators.similarity import exact_batch_topk

    rng = np.random.default_rng(5)
    vecs = [(i, rng.standard_normal(16).tolist()) for i in range(200)]
    corpus = spark.createDataFrame(vecs, "vec_id long, v array<double>")
    qs = corpus.filter(F.col("vec_id") < 5)
    got = {
        (r["q_id"], r["rank"]): (r["vec_id"], r["score"])
        for r in exact_batch_topk(
            corpus, "vec_id", "v", qs, "vec_id", "v",
            k=7, skip=3, exclude_self=True,
        ).collect()
    }
    # naive reference: full sort per query
    M = np.asarray([v for _, v in vecs])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    exp = {}
    for q in range(5):
        scores = np.round(Mn @ Mn[q], 6)
        order = sorted(
            (i for i in range(200) if i != q),
            key=lambda i: (-scores[i], i),
        )
        for rank0, i in enumerate(order[3:10], start=4):
            exp[(q, rank0)] = (i, float(scores[i]))
    assert got == exp


def test_exact_batch_topk_zero_and_null_queries(spark):
    from mongo_es_spark.operators.similarity import exact_batch_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, v array<double>"
    )
    qs = spark.createDataFrame(
        [(10, [0.0, 0.0]), (11, None)], "vec_id long, v array<double>"
    )
    out = exact_batch_topk(
        corpus, "vec_id", "v", qs, "vec_id", "v", k=5
    ).collect()
    # zero-norm query has no cosine; NULL query is dropped
    assert out == []


def test_seed_distance_path_graph(spark):
    from mongo_es_spark.operators.similarity import seed_distance

    # path 1-2-3-4-5-6-7 plus isolated 9; seed at 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7)], "i long, j long"
    )
    seeds = spark.createDataFrame([(1,), (1,)], "doc long")  # dup seed
    got = {
        r["doc"]: r["dist"]
        for r in seed_distance(edges, seeds, max_depth=4).collect()
    }
    # horizon 4: nodes 6, 7 and the isolated 9 are absent
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_seed_distance_directed_and_min_over_seeds(spark):
    from mongo_es_spark.operators.similarity import seed_distance

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 3)], "i long, j long"
    )
    seeds = spark.createDataFrame([(1,), (10,)], "doc long")
    got = {
        r["doc"]: r["dist"]
        for r in seed_distance(
            edges, seeds, max_depth=3, directed=True
        ).collect()
    }
    # directed: 2 unreachable from 10; 3 takes the shorter hop (10->3)
    assert got == {1: 0, 10: 0, 2: 1, 3: 1}
    # undirected default: edge 2->1 etc. exist both ways
    got_u = {
        r["doc"]: r["dist"]
        for r in seed_distance(edges, seeds, max_depth=3).collect()
    }
    assert got_u == {1: 0, 10: 0, 2: 1, 3: 1}


def _sd_random_graph(rng, n_nodes=40, n_edges=70):
    import numpy as np

    edges = set()
    while len(edges) < n_edges:
        a, b = rng.integers(0, n_nodes, 2)
        if a != b:
            edges.add((int(a), int(b)))
    return sorted(edges)


def test_incremental_seed_distance_matches_oneshot(spark, tmp_path):
    import numpy as np

    from mongo_es_spark.operators.similarity import (
        incremental_seed_distance,
        seed_distance,
        seed_distance_over_store,
    )

    rng = np.random.default_rng(17)
    edge_list = _sd_random_graph(rng)
    edges = spark.createDataFrame(edge_list, "i long, j long")
    seeds = spark.createDataFrame([(0,), (7,)], "doc long")
    oneshot = {
        (r["doc"], r["dist"])
        for r in seed_distance(edges, seeds, max_depth=3).collect()
    }

    store = str(tmp_path / "sd")
    # seeds arrive with the MIDDLE batch: arrival order must not
    # matter (min composes)
    slices = [
        [e for k, e in enumerate(edge_list) if k % 3 == s]
        for s in range(3)
    ]
    for s, sl in enumerate(slices):
        incremental_seed_distance(
            spark,
            store,
            edges_batch=spark.createDataFrame(sl, "i long, j long"),
            seeds_batch=seeds if s == 1 else None,
            max_depth=3,
        )
    got = {
        (r["doc"], r["dist"])
        for r in seed_distance_over_store(spark, store).collect()
    }
    assert got == oneshot


def test_incremental_seed_distance_replay_noop(spark, tmp_path):
    import numpy as np

    from mongo_es_spark.operators.similarity import (
        incremental_seed_distance,
        seed_distance_over_store,
    )

    store = str(tmp_path / "sd")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "i long, j long")
    seeds = spark.createDataFrame([(1,)], "doc long")
    first = incremental_seed_distance(
        spark, store, edges_batch=edges, seeds_batch=seeds, max_depth=4
    ).collect()
    assert len(first) == 3  # 1@0, 2@1, 3@2
    before = {
        (r["doc"], r["dist"])
        for r in seed_distance_over_store(spark, store).collect()
    }
    replay = incremental_seed_distance(
        spark, store, edges_batch=edges, seeds_batch=seeds, max_depth=4
    ).collect()
    assert replay == []  # strict improvements only: replay is empty
    after = {
        (r["doc"], r["dist"])
        for r in seed_distance_over_store(spark, store).collect()
    }
    assert after == before


def test_incremental_seed_distance_late_edge_improves(spark, tmp_path):
    from mongo_es_spark.operators.similarity import (
        incremental_seed_distance,
        seed_distance_over_store,
    )

    store = str(tmp_path / "sd")
    # path 1-2-3-4 seeded at 1: 4 sits at dist 3
    incremental_seed_distance(
        spark,
        store,
        edges_batch=spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], "i long, j long"
        ),
        seeds_batch=spark.createDataFrame([(1,)], "doc long"),
        max_depth=4,
    )
    # a later shortcut 1-4 must improve 4 (and only 4: 2,3 keep theirs)
    out = incremental_seed_distance(
        spark,
        store,
        edges_batch=spark.createDataFrame([(1, 4)], "i long, j long"),
        max_depth=4,
    ).collect()
    assert {(r["doc"], r["dist"]) for r in out} == {(4, 1)}
    got = {
        r["doc"]: r["dist"]
        for r in seed_distance_over_store(spark, store).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 1}


def test_incremental_seed_distance_params_guard(spark, tmp_path):
    import pytest as _pytest

    from mongo_es_spark.operators.similarity import (
        incremental_seed_distance,
    )

    store = str(tmp_path / "sd")
    incremental_seed_distance(
        spark,
        store,
        edges_batch=spark.createDataFrame([(1, 2)], "i long, j long"),
        seeds_batch=spark.createDataFrame([(1,)], "doc long"),
        max_depth=4,
    )
    with _pytest.raises(ValueError, match="max_depth"):
        incremental_seed_distance(
            spark,
            store,
            edges_batch=spark.createDataFrame([(2, 3)], "i long, j long"),
            max_depth=3,
        )


def test_highlight_snippets_semantics(spark):
    from mongo_es_spark.operators.text import highlight_snippets

    docs = spark.createDataFrame(
        [
            (1, "xx Spark yy table zz"),   # spark first (case-insens.)
            (2, "a table then spark"),     # table first by position
            (3, "sparktable"),             # both at 1/6: tie -> spark? no: spark pos 1 < table pos 6
            (4, "TABLE at the start"),
            (5, "no match here"),          # dropped
            (6, "spark"),                  # clamp: window start < 1
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["matched_term"], r["match_pos"], r["snippet"])
        for r in highlight_snippets(
            docs, "doc_id", "text", ["spark", "table"], window=5
        ).collect()
    }
    assert set(got) == {1, 2, 3, 4, 6}
    # start clamps to 1 (pos 4 - window 5), snippet len = 5+5+5 = 15
    assert got[1] == ("spark", 4, "xx Spark yy tab")
    assert got[2][0] == "table" and got[2][1] == 3
    assert got[3] == ("spark", 1, "sparktable")
    assert got[4][0] == "table" and got[4][1] == 1
    assert got[6] == ("spark", 1, "spark")


def test_highlight_snippets_term_order_tiebreak(spark):
    from mongo_es_spark.operators.text import highlight_snippets

    # both terms match at position 1 ("ab" and "abc"): the FIRST term
    # in the terms list wins the tie
    docs = spark.createDataFrame([(1, "abcd")], "doc_id long, text string")
    row = highlight_snippets(
        docs, "doc_id", "text", ["abc", "ab"], window=2
    ).collect()[0]
    assert row["matched_term"] == "abc"
    row2 = highlight_snippets(
        docs, "doc_id", "text", ["ab", "abc"], window=2
    ).collect()[0]
    assert row2["matched_term"] == "ab"


def test_incremental_bm25_index_replay_and_parity(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        bm25_over_store,
        bm25_search,
        incremental_bm25_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark spark table"),
            (2, "table stream"),
            (3, "stream spark other words here"),
            (4, "nothing relevant"),
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "bm")
    for b in (0, 1):
        out = incremental_bm25_index(
            spark, docs.filter(F.col("doc_id") % 2 == b), store
        ).collect()
        assert len(out) == 2
    replay = incremental_bm25_index(
        spark, docs.filter(F.col("doc_id") % 2 == 0), store
    ).collect()
    assert replay == []  # first-arrival identity: replay appends nothing
    got = [
        (r["doc"], r["score"])
        for r in bm25_over_store(
            spark, store, ["spark", "table", "stream"], top_k=10
        ).collect()
    ]
    exp = [
        (r["doc_id"], r["score"])
        for r in bm25_search(
            docs, "doc_id", "text", ["spark", "table", "stream"], top_k=10
        ).collect()
    ]
    assert got == exp


def test_incremental_bm25_index_crash_repair(spark, tmp_path):
    import shutil

    from mongo_es_spark.operators.text import (
        bm25_over_store,
        incremental_bm25_index,
    )
    from mongo_es_spark.operators.text import (
        _bm_docstats_path,
        _bm_postings_path,
    )
    from mongo_es_spark.storeio import read_parquet_if_exists

    docs = spark.createDataFrame(
        [(1, "spark table"), (2, "stream")], "doc_id long, text string"
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store)
    n_postings = read_parquet_if_exists(
        spark, _bm_postings_path(store)
    ).count()
    # simulate a crash BETWEEN the two appends: postings landed,
    # docstats did not — the retry must re-append docstats without
    # duplicating postings
    shutil.rmtree(_bm_docstats_path(store))
    retried = incremental_bm25_index(spark, docs, store).collect()
    assert {r["doc"] for r in retried} == {1, 2}
    assert (
        read_parquet_if_exists(spark, _bm_postings_path(store)).count()
        == n_postings
    )
    scores = bm25_over_store(spark, store, ["spark"], top_k=5).collect()
    assert [r["doc"] for r in scores] == [1]


def test_incremental_bm25_index_scheme_guard(spark, tmp_path):
    import pytest as _pytest

    from mongo_es_spark.operators.text import (
        _bm_params_path,
        incremental_bm25_index,
    )

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store)
    spark.range(1).select(F.lit(999).cast("int").alias("scheme")).coalesce(
        1
    ).write.mode("overwrite").parquet(_bm_params_path(store))
    with _pytest.raises(ValueError, match="scheme"):
        incremental_bm25_index(spark, docs, store)


def test_phrase_over_store_semantics(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        incremental_bm25_index,
        phrase_over_store,
    )

    docs = spark.createDataFrame(
        [
            (1, "value table x"),
            (2, "table value"),          # reversed: no match
            (3, "value y table"),        # gap: no match
            (4, "value table value table"),
            (5, "table table table"),    # overlapping repeats
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "bm")
    incremental_bm25_index(spark, docs, store)
    vt = {
        (r["doc"], r["n_occurrences"])
        for r in phrase_over_store(spark, store, ["value", "table"]).collect()
    }
    assert vt == {(1, 1), (4, 2)}
    tt = {
        (r["doc"], r["n_occurrences"])
        for r in phrase_over_store(spark, store, ["table", "table"]).collect()
    }
    assert tt == {(5, 2)}  # overlaps count
    one = {
        (r["doc"], r["n_occurrences"])
        for r in phrase_over_store(spark, store, ["value"]).collect()
    }
    assert one == {(1, 1), (2, 1), (3, 1), (4, 2)}  # degenerates to tf
