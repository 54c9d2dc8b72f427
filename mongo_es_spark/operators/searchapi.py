"""The ES ``_search`` API executor: one entry point that takes an
ES-shaped request body and compiles it onto the store's serving
primitives — the capstone that lets a reference user run their actual
search requests instead of calling per-shape helpers::

    search(spark, store, {
        "query": {"bool": {
            "must": [{"match": {"text": "spark streaming"}}],
            "filter": [{"range": {"n_chars": {"gte": 100}}}],
            "must_not": [{"term": {"text": "deprecated"}}],
            "should": [{"match_phrase": {"text": "structured streaming"}}],
        }},
        "size": 10,
        "aggs": {"langs": {"terms": {"field": "lang"}}},
    })

Supported query nodes: ``bool`` (must / filter / should / must_not /
minimum_should_match, arbitrarily nested), ``term`` / ``terms``
(exact tokens), ``match`` (analyzed free text, OR by default,
``"operator": "and"`` supported), ``match_phrase`` (positional),
``prefix`` / ``wildcard`` / ``fuzzy`` (index-vocabulary expansions,
constant score 1 per doc — the Lucene multi-term rewrite), ``range``
/ ``exists`` over stored doc-values fields (constant score in query
context), ``match_all``, ``constant_score`` (any filter at an exact
boost score), and ``query_string`` (the Lucene mini-syntax —
``+``/``-``/AND/OR/NOT/parens/phrases/wildcards/``term~`` fuzz —
parsed by :func:`parse_query_string` into the same node algebra).
Document relations compile as body nodes too: ``nested`` (per-element
doc-values predicate — same-element semantics, higher-order filter in
codegen), ``has_child`` / ``has_parent`` (join-field stores; the
inner query is a full executor query, constant score like ES
score_mode=none).  An ES-8 top-level ``knn`` clause serves from an
IVF index (``dense_store=``) with optional ``filter`` pushdown, its
hits unioning score-summed with ``query``'s (the hybrid contract);
``highlight`` / ``suggest`` / ``search_after`` request keys and the
:func:`count_api` endpoint complete the serving surface.
``multi_match`` scores one query against several analyzed FIELDS —
each backed by its own postings store passed via ``field_stores``
(the engine's multi-field layout; the main store is the ``text``
field) — best_fields (dis_max) or most_fields (sum), per-field
``^boosts``.
Every leaf takes a ``boost`` (multiplies its score contribution);
``match`` takes ``operator: and`` or ``minimum_should_match``;
``term``/``terms`` against a STORED doc-values field name filter
docstats directly (the ES keyword-field form, constant score).

Scoring follows Lucene's additive model: a doc's score is the sum of
its matching scoring clauses' BM25 weights; ``filter`` context
contributes membership but zero score; ``should`` beside a ``must``
boosts without gating (ES's minimum_should_match=0 default there),
while a pure-``should`` bool gates at minimum_should_match (default
1).  ``match_phrase`` gates on the positional occurrence and scores
by its constituent terms' BM25 on the gated docs (a documented
simplification of Lucene's phrase-frequency scoring — the oracle pins
the same definition).  The final score rounds to 6 decimals like
every other serving op.

Scale shape: ONE postings scan pruned to the union of every scoring
clause's analyzed tokens feeds a shared per-(doc, token) BM25 weight
frame (eagerly checkpointed once — clause evaluation then reuses the
materialized matched-sized blocks instead of rescanning the index
per leaf); constant-score leaves prune their own postings scan to
their expanded tokens; doc-values leaves read docstats only.  Every
combinator is a doc-keyed join of matched-sized frames — AQE
broadcasts the small sides — and the top-k is TakeOrderedAndProject.
``aggs`` delegate to the recursive planner over the compiled hit set
(operators/aggs.py:agg_tree_frame).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import (
    _resolve_search_store,
    analyze_store_terms,
    expand_fuzzy_terms,
    expand_wildcard_terms,
    phrase_over_store,
)

_LEAVES = (
    "term", "terms", "match", "match_phrase", "prefix", "wildcard",
    "fuzzy", "range", "exists", "match_all", "query_string",
    "constant_score", "nested", "has_child", "has_parent", "ids",
    "multi_match",
)


def _msm_count(msm, n_clauses: int) -> int:
    """The ES ``minimum_should_match`` forms resolved to a required
    clause count: a positive integer, a negative integer (``-N``: all
    but N), or a percentage string ``"N%"`` / ``"-N%"`` (percentage
    of the optional-clause count, rounded DOWN; negative = all but
    that many).  Unsupported forms raise naming the supported ones
    instead of a bare int() ValueError.  A computed value below 0
    clamps to 0; a value above ``n_clauses`` is kept (ES/Lucene:
    such a query matches nothing)."""
    if isinstance(msm, bool) or not isinstance(msm, (int, str)):
        raise ValueError(
            f"minimum_should_match {msm!r} unsupported — use an "
            "integer, '-N', 'N%' or '-N%'"
        )
    if isinstance(msm, int):
        val = msm
    else:
        s = msm.strip()
        try:
            if s.endswith("%"):
                pct = int(s[:-1])
                part = abs(pct) * n_clauses // 100
                val = part if pct >= 0 else n_clauses - part
            else:
                val = int(s)
        except ValueError:
            raise ValueError(
                f"minimum_should_match {msm!r} unsupported — use an "
                "integer, '-N', 'N%' or '-N%'"
            ) from None
    if val < 0:
        val = n_clauses + val
    return max(val, 0)


def _boost_of(body) -> float:
    """The ES per-clause ``boost`` (default 1.0): multiplies the
    clause's score contribution.  Lives beside the other options in
    the leaf body's inner mapping."""
    if isinstance(body, Mapping):
        inner = next(iter(body.values()), None) if body else None
        if isinstance(inner, Mapping):
            return float(inner.get("boost", 1.0))
    return 1.0


def _apply_boost(hits: DataFrame, boost: float) -> DataFrame:
    if boost == 1.0:
        return hits
    return hits.select(
        "doc", (F.col("score") * F.lit(boost)).alias("score")
    )


def _qs_node(node: Mapping) -> dict:
    body = node["query_string"]
    return parse_query_string(
        str(body["query"]),
        str(body.get("default_operator", "or")).lower(),
    )
_RANGE_OPS = {"gte": ">=", "gt": ">", "lte": "<=", "lt": "<"}


_COMPOUND = ("bool", "dis_max", "function_score", "boosting")


def _node_kind(node: Mapping) -> str:
    kinds = [k for k in node if k in _COMPOUND or k in _LEAVES]
    if len(kinds) != 1:
        raise ValueError(
            f"query node must hold exactly one of bool/{'/'.join(_LEAVES)}"
            f" — got {sorted(node)}"
        )
    return kinds[0]


def _listify(x) -> list:
    if x is None:
        return []
    return list(x) if isinstance(x, (list, tuple)) else [x]


def _leaf_text(body: Mapping):
    """``{field: value}`` or ``{field: {...options}}`` — single-text-
    field stores take the value regardless of the field name."""
    (_field, v), = body.items()
    return v


def parse_query_string(q: str, default_operator: str = "or") -> dict:
    """The Lucene ``query_string`` mini-syntax compiled to executor
    nodes: bare terms (analyzed ``match``), ``"quoted phrases"``,
    ``AND`` / ``OR`` / ``NOT``, ``+term`` (must) / ``-term``
    (must_not), parentheses, trailing ``*``/embedded ``?`` (wildcard)
    and ``term~`` / ``term~2`` (fuzzy).  Juxtaposed terms combine
    with ``default_operator``.  Negations hoist into their enclosing
    bool's ``must_not`` (never an intermediate corpus-sized
    complement frame)."""
    toks = _qs_lex(q)
    node, pos = _qs_or(toks, 0, default_operator)
    if pos != len(toks):
        raise ValueError(
            f"query_string: unexpected {toks[pos]!r} at position {pos}"
        )
    return node


def _qs_lex(q: str) -> list:
    out, i, n = [], 0, len(q)
    while i < n:
        c = q[i]
        if c.isspace():
            i += 1
        elif c in "()":
            out.append(c)
            i += 1
        elif c == '"':
            j = q.find('"', i + 1)
            if j < 0:
                raise ValueError("query_string: unterminated phrase")
            out.append(("phrase", q[i + 1:j]))
            i = j + 1
        elif c in "+-":
            out.append(c)
            i += 1
        else:
            j = i
            while j < n and not q[j].isspace() and q[j] not in '()"':
                j += 1
            word = q[i:j]
            if word in ("AND", "OR", "NOT"):
                out.append(word)
            else:
                out.append(("term", word))
            i = j
    return out


def _qs_or(toks, pos, dop):
    children, pos = [], pos
    node, pos = _qs_and(toks, pos, dop)
    children.append(node)
    while pos < len(toks) and toks[pos] == "OR":
        node, pos = _qs_and(toks, pos + 1, dop)
        children.append(node)
    if len(children) == 1:
        return children[0], pos
    return {"bool": {"should": children}}, pos


def _qs_and(toks, pos, dop):
    """AND chains and bare juxtaposition; ``+``/``-``/``NOT`` mark
    the operand and hoist into this level's bool sections.  ``AND``
    is BINARY, the Lucene/ES reading: it requires exactly the two
    operands it sits between (``a AND b c`` with default_operator=or
    is ``+a +b c`` — ``c`` stays optional), never the whole group; an
    explicit ``+``/``-`` on an operand wins over the promotion."""
    entries: list = []  # ordered [node, sign] with sign in {None,+,-}
    sign = None
    pending_and = False
    while pos < len(toks) and toks[pos] not in (")", "OR"):
        t = toks[pos]
        if t == "AND":
            if not entries:
                raise ValueError("query_string: AND needs a left side")
            # promote the LEFT operand of this AND (unless it carries
            # its own +/- already)
            if entries[-1][1] is None:
                entries[-1][1] = "+"
            pending_and = True
            pos += 1
            continue
        if t in ("NOT", "-"):
            sign = "-"
            pos += 1
            continue
        if t == "+":
            sign = "+"
            pos += 1
            continue
        node, pos = _qs_atom(toks, pos, dop)
        entries.append([node, sign])
        if pending_and:
            # the RIGHT operand of the pending AND
            if entries[-1][1] is None:
                entries[-1][1] = "+"
            pending_and = False
        sign = None
    if not entries:
        raise ValueError("query_string: empty clause")
    must = [n for n, s in entries if s == "+"]
    should = [n for n, s in entries if s is None]
    must_not = [n for n, s in entries if s == "-"]
    # default_operator=and: every plain operand is a requirement
    if dop == "and":
        must = [n for n, s in entries if s != "-"]
        should = []
    if not must and not should and must_not:
        # pure negation: match_all minus
        return {"bool": {"must": [{"match_all": {}}],
                         "must_not": must_not}}, pos
    if len(must) + len(should) == 1 and not must_not:
        return (must + should)[0], pos
    b: dict = {}
    if must:
        b["must"] = must
    if should:
        b["should"] = should
    if must_not:
        b["must_not"] = must_not
    return {"bool": b}, pos


def _qs_atom(toks, pos, dop):
    t = toks[pos]
    if t == "(":
        node, pos = _qs_or(toks, pos + 1, dop)
        if pos >= len(toks) or toks[pos] != ")":
            raise ValueError("query_string: unbalanced parentheses")
        return node, pos + 1
    if isinstance(t, tuple) and t[0] == "phrase":
        return {"match_phrase": {"text": t[1]}}, pos + 1
    if isinstance(t, tuple) and t[0] == "term":
        w = t[1]
        if "~" in w:
            base, _, d = w.partition("~")
            return {
                "fuzzy": {"text": {"value": base,
                                   "fuzziness": int(d) if d else 1}}
            }, pos + 1
        if "*" in w or "?" in w:
            return {"wildcard": {"text": w}}, pos + 1
        return {"match": {"text": w}}, pos + 1
    raise ValueError(f"query_string: unexpected {t!r}")


class _Ctx:
    """Per-request compilation state: the live store frames plus the
    shared scoring-weight frame over every scoring token in the
    tree."""

    def __init__(
        self,
        spark,
        store_path: str,
        k1: float,
        b: float,
        field_stores=None,
    ):
        self.spark = spark
        self.store = store_path
        self.k1, self.b = k1, b
        # per-FIELD postings stores (the engine's multi-field layout:
        # "title" etc. each carry their own index + analyzer); the
        # main store serves the default "text" field
        self.field_stores = dict(field_stores or {})
        view = _resolve_search_store(spark, store_path)
        self.postings, self.docstats = view.postings, view.docstats
        # corpus statistics of a snapshotted mutated store (else None:
        # build_weights aggregates docstats)
        self.n_docs, self.avgdl = view.n_docs, view.avgdl
        self.wtok = None  # (doc, token, w), checkpointed

    def analyze(self, text) -> list:
        toks = str(text).split() if isinstance(text, str) else list(text)
        return list(
            dict.fromkeys(analyze_store_terms(self.spark, self.store, toks))
        )

    def build_weights(self, tokens: Sequence[str]) -> None:
        toks = sorted(set(tokens))
        if not toks or self.postings is None:
            return
        tf = self.postings.filter(F.col("token").isin(toks)).select(
            "doc", "token", "tf"
        )
        n_t = tf.groupBy("token").agg(
            F.countDistinct("doc").alias("df_t")
        )
        rows = tf.join(F.broadcast(n_t), "token").join(
            self.docstats.select("doc", "dl"), "doc"
        )
        if self.n_docs is None:
            rows = rows.crossJoin(
                F.broadcast(
                    self.docstats.agg(
                        F.count("*").alias("n_docs"),
                        F.avg("dl").alias("avgdl"),
                    )
                )
            )
            n_docs, avgdl = F.col("n_docs"), F.col("avgdl")
        else:
            n_docs = F.lit(self.n_docs).cast("long")
            avgdl = F.lit(self.avgdl).cast("double")
        idf = F.log(
            (n_docs - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5) + 1.0
        )
        w = idf * (
            F.col("tf") * (self.k1 + 1)
            / (
                F.col("tf")
                + self.k1 * (1 - self.b + self.b * F.col("dl") / avgdl)
            )
        )
        self.wtok = rows.select(
            "doc", "token", w.alias("w")
        ).localCheckpoint(eager=True)

    def zero(self) -> DataFrame:
        return self.spark.createDataFrame([], "doc long, score double")


def _collect_scoring_tokens(ctx: _Ctx, node: Mapping) -> list:
    """Pre-pass: every analyzed token a scoring clause will weigh —
    the union prunes the one postings scan behind the shared weight
    frame."""
    kind = _node_kind(node)
    if kind == "query_string":
        return _collect_scoring_tokens(ctx, _qs_node(node))
    if kind == "constant_score":
        return _collect_scoring_tokens(
            ctx, node["constant_score"]["filter"]
        )
    if kind == "dis_max":
        out = []
        for child in _listify(node["dis_max"].get("queries")):
            out += _collect_scoring_tokens(ctx, child)
        return out
    if kind == "function_score":
        q = node["function_score"].get("query")
        return _collect_scoring_tokens(ctx, q) if q else []
    if kind == "boosting":
        return _collect_scoring_tokens(
            ctx, node["boosting"]["positive"]
        ) + _collect_scoring_tokens(ctx, node["boosting"]["negative"])
    if kind == "bool":
        out = []
        for sec in ("must", "filter", "should", "must_not"):
            for child in _listify(node["bool"].get(sec)):
                out += _collect_scoring_tokens(ctx, child)
        return out
    if kind in ("has_child", "has_parent"):
        # the relation's inner query runs through the same weight
        # frame for membership — its tokens join the pruned scan
        return _collect_scoring_tokens(ctx, node[kind]["query"])
    if kind == "nested":
        return []  # pure doc-values predicate, no postings tokens
    if kind == "multi_match":
        return []  # per-FIELD stores: each leg runs its own pruned scan
    if kind == "term":
        v = _leaf_text(node["term"])
        return ctx.analyze(
            [str(v["value"] if isinstance(v, Mapping) else v)]
        )
    if kind == "terms":
        (_f, vals), = node["terms"].items()
        return ctx.analyze(list(vals))
    if kind == "match":
        v = _leaf_text(node["match"])
        q = v["query"] if isinstance(v, Mapping) else v
        return ctx.analyze(q)
    if kind == "match_phrase":
        v = _leaf_text(node["match_phrase"])
        q = v["query"] if isinstance(v, Mapping) else v
        return ctx.analyze(q)
    return []


def _nested_pred(path: str, q: Mapping):
    """Compile the ``nested`` inner query into ONE per-element Column
    lambda — every condition evaluated on the SAME array element, the
    semantics ES indexes hidden sub-documents to get (a flattened
    mapping would wrongly match across elements).  Supported inner
    nodes: ``term`` (equality), ``range`` (gte/gt/lte/lt), and
    ``bool`` combining them (must/filter = AND, should = OR,
    must_not = NOT) — the doc-values predicate surface; a full-text
    leaf inside nested raises (per-element postings are not stored).
    Field names may carry the ES ``path.`` prefix or be bare
    subfields."""

    def sub(field: str) -> str:
        pref = path + "."
        return field[len(pref):] if field.startswith(pref) else field

    kind = _node_kind(q)
    if kind == "bool":
        b = q["bool"]
        ands = [
            _nested_pred(path, n)
            for n in _listify(b.get("must")) + _listify(b.get("filter"))
        ]
        ors = [_nested_pred(path, n) for n in _listify(b.get("should"))]
        nots = [_nested_pred(path, n) for n in _listify(b.get("must_not"))]
        if not ands and not ors and not nots:
            raise ValueError("empty bool inside nested query")

        def pred(x):
            out = None
            for p in ands:
                c = p(x)
                out = c if out is None else out & c
            if ors:
                sc = ors[0](x)
                for p in ors[1:]:
                    sc = sc | p(x)
                out = sc if out is None else out & sc
            for p in nots:
                c = ~p(x)
                out = c if out is None else out & c
            return out

        return pred
    if kind == "term":
        (field, v), = q["term"].items()
        val = v["value"] if isinstance(v, Mapping) else v
        return lambda x: x[sub(field)] == F.lit(val)
    if kind == "range":
        (field, bounds), = q["range"].items()
        ops = [(op, v) for op, v in bounds.items() if op in _RANGE_OPS]
        if not ops:
            raise ValueError(
                f"nested range on {field!r} needs one of "
                f"{sorted(_RANGE_OPS)}"
            )

        def pred(x):
            c = x[sub(field)]
            out = None
            for op, v in ops:
                cond = {
                    "gte": c >= F.lit(v), "gt": c > F.lit(v),
                    "lte": c <= F.lit(v), "lt": c < F.lit(v),
                }[op]
                out = cond if out is None else out & cond
            return out

        return pred
    raise ValueError(
        f"nested inner query supports term/range/bool, got {kind!r}"
    )


def _eval(ctx: _Ctx, node: Mapping, scoring: bool) -> DataFrame:
    """Compile a query node to its hit frame ``(doc, score)``."""
    kind = _node_kind(node)
    if kind == "query_string":
        return _eval(ctx, _qs_node(node), scoring)
    if kind == "constant_score":
        # ES constant_score: the wrapped filter gates membership, the
        # score is exactly `boost` per matching doc
        body = node["constant_score"]
        gated = _eval(ctx, body["filter"], False)
        b = float(body.get("boost", 1.0))
        return gated.select(
            "doc", F.lit(b if scoring else 0.0).alias("score")
        )
    if kind == "function_score":
        return _eval_function_score(
            ctx, node["function_score"], scoring
        )
    if kind == "dis_max":
        # ES dis_max: membership is the union of the sub-queries, the
        # score is the BEST sub-score plus tie_breaker times the rest
        # (best + tb*(sum - best)) — the multi-strategy query shape
        # where summing would over-reward redundant matches
        body = node["dis_max"]
        children = [
            _eval(ctx, n, scoring)
            for n in _listify(body.get("queries"))
        ]
        if not children:
            raise ValueError("dis_max needs at least one sub-query")
        tb = float(body.get("tie_breaker", 0.0))
        if not 0.0 <= tb <= 1.0:
            raise ValueError("dis_max tie_breaker must be in [0, 1]")
        u = children[0]
        for c in children[1:]:
            u = u.unionByName(c)
        out = u.groupBy("doc").agg(
            (
                F.max("score")
                + F.lit(tb) * (F.sum("score") - F.max("score"))
            ).alias("score")
        )
        return out if scoring else out.select(
            "doc", F.lit(0.0).alias("score")
        )
    if kind == "boosting":
        # ES boosting query: positive gates membership and scores;
        # docs ALSO matching negative keep membership but their score
        # multiplies by negative_boost (demote, don't exclude — the
        # soft must_not).  One matched-sized left-semi mark join.
        body = node["boosting"]
        nb = float(body.get("negative_boost", 0.5))
        pos = _eval(ctx, body["positive"], scoring)
        neg = _eval(ctx, body["negative"], False).select(
            "doc", F.lit(True).alias("__neg")
        )
        out = pos.join(neg, "doc", "left").select(
            "doc",
            F.when(
                F.col("__neg").isNotNull(),
                F.col("score") * F.lit(nb),
            ).otherwise(F.col("score")).alias("score"),
        )
        return out if scoring else out.select(
            "doc", F.lit(0.0).alias("score")
        )

    if kind == "multi_match":
        # ES multi_match over the per-field-store layout: one scored
        # frame per field (each its own token-pruned scan through its
        # own analyzer + df/avgdl statistics), matched-sized union,
        # one doc-keyed combine — best_fields = Lucene dis_max
        # (max + tie_breaker * rest), most_fields = sum.  Per-field
        # ^boosts multiply that field's BM25.
        from .text import _bm25_scored

        body = node["multi_match"]
        qtext = body["query"]
        terms = (
            str(qtext).split()
            if isinstance(qtext, str)
            else list(qtext)
        )
        mtype = body.get("type", "best_fields")
        if mtype not in ("best_fields", "most_fields"):
            raise ValueError(
                "multi_match type must be best_fields|most_fields"
            )
        tb = float(body.get("tie_breaker", 0.0))
        per = []
        for fspec in _listify(body.get("fields")):
            name, _, bs = str(fspec).partition("^")
            path = ctx.field_stores.get(name)
            if path is None and name in ("text", ""):
                path = ctx.store
            if path is None:
                raise ValueError(
                    f"multi_match field {name!r} has no per-field "
                    f"store — pass field_stores={{{name!r}: <path>}} "
                    f"to search(); have {sorted(ctx.field_stores)}"
                )
            s = _bm25_scored(ctx.spark, path, terms, ctx.k1, ctx.b)
            if s is None:
                continue
            w = float(bs) if bs else 1.0
            per.append(
                s.select(
                    "doc", (F.col("score") * F.lit(w)).alias("score")
                )
            )
        if not per:
            return ctx.zero()
        u = per[0]
        for p in per[1:]:
            u = u.unionByName(p)
        if mtype == "most_fields":
            combined = F.sum("score")
        else:
            combined = F.max("score") + F.lit(tb) * (
                F.sum("score") - F.max("score")
            )
        hits = u.groupBy("doc").agg(combined.alias("score"))
        if not scoring:
            return hits.select("doc", F.lit(0.0).alias("score"))
        return _apply_boost(hits, float(body.get("boost", 1.0)))

    if kind == "ids":
        # ES ids query: point membership on the doc id, constant
        # score — the values list is request-sized, a pushed-down
        # In(doc, …) filter on docstats
        if ctx.docstats is None:
            return ctx.zero()
        vals = list(node["ids"]["values"])
        if not vals:
            return ctx.zero()
        docs = ctx.docstats.filter(F.col("doc").isin(vals)).select(
            "doc"
        )
        b = float(node["ids"].get("boost", 1.0))
        return docs.select(
            "doc", F.lit(b if scoring else 0.0).alias("score")
        )

    if kind == "bool":
        return _eval_bool(ctx, node["bool"], scoring)

    if kind in ("term", "terms", "match"):
        body = node[kind]
        # term/terms against a STORED doc-values field (the ES
        # keyword-field form: {"term": {"lang": "en"}}) filters
        # docstats directly — no postings, constant score 1, exactly
        # the non-analyzed term semantics.  Anything else targets the
        # text field through the store's analyzer.
        if kind in ("term", "terms"):
            (field, raw_v), = body.items()
            ds = ctx.docstats
            if (
                ds is not None
                and field in ds.columns
                and field not in ("doc", "dl")
            ):
                if kind == "term":
                    v = (
                        raw_v["value"]
                        if isinstance(raw_v, Mapping)
                        else raw_v
                    )
                    docs = ds.filter(F.col(field) == v).select("doc")
                else:
                    docs = ds.filter(
                        F.col(field).isin(list(raw_v))
                    ).select("doc")
                return docs.select(
                    "doc",
                    F.lit(
                        _boost_of(body) if scoring else 0.0
                    ).alias("score"),
                )
        if kind == "term":
            v = _leaf_text(body)
            tok = v["value"] if isinstance(v, Mapping) else v
            toks, need = ctx.analyze([str(tok)]), 1
        elif kind == "terms":
            (_f, vals), = body.items()
            toks, need = ctx.analyze(list(vals)), 1
        else:
            v = _leaf_text(body)
            q = v["query"] if isinstance(v, Mapping) else v
            toks = ctx.analyze(q)
            if isinstance(v, Mapping):
                if v.get("operator", "or") == "and":
                    need = len(toks)
                else:
                    need = _msm_count(
                        v.get("minimum_should_match", 1), len(toks)
                    )
            else:
                need = 1
        if ctx.wtok is None or not toks:
            return ctx.zero()
        hits = (
            ctx.wtok.filter(F.col("token").isin(toks))
            .groupBy("doc")
            .agg(
                F.sum("w").alias("score"),
                F.countDistinct("token").alias("__nt"),
            )
            .filter(F.col("__nt") >= need)
            .drop("__nt")
        )
        if not scoring:
            return hits.select("doc", F.lit(0.0).alias("score"))
        return _apply_boost(hits, _boost_of(body))

    if kind == "match_phrase":
        v = _leaf_text(node["match_phrase"])
        q = v["query"] if isinstance(v, Mapping) else v
        toks = ctx.analyze(q)
        if ctx.postings is None or not toks:
            return ctx.zero()
        gated = phrase_over_store(ctx.spark, ctx.store, toks).select(
            "doc"
        )
        if not scoring or ctx.wtok is None:
            return gated.select("doc", F.lit(0.0).alias("score"))
        sc = (
            ctx.wtok.filter(F.col("token").isin(toks))
            .groupBy("doc")
            .agg(F.sum("w").alias("score"))
        )
        return _apply_boost(
            gated.join(sc, "doc", "inner"),
            _boost_of(node["match_phrase"]),
        )

    if kind in ("prefix", "wildcard", "fuzzy"):
        body = node[kind]
        (field, v), = body.items()
        if ctx.postings is None:
            return ctx.zero()
        if kind == "prefix":
            pat = str(v if not isinstance(v, Mapping) else v["value"])
            exp = expand_wildcard_terms(
                ctx.spark, ctx.store, pat + "*"
            )
        elif kind == "wildcard":
            pat = str(v if not isinstance(v, Mapping) else v["value"])
            exp = expand_wildcard_terms(ctx.spark, ctx.store, pat)
        else:
            vv = v if isinstance(v, Mapping) else {"value": v}
            exp = expand_fuzzy_terms(
                ctx.spark, ctx.store, [str(vv["value"])],
                max_dist=int(vv.get("fuzziness", 1)),
            )
        if not exp:
            return ctx.zero()
        docs = (
            ctx.postings.filter(F.col("token").isin(list(exp)))
            .select("doc")
            .distinct()
        )
        # Lucene multi-term rewrite: constant score boost (default 1)
        # in query context, 0 in filter context
        return docs.select(
            "doc",
            F.lit(
                _boost_of(body) if scoring else 0.0
            ).alias("score"),
        )

    if kind in ("range", "exists", "match_all"):
        if ctx.docstats is None:
            return ctx.zero()
        if kind == "match_all":
            docs = ctx.docstats.select("doc")
        elif kind == "exists":
            f = node["exists"]["field"]
            docs = ctx.docstats.filter(
                F.col(f).isNotNull()
            ).select("doc")
        else:
            (f, bounds), = node["range"].items()
            cond = F.lit(True)
            for op, v in bounds.items():
                if op == "boost":
                    continue
                if op not in _RANGE_OPS:
                    raise ValueError(
                        f"range op {op!r} not one of {sorted(_RANGE_OPS)}"
                    )
                c = F.col(f)
                cond = cond & {
                    "gte": c >= v, "gt": c > v,
                    "lte": c <= v, "lt": c < v,
                }[op]
            docs = ctx.docstats.filter(cond).select("doc")
        return docs.select(
            "doc",
            F.lit(
                _boost_of(node.get(kind, {})) if scoring else 0.0
            ).alias("score"),
        )

    if kind == "nested":
        # constant score like ES score_mode=none (the doc-values
        # predicate surface has no per-child relevance to average);
        # membership = at least one array element satisfying ALL
        # conditions — a higher-order filter inside codegen, no
        # explode, no shuffle
        body = node["nested"]
        path = str(body["path"])
        if ctx.docstats is None:
            return ctx.zero()
        if path not in ctx.docstats.columns:
            raise ValueError(
                f"nested path {path!r} is not a stored field; "
                f"docstats has {ctx.docstats.columns}"
            )
        pred = _nested_pred(path, body["query"])
        docs = ctx.docstats.filter(
            F.size(F.filter(F.col(path), pred)) > 0
        ).select("doc")
        b = float(body.get("boost", 1.0))
        return docs.select(
            "doc", F.lit(b if scoring else 0.0).alias("score")
        )

    if kind in ("has_child", "has_parent"):
        # document relations over the join-field store layout
        # (operators/nested.py conventions): join_field names the
        # relation column, parent_field the routing column.  Constant
        # score (ES score_mode=none default).  The inner query is a
        # FULL executor query over the same index — its hits are
        # matched-sized, the parent-keyed count/semi-joins never
        # touch unmatched docs.
        body = node[kind]
        ds = ctx.docstats
        join_col = str(body.get("join_field", "join_name"))
        parent_col = str(body.get("parent_field", "parent_id"))
        parent_name = str(body.get("parent_type", "parent"))
        if ds is None:
            return ctx.zero()
        if join_col not in ds.columns or parent_col not in ds.columns:
            raise ValueError(
                f"{kind} needs stored join-field columns "
                f"{join_col!r}/{parent_col!r}; docstats has "
                f"{ds.columns}"
            )
        inner = _eval(ctx, body["query"], False).select("doc")
        if kind == "has_child":
            ctype = body.get("type")
            kids = ds.join(inner, "doc", "left_semi").filter(
                F.col(parent_col).isNotNull()
            )
            kids = (
                kids.filter(F.col(join_col) == str(ctype))
                if ctype
                else kids.filter(F.col(join_col) != parent_name)
            )
            counts = kids.groupBy(parent_col).agg(
                F.count("*").alias("__nc")
            ).filter(F.col("__nc") >= int(body.get("min_children", 1)))
            if "max_children" in body:
                counts = counts.filter(
                    F.col("__nc") <= int(body["max_children"])
                )
            docs = (
                ds.filter(F.col(join_col) == parent_name)
                .select("doc")
                .join(
                    counts.select(F.col(parent_col).alias("doc")),
                    "doc",
                    "left_semi",
                )
            )
        else:
            pids = (
                ds.filter(F.col(join_col) == parent_name)
                .join(inner, "doc", "left_semi")
                .select(F.col("doc").alias(parent_col))
            )
            docs = (
                ds.filter(F.col(join_col) != parent_name)
                .filter(F.col(parent_col).isNotNull())
                .join(pids, parent_col, "left_semi")
                .select("doc")
            )
        b = float(body.get("boost", 1.0))
        return docs.select(
            "doc", F.lit(b if scoring else 0.0).alias("score")
        )

    raise ValueError(f"unsupported query node {kind!r}")


_FVF_MODS = {
    "none": lambda v: v,
    "log1p": lambda v: F.log10(v + F.lit(1.0)),
    "ln1p": lambda v: F.log(v + F.lit(1.0)),
    "sqrt": F.sqrt,
    "square": lambda v: v * v,
    "reciprocal": lambda v: F.lit(1.0) / v,
}
_DECAY_KINDS = ("gauss", "exp", "linear")


def _decay_factor(kind: str, col, body: Mapping, is_date: bool):
    """ES decay functions over a numeric or date doc-values field:
    d' = max(0, |v - origin| - offset); gauss = exp(-d'^2 ln(1/decay)
    / scale^2), exp = exp(-d' ln(1/decay) / scale), linear =
    max(0, 1 - d'(1-decay)/scale) — each equals ``decay`` exactly at
    offset + scale, the ES contract.  Missing values keep factor 1
    (origin-distance 0)."""
    import datetime as _dt
    import math

    decay = float(body.get("decay", 0.5))
    scale = float(body["scale"])
    offset = float(body.get("offset", 0.0))
    if not (0.0 < decay < 1.0) or scale <= 0:
        raise ValueError(
            f"{kind}: decay must be in (0,1) and scale positive"
        )
    if is_date:
        origin = body["origin"]
        origin = (
            origin
            if isinstance(origin, _dt.date)
            else _dt.date.fromisoformat(str(origin))
        )
        dist = F.abs(F.datediff(col, F.lit(origin))).cast("double")
    else:
        dist = F.abs(col.cast("double") - F.lit(float(body["origin"])))
    d = F.greatest(F.lit(0.0), dist - F.lit(offset))
    if kind == "gauss":
        c = math.log(1.0 / decay) / scale**2
        raw = F.exp(-d * d * F.lit(c))
    elif kind == "exp":
        c = math.log(1.0 / decay) / scale
        raw = F.exp(-d * F.lit(c))
    else:
        raw = F.greatest(
            F.lit(0.0),
            F.lit(1.0) - d * F.lit((1.0 - decay) / scale),
        )
    return F.coalesce(raw, F.lit(1.0))


def _eval_function_score(
    ctx: _Ctx, body: Mapping, scoring: bool
) -> DataFrame:
    """ES ``function_score``: the wrapped query's hits re-scored by a
    list of functions — ``field_value_factor``, ``gauss``/``exp``/
    ``linear`` decay (numeric or date fields), or a bare ``weight`` —
    combined across functions per ``score_mode`` (multiply/sum) and
    with the query score per ``boost_mode`` (multiply/sum).  One
    doc-keyed join against a column-pruned docstats projection brings
    the referenced doc values; the function math is pure codegen."""
    from pyspark.sql.types import DateType, TimestampType

    q = body.get("query") or {"match_all": {}}
    hits = _eval(ctx, q, scoring)
    funcs = _listify(body.get("functions"))
    if not funcs:
        raise ValueError("function_score needs at least one function")
    score_mode = body.get("score_mode", "multiply")
    boost_mode = body.get("boost_mode", "multiply")
    if score_mode not in ("multiply", "sum") or boost_mode not in (
        "multiply", "sum",
    ):
        raise ValueError("score_mode/boost_mode must be multiply|sum")

    need: list = []
    factors = []
    for fn in funcs:
        if "weight" in fn and len(fn) == 1:
            factors.append(F.lit(float(fn["weight"])))
            continue
        (fkind, fbody), = (
            (k, v) for k, v in fn.items() if k != "weight"
        )
        w = float(fn.get("weight", 1.0))
        if fkind == "field_value_factor":
            f = fbody["field"]
            mod = fbody.get("modifier", "none")
            if mod not in _FVF_MODS:
                raise ValueError(
                    f"field_value_factor modifier must be one of "
                    f"{sorted(_FVF_MODS)}"
                )
            val = F.coalesce(
                F.col(f).cast("double"),
                F.lit(float(fbody.get("missing", 1.0))),
            )
            factors.append(
                F.lit(w * float(fbody.get("factor", 1.0)))
                * _FVF_MODS[mod](val)
            )
            need.append(f)
        elif fkind in _DECAY_KINDS:
            (f, dbody), = fbody.items()
            is_date = isinstance(
                ctx.docstats.schema[f].dataType,
                (DateType, TimestampType),
            )
            factors.append(
                F.lit(w) * _decay_factor(fkind, F.col(f), dbody, is_date)
            )
            need.append(f)
        else:
            raise ValueError(
                f"unsupported function_score function {fkind!r}"
            )

    for f in need:
        if f not in ctx.docstats.columns:
            raise ValueError(
                f"function_score field {f!r} is not stored in the "
                "index"
            )
    if need:
        hits = hits.join(
            ctx.docstats.select("doc", *sorted(set(need))), "doc"
        )
    combined = factors[0]
    for fac in factors[1:]:
        combined = (
            combined * fac if score_mode == "multiply"
            else combined + fac
        )
    final = (
        F.col("score") * combined
        if boost_mode == "multiply"
        else F.col("score") + combined
    )
    out = hits.select("doc", final.alias("score"))
    return out if scoring else out.select(
        "doc", F.lit(0.0).alias("score")
    )


def _eval_knn(ctx: _Ctx, body: Mapping, dense_store) -> DataFrame:
    """The ES-8 top-level ``knn`` clause: top-``k`` docs by cosine
    similarity to ``query_vector``, served from a materialized IVF
    index (similarity.ivf_exact_topk — cell partition-pruned, exact
    by certificate).  ``filter`` is any executor query node evaluated
    against the LEXICAL store's doc values; its hit-id set pushes
    into the vector ranking as a semi-join on the scanned cells,
    exactly the ES filtered-kNN contract (filter during, not after —
    always k results when k docs qualify).  ``boost`` multiplies the
    cosine score for hybrid combination."""
    if dense_store is None:
        raise ValueError(
            "knn clause needs the dense index: call "
            "search(..., dense_store=<IVF index path>)"
        )
    from .similarity import ivf_exact_topk

    qv = [float(x) for x in body["query_vector"]]
    k = int(body.get("k", 10))
    allow = None
    flt = body.get("filter")
    if flt is not None:
        allow = _eval(ctx, flt, False).select("doc")
    id_col = str(body.get("id_field", "vec_id"))
    res = ivf_exact_topk(
        ctx.spark, dense_store, qv, id_col, k=k, allow_ids=allow
    ).select(F.col(id_col).alias("doc"), "score")
    return _apply_boost(res, float(body.get("boost", 1.0)))


def _sum_join_outer(a: DataFrame, b: DataFrame) -> DataFrame:
    """ES-8 hybrid combination of ``query`` and ``knn`` hits: the
    UNION of both result sets, scores summed where a doc appears in
    both — a full-outer doc-keyed join of two matched-sized frames."""
    aa = a.select("doc", F.col("score").alias("__s1"))
    bb = b.select("doc", F.col("score").alias("__s2"))
    return aa.join(bb, "doc", "full_outer").select(
        "doc",
        (
            F.coalesce(F.col("__s1"), F.lit(0.0))
            + F.coalesce(F.col("__s2"), F.lit(0.0))
        ).alias("score"),
    )


def _sum_join(a: DataFrame, b: DataFrame, how: str) -> DataFrame:
    """Doc-keyed score combination: ``inner`` intersects (both
    scores add), ``left`` keeps ``a`` and adds ``b`` where present."""
    bb = b.select("doc", F.col("score").alias("__s2"))
    return (
        a.join(bb, "doc", how)
        .select(
            "doc",
            (
                F.col("score") + F.coalesce(F.col("__s2"), F.lit(0.0))
            ).alias("score"),
        )
    )


def _eval_bool(ctx: _Ctx, b: Mapping, scoring: bool) -> DataFrame:
    musts = [
        _eval(ctx, n, scoring) for n in _listify(b.get("must"))
    ]
    filts = [
        _eval(ctx, n, False) for n in _listify(b.get("filter"))
    ]
    shoulds = [
        _eval(ctx, n, scoring) for n in _listify(b.get("should"))
    ]
    nots = [
        _eval(ctx, n, False) for n in _listify(b.get("must_not"))
    ]
    msm = b.get("minimum_should_match")

    base = None
    for m in musts + filts:
        base = m if base is None else _sum_join(base, m, "inner")

    if base is not None:
        # ES: should beside must/filter boosts without gating
        # (minimum_should_match defaults to 0 there); an explicit msm
        # re-gates on the number of matched should clauses
        if shoulds:
            tagged = [
                s.select(
                    "doc", "score", F.lit(i).alias("__i")
                )
                for i, s in enumerate(shoulds)
            ]
            u = tagged[0]
            for t in tagged[1:]:
                u = u.unionByName(t)
            boost = u.groupBy("doc").agg(
                F.sum("score").alias("score"),
                F.countDistinct("__i").alias("__ns"),
            )
            if msm:
                boost_g = boost.filter(
                    F.col("__ns") >= _msm_count(msm, len(shoulds))
                )
                base = _sum_join(
                    base,
                    boost_g.select("doc", "score"),
                    "inner",
                )
            else:
                base = _sum_join(
                    base, boost.select("doc", "score"), "left"
                )
    elif shoulds:
        need = _msm_count(msm, len(shoulds)) if msm else 1
        tagged = [
            s.select("doc", "score", F.lit(i).alias("__i"))
            for i, s in enumerate(shoulds)
        ]
        u = tagged[0]
        for t in tagged[1:]:
            u = u.unionByName(t)
        base = (
            u.groupBy("doc")
            .agg(
                F.sum("score").alias("score"),
                F.countDistinct("__i").alias("__ns"),
            )
            .filter(F.col("__ns") >= need)
            .select("doc", "score")
        )
    elif nots:
        # pure must_not: match_all minus the blocked set
        if ctx.docstats is None:
            return ctx.zero()
        base = ctx.docstats.select(
            "doc", F.lit(0.0).alias("score")
        )
    else:
        raise ValueError("empty bool query")

    # NO broadcast hint on the excluded side: a must_not over a
    # frequent term, match_all or a wide range is corpus-sized, and a
    # forced broadcast would blow the driver limit exactly at the
    # scale this module claims — AQE picks broadcast on its own when
    # the hit set really is small
    for n in nots:
        base = base.join(n.select("doc"), "doc", "left_anti")
    return base if scoring else base.select(
        "doc", F.lit(0.0).alias("score")
    )


def search(
    spark,
    store_path: str,
    body: Mapping,
    k1: float = 1.2,
    b: float = 0.75,
    dense_store: str | None = None,
    field_stores=None,
) -> DataFrame:
    """Execute an ES-shaped ``_search`` request body against the
    store — see the module docstring for the supported surface
    (``field_stores`` maps additional analyzed FIELD names to their
    per-field postings stores for ``multi_match``; the main store is
    the default ``text`` field), plus:

    * ``size`` / ``from`` — page window (offset+limit AFTER the
      global order, the ES from/size contract; deep ``from`` pays the
      same cost it pays in ES — prefer search_after for deep paging);
    * ``sort`` — list of ``"_score"`` / ``"field"`` /
      ``{"field": {"order": "asc"|"desc"}}`` over stored doc-values
      fields, ``doc`` ascending appended as the deterministic
      tiebreak; default ``[_score desc]``;
    * ``search_after`` — live-store cursor paging: the previous
      page's LAST row's sort values (one per sort entry, plus the
      ``doc`` tiebreak as the final element); strictly-after rows
      only, cannot combine with ``from``;
    * ``fields`` — stored doc-values columns to return with each hit;
    * ``knn`` — the ES-8 top-level clause (``query_vector``, ``k``,
      optional ``filter`` / ``boost``), served from the IVF index
      passed as ``dense_store``; beside a ``query`` the two hit sets
      union with scores summed (the ES hybrid contract);
    * ``highlight`` — ``{"fields": {"<stored field>": {}}}``: the
      page's hits gain ``matched_term`` / ``match_pos`` / ``snippet``
      columns computed over the stored text of JUST the returned
      page (a point-lookup-sized projection, never a corpus pass);
    * ``suggest`` — one named term-suggester
      (``{"name": {"text": …, "term": {…}}}``); like ``aggs`` the
      response schema differs, so the suggestion frame is returned
      instead of hits.

    Returns the hits frame ``(doc, score, …sort/requested fields[,
    highlight columns])``, or the aggregation / suggestion frame when
    ``aggs`` / ``suggest`` is present (ES runs those over the FULL
    hit set; hits are not returned alongside them here)."""
    ctx = _Ctx(spark, store_path, k1, b, field_stores)
    if ctx.postings is None or ctx.docstats is None:
        return ctx.zero()

    if "suggest" in body:
        from .text import suggest_terms

        sug = body["suggest"]
        if len(sug) != 1:
            raise ValueError(
                "exactly one named suggester per request (the "
                "suggestion frame is the whole response)"
            )
        (_name, one), = sug.items()
        term = one.get("term")
        if term is None:
            raise ValueError("only the term suggester is supported")
        toks = str(one["text"]).split()
        return suggest_terms(
            spark, store_path, toks,
            max_dist=int(term.get("max_edits", 1)),
            size=int(term.get("size", 3)),
        )

    knn = body.get("knn")
    q = body.get("query")
    if q is None and knn is None:
        q = {"match_all": {}}
    hits = None
    hl_tokens: list = []
    rq_node = (body.get("rescore") or {}).get("query", {}).get(
        "rescore_query"
    )
    wtoks: list = []
    if q is not None:
        hl_tokens = _collect_scoring_tokens(ctx, q)
        wtoks += hl_tokens
    if rq_node is not None:
        # the rescore query shares the one pruned weight frame
        wtoks += _collect_scoring_tokens(ctx, rq_node)
    if q is not None or wtoks:
        ctx.build_weights(wtoks)
    if q is not None:
        hits = _eval(ctx, q, scoring=True)
    if knn is not None:
        kn = _eval_knn(ctx, knn, dense_store)
        hits = kn if hits is None else _sum_join_outer(hits, kn)

    if "aggs" in body:
        from .aggs import _BUCKET_KINDS, agg_forest_frame, agg_tree_frame

        matched = ctx.docstats.join(
            hits.select("doc"), "doc", "left_semi"
        )
        spec = body["aggs"]
        n_roots = sum(
            1
            for node in spec.values()
            if isinstance(node, Mapping)
            and any(k in _BUCKET_KINDS for k in node)
        )
        if n_roots >= 2:
            # sibling bucket forest: N subtrees over ONE cached
            # matched frame, long-schema union (agg, key, n_docs,
            # metric, value)
            return agg_forest_frame(matched, spec)
        return agg_tree_frame(matched, spec)

    size = int(body.get("size", 10))
    frm = int(body.get("from", 0))
    hits = hits.select(
        "doc", F.round(F.col("score"), 6).alias("score")
    )

    rescored = False
    if body.get("rescore"):
        # ES rescore: the top window_size hits re-rank by
        # query_weight * original + rescore_query_weight * rescore
        # score; docs beyond the window keep their original order
        # BELOW the window (the window stays the top block — pinned
        # via the __w sort prefix).  The rescore query evaluates off
        # the shared token-pruned weight frame (cost ∝ its terms'
        # postings, not corpus) and joins down to the window —
        # precision-on-top-of-recall, the reason the API exists.
        if (
            body.get("sort")
            or body.get("collapse")
            or body.get("search_after") is not None
        ):
            raise ValueError(
                "rescore supports only the default _score sort "
                "(no sort/collapse/search_after — the ES restriction)"
            )
        rc = body["rescore"]
        rq = rc["query"]
        window = int(rc.get("window_size", 10))
        qw = float(rq.get("query_weight", 1.0))
        rw = float(rq.get("rescore_query_weight", 1.0))
        win = (
            hits.orderBy(F.col("score").desc(), F.col("doc").asc())
            .limit(window)
            .localCheckpoint(eager=True)
        )
        # rescore leg rounds to 6 dp BEFORE combining, like the base
        # score — the combination is then exactly reproducible from
        # two rounded legs (what the cross-engine oracle pins)
        rs = _eval(ctx, rq["rescore_query"], True).select(
            "doc", F.round(F.col("score"), 6).alias("__rs")
        )
        win2 = win.join(rs, "doc", "left").select(
            "doc",
            F.round(
                F.col("score") * F.lit(qw)
                + F.coalesce(F.col("__rs"), F.lit(0.0)) * F.lit(rw),
                6,
            ).alias("score"),
            F.lit(1).alias("__w"),
        )
        rest = hits.join(win.select("doc"), "doc", "left_anti").select(
            "doc", "score", F.lit(0).alias("__w")
        )
        hits = win2.unionByName(rest)
        rescored = True

    collapse = body.get("collapse")
    if collapse:
        # ES field collapsing: keep the best hit per value of a
        # stored field (score desc, doc asc within the group) BEFORE
        # paging — a window over the hit frame, NULL group kept as
        # its own bucket like ES
        cf = str(collapse["field"])
        if cf not in ctx.docstats.columns:
            raise ValueError(
                f"collapse field {cf!r} is not stored in the index"
            )
        from pyspark.sql.window import Window

        hits = (
            hits.join(ctx.docstats.select("doc", cf), "doc")
            .withColumn(
                "__cr",
                F.row_number().over(
                    Window.partitionBy(cf).orderBy(
                        F.col("score").desc(), F.col("doc").asc()
                    )
                ),
            )
            .filter(F.col("__cr") == 1)
            .drop("__cr", cf)
        )

    sort = body.get("sort") or ["_score"]
    fields = [str(f) for f in body.get("fields", [])]
    need_cols = list(fields)
    specs = []  # (Column, desc) pairs including the doc tiebreak
    for entry in sort:
        if isinstance(entry, Mapping):
            (f, opts), = entry.items()
            desc = str(opts.get("order", "asc")) == "desc"
        else:
            f, desc = str(entry), str(entry) == "_score"
        if f == "_score":
            col = F.col("score")
        else:
            col = F.col(f)
            if f not in need_cols:
                need_cols.append(f)
        specs.append((col, desc))
    specs.append((F.col("doc"), False))
    if rescored:
        # window block first, then the original-order tail
        specs = [(F.col("__w"), True)] + specs
    order = [c.desc() if d else c.asc() for c, d in specs]

    for f in need_cols:
        if f not in ctx.docstats.columns:
            raise ValueError(
                f"sort/fields column {f!r} is not stored in the "
                f"index; docstats has {ctx.docstats.columns}"
            )
    if need_cols:
        hits = hits.join(
            ctx.docstats.select("doc", *need_cols), "doc"
        )

    cursor = body.get("search_after")
    if cursor is not None:
        # live-store cursor paging: keep only rows STRICTLY after the
        # cursor in the total sort order — a lexicographic predicate
        # over the sort keys, pushed before the top-k so the page
        # costs one TakeOrderedAndProject like page one (never the
        # offset's sort-then-skip)
        if frm:
            raise ValueError(
                "search_after cannot combine with from (ES rejects "
                "the pair too) — cursors ARE the deep-paging path"
            )
        cursor = list(cursor)
        if len(cursor) != len(specs):
            raise ValueError(
                f"search_after needs one value per sort key plus the "
                f"doc tiebreak ({len(specs)} total), got {len(cursor)}"
            )
        after = F.lit(False)
        eq = F.lit(True)
        for (col, desc), cv in zip(specs, cursor):
            cmp = col < F.lit(cv) if desc else col > F.lit(cv)
            after = after | (eq & cmp)
            eq = eq & col.eqNullSafe(F.lit(cv))
        hits = hits.filter(after)

    paged_full = hits.orderBy(*order)
    if frm:
        paged_full = paged_full.offset(frm)
    paged_full = paged_full.limit(size)
    paged = paged_full.select("doc", "score", *fields)

    hl = body.get("highlight")
    if hl:
        # highlight over the RETURNED PAGE only: join the stored text
        # of the ≤size hits (a point-lookup-sized select) and run the
        # snippet projection there — the ES stored-field-fetch-per-hit
        # shape, never a corpus pass.  Hits without a match keep NULL
        # highlight columns (ES omits the highlight key there).
        from .text import highlight_snippets

        hl_fields = list(hl.get("fields", {}))
        if len(hl_fields) != 1:
            raise ValueError(
                "highlight needs exactly one stored text field"
            )
        fld = str(hl_fields[0])
        if fld not in ctx.docstats.columns:
            raise ValueError(
                f"highlight field {fld!r} is not stored in the index"
            )
        opts = hl.get("fields", {}).get(fld) or {}
        window = int(opts.get("fragment_size", 60)) // 2
        joined = (
            paged_full
            if fld in need_cols
            else paged_full.join(ctx.docstats.select("doc", fld), "doc")
        )
        page = joined.localCheckpoint(eager=True)
        terms = [t for t in dict.fromkeys(hl_tokens)]
        snips = highlight_snippets(
            page, "doc", fld, terms, window=window
        ).select("doc", "matched_term", "match_pos", "snippet")
        return (
            page.join(snips, "doc", "left")
            .orderBy(*order)
            .select(
                "doc", "score", *fields,
                "matched_term", "match_pos", "snippet",
            )
        )

    return paged


def msearch(
    spark,
    store_path: str,
    bodies: Sequence[Mapping],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES ``_msearch``: a batch of ``_search`` request bodies served
    in one call — each compiles independently (its own pruned weight
    frame, eagerly materialized at compile time) and the results
    union with a ``q`` request index.  The final unioned plan runs as
    one job; the per-body weight-frame materializations still run as
    separate upstream jobs at compile time, so the saving over q
    separate calls is the shared result job plus the single store
    read, not a fully fused schedule.  Aggs-bearing bodies are rejected
    (their output schemas differ per spec — run those separately)."""
    bodies = list(bodies)
    if not bodies:
        raise ValueError("msearch needs at least one body")
    out = None
    for i, one in enumerate(bodies):
        if "aggs" in one:
            raise ValueError(
                f"msearch body {i} carries aggs — aggregation "
                "responses have per-spec schemas; issue it as its "
                "own search()"
            )
        r = search(spark, store_path, one, k1=k1, b=b).select(
            F.lit(i).alias("q"), "doc", "score"
        )
        out = r if out is None else out.unionByName(r)
    return out


def count_api(
    spark,
    store_path: str,
    body: Mapping,
    k1: float = 1.2,
    b: float = 0.75,
    field_stores=None,
) -> DataFrame:
    """ES ``_count``: the matched-set cardinality of a query body —
    the same compilation as :func:`search` with every clause
    evaluated in filter context (zero scores, no top-k, no paging;
    the shared weight frame still materializes from its one
    token-pruned postings scan because match-leaf MEMBERSHIP needs
    the per-(doc, token) rows).  Returns ONE row ``(count long)``."""
    ctx = _Ctx(spark, store_path, k1, b, field_stores)
    if ctx.postings is None or ctx.docstats is None:
        return spark.createDataFrame([(0,)], "count long")
    q = body.get("query") or {"match_all": {}}
    ctx.build_weights(_collect_scoring_tokens(ctx, q))
    hits = _eval(ctx, q, scoring=False)
    return hits.agg(F.count("*").cast("long").alias("count"))
