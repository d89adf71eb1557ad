"""Boolean query trees over the physical index — the one executor
for the OpenSearch `bool` query, flat or nested.

The reference ships events into OpenSearch, whose users routinely send
`_search` bodies that nest `bool` inside `bool` and mix scoring text
clauses with non-scoring `filter` leaves (`range`/`term`/`terms`/
`exists` on doc-values fields). This module compiles an ARBITRARY
tree with exact Lucene semantics; `dsl.search` sends every `bool` body
here, and query.boolean_search translates its (must, should,
must_not) rows into trees for it:

* `must`   — every child matches; children's scores sum.
* `filter` — every child matches; contributes NO score.
* `should` — with must/filter present: optional, score-only. Alone:
  at least `minimum_should_match` (default 1) children must match.
  An explicit integer `minimum_should_match` is honored in both
  shapes.
* `must_not` — no child matches; never contributes score.
* a nested `bool` is just a child: its score (sum of its matching
  scoring descendants) flows up when it matches.
* `boost` — on a text leaf ({"match": {"f": {"query": ..,
  "boost": B}}}) or on a `bool`/`dis_max` node: multiplies that
  node's contributed score (Lucene boost composition; filter-context
  leaves stay unscored, so boost is ignored there exactly as Lucene
  ignores it).
* `dis_max` — matches when ANY sub-query matches; score is the best
  child score plus `tie_breaker` times the other matching children's
  scores (Lucene DisjunctionMaxQuery).
* `constant_score` — its `filter` subtree decides matching; every
  match scores exactly `boost` (default 1.0).
* `boosting` — `positive` decides matching and base score; docs also
  matching `negative` are demoted by `negative_boost` (Lucene
  BoostingQuery: demoted, never excluded).
* `function_score` — the child query decides matching; each function
  (weight and/or field_value_factor over a doc-values column,
  gauss/exp/linear DECAY over a numeric doc-values column — Lucene
  DecayFunction math, missing value = neutral 1.0 — or a
  deterministic seeded `random_score` via xxhash64(ord, seed), gated
  by an optional per-function filter) yields a value, `score_mode`
  folds the applicable values (neutral 1.0 when none apply),
  `max_boost` caps the fold, `boost_mode` combines it with the query
  score, and `min_score` excludes docs whose combined score falls
  below it (Lucene FunctionScoreQuery; min_score applies BEFORE the
  node boost, which wraps outside like BoostQuery).

* `prefix` / `wildcard` / `fuzzy` LEAVES (Lucene multi-term queries,
  scoring_boolean rewrite): on a text field the pattern expands
  against the term dictionary via ONE blocked equi-join per mode
  (query._blocked_dictionary_match — never a nested loop), capped at
  `max_expansions` highest-df terms, and the expanded terms score as
  a disjunctive BM25 bag through the SAME shared postings scan as
  plain leaves; on a doc-values field, prefix/wildcard are unscored
  stored-value predicates (fuzzy on keyword fields raises).

Leaf routing: a `match`/`term`/`terms` clause whose field has a
doc-values sidecar column (attach_doc_values) is a NON-SCORING exact
filter on the stored value — the sidecar is this engine's "keyword
field" mapping. Any other field is analyzed text against the inverted
index: `match` is the standard disjunctive (OR) BM25 clause over its
analyzed tokens — a zero-token clause (e.g. all stopwords) matches
NOTHING, OpenSearch's `zero_terms_query: none` default. `match_phrase`
desugars to a conjunctive bool over its tokens (a documented
divergence: adjacency is checked only by the dedicated positional
executors). `range` requires a doc-values
(or corpus-resolvable) field. `match_all` matches every live doc at
score 0.

Execution shape (the 100-TB story): ALL text leaves in the tree share
ONE bucket-pruned postings scan — leaf ids ride the decoder's
query_id channel, the decoded
(leaf, ord, score) frame is persisted once, and the set algebra above
is per-leaf filters + ord-equi-joins on match sets (each a tiny
fraction of the corpus). Doc-values leaves scan the vocabulary-thin
sidecar. No step touches the raw corpus unless a field is missing
from the sidecar (then ONE identity join resolves it, same as
range_facets). Tombstones are anti-joined once at the top.

Reference parity: opensearch BooleanQuery semantics as exercised by
data-prepper's opensearch sink consumers; cf. reference
data-prepper-plugins/opensearch/.../configuration/SearchConfiguration
(the reference passes such bodies through to OpenSearch verbatim).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .build import load_stats
from .query import (
    _anti_tombstones,
    _deferred_unpersist,
    _make_decoder,
    _pruned_postings,
    _sweep_deferred,
    query_terms,
)

_TEXT_KINDS = ("match", "term", "match_phrase")
_DV_KINDS = ("term", "terms", "range", "exists")


def _dv_columns(spark: SparkSession, index_dir: str) -> set:
    """Column names available in the doc-values sidecar (the engine's
    keyword/numeric field mapping). Empty when none is attached."""
    try:
        dv = spark.read.parquet(os.path.join(index_dir, "docvalues"))
    except Exception:
        return set()
    return {c for c in dv.columns if c != "ord"}


class _IR:
    """Leaf-numbered intermediate tree. kind: 'text' (scored leaf,
    holds leaf id + query text), 'phrase' (conjunctive text tokens),
    'dv' (non-scoring sidecar predicate), 'all', 'bool', 'dismax'
    (children in `should`, tie_breaker in `msm`-adjacent slot `tb`),
    or 'const' (single child in `filter`, score = `boost`)."""

    __slots__ = ("kind", "leaf_id", "text", "field", "spec",
                 "must", "should", "must_not", "filter", "msm",
                 "boost", "tb")

    def __init__(self, kind, **kw):
        self.kind = kind
        for s in self.__slots__[1:]:
            setattr(self, s, kw.get(s))


def _parse(node: dict, dv_cols: set, texts: list,
           runtime: dict | None = None) -> _IR:
    ((kind, spec),) = node.items()
    if kind == "bool":
        def kids(role):
            cl = spec.get(role, [])
            cl = cl if isinstance(cl, list) else [cl]
            return [_parse(c, dv_cols, texts, runtime) for c in cl]

        msm = spec.get("minimum_should_match")
        return _IR(
            "bool",
            must=kids("must"),
            should=kids("should"),
            must_not=kids("must_not"),
            filter=kids("filter"),
            msm=None if msm is None else int(msm),
            boost=float(spec.get("boost", 1.0)),
        )
    if kind == "dis_max":
        return _IR(
            "dismax",
            should=[_parse(c, dv_cols, texts, runtime)
                    for c in spec.get("queries", [])],
            tb=float(spec.get("tie_breaker", 0.0)),
            boost=float(spec.get("boost", 1.0)),
        )
    if kind == "constant_score":
        return _IR(
            "const",
            filter=[_parse(spec["filter"], dv_cols, texts, runtime)],
            boost=float(spec.get("boost", 1.0)),
        )
    if kind == "boosting":
        # Lucene BoostingQuery: `positive` decides matching and base
        # score; docs also matching `negative` have their score
        # multiplied by negative_boost (they are NOT excluded)
        return _IR(
            "boosting",
            must=[_parse(spec["positive"], dv_cols, texts, runtime)],
            should=[_parse(spec["negative"], dv_cols, texts, runtime)],
            tb=float(spec.get("negative_boost", 0.5)),
        )
    if kind == "function_score":
        # FunctionScoreQuery: the child query decides matching; each
        # function yields weight * field_value_factor(doc) where its
        # filter (if any) matches; score_mode folds the applicable
        # function values, boost_mode combines with the query score
        child = spec.get("query", {"match_all": {}})
        fns = spec.get("functions")
        if fns is None:
            fns = [{
                k: v for k, v in spec.items()
                if k in (
                    "field_value_factor", "weight", "random_score",
                    "gauss", "exp", "linear",
                )
            }]
        parsed = []
        for f in fns:
            decay = None
            for dk in ("gauss", "exp", "linear"):
                if dk in f:
                    ((dfld, dconf),) = f[dk].items()
                    decay = {
                        "kind": dk, "field": dfld,
                        "origin": float(dconf["origin"]),
                        "scale": float(dconf["scale"]),
                        "offset": float(dconf.get("offset", 0.0)),
                        "decay": float(dconf.get("decay", 0.5)),
                    }
            parsed.append({
                "filter": (
                    _parse(f["filter"], dv_cols, texts, runtime)
                    if "filter" in f else None
                ),
                "weight": (
                    float(f["weight"]) if "weight" in f else None
                ),
                "fvf": f.get("field_value_factor"),
                "decay": decay,
                "random": (
                    int(f["random_score"].get("seed", 0))
                    if "random_score" in f else None
                ),
            })
        return _IR(
            "fscore",
            must=[_parse(child, dv_cols, texts, runtime)],
            spec={
                "functions": parsed,
                "score_mode": spec.get("score_mode", "multiply"),
                "boost_mode": spec.get("boost_mode", "multiply"),
                "max_boost": (
                    float(spec["max_boost"])
                    if "max_boost" in spec else None
                ),
                "min_score": (
                    float(spec["min_score"])
                    if "min_score" in spec else None
                ),
            },
            boost=float(spec.get("boost", 1.0)),
        )
    if kind == "script_score":
        # ScriptScoreQuery: the child query decides matching; the
        # painless-lite script replaces its score (_score, params.X
        # literals, doc['field'].value sidecar reads, Math.* +
        # saturation/sigmoid calls); min_score drops docs below it
        child = spec.get("query", {"match_all": {}})
        sc = spec["script"]
        src = sc["source"] if isinstance(sc, dict) else str(sc)
        params = sc.get("params", {}) if isinstance(sc, dict) else {}
        return _IR(
            "sscore",
            must=[_parse(child, dv_cols, texts, runtime)],
            spec={
                "source": src,
                "params": params,
                "min_score": spec.get("min_score"),
            },
            boost=float(spec.get("boost", 1.0)),
        )
    if kind == "rank_feature":
        # RankFeatureQuery: matches docs whose feature field is
        # present and positive; score = boost * fn(value) with fn one
        # of saturation (v/(v+pivot), pivot required — this engine
        # has no per-field feature stats to derive a default from),
        # log (ln(scaling_factor*v + 1)), sigmoid
        # (v^exp / (v^exp + pivot^exp)), linear (v)
        fns = [k for k in ("saturation", "log", "sigmoid", "linear")
               if k in spec]
        if len(fns) > 1:
            raise NotImplementedError(
                f"rank_feature with multiple functions {fns}"
            )
        fn = fns[0] if fns else "saturation"
        conf = spec.get(fn, {}) if fn != "linear" else {}
        if fn == "saturation" and "pivot" not in conf:
            raise NotImplementedError(
                "rank_feature saturation without an explicit pivot "
                "(no per-field feature stats to derive the default)"
            )
        return _IR(
            "rankf", field=spec["field"],
            spec={"fn": fn, "conf": conf},
            boost=float(spec.get("boost", 1.0)),
        )
    if kind == "wrapper":
        # base64-encoded JSON query envelope (the OpenSearch wrapper
        # query): decode and compile the inner tree in place
        import base64
        import json

        raw = spec["query"] if isinstance(spec, dict) else str(spec)
        inner = json.loads(base64.b64decode(raw))
        return _parse(inner, dv_cols, texts, runtime)
    if kind == "pinned":
        # PinnedQueryBuilder: the listed doc ids rank first, in list
        # order, ahead of every organic match (mechanism-equivalent
        # scores: pin i gets PIN_BASE - i, organic keeps its BM25 —
        # Lucene implements the same ordering with boosted TermQueries
        # over a CappedScoreQuery; this engine has no float-cap needs
        # because BM25 scores are orders of magnitude below PIN_BASE)
        if "ids" not in spec:
            raise NotImplementedError(
                "pinned without 'ids' (the 'docs' form is multi-index)"
            )
        return _IR(
            "pinned",
            must=[_parse(spec.get("organic", {"match_all": {}}),
                         dv_cols, texts, runtime)],
            spec={"ids": [int(i) for i in spec["ids"]]},
        )
    if kind == "distance_feature":
        # DistanceFeatureQuery: matches docs with the field present,
        # score = boost * pivot / (pivot + distance(origin, value)).
        # Geo form reads the *_lat/*_lon doc-values pair (origin =
        # {lat, lon}, pivot = a distance string); numeric form reads
        # one numeric doc-values column (origin/pivot numbers) — the
        # recency/proximity `should` companion.
        origin = spec["origin"]
        return _IR(
            "distf", field=spec["field"],
            spec={"origin": origin, "pivot": spec["pivot"]},
            boost=float(spec.get("boost", 1.0)),
        )
    if kind == "script":
        # script query (filter context): a painless-lite boolean over
        # doc-values columns decides matching; never scores (Lucene
        # ScriptQuery is a filter)
        sc = spec["script"]
        src = sc["source"] if isinstance(sc, dict) else str(sc)
        params = sc.get("params", {}) if isinstance(sc, dict) else {}
        return _IR(
            "scriptq", spec={"source": src, "params": params},
        )
    if kind == "geo_shape":
        # {"geo_shape": {"<field>": {"shape": {"type": "envelope"|
        #   "polygon"|"multipolygon", "coordinates": ...},
        #   "relation": "intersects"|"within"|"disjoint"}}} over
        # geo_point doc-values — the query SHAPE is a request-side
        # literal, so the point-in-polygon test unrolls its edges
        # into a fixed native-Column expression (no UDF)
        ((field, conf),) = spec.items()
        if not isinstance(conf, dict) or "shape" not in conf:
            raise ValueError(
                f"geo_shape '{field}' needs a literal shape object "
                "(indexed-shape references are not supported)"
            )
        return _IR(
            "geo", field=field,
            spec={
                "kind": "geo_shape",
                "shape": conf["shape"],
                "relation": str(
                    conf.get("relation", "intersects")
                ).lower(),
            },
        )
    if kind in ("geo_distance", "geo_bounding_box"):
        # geo filters over lat/lon doc-values (the geoip-enrich
        # companion): a geo_point field `f` maps to sidecar columns
        # f_lat / f_lon (this engine's flat doc-values convention,
        # documented in attach_doc_values usage). Non-scoring leaves,
        # like every other dv predicate.
        spec = dict(spec)
        dist = spec.pop("distance", None)
        ((field, geo),) = spec.items()
        return _IR(
            "geo", field=field,
            spec={"kind": kind, "distance": dist, "geo": geo},
        )
    if kind == "match_all":
        return _IR("all")
    if kind in ("prefix", "wildcard", "fuzzy", "regexp"):
        ((field, v),) = spec.items()
        if isinstance(v, dict):
            pattern = str(v.get("value", v.get("query")))
            cap = int(v.get("max_expansions", 50))
            boost = float(v.get("boost", 1.0))
            fz = v.get("fuzziness", 1)
        else:
            pattern, cap, boost, fz = str(v), 50, 1.0, 1
        if kind == "fuzzy" and str(fz) not in ("1", "AUTO"):
            raise NotImplementedError(
                f"fuzzy fuzziness={fz!r}: only distance 1 (or AUTO on "
                "short terms) is compiled"
            )
        if field in dv_cols:
            if kind == "fuzzy":
                raise NotImplementedError(
                    "fuzzy on a doc-values (keyword) field"
                )
            return _IR(
                "dv", field=field, spec={"kind": kind, "val": pattern}
            )
        # multi-term expansion leaf against the term DICTIONARY
        # (scoring_boolean rewrite, like query.expanded_search): the
        # marker rides the texts list so leaf numbering stays unified
        # with plain text leaves; _leaf_scores resolves it through
        # ONE blocked dictionary match per mode.
        # regexp patterns are NOT lowercased — rewriting literals
        # inside char classes/escapes would change the language; the
        # dictionary is lowercase, so uppercase literals simply match
        # nothing (Lucene without case_insensitive behaves the same).
        texts.append({
            "mode": kind,
            "pattern": pattern if kind == "regexp" else pattern.lower(),
            "max_expansions": cap,
        })
        return _IR("text", leaf_id=len(texts) - 1, text=None, boost=boost)
    if kind == "terms_set":
        # CoveringQuery: doc matches when >= N of the supplied terms
        # appear in its (multi-valued) keyword field, N read per doc
        # from minimum_should_match_field or computed by a
        # painless-lite minimum_should_match_script (params.num_terms
        # = len(terms)). Non-scoring, like every dv predicate here.
        ((field, conf),) = spec.items()
        if field not in dv_cols:
            raise NotImplementedError(
                f"'terms_set' on field '{field}': no doc-values "
                "sidecar column (attach_doc_values first)"
            )
        if (
            "minimum_should_match_field" not in conf
            and "minimum_should_match_script" not in conf
        ):
            raise NotImplementedError(
                "terms_set needs minimum_should_match_field or "
                "minimum_should_match_script (the OpenSearch contract)"
            )
        return _IR("dv", field=field, spec={"kind": kind, "val": conf})
    if kind == "nested":
        # nested query over an array<struct> doc-values column (the
        # Spark-native analog of Lucene's hidden sub-documents): the
        # doc matches when SOME element satisfies ALL inner
        # conditions — the co-occurrence semantics that separate
        # nested from flat object mappings. Inner query: bool (must/
        # filter/should/must_not, minimum_should_match) over term/
        # terms/range/exists/prefix/wildcard leaves on "path.field".
        # Non-scoring (score_mode "none"); scoring modes raise loudly
        # rather than silently flattening.
        path = spec["path"]
        if path not in dv_cols:
            raise NotImplementedError(
                f"nested path '{path}': no doc-values sidecar column "
                "(attach an array<struct> column first)"
            )
        if spec.get("score_mode", "none") != "none":
            raise NotImplementedError(
                f"nested score_mode '{spec['score_mode']}' "
                "(only 'none' — inner leaves are filters)"
            )
        return _IR(
            "dv", field=path,
            spec={"kind": "nested", "val": spec["query"]},
        )
    if kind in ("range", "exists") or (
        kind in ("term", "terms")
        and next(iter(spec)) in (dv_cols | set(runtime or {}))
    ):
        ((field, val),) = spec.items()
        if kind == "exists":
            field, val = spec["field"], None
        if field not in dv_cols and field not in (runtime or {}):
            raise NotImplementedError(
                f"'{kind}' on field '{field}': no doc-values sidecar "
                "column (attach_doc_values first)"
            )
        leaf_spec = {"kind": kind, "val": val}
        if runtime and field in runtime:
            # runtime field: the leaf computes its column from the
            # sidecar at filter time (painless-lite, zero UDFs)
            leaf_spec["rt"] = runtime[field]
        return _IR("dv", field=field, spec=leaf_spec)
    if kind in ("match", "term"):
        ((_f, v),) = spec.items()
        text = str(v.get("query", v.get("value"))) if isinstance(v, dict) else str(v)
        boost = float(v.get("boost", 1.0)) if isinstance(v, dict) else 1.0
        texts.append(text)
        return _IR("text", leaf_id=len(texts) - 1, text=text, boost=boost)
    if kind == "match_phrase":
        ((_f, v),) = spec.items()
        text = str(v.get("query", v.get("value"))) if isinstance(v, dict) else str(v)
        boost = float(v.get("boost", 1.0)) if isinstance(v, dict) else 1.0
        return _IR("phrase", text=text, boost=boost)
    raise NotImplementedError(f"bool-tree clause '{kind}'")


def _expand_phrases(ir: _IR, analyze_py, texts: list) -> _IR:
    """Desugar phrase leaves into conjunctive bools of single-token
    text leaves (needs the index's analyzer, hence a second pass).
    A repeated token scores once, as it does in a `match` clause. Each
    leaf text is an analyzed token that the leaf path analyzes again;
    that is the identity unless a stopword is the stem of a
    non-stopword (stop runs before stem)."""
    if ir.kind == "phrase":
        toks = dict.fromkeys(analyze_py(ir.text))
        kids = []
        for t in toks:
            texts.append(t)
            kids.append(_IR("text", leaf_id=len(texts) - 1, text=t,
                            boost=1.0))
        return _IR("bool", must=kids, should=[], must_not=[], filter=[],
                   msm=None, boost=ir.boost)
    if ir.kind in ("bool", "dismax", "const", "boosting", "fscore",
                   "sscore", "pinned"):
        for role in ("must", "should", "must_not", "filter"):
            setattr(ir, role, [
                _expand_phrases(c, analyze_py, texts)
                for c in (getattr(ir, role) or [])
            ])
        if ir.kind == "fscore":
            for fn in ir.spec["functions"]:
                if fn["filter"] is not None:
                    fn["filter"] = _expand_phrases(
                        fn["filter"], analyze_py, texts
                    )
    return ir


def _expanded_leaf_terms(
    spark: SparkSession, index_dir: str, expands: list, stats: dict,
) -> DataFrame:
    """(query_id=leaf_id, term_id, idf, bucket) for multi-term
    expansion leaves (prefix/wildcard/fuzzy): ONE blocked
    dictionary match per mode present (never a nested-loop join —
    same machinery as query.expanded_search), df-descending
    max_expansions cap per leaf, each expanded term scoring with its
    own idf (Lucene scoring_boolean rewrite)."""
    from .query import (
        _blocked_dictionary_match,
        _idf_col,
        _term_deletes_df,
    )

    terms = spark.read.parquet(os.path.join(index_dir, "terms"))
    out = None
    for mode in ("prefix", "wildcard", "fuzzy", "regexp"):
        items = [(i, e) for i, e in expands if e["mode"] == mode]
        if not items:
            continue
        pats = spark.createDataFrame(
            [(i, e["pattern"]) for i, e in items],
            "query_id long, pattern string",
        )
        if mode == "wildcard":
            pats = pats.withColumn(
                "pattern",
                F.translate(
                    F.regexp_replace("pattern", r"([%_])", r"\\$1"),
                    "*?", "%_",
                ),
            )
        rows = pats.collect()  # leaf-count-sized; the dictionary never
        deletes = (
            _term_deletes_df(spark, index_dir) if mode == "fuzzy" else None
        )
        matched = _blocked_dictionary_match(terms, pats, rows, mode, deletes)
        caps = spark.createDataFrame(
            [(i, int(e.get("max_expansions", 50))) for i, e in items],
            "query_id long, cap int",
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("df"), F.asc("term")
        )
        m = (
            matched.withColumn("_x", F.row_number().over(w))
            .join(F.broadcast(caps), "query_id")
            .filter(F.col("_x") <= F.col("cap"))
            .withColumn("idf", _idf_col(stats["n_docs"]))
            .select("query_id", "term_id", "idf", "bucket")
        )
        out = m if out is None else out.unionByName(m)
    return out


def _leaf_scores(
    spark: SparkSession, index_dir: str, texts: list, stats: dict,
) -> DataFrame:
    """(leaf_id, ord, score) for every text leaf via ONE bucket-pruned
    postings scan — leaf ids ride the decoder's query_id channel.
    Plain leaves resolve through the persisted analyzer chain;
    dict-marker leaves ({"mode","pattern","max_expansions"}) resolve
    through the blocked dictionary expansion, and both kinds share the
    same postings scan and decoder."""
    plain = [(i, t) for i, t in enumerate(texts) if isinstance(t, str)]
    expands = [(i, t) for i, t in enumerate(texts) if isinstance(t, dict)]
    qt = None
    if plain:
        qdf = spark.createDataFrame(plain, "query_id long, query string")
        qt = query_terms(
            spark, index_dir, qdf, stats["n_docs"], stats=stats
        ).select("query_id", "term_id", "idf", "bucket")
    if expands:
        ex = _expanded_leaf_terms(spark, index_dir, expands, stats)
        qt = ex if qt is None else qt.unionByName(ex)
    post = _pruned_postings(spark, index_dir, qt)
    decoder = _make_decoder(stats["k1"], stats["b"], stats["avgdl"])
    return (
        post.join(
            F.broadcast(qt.select("query_id", "term_id", "idf")), "term_id"
        )
        .select("query_id", "idf", "docs", "tfs", "dls")
        .mapInPandas(
            decoder, schema="query_id long, doc_id long, partial double"
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("partial").alias("score"))
        .select(
            F.col("query_id").alias("leaf_id"),
            F.col("doc_id").alias("ord"),
            "score",
        )
    )


def runtime_field_col(conf: dict, dv_cols: set):
    """Compile one runtime_mappings entry into a native Column over
    the doc-values sidecar. `conf` is the OpenSearch form
    {"type": "double"|"long", "script": {"source": "emit(<expr>)",
    "params": {...}}} (the emit() wrapper is optional; a bare
    expression works). <expr> is painless-lite over
    doc['field'].value references resolving to sidecar columns plus
    params and Math.* calls — no UDF, the derived column stays in
    codegen and costs nothing when unused. Keyword/string scripts
    raise loudly (the numeric subset is what the expression compiler
    supports)."""
    import re as _re

    from .aggs import painless_expr

    sc = conf.get("script", conf)
    src = sc["source"] if isinstance(sc, dict) else str(sc)
    params = (sc.get("params") or {}) if isinstance(sc, dict) else {}
    m = _re.fullmatch(r"\s*emit\((.*)\)\s*", src, flags=_re.DOTALL)
    if m:
        src = m.group(1)
    typ = str(conf.get("type", "double"))
    if typ not in ("double", "long", "float", "integer"):
        raise NotImplementedError(
            f"runtime field type '{typ}' (numeric types only)"
        )

    def resolve(rk, name):
        if rk == "doc":
            if name not in dv_cols:
                raise NotImplementedError(
                    f"runtime script field '{name}' not in doc-values "
                    "sidecar"
                )
            return F.col(name).cast("double")
        if rk == "param":
            if name not in params:
                raise KeyError(
                    f"runtime script references params.{name} with no "
                    f"matching params entry (have: {sorted(params)})"
                )
            return F.lit(float(params[name]))
        raise NotImplementedError(f"runtime script reference {rk}:{name}")

    col = painless_expr(src, resolve, _SCRIPT_CALLS)
    return col.cast("long") if typ in ("long", "integer") else col.cast(
        "double"
    )


def _nested_elem_pred(node: dict, path: str, e):
    """Compile a nested query's INNER tree into one predicate over
    the struct element `e` (the F.exists lambda variable). Field
    names strip the 'path.' prefix and resolve through e.getField —
    everything stays a single codegen'd boolean expression. bool
    composes with Lucene semantics: must/filter AND, must_not NOT,
    should counted against minimum_should_match (default 1 when no
    must/filter clauses, else 0)."""
    ((k, sp),) = node.items()
    if k == "bool":
        def kids(role):
            cl = sp.get(role, [])
            return cl if isinstance(cl, list) else [cl]

        cond = F.lit(True)
        for cl in kids("must") + kids("filter"):
            cond = cond & _nested_elem_pred(cl, path, e)
        for cl in kids("must_not"):
            cond = cond & ~_nested_elem_pred(cl, path, e)
        should = kids("should")
        if should:
            msm = sp.get("minimum_should_match")
            if msm is None:
                msm = (
                    0 if (kids("must") or kids("filter")) else 1
                )
            msm = int(msm)
            if msm > 0:
                n = None
                for cl in should:
                    t = F.when(
                        _nested_elem_pred(cl, path, e), F.lit(1)
                    ).otherwise(F.lit(0))
                    n = t if n is None else n + t
                cond = cond & (n >= F.lit(msm))
        return cond

    def fld(name):
        if name.startswith(path + "."):
            name = name[len(path) + 1:]
        return e.getField(name)

    if k == "exists":
        return fld(sp["field"]).isNotNull()
    ((field, val),) = sp.items()
    x = fld(field)
    if k == "term":
        v = val.get("value") if isinstance(val, dict) else val
        return x == F.lit(v)
    if k == "terms":
        return x.isin(list(val))
    if k == "prefix":
        v = val.get("value") if isinstance(val, dict) else val
        return x.cast("string").startswith(str(v))
    if k == "wildcard":
        v = val.get("value") if isinstance(val, dict) else val
        pat = (
            str(v)
            .replace("\\", "\\\\")
            .replace("%", r"\%").replace("_", r"\_")
            .replace("*", "%").replace("?", "_")
        )
        return x.cast("string").like(pat)
    if k == "range":
        cond = F.lit(True)
        for op, fn in (
            ("gte", x.__ge__), ("gt", x.__gt__),
            ("lte", x.__le__), ("lt", x.__lt__),
        ):
            if op in val:
                cond = cond & fn(F.lit(val[op]))
        return cond
    raise NotImplementedError(f"nested inner clause '{k}'")


def _dv_frame(
    spark: SparkSession, index_dir: str, ir: _IR,
    corpus_path: str | None,
) -> DataFrame:
    """(ord, score=0.0) for a doc-values predicate leaf. A leaf
    carrying an `rt` spec is a RUNTIME FIELD: its column derives from
    the sidecar's stored columns at filter time (painless-lite
    compiled to one native expression — per-query, nothing written,
    the OpenSearch runtime_mappings contract)."""
    try:
        dv = spark.read.parquet(os.path.join(index_dir, "docvalues"))
    except Exception:
        dv = None
    if dv is None:
        raise NotImplementedError(
            f"field '{ir.field}' not in doc-values sidecar"
        )
    if ir.spec.get("rt") is not None:
        dv = dv.withColumn(
            ir.field, runtime_field_col(ir.spec["rt"], set(dv.columns))
        )
    elif ir.field not in dv.columns:
        raise NotImplementedError(
            f"field '{ir.field}' not in doc-values sidecar"
        )
    c = F.col(ir.field)
    kind, val = ir.spec["kind"], ir.spec["val"]
    # a multi-valued keyword field (array<...> sidecar column —
    # OpenSearch arrays index every element): predicates match when
    # ANY element satisfies them, exactly Lucene's per-value postings
    is_array = dict(dv.dtypes).get(ir.field, "").startswith("array")

    def pred(x):
        """Per-value predicate; applied to the scalar column or, for
        arrays, to each element via F.exists (stays in codegen)."""
        if kind == "term":
            return x == F.lit(val)
        if kind == "prefix":
            return x.cast("string").startswith(str(val))
        if kind == "wildcard":
            # Lucene wildcard over the stored keyword value: escape
            # LIKE metas, then * -> %, ? -> _
            pat = (
                str(val)
                .replace("\\", "\\\\")
                .replace("%", r"\%").replace("_", r"\_")
                .replace("*", "%").replace("?", "_")
            )
            return x.cast("string").like(pat)
        if kind == "regexp":
            # Lucene RegexpQuery on a keyword field: implicitly
            # anchored (whole-value), Java-regex-compatible subset.
            return x.cast("string").rlike("^(?:" + str(val) + ")$")
        # range
        cond = F.lit(True)
        for op, fn in (
            ("gte", x.__ge__), ("gt", x.__gt__),
            ("lte", x.__le__), ("lt", x.__lt__),
        ):
            if op in val:
                cond = cond & fn(F.lit(val[op]))
        return cond

    if kind == "nested":
        # SOME element satisfies the whole inner tree: compile the
        # inner query to ONE per-element predicate and evaluate it
        # with F.exists — stays in codegen, zero UDFs, zero explodes
        # on the query path
        cond = (
            c.isNotNull()
            & (F.size(c) > 0)
            & F.exists(c, lambda e: _nested_elem_pred(val, ir.field, e))
        )
        return dv.filter(cond).select("ord", F.lit(0.0).alias("score"))
    if kind == "exists":
        # an empty array is a missing field (the OpenSearch mapping:
        # [] indexes nothing, so exists does not match)
        cond = (
            c.isNotNull() & (F.size(c) > 0) if is_array else c.isNotNull()
        )
    elif kind == "terms":
        vals = [str(v) if isinstance(v, str) else v for v in val]
        if is_array:
            cond = F.arrays_overlap(
                c, F.array(*[F.lit(v) for v in vals])
            )
        else:
            cond = c.isin(list(val))
    elif kind == "terms_set":
        arr = c if is_array else F.array(c)
        terms = [str(t) for t in val["terms"]]
        inter = F.size(F.array_intersect(
            F.array_distinct(arr), F.array(*[F.lit(t) for t in terms])
        ))
        if "minimum_should_match_field" in val:
            mf = val["minimum_should_match_field"]
            if mf not in dv.columns:
                raise NotImplementedError(
                    f"terms_set minimum_should_match_field '{mf}' not "
                    "in doc-values sidecar"
                )
            req = F.col(mf).cast("int")
        else:
            from .aggs import painless_expr

            sc = val["minimum_should_match_script"]
            src = sc["source"] if isinstance(sc, dict) else str(sc)

            def resolve(rk, name):
                if rk == "doc":
                    if name not in dv.columns:
                        raise NotImplementedError(
                            f"terms_set script field '{name}' not in "
                            "doc-values sidecar"
                        )
                    return F.col(name).cast("double")
                if rk == "param" and name == "num_terms":
                    return F.lit(float(len(terms)))
                raise NotImplementedError(
                    f"terms_set script reference {rk}:{name}"
                )

            req = painless_expr(src, resolve, _SCRIPT_CALLS).cast("int")
        # Lucene CoveringQuery reads the per-doc minimum and clamps it
        # to >= 1 (a disjunction must match at least one clause)
        cond = inter >= F.greatest(req, F.lit(1))
    elif is_array:
        cond = c.isNotNull() & F.exists(c, pred)
    else:
        cond = pred(c)
    return dv.filter(cond).select("ord", F.lit(0.0).alias("score"))


_DIST_UNITS = {
    "km": 1000.0, "m": 1.0, "mi": 1609.344, "miles": 1609.344,
    "yd": 0.9144, "ft": 0.3048, "nmi": 1852.0, "cm": 0.01,
    "mm": 0.001, "in": 0.0254,
}


def _parse_distance_m(s) -> float:
    """OpenSearch distance strings ("10km", "500m", "3.5mi") ->
    meters. A bare number means meters (the OpenSearch default)."""
    if isinstance(s, (int, float)):
        return float(s)
    txt = str(s).strip().lower()
    for unit in sorted(_DIST_UNITS, key=len, reverse=True):
        if txt.endswith(unit):
            return float(txt[: -len(unit)]) * _DIST_UNITS[unit]
    return float(txt)


_EARTH_R_M = 6371008.8  # mean earth radius, meters


def _geo_frame(spark: SparkSession, index_dir: str, ir: _IR) -> DataFrame:
    """(ord, score=0.0) for a geo predicate leaf. geo_distance is the
    haversine great-circle distance against the query point (arc
    formula in native Columns — no UDF, stays in codegen);
    geo_bounding_box is two range conds with dateline-crossing
    support (left > right wraps). Field `f` reads sidecar columns
    f_lat / f_lon."""
    dv = spark.read.parquet(os.path.join(index_dir, "docvalues"))
    latc, lonc = f"{ir.field}_lat", f"{ir.field}_lon"
    missing = {latc, lonc} - set(dv.columns)
    if missing:
        raise NotImplementedError(
            f"geo field '{ir.field}' needs doc-values columns "
            f"{sorted(missing)} (attach_doc_values with *_lat/*_lon)"
        )
    lat, lon = F.col(latc).cast("double"), F.col(lonc).cast("double")
    spec = ir.spec
    if spec["kind"] == "geo_distance":
        g = spec["geo"]
        qlat, qlon = float(g["lat"]), float(g["lon"])
        dist_m = _parse_distance_m(spec["distance"])
        dphi = F.radians(lat - F.lit(qlat))
        dlmb = F.radians(lon - F.lit(qlon))
        a = (
            F.pow(F.sin(dphi / 2), 2)
            + F.cos(F.radians(F.lit(qlat))) * F.cos(F.radians(lat))
            * F.pow(F.sin(dlmb / 2), 2)
        )
        d = F.lit(2.0 * _EARTH_R_M) * F.asin(F.sqrt(a))
        cond = d <= F.lit(dist_m)
    elif spec["kind"] == "geo_shape":
        # point-vs-shape: envelope = the bounding-box conds; polygon
        # = ray casting with the literal ring unrolled edge by edge
        # (horizontal edges skipped — they never flip the parity of
        # an eastward ray; points exactly ON an edge are undefined,
        # as in Lucene's tessellation). relation intersects|within
        # keep inside points, disjoint keeps outside points.
        shape = spec["shape"]
        rel = spec["relation"]
        if rel not in ("intersects", "within", "disjoint"):
            raise NotImplementedError(
                f"geo_shape relation '{rel}' (a point cannot "
                "'contains' a shape)"
            )
        st = str(shape["type"]).lower()

        def _poly_inside(rings) -> "F.Column":
            # parity of eastward-ray crossings over the OUTER ring
            # (holes: subsequent rings flip parity too — GeoJSON)
            crossings = F.lit(0)
            for ring in rings:
                pts = [(float(x), float(y)) for x, y in ring]
                for (x1, y1), (x2, y2) in zip(pts, pts[1:]):
                    if y1 == y2:
                        continue
                    t = (lat - F.lit(y1)) / F.lit(y2 - y1)
                    xcross = F.lit(x1) + t * F.lit(x2 - x1)
                    crosses = (
                        ((F.lit(y1) > lat) != (F.lit(y2) > lat))
                        & (lon < xcross)
                    )
                    crossings = crossings + F.when(
                        crosses, F.lit(1)
                    ).otherwise(F.lit(0))
            return crossings % 2 == 1

        if st == "envelope":
            (l_, t_), (r_, b_) = shape["coordinates"]
            inside = (lat <= F.lit(float(t_))) & (
                lat >= F.lit(float(b_))
            )
            l_, r_ = float(l_), float(r_)
            if l_ <= r_:
                inside = inside & (lon >= F.lit(l_)) & (
                    lon <= F.lit(r_)
                )
            else:  # dateline crossing
                inside = inside & (
                    (lon >= F.lit(l_)) | (lon <= F.lit(r_))
                )
        elif st == "polygon":
            inside = _poly_inside(shape["coordinates"])
        elif st == "multipolygon":
            inside = F.lit(False)
            for poly in shape["coordinates"]:
                inside = inside | _poly_inside(poly)
        else:
            raise NotImplementedError(f"geo_shape type '{st}'")
        cond = ~inside if rel == "disjoint" else inside
    else:  # geo_bounding_box
        g = spec["geo"]
        tl, br = g["top_left"], g["bottom_right"]
        cond = (lat <= F.lit(float(tl["lat"]))) & (
            lat >= F.lit(float(br["lat"]))
        )
        left, right = float(tl["lon"]), float(br["lon"])
        if left <= right:
            cond = cond & (lon >= F.lit(left)) & (lon <= F.lit(right))
        else:  # dateline crossing
            cond = cond & (
                (lon >= F.lit(left)) | (lon <= F.lit(right))
            )
    return (
        dv.filter(lat.isNotNull() & lon.isNotNull() & cond)
        .select("ord", F.lit(0.0).alias("score"))
    )


def _all_ords(spark: SparkSession, index_dir: str) -> DataFrame:
    return (
        spark.read.parquet(os.path.join(index_dir, "docs"))
        .select("ord", F.lit(0.0).alias("score"))
    )


def _function_score(spark, index_dir, ir, rec) -> DataFrame:
    """FunctionScoreQuery execution: per-function value columns over
    the child's match set (null = function not applicable), folded by
    score_mode, combined with the query score by boost_mode. Every
    function is a column expression or an ord-equi-join against the
    vocabulary-thin doc-values sidecar — the corpus is never touched,
    so the plan stays match-set-sized regardless of corpus scale."""
    cfg = ir.spec
    cur = rec(ir.must[0])
    dv = None
    fn_cols = []
    for i, fn in enumerate(cfg["functions"]):
        col = f"_f{i}"
        if fn["fvf"] is not None:
            fvf = fn["fvf"]
            field = fvf["field"]
            if dv is None:
                dv = spark.read.parquet(
                    os.path.join(index_dir, "docvalues")
                )
            if field not in dv.columns:
                raise NotImplementedError(
                    f"field_value_factor field '{field}' not in "
                    "doc-values sidecar (attach_doc_values first)"
                )
            cur = cur.join(
                dv.select("ord", F.col(field).alias("_v")), "ord", "left"
            )
            x = F.coalesce(
                F.col("_v").cast("double"),
                F.lit(float(fvf.get("missing", 1.0))),
            ) * F.lit(float(fvf.get("factor", 1.0)))
            mod = fvf.get("modifier", "none")
            if mod == "none":
                val = x
            elif mod == "log1p":  # Lucene log-family is base 10
                val = F.log10(x + F.lit(1.0))
            elif mod == "ln1p":
                val = F.log(x + F.lit(1.0))
            elif mod == "sqrt":
                val = F.sqrt(x)
            elif mod == "square":
                val = x * x
            elif mod == "reciprocal":
                val = F.lit(1.0) / x
            else:
                raise NotImplementedError(
                    f"field_value_factor modifier '{mod}'"
                )
            cur = cur.withColumn(col, val).drop("_v")
        elif fn["decay"] is not None:
            # numeric decay (Lucene DecayFunction math over the
            # dv column; date decay = the same math on epoch numbers)
            import math as _math

            dc = fn["decay"]
            if dv is None:
                dv = spark.read.parquet(
                    os.path.join(index_dir, "docvalues")
                )
            if dc["field"] not in dv.columns:
                raise NotImplementedError(
                    f"decay field '{dc['field']}' not in doc-values "
                    "sidecar (attach_doc_values first)"
                )
            cur = cur.join(
                dv.select("ord", F.col(dc["field"]).alias("_v")),
                "ord", "left",
            )
            dist = F.greatest(
                F.lit(0.0),
                F.abs(F.col("_v").cast("double") - F.lit(dc["origin"]))
                - F.lit(dc["offset"]),
            )
            if dc["kind"] == "gauss":
                sigma2 = -(dc["scale"] ** 2) / (
                    2.0 * _math.log(dc["decay"])
                )
                val = F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
            elif dc["kind"] == "exp":
                lam = _math.log(dc["decay"]) / dc["scale"]
                val = F.exp(F.lit(lam) * dist)
            else:  # linear
                s = dc["scale"] / (1.0 - dc["decay"])
                val = F.greatest(
                    F.lit(0.0), (F.lit(s) - dist) / F.lit(s)
                )
            # missing dv value -> neutral 1.0 (OpenSearch skips docs
            # without the field)
            cur = cur.withColumn(
                col,
                F.when(F.col("_v").isNull(), F.lit(1.0)).otherwise(val),
            ).drop("_v")
        elif fn["random"] is not None:
            # deterministic pseudo-random in [0, 1): seeded
            # xxhash64 of the ordinal — reproducible across runs and
            # parallelism (never rand(), which is partition-dependent)
            cur = cur.withColumn(
                col,
                F.pmod(
                    F.xxhash64(F.col("ord"), F.lit(fn["random"])),
                    F.lit(2 ** 31),
                ).cast("double") / F.lit(float(2 ** 31)),
            )
        else:
            cur = cur.withColumn(col, F.lit(1.0))
        if fn["weight"] is not None:
            cur = cur.withColumn(
                col, F.col(col) * F.lit(float(fn["weight"]))
            )
        if fn["filter"] is not None:
            m = rec(fn["filter"]).select("ord", F.lit(1).alias("_m"))
            cur = cur.join(m, "ord", "left").withColumn(
                col,
                F.when(F.col("_m").isNotNull(), F.col(col)),
            ).drop("_m")
        fn_cols.append(col)
    # fold the applicable (non-null) function values per score_mode;
    # no applicable function -> neutral 1.0 (OpenSearch behavior)
    arr = F.array_compact(F.array(*[F.col(c) for c in fn_cols]))
    n = F.size(arr)
    sm = cfg["score_mode"]
    if sm == "multiply":
        folded = F.aggregate(
            arr, F.lit(1.0), lambda a, x: a * x
        )
    elif sm == "sum":
        folded = F.when(n == 0, F.lit(1.0)).otherwise(
            F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)
        )
    elif sm == "avg":
        folded = F.when(n == 0, F.lit(1.0)).otherwise(
            F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)
            / n.cast("double")
        )
    elif sm == "max":
        folded = F.when(n == 0, F.lit(1.0)).otherwise(F.array_max(arr))
    elif sm == "min":
        folded = F.when(n == 0, F.lit(1.0)).otherwise(F.array_min(arr))
    elif sm == "first":
        folded = F.when(n == 0, F.lit(1.0)).otherwise(
            F.element_at(arr, 1)
        )
    else:
        raise NotImplementedError(f"score_mode '{sm}'")
    if cfg.get("max_boost") is not None:
        folded = F.least(folded, F.lit(float(cfg["max_boost"])))
    cur = cur.withColumn("_fs", folded)
    bm = cfg["boost_mode"]
    qs, fs = F.col("score"), F.col("_fs")
    if bm == "multiply":
        out = qs * fs
    elif bm == "sum":
        out = qs + fs
    elif bm == "replace":
        out = fs
    elif bm == "max":
        out = F.greatest(qs, fs)
    elif bm == "min":
        out = F.least(qs, fs)
    elif bm == "avg":
        out = (qs + fs) / F.lit(2.0)
    else:
        raise NotImplementedError(f"boost_mode '{bm}'")
    res = cur.select("ord", out.alias("score"))
    if cfg.get("min_score") is not None:
        # min_score excludes docs whose FINAL combined score falls
        # below it (the FunctionScoreQuery contract)
        res = res.filter(F.col("score") >= float(cfg["min_score"]))
    return res


_SCRIPT_CALLS = {
    "Math.log": F.log,          # painless Math.log is natural log
    "Math.log10": F.log10,
    "Math.sqrt": F.sqrt,
    "Math.abs": F.abs,
    "Math.exp": F.exp,
    "Math.pow": lambda a, b: F.pow(a, b),
    "Math.max": lambda a, b: F.greatest(a, b),
    "Math.min": lambda a, b: F.least(a, b),
    # Lucene feature functions exposed to script_score
    "saturation": lambda v, k: v / (v + k),
    "sigmoid": lambda v, k, a: (
        F.pow(v, a) / (F.pow(v, a) + F.pow(k, a))
    ),
}


def _script_score(spark, index_dir, ir, rec) -> DataFrame:
    """ScriptScoreQuery execution: the child's (ord, score) frame is
    the match set; referenced doc['field'] values arrive via ONE
    ord-equi-join against the vocabulary-thin doc-values sidecar (a
    recording pre-pass collects the fields, so unreferenced columns
    never leave the parquet scan); the painless-lite script is
    compiled to a native Column expression — no Python UDF, the plan
    stays match-set-sized and whole-stage-codegen'd. Missing feature
    values read as 0.0 (documented divergence from painless's
    hard-throwing doc[].value on empty — a null-poisoned score would
    be silent)."""
    from .aggs import painless_expr

    cfg = ir.spec
    cur = rec(ir.must[0])
    doc_fields: set = set()

    def record(kind, name):
        if kind == "doc":
            doc_fields.add(name)
        return F.lit(0.0)

    painless_expr(cfg["source"], record, _SCRIPT_CALLS)
    if doc_fields:
        dv = spark.read.parquet(os.path.join(index_dir, "docvalues"))
        missing = doc_fields - set(dv.columns)
        if missing:
            raise NotImplementedError(
                f"script_score fields {sorted(missing)} not in "
                "doc-values sidecar (attach_doc_values first)"
            )
        cur = cur.join(
            dv.select("ord", *sorted(doc_fields)), "ord", "left"
        )

    def resolve(kind, name):
        if kind == "doc":
            return F.coalesce(F.col(name).cast("double"), F.lit(0.0))
        if kind == "param":
            if name not in cfg["params"]:
                raise KeyError(
                    f"script_score references params.{name} with no "
                    f"matching params entry (have: "
                    f"{sorted(cfg['params'])})"
                )
            return F.lit(float(cfg["params"][name]))
        if kind == "name" and name == "_score":
            return F.col("score")
        raise NotImplementedError(
            f"script_score reference {kind}:{name}"
        )

    expr = painless_expr(cfg["source"], resolve, _SCRIPT_CALLS)
    if ir.boost is not None and ir.boost != 1.0:
        expr = expr * F.lit(float(ir.boost))
    out = cur.select("ord", expr.cast("double").alias("score"))
    if cfg["min_score"] is not None:
        out = out.filter(F.col("score") >= float(cfg["min_score"]))
    return out


def _rank_feature(spark, index_dir, ir) -> DataFrame:
    """RankFeatureQuery execution: matches every doc whose feature
    field is present and positive in the doc-values sidecar; score =
    boost * fn(value). One sidecar scan, no corpus touch — the
    natural `should` companion that boosts text hits by a stored
    feature (pagerank, stars, freshness)."""
    dv = spark.read.parquet(os.path.join(index_dir, "docvalues"))
    if ir.field not in dv.columns:
        raise NotImplementedError(
            f"rank_feature field '{ir.field}' not in doc-values "
            "sidecar (attach_doc_values first)"
        )
    v = F.col(ir.field).cast("double")
    fn, conf = ir.spec["fn"], ir.spec["conf"]
    if fn == "saturation":
        s = v / (v + F.lit(float(conf["pivot"])))
    elif fn == "log":
        s = F.log(F.lit(float(conf.get("scaling_factor", 1.0))) * v
                  + F.lit(1.0))
    elif fn == "sigmoid":
        p, e = float(conf["pivot"]), float(conf["exponent"])
        s = F.pow(v, e) / (F.pow(v, e) + F.lit(p ** e))
    else:  # linear
        s = v
    boost = float(ir.boost if ir.boost is not None else 1.0)
    return (
        dv.filter(v.isNotNull() & (v > 0))
        .select("ord", (F.lit(boost) * s).alias("score"))
    )


def _distance_feature(spark, index_dir, ir) -> DataFrame:
    """DistanceFeatureQuery execution: one sidecar scan, score =
    boost * pivot / (pivot + distance). Geo distance is the same
    native-Column haversine as _geo_frame; numeric distance is
    |value - origin|. No corpus touch, stays in codegen."""
    dv = spark.read.parquet(os.path.join(index_dir, "docvalues"))
    origin, pivot = ir.spec["origin"], ir.spec["pivot"]
    boost = float(ir.boost if ir.boost is not None else 1.0)
    if isinstance(origin, dict):  # geo form
        latc, lonc = f"{ir.field}_lat", f"{ir.field}_lon"
        missing = {latc, lonc} - set(dv.columns)
        if missing:
            raise NotImplementedError(
                f"distance_feature geo field '{ir.field}' needs "
                f"doc-values columns {sorted(missing)}"
            )
        lat = F.col(latc).cast("double")
        lon = F.col(lonc).cast("double")
        qlat, qlon = float(origin["lat"]), float(origin["lon"])
        piv = _parse_distance_m(pivot)
        dphi = F.radians(lat - F.lit(qlat))
        dlmb = F.radians(lon - F.lit(qlon))
        a = (
            F.pow(F.sin(dphi / 2), 2)
            + F.cos(F.radians(F.lit(qlat))) * F.cos(F.radians(lat))
            * F.pow(F.sin(dlmb / 2), 2)
        )
        dist = F.lit(2.0 * _EARTH_R_M) * F.asin(F.sqrt(a))
        present = lat.isNotNull() & lon.isNotNull()
    else:  # numeric form
        if ir.field not in dv.columns:
            raise NotImplementedError(
                f"distance_feature field '{ir.field}' not in "
                "doc-values sidecar"
            )
        v = F.col(ir.field).cast("double")
        piv = float(pivot)
        dist = F.abs(v - F.lit(float(origin)))
        present = v.isNotNull()
    score = F.lit(boost) * F.lit(float(piv)) / (F.lit(float(piv)) + dist)
    return dv.filter(present).select("ord", score.alias("score"))


def _script_filter(spark, index_dir, ir) -> DataFrame:
    """script query (filter context): compile the painless-lite
    boolean to a native Column over the doc-values sidecar — one
    vocabulary-thin scan, no UDF. Missing numeric values read as
    null and fail the comparison (docs without the field don't
    match — the painless doc[].value contract, minus the throw)."""
    from .aggs import painless_expr

    dv = spark.read.parquet(os.path.join(index_dir, "docvalues"))
    cfg = ir.spec

    def resolve(kind, name):
        if kind == "doc":
            if name not in dv.columns:
                raise NotImplementedError(
                    f"script query field '{name}' not in doc-values "
                    "sidecar (attach_doc_values first)"
                )
            return F.col(name).cast("double")
        if kind == "param":
            if name not in cfg["params"]:
                raise KeyError(
                    f"script query references params.{name} with no "
                    f"matching entry (have: {sorted(cfg['params'])})"
                )
            return F.lit(float(cfg["params"][name]))
        raise NotImplementedError(f"script query reference {kind}:{name}")

    cond = painless_expr(cfg["source"], resolve, _SCRIPT_CALLS)
    return dv.filter(cond.cast("boolean")).select(
        "ord", F.lit(0.0).alias("score")
    )


_PIN_BASE = 1.0e9  # far above any BM25 sum; pin i scores PIN_BASE - i


def _pinned(spark, index_dir, ir, rec) -> DataFrame:
    """PinnedQuery execution: the listed doc ids (resolved to ords by
    one broadcast join against the docs table) score PIN_BASE - i in
    list order; organic matches keep their scores and pinned ids are
    dropped from the organic side so each doc appears once. Missing
    ids simply don't match (the OpenSearch behavior)."""
    ids = ir.spec["ids"]
    organic = rec(ir.must[0])
    pins = spark.createDataFrame(
        [(int(d), _PIN_BASE - i) for i, d in enumerate(ids)],
        "doc_id long, score double",
    )
    docs = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        "ord", "doc_id"
    )
    pinned = docs.join(F.broadcast(pins), "doc_id").select("ord", "score")
    organic = organic.join(
        F.broadcast(pinned.select("ord")), "ord", "left_anti"
    )
    return pinned.unionByName(organic)


def _combine(
    spark: SparkSession, index_dir: str, ir: _IR,
    leaf_scored: DataFrame, corpus_path: str | None,
) -> DataFrame:
    """Recursive set algebra -> (ord, score) of docs matching `ir`,
    score = Lucene sum over matching scoring descendants."""
    if ir.kind == "text":
        out = leaf_scored.filter(
            F.col("leaf_id") == ir.leaf_id
        ).select("ord", "score")
        if ir.boost is not None and ir.boost != 1.0:
            out = out.select(
                "ord", (F.col("score") * F.lit(ir.boost)).alias("score")
            )
        return out
    if ir.kind == "dv":
        return _dv_frame(spark, index_dir, ir, corpus_path)
    if ir.kind == "geo":
        return _geo_frame(spark, index_dir, ir)
    if ir.kind == "all":
        return _all_ords(spark, index_dir)

    rec = lambda c: _combine(spark, index_dir, c, leaf_scored, corpus_path)  # noqa: E731

    if ir.kind == "const":
        # constant_score: the filter subtree decides matching; every
        # match scores exactly `boost` — scores below never flow up
        return rec(ir.filter[0]).select(
            "ord", F.lit(float(ir.boost)).alias("score")
        )
    if ir.kind == "boosting":
        # positive decides matching; a left join marks the negative
        # match set and demotes (never removes) those scores
        neg = rec(ir.should[0]).select("ord", F.lit(1).alias("_neg"))
        return (
            rec(ir.must[0])
            .join(neg, "ord", "left")
            .select(
                "ord",
                F.when(
                    F.col("_neg").isNotNull(),
                    F.col("score") * F.lit(float(ir.tb)),
                )
                .otherwise(F.col("score"))
                .alias("score"),
            )
        )
    if ir.kind == "fscore":
        out = _function_score(spark, index_dir, ir, rec)
        if ir.boost is not None and ir.boost != 1.0:
            out = out.select(
                "ord", (F.col("score") * F.lit(ir.boost)).alias("score")
            )
        return out
    if ir.kind == "sscore":
        return _script_score(spark, index_dir, ir, rec)
    if ir.kind == "rankf":
        return _rank_feature(spark, index_dir, ir)
    if ir.kind == "distf":
        return _distance_feature(spark, index_dir, ir)
    if ir.kind == "scriptq":
        return _script_filter(spark, index_dir, ir)
    if ir.kind == "pinned":
        return _pinned(spark, index_dir, ir, rec)
    if ir.kind == "dismax":
        # DisjunctionMaxQuery: union children (tagged), best child
        # score + tie_breaker * the rest; matching = any child
        un = None
        for i, c in enumerate(ir.should):
            t = rec(c).withColumn("_cl", F.lit(i))
            un = t if un is None else un.unionByName(t)
        if un is None:
            return _all_ords(spark, index_dir).limit(0)
        tb = float(ir.tb or 0.0)
        out = (
            un.groupBy("ord")
            .agg(F.max("score").alias("_mx"), F.sum("score").alias("_sm"))
            .select(
                "ord",
                (
                    F.col("_mx")
                    + F.lit(tb) * (F.col("_sm") - F.col("_mx"))
                ).alias("score"),
            )
        )
        if ir.boost is not None and ir.boost != 1.0:
            out = out.select(
                "ord", (F.col("score") * F.lit(ir.boost)).alias("score")
            )
        return out
    pos = [rec(c) for c in ir.must] + [
        rec(c).select("ord", F.lit(0.0).alias("score")) for c in ir.filter
    ]
    cur = None
    for f in pos:
        if cur is None:
            cur = f
        else:
            cur = (
                cur.join(f.withColumnRenamed("score", "_s"), "ord")
                .select(
                    "ord", (F.col("score") + F.col("_s")).alias("score")
                )
            )
    shoulds = [rec(c) for c in ir.should]
    if cur is not None:
        # should is optional, score-only — unless an explicit
        # minimum_should_match demands a count
        hit_cols = []
        for i, s in enumerate(shoulds):
            s = s.select(
                "ord",
                F.col("score").alias("_s"),
                F.lit(1).alias(f"_h{i}"),
            )
            cur = cur.join(s, "ord", "left").select(
                "ord",
                (F.col("score") + F.coalesce(F.col("_s"), F.lit(0.0))).alias(
                    "score"
                ),
                *[F.col(c) for c in hit_cols],
                F.coalesce(F.col(f"_h{i}"), F.lit(0)).alias(f"_h{i}"),
            )
            hit_cols.append(f"_h{i}")
        if ir.msm is not None and hit_cols:
            total = sum((F.col(c) for c in hit_cols), F.lit(0))
            cur = cur.filter(total >= ir.msm)
        cur = cur.select("ord", "score")
    elif shoulds:
        msm = 1 if ir.msm is None else ir.msm
        un = None
        for i, s in enumerate(shoulds):
            t = s.withColumn("_cl", F.lit(i))
            un = t if un is None else un.unionByName(t)
        cur = (
            un.groupBy("ord")
            .agg(
                F.sum("score").alias("score"),
                F.count_distinct("_cl").alias("_m"),
            )
            .filter(F.col("_m") >= msm)
            .select("ord", "score")
        )
    else:
        # pure-negation (or empty) bool matches every live doc at 0 —
        # the Lucene MatchAllDocs fill-in for must_not-only queries
        cur = _all_ords(spark, index_dir)
    negs = [rec(c).select("ord") for c in ir.must_not]
    if negs:
        nn = negs[0]
        for n in negs[1:]:
            nn = nn.unionByName(n)
        cur = cur.join(nn.distinct(), "ord", "left_anti")
    if ir.boost is not None and ir.boost != 1.0:
        cur = cur.select(
            "ord", (F.col("score") * F.lit(ir.boost)).alias("score")
        )
    return cur


def bool_tree_match(
    spark: SparkSession,
    index_dir: str,
    query: dict,
    corpus_path: str | None = None,
    runtime: dict | None = None,
) -> DataFrame:
    """Full (ord, score) match set of an arbitrary query tree —
    the front half of bool_tree_search, exposed so aggregations can
    share ONE materialized match set per `_search` body."""
    _sweep_deferred()
    stats = load_stats(index_dir)
    from .query import analyze_query_py

    texts: list = []
    dv_cols = _dv_columns(spark, index_dir)
    ir = _parse(query, dv_cols, texts, runtime)
    ir = _expand_phrases(ir, lambda t: analyze_query_py(stats, t), texts)
    if texts:
        leaf_scored = _leaf_scores(spark, index_dir, texts, stats)
        leaf_scored = leaf_scored.persist()
        _deferred_unpersist.append(leaf_scored)
    else:
        leaf_scored = None
    matched = _combine(spark, index_dir, ir, leaf_scored, corpus_path)
    return _anti_tombstones(spark, index_dir, matched, col="ord")


def bool_tree_search(
    spark: SparkSession,
    index_dir: str,
    query: dict,
    k: int = 10,
    corpus_path: str | None = None,
    query_id: int = 0,
    runtime: dict | None = None,
) -> DataFrame:
    """Top-k over a bool tree. Returns the ranked-hits shape
    (query_id, rank, doc_id, score, repo, path, commit), tie-break
    (score desc, ord asc) — identical to every other ranked path."""
    matched = bool_tree_match(
        spark, index_dir, query, corpus_path, runtime=runtime
    )
    # rank over a materialized query_id column (not a bare lit) so the
    # optimizer's WindowGroupLimit bounds each map partition to k rows
    # before the single-partition merge
    matched = matched.withColumn(
        "query_id", F.lit(query_id).cast("long")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("ord")
    )
    topped = (
        matched.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        "ord", "doc_id", "repo", "path", "commit"
    )
    return ident.join(F.broadcast(topped), "ord").select(
        "query_id", "rank", "doc_id", "score", "repo", "path", "commit",
    )

# ---------------------------------------------------------------------------
# explain — per-hit, per-leaf score attribution for tree-compiled queries
# ---------------------------------------------------------------------------


def _label_leaves(ir: _IR, texts: list, counter: list) -> None:
    """Assign every leaf a stable, parse-order label (rides ir.spec /
    a side slot). Text leaves: 'L{leaf_id}:match:{text}' (expansion
    markers use their mode + pattern). DV/geo leaves get 'F{j}:...'
    with j allocated in parse order via `counter`."""
    if ir.kind == "text":
        t = texts[ir.leaf_id]
        if isinstance(t, dict):
            ir.text = f"L{ir.leaf_id}:{t['mode']}:{t['pattern']}"
        else:
            ir.text = f"L{ir.leaf_id}:match:{t}"
        return
    if ir.kind == "dv":
        ir.leaf_id = counter[0]
        counter[0] += 1
        ir.text = f"F{ir.leaf_id}:{ir.spec['kind']}:{ir.field}"
        return
    if ir.kind == "geo":
        ir.leaf_id = counter[0]
        counter[0] += 1
        ir.text = f"F{ir.leaf_id}:{ir.spec['kind']}:{ir.field}"
        return
    if ir.kind == "rankf":
        return
    for role in ("must", "should", "must_not", "filter"):
        for c in getattr(ir, role) or []:
            _label_leaves(c, texts, counter)
    if ir.kind == "fscore":
        for fn in ir.spec["functions"]:
            if fn["filter"] is not None:
                _label_leaves(fn["filter"], texts, counter)


def _collect_dv_matches(
    spark, index_dir, ir: _IR, ords: list, acc: dict
) -> None:
    """Fill acc[dv_leaf_label] = set(matching ords among `ords`) for
    every dv/geo leaf — ONE tiny filtered job per leaf over the
    vocabulary-thin sidecar (hit-count-sized output; explain is a
    k-docs diagnostic, never a corpus pass)."""
    if ir.kind == "dv":
        f = _dv_frame(spark, index_dir, ir, None)
        acc[ir.text] = {
            r["ord"] for r in f.filter(F.col("ord").isin(ords)).collect()
        }
        return
    if ir.kind == "geo":
        f = _geo_frame(spark, index_dir, ir)
        acc[ir.text] = {
            r["ord"] for r in f.filter(F.col("ord").isin(ords)).collect()
        }
        return
    for role in ("must", "should", "must_not", "filter"):
        for c in getattr(ir, role) or []:
            _collect_dv_matches(spark, index_dir, c, ords, acc)


def _explain_eval(ir: _IR, ord_, scores: dict, dv_sets: dict):
    """Recursive per-doc evaluation mirroring _combine's algebra
    exactly; returns (matched, contribs) where contribs is a list of
    (leaf_label, value) and sum(values) equals the doc's score from
    the distributed path (asserted in tests). Attribution is linear
    PER DOC even for dis_max/boosting: the winner/demotion weights
    are decided per doc, then applied multiplicatively."""
    if ir.kind == "text":
        s = scores.get((ir.leaf_id, ord_))
        if s is None:
            return False, []
        b = 1.0 if ir.boost is None else float(ir.boost)
        return True, [(ir.text, s * b)]
    if ir.kind in ("dv", "geo"):
        return (ord_ in dv_sets[ir.text]), [(ir.text, 0.0)]
    if ir.kind == "all":
        return True, [("match_all", 0.0)]
    if ir.kind == "const":
        m, _ = _explain_eval(ir.filter[0], ord_, scores, dv_sets)
        if not m:
            return False, []
        return True, [
            (f"constant_score(boost={float(ir.boost)})", float(ir.boost))
        ]
    if ir.kind == "boosting":
        m, contribs = _explain_eval(ir.must[0], ord_, scores, dv_sets)
        if not m:
            return False, []
        nm, _ = _explain_eval(ir.should[0], ord_, scores, dv_sets)
        if nm:
            tb = float(ir.tb)
            contribs = [(lbl, v * tb) for lbl, v in contribs]
        return True, contribs
    if ir.kind == "dismax":
        kids = [
            _explain_eval(c, ord_, scores, dv_sets) for c in ir.should
        ]
        hit = [(i, c) for i, (m, c) in enumerate(kids) if m]
        if not hit:
            return False, []
        tb = float(ir.tb or 0.0)
        sums = [sum(v for _, v in c) for _, c in hit]
        win = sums.index(max(sums))
        contribs = []
        for j, (_, c) in enumerate(hit):
            w = 1.0 if j == win else tb
            contribs.extend((lbl, v * w) for lbl, v in c)
        b = 1.0 if ir.boost is None else float(ir.boost)
        if b != 1.0:
            contribs = [(lbl, v * b) for lbl, v in contribs]
        return True, contribs
    if ir.kind in ("fscore", "sscore", "rankf", "distf", "scriptq",
                   "pinned"):
        raise NotImplementedError(
            f"explain on a '{ir.kind}' node (score-replacing nodes "
            "explain as themselves, not per-leaf)"
        )
    # bool
    contribs = []
    has_pos = bool(ir.must or ir.filter)
    for c in ir.must:
        m, cc = _explain_eval(c, ord_, scores, dv_sets)
        if not m:
            return False, []
        contribs.extend(cc)
    for c in ir.filter:
        m, cc = _explain_eval(c, ord_, scores, dv_sets)
        if not m:
            return False, []
        # filter context: matches decide, scores never flow (Lucene)
        contribs.extend((lbl, 0.0) for lbl, _ in cc)
    sh = [_explain_eval(c, ord_, scores, dv_sets) for c in ir.should]
    n_hit = sum(1 for m, _ in sh if m)
    if has_pos:
        if ir.msm is not None and n_hit < ir.msm:
            return False, []
    else:
        msm = 1 if ir.msm is None else ir.msm
        if ir.should and n_hit < msm:
            return False, []
        if not ir.should and not ir.must_not:
            contribs = [("match_all", 0.0)]
    for m, cc in sh:
        if m:
            contribs.extend(cc)
    for c in ir.must_not:
        m, _ = _explain_eval(c, ord_, scores, dv_sets)
        if m:
            return False, []
    if not has_pos and not ir.should and ir.must_not and not contribs:
        contribs = [("match_all", 0.0)]
    b = 1.0 if ir.boost is None else float(ir.boost)
    if b != 1.0:
        contribs = [(lbl, v * b) for lbl, v in contribs]
    return True, contribs


def bool_tree_explain(
    spark: SparkSession,
    index_dir: str,
    query: dict,
    doc_ids: list,
    query_id: int = 0,
    runtime: dict | None = None,
) -> DataFrame:
    """The OpenSearch `_explain` API for tree-compiled queries
    (`GET /index/_explain/{id}` run over a list of docs, or
    `explain: true` on a `_search` body whose query routed through
    this compiler): one row per (doc, matching leaf) with that leaf's
    score contribution after the tree's boost/dis_max/boosting/
    constant_score algebra — contributions sum to exactly the score
    bool_tree_search reported (pytest-asserted). Non-matching or
    tombstoned docs get a single matched=false row, like the API's
    `"matched": false` response.

    Execution shape: the text leaves resolve through the SAME single
    bucket-pruned postings scan as search, filtered to the requested
    ords before collect (hit-count-sized); dv/geo leaves each run one
    sidecar-thin filtered job. The tree algebra then replays per doc
    on the driver — explain is a k-docs diagnostic, so the per-doc
    loop is bounded by the request, never the corpus. Score-replacing
    nodes (function_score / script_score / rank_feature) raise loud.

    Reference parity: opensearch ExplainRequest as issued by
    data-prepper's opensearch sink consumers (the reference passes
    explain bodies through verbatim, cf. SearchConfiguration)."""
    _sweep_deferred()
    stats = load_stats(index_dir)
    from .query import analyze_query_py

    texts: list = []
    dv_cols = _dv_columns(spark, index_dir)
    ir = _parse(query, dv_cols, texts, runtime)
    ir = _expand_phrases(ir, lambda t: analyze_query_py(stats, t), texts)
    _label_leaves(ir, texts, [0])

    docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    want = [int(d) for d in doc_ids]
    id2ord = {
        r["doc_id"]: r["ord"]
        for r in docs.filter(F.col("doc_id").isin(want))
        .select("doc_id", "ord").collect()
    }
    ords = sorted(id2ord.values())
    live = {
        r["ord"]
        for r in _anti_tombstones(
            spark, index_dir,
            spark.createDataFrame([(o,) for o in ords], "ord long"),
            col="ord",
        ).collect()
    } if ords else set()

    scores: dict = {}
    if texts and ords:
        ls = _leaf_scores(spark, index_dir, texts, stats)
        for r in ls.filter(F.col("ord").isin(ords)).collect():
            scores[(r["leaf_id"], r["ord"])] = r["score"]
    dv_sets: dict = {}
    if ords:
        _collect_dv_matches(spark, index_dir, ir, ords, dv_sets)

    rows = []
    for d in want:
        o = id2ord.get(d)
        matched, contribs = (False, [])
        if o is not None and o in live:
            matched, contribs = _explain_eval(ir, o, scores, dv_sets)
        if matched and contribs:
            for lbl, v in contribs:
                rows.append((int(query_id), d, True, lbl, float(v)))
        else:
            rows.append((int(query_id), d, False, None, None))
    return spark.createDataFrame(
        rows,
        "query_id long, doc_id long, matched boolean, "
        "leaf string, contribution double",
    )
