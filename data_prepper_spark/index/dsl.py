"""OpenSearch Query-DSL compiler: a `_search` request body runs on
this engine unchanged.

The reference ships events INTO an OpenSearch cluster and users query
it with the JSON query DSL; "a user of the reference could switch"
therefore means their existing `_search` bodies must run here. This
module compiles the DSL surface this engine already implements onto
the corresponding physical-index functions — a thin, declarative
front: every clause maps to the SAME oracle-verified executors
(topk / phrase / boolean / expansion / facets / collapse /
search_after), so the compiler adds routing, not new semantics.

Supported body keys: `query` (match, match_all, term, match_phrase
[+slop], match_bool_prefix (type-ahead without adjacency: full tokens
as disjunctive should-terms + capped prefix expansion, one deduped
postings scan), match_phrase_prefix (search-as-you-type: last token
prefix-expanded in term-dictionary order, adjacency verified),
prefix, fuzzy, wildcard, regexp (anchored whole-term match, Lucene
RegexpQuery's Java-compatible subset; the literal prefix blocks the
dictionary join), ids (unscored stored-_id filter),
knn (k-NN plugin clause -> similarity executors over `vectors_path`:
exact brute-force cosine, or LSH-bucketed ANN with method="lsh"),
top-level range/terms/exists + geo_distance/geo_bounding_box/
geo_shape (haversine / dateline-aware box / envelope +
polygon-with-holes + multipolygon via literal-edge ray-casting
parity, intersects|within|disjoint — all over *_lat/*_lon
doc-values) on
doc-values fields (non-scoring filters — sugar for bool/filter with
one leaf), knn `filter` (pre-search predicate pushed into the
vector scan), bool must/should/must_not/filter —
ARBITRARILY NESTED, with range/term/terms/exists filter leaves on
doc-values fields, minimum_should_match, and per-clause/per-node
`boost` (booltree.py — every bool body, flat or nested, compiles
through that one tree executor), dis_max (tie_breaker), constant_score,
boosting (negative_boost demotion), function_score (weight +
field_value_factor functions with per-function filters, score_mode/
boost_mode algebra), script_score (painless-lite: _score,
doc['field'].value, params, Math.*/saturation/sigmoid calls —
compiled to native Columns, min_score cutoff), rank_feature
(saturation/log/sigmoid/linear over a positive doc-values feature,
matches feature-present docs — the `should`-clause relevance
booster), query_string (Lucene mini-syntax: AND/OR/NOT,
+/- prefixes, parentheses, "quoted phrases", field:value on
doc-values fields — parsed to a bool tree, same compiler),
multi_match (fields with ^boosts, each scored as its own per-field
BM25, type=best_fields max / most_fields sum — needs `corpus_path`
with the field columns), combined_fields (BM25F: weighted tf folded
before saturation, one combined idf — `index_dir` must be a FIELDED
index from bm25f.build_fielded_index) —
hybrid (the neural-search plugin's lexical + k-NN combination:
sub-queries run to pagination_depth, min_max/l2 per-list score
normalization with the plugin's 1.0-single-result / 0.001-floor
constants, weighted arithmetic/geometric/harmonic-mean combination
over present sub-scores — missing sub-scores excluded from numerator
and denominator; configured inline or via the body's
`search_pipeline.phase_results_processors[].normalization-processor`;
search pipelines also carry request_processors[].filter_query —
wrapping the body's query so hits AND aggs narrow — and
response_processors[].rename_field / truncate_hits),
simple_query_string, more_like_this, span_term / span_near (slop,
in_order, span_term/span_or sub-clauses) / span_first (end-bounded)
/ span_or (alternative terms, positions merged) / span_not
(exclude-window pre/post/dist rejection) / span_containing +
span_within (big spans enclosing a little-span position) /
span_multi (prefix/fuzzy/wildcard/regexp expanded against the term
dictionary into span_or alternatives, df-capped top_terms rewrite)
over the positions sidecar — tightest-span-first ranking, intervals (`match`
rule: analyzed terms, max_gaps default unlimited, ordered flag —
routed to the same span executor),
match_none (the empty match set — zero hits, zero agg rows),
`_source` retrieval (true / include-list / includes+excludes with
fnmatch wildcards — the stored row as one JSON column, page-sized
identity join),
has_child / has_parent / parent_id (the `join` field type modeled
as join_name/join_parent doc-values columns — index/joinfield.py;
score_mode none/sum/max/min/avg, min_children/max_children, parent
score propagation; relation resolution is equi-joins only),
nested ({"nested": {"path", "query"}} over an array<struct>
doc-values column: the inner bool/term/terms/range/exists/prefix/
wildcard tree compiles to ONE per-element predicate evaluated with
F.exists — co-occurrence on a single element, score_mode "none")),
`runtime_mappings` (per-query derived fields: painless-lite
emit(<expr>) over doc['field'].value + params compiled onto the
doc-values sidecar as a native expression — usable as range/term/
terms/exists filter leaves anywhere a tree compiles, and as the
field of stats/avg/min/max/sum/value_count/histogram/percentiles
aggregations; nothing is written), `min_score` (top-level
score-suffix cutoff on the final page, applied after rescore),
`track_total_hits` (DSLResult.total = exact full-match-set
cardinality — match/term, tree-compiled, and match_all queries),
`size`, `from` (score-ordered
deep pages on match/term; any supported query kind with `sort`),
`sort` on doc-values fields (replaces score ordering — the match set
is materialized once, sidecar-joined, and paged with absolute ranks;
`_score` sorts map to the default), `search_after` (+ the
match query), `collapse`, `highlight` (match/term hits gain a
`snippet` column around the earliest term hit), `rescore`
(top-window_size re-ranking, score_mode=total: query_weight *
original + rescore_query_weight * the tree-compiled rescore query's
score; docs beyond the window keep their original score), and `aggs` (terms
[+nested top_hits], range, extended_stats, stats/avg/min/max/sum/
value_count, histogram, date_histogram, cardinality, percentiles,
significant_terms / significant_text, filters (named filter buckets,
each compiled through the tree compiler, zero-count buckets emitted),
adjacency_matrix (named filters + pairwise intersections, empty
buckets omitted), missing (doc-values NULL count), weighted_avg,
percentile_ranks (exact), rare_terms (doc_count <= max_doc_count
tail), multi_terms (composite-key top buckets), top_metrics (metric
values of the top-sorted match-set docs),
string_stats (length stats + character-distribution Shannon
entropy), median_absolute_deviation / boxplot (exact percentile
forms; percentile_approx is the documented sketch swap),
matrix_stats (per-field count/mean/variance/skewness/kurtosis +
pairwise covariance/correlation from ONE grouped pass of raw power
sums; population moments, kurtosis = m4/m2²), t_test (paired /
Welch heteroscedastic / pooled homoscedastic Student's t + two-tailed
p-value via a pure-Python regularized incomplete beta; a/b take
term/range filters; degenerate groups yield NULL via try_divide),
scripted_metric
(distributed-safe subset: painless-lite map expression + algebraic
sum/avg/min/max/count reduce — init/combine ARE Spark's partial
aggregation; free-form stateful scripts raise), date_range /
ip_range (IPv4 + CIDR mask buckets, dotted-quad -> int32 in native
Columns) / geo_distance rings (haversine, unit-converted bounds) via
one generic overlapping-[from,to) executor with zero-doc buckets
emitted, geo_line (the match set's points as a sort-ordered track
truncated to `size`; WindowGroupLimit rank, never a match-set
collect), ip_prefix (/N network buckets over an IPv4 doc-values
field — native mask bit math, append_prefix_length / min_doc_count
knobs, per-bucket prefix_length + netmask echo), geohash_grid (5·precision interleaved bits -> base-32 keys,
all native bit math), auto_date_histogram (smallest ladder interval
whose exact bucket count fits `buckets`; 1-row driver gate),
sampler / diversified_sampler (sub-aggs over the top-shard_size
scored docs, identity-key tie-break so oracles can replay the cut;
diversified caps docs per doc-values value first), nested
({"nested": {"path"}} + sub-aggs over exploded elements: terms
[+reverse_nested distinct-parent counts from the same grouped pass]
and element metrics), children / parent (join-field pivot buckets —
the match set pivots across join_parent via equi-joins, doc_count +
terms/metric sub-aggs over the pivoted set)) under ANY query with
a materializable match set
(match, term, bool, match_all — the set is built ONCE per body and
shared by every aggregation in it; match_all + aggs = corpus-wide
buckets). A `terms` aggregation takes `order`
({_count|_key|<metric>: asc|desc}), `include`/`exclude` (anchored
regex or exact-value list, filtering buckets before the size cut;
plain terms only) and may nest metric
sub-aggregations
(avg/sum/min/max/value_count, any mix of fields) — all folded into
the one grouped aggregation that counts the buckets — or ONE nested
`terms` sub-aggregation (two-level drill-down buckets, leaf metrics
allowed; still one grouped pass, aggs.nested_terms_facet).
`histogram`/`date_histogram` take `min_doc_count: 0` (+
`extended_bounds`) for dense bucket ranges (empty buckets at
doc_count 0 / NULL metrics; numeric intervals only), metric sub-aggs
folded into the bucket groupBy — including `rate` under
date_histogram (sum(field) or doc_count per bucket divided by
interval/unit, ChronoUnit average-duration ratios) — plus pipeline
sub-aggregations: `cumulative_sum`,
`derivative`, `serial_diff` (lag-k), `moving_fn`
(MovingFunctions.unweightedAvg/sum/min/max over the window ending
just before each bucket), `bucket_script` / `bucket_selector`
(painless-lite params arithmetic over a dict buckets_path — derived
columns / bucket-dropping predicates), all window algebra over the
bucket frame (buckets_path "_count" or a sibling metric),
`normalize` (rescale_0_1 / percent_of_sum / mean / z-score against
the full bucket frame), `moving_percentiles` (exact percentile over
the window ending just before each bucket), and
`bucket_sort` (sort/from/size on buckets). `composite` (sources: terms/histogram/date_histogram, any
mix, per-source asc/desc order) enumerates ALL key combinations in
composite-key order with exclusive `after`-key pagination — the
scalable bucket-export aggregation — and takes metric sub-aggs.
Top-level sibling pipelines `avg_bucket`/`sum_bucket`/`min_bucket`/
`max_bucket`/`stats_bucket`/`extended_stats_bucket`/
`percentiles_bucket` re-aggregate a parent's buckets via
buckets_path "parent>metric" or "parent>_count". `global` buckets
compute sub-aggregations over the whole live corpus alongside
query-scoped ones (results surface as "<name>.<sub>"). A top-level
`slice` ({"id": i, "max": m}) replaces hits with a deterministic,
disjoint, complete 1/m shard of the FULL unscored match set keyed by
pmod(xxhash64(doc_id), m) — the parallel-export device. A top-level
`suggest` block ({"<name>": {"text"|"prefix": ..., "term"|
"completion"|"phrase": {...}}}) routes to the dictionary-only
suggest executors (phrase = whole-phrase did-you-mean over per-token
candidates, df-unigram ranked) and may appear with or without a
query.
Unsupported constructs raise NotImplementedError naming the clause —
loud, not silent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


class DSLResult:
    """hits + named aggregation/suggester DataFrames (all lazy)."""

    def __init__(
        self,
        hits: DataFrame | None,
        aggregations: dict,
        suggest: dict | None = None,
        explanation: DataFrame | None = None,
        total: DataFrame | None = None,
        inner_hits: DataFrame | None = None,
        profile: dict | None = None,
    ):
        self.hits = hits
        self.aggregations = aggregations
        self.suggest = suggest or {}
        self.explanation = explanation
        # body {"profile": true}: the compiled (post-rewrite) query
        # tree, Catalyst physical plans per frame, and driver compile
        # time — see _build_profile for the honesty contract
        self.profile = profile
        # collapse inner_hits: per collapsed group on the returned
        # page, its top-`size` hits (query_id, <field>, doc_count,
        # hit_rank, doc_id, score, repo, path, commit)
        self.inner_hits = inner_hits
        # track_total_hits=true: (query_id, total_hits) — the EXACT
        # full-match-set cardinality (OpenSearch's relation "eq";
        # this engine never returns the capped "gte" form)
        self.total = total


_PROFILE_CHILD_KEYS = {
    # clause kinds whose spec nests sub-queries, and where
    "bool": ("must", "should", "must_not", "filter"),
    "dis_max": ("queries",),
    "constant_score": ("filter",),
    "boosting": ("positive", "negative"),
    "function_score": ("query",),
    "script_score": ("query",),
    "has_child": ("query",),
    "has_parent": ("query",),
    "nested": ("query",),
    "hybrid": ("queries",),
}


def _profile_node(node: dict) -> dict:
    """One profile tree node: {"type", "description", "children"} —
    the OpenSearch profile's query-section shape, over the
    POST-REWRITE tree (the same tree the compiler executed)."""
    import json as _json

    ((kind, spec),) = node.items()
    children = []
    own = spec
    if isinstance(spec, dict) and kind in _PROFILE_CHILD_KEYS:
        own = {}
        for k2, v2 in spec.items():
            if k2 in _PROFILE_CHILD_KEYS[kind]:
                subs = v2 if isinstance(v2, list) else [v2]
                children.extend(
                    _profile_node(s) for s in subs
                    if isinstance(s, dict) and s
                )
            else:
                own[k2] = v2
    return {
        "type": kind,
        "description": _json.dumps(own, sort_keys=True, default=str),
        "children": children,
    }


def _plan_string(df: DataFrame, mode: str = "formatted") -> str:
    import contextlib as _ctx
    import io as _io

    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _build_profile(node, hits, aggs, t0) -> dict:
    """The `"profile": true` section. Honesty contract: Spark plans
    are lazy and execute distributed, so OpenSearch's per-clause
    time_in_nanos has no analog — what a Spark user needs instead is
    (a) the compiled post-rewrite query tree (same shape as the
    OpenSearch profile query section), (b) the Catalyst PHYSICAL
    plans that will run (pushed filters / pruned schemas / join
    strategies visible — the `.explain("formatted")` evidence), and
    (c) the measured driver-side compile time for this body. That is
    what this emits; nothing is fabricated."""
    import time as _time

    return {
        "query": [_profile_node(node)],
        "compile_ms": (_time.monotonic() - t0) * 1000.0,
        "hits_plan": (
            _plan_string(hits) if hits is not None else None
        ),
        "aggregation_plans": {
            name: _plan_string(frame, mode="simple")
            for name, frame in aggs.items()
        },
    }


def _resolve_terms_lookup(spark, node):
    """OpenSearch terms-lookup ({"terms": {field: {"index", "id",
    "path"}}}): fetch the lookup document's field values once on the
    driver — the same GET OpenSearch itself performs before rewriting
    — and replace the leaf with a literal terms list. One 1-row
    ord-join per lookup leaf, request-bounded; the rewritten tree
    then compiles like any other terms leaf."""
    import os as _os

    if not isinstance(node, dict):
        return node
    out = {}
    for k, v in node.items():
        if k == "terms" and isinstance(v, dict) and len(v) == 1:
            ((f, spec),) = v.items()
            if isinstance(spec, dict) and "index" in spec:
                idx = spec["index"]
                did = int(spec["id"])
                path = spec["path"]
                docs = (
                    spark.read.parquet(_os.path.join(idx, "docs"))
                    .select("ord", "doc_id")
                    .where(F.col("doc_id") == did)
                )
                dv = spark.read.parquet(
                    _os.path.join(idx, "docvalues")
                )
                if path not in dv.columns:
                    raise NotImplementedError(
                        f"terms lookup path '{path}' not in the "
                        "lookup index's doc-values sidecar"
                    )
                row = docs.join(dv, "ord").select(path).collect()
                vals: list = []
                if row and row[0][0] is not None:
                    v0 = row[0][0]
                    vals = (
                        list(v0) if isinstance(v0, (list, tuple))
                        else [v0]
                    )
                out[k] = {f: vals}
                continue
        if isinstance(v, dict):
            out[k] = _resolve_terms_lookup(spark, v)
        elif isinstance(v, list):
            out[k] = [
                _resolve_terms_lookup(spark, x)
                if isinstance(x, dict) else x
                for x in v
            ]
        else:
            out[k] = v
    return out


def _field_arg(spec):
    """{'field': 'x'} or {'field': {'query'|'value': 'x', ...}} ->
    (text, options)."""
    ((_field, v),) = spec.items()
    if isinstance(v, dict):
        text = v.get("query", v.get("value"))
        return text, v
    return v, {}


def _parse_field_boosts(fields, kind: str) -> dict[str, float]:
    """OpenSearch field-list syntax ["title^2", "body"] ->
    {"title": 2.0, "body": 1.0} (boost defaults to 1)."""
    out = {}
    for f in fields:
        name, _, boost = str(f).partition("^")
        out[name] = float(boost) if boost else 1.0
    if not out:
        raise ValueError(f"{kind} needs a non-empty 'fields' list")
    return out


def _hybrid_pipeline_conf(spec: dict, body: dict, n_sub: int):
    """Resolve (normalization_technique, combination_technique,
    weights) for a `hybrid` query. OpenSearch configures these on a
    SEARCH PIPELINE's normalization-processor
    (phase_results_processors[].normalization-processor.{normalization,
    combination}); the body may carry that pipeline inline under
    `search_pipeline`, or the hybrid spec may carry `normalization`/
    `combination` directly (engine convenience). Defaults mirror the
    plugin: min_max + arithmetic_mean, equal weights."""
    norm = {"technique": "min_max"}
    comb = {"technique": "arithmetic_mean"}
    pipe = body.get("search_pipeline") or {}
    for proc in pipe.get("phase_results_processors", []):
        np_ = proc.get("normalization-processor")
        if np_:
            norm = np_.get("normalization", norm) or norm
            comb = np_.get("combination", comb) or comb
    if "normalization" in spec:
        norm = spec["normalization"]
    if "combination" in spec:
        comb = spec["combination"]
    norm_t = (norm or {}).get("technique", "min_max")
    comb_t = (comb or {}).get("technique", "arithmetic_mean")
    weights = ((comb or {}).get("parameters") or {}).get("weights")
    if weights is None:
        weights = [1.0] * n_sub
    if len(weights) != n_sub:
        raise ValueError(
            f"hybrid combination weights length {len(weights)} != "
            f"{n_sub} sub-queries"
        )
    return norm_t, comb_t, [float(w) for w in weights]


def _hybrid_hits(
    spark, index_dir, spec, body, k, corpus_path, vectors_path, query_id
):
    """OpenSearch `hybrid` query (the neural-search plugin's
    lexical + k-NN combination): each sub-query runs independently to
    `pagination_depth` results, every sub-result list is NORMALIZED
    per query (min_max: (s-min)/(max-min), single-result lists pin to
    1.0 and exact-zero normalized scores floor at 0.001 — the
    plugin's MinMaxScoreNormalizationTechnique constants; l2:
    s/sqrt(Σs²) over the list), and per-doc scores COMBINE by the
    weighted arithmetic / geometric / harmonic mean over the
    sub-queries that returned the doc (missing sub-scores are
    excluded from numerator AND denominator — the plugin marks them
    absent rather than zero). k-NN sub-hits key by `vec_id`, which by
    the k-NN-plugin mapping IS the stored `_id` (vectors live in the
    same index as the text); doc identity is re-joined from the
    index's docs table and tombstones are honored. Everything is
    k-bounded: per-sub-query frames are `pagination_depth` rows per
    query, so the window normalization and the combine groupBy never
    see corpus-sized frames."""
    import os as _os

    from . import query as q

    subs = spec.get("queries") or []
    if not isinstance(subs, list) or not subs:
        raise ValueError("hybrid needs a non-empty 'queries' list")
    depth = int(spec.get("pagination_depth", max(k, 10)))
    norm_t, comb_t, weights = _hybrid_pipeline_conf(spec, body, len(subs))
    docs = spark.read.parquet(_os.path.join(index_dir, "docs")).select(
        "ord", "doc_id", "repo", "path", "commit"
    )
    frames = []
    for i, sub in enumerate(subs):
        r = search(
            spark, index_dir, {"query": sub, "size": depth},
            corpus_path=corpus_path, query_id=query_id,
            vectors_path=vectors_path,
        )
        h = r.hits
        # executors differ in identity columns; normalize every
        # sub-frame to the index ORDINAL (the engine's dense doc key).
        # Sub-frames are depth-bounded, so they broadcast into the
        # docs scan — identical shape to _resolve_ords.
        if "vec_id" in h.columns:
            # k-NN sub-hits: vec_id IS the stored _id (the k-NN-plugin
            # mapping puts vectors in the same index as the text)
            h = (
                docs.join(
                    F.broadcast(
                        h.select(
                            "query_id",
                            F.col("vec_id").cast("string").alias("path"),
                            F.col("cosine").cast("double").alias("s"),
                        )
                    ),
                    "path",
                )
                .select("query_id", "ord", "s")
            )
        elif "ord" in h.columns:
            h = h.select(
                "query_id", "ord", F.col("score").cast("double").alias("s")
            )
        elif "path" in h.columns:
            h = (
                docs.join(
                    F.broadcast(
                        h.select(
                            "query_id",
                            "path",
                            F.col("score").cast("double").alias("s"),
                        )
                    ),
                    "path",
                )
                .select("query_id", "ord", "s")
            )
        else:
            h = (
                docs.select("ord", F.col("doc_id").alias("_d"))
                .join(
                    F.broadcast(
                        h.select(
                            "query_id",
                            F.col("doc_id").alias("_d"),
                            F.col("score").cast("double").alias("s"),
                        )
                    ),
                    "_d",
                )
                .select("query_id", "ord", "s")
            )
        w = Window.partitionBy("query_id")
        if norm_t == "min_max":
            mn = F.min("s").over(w)
            mx = F.max("s").over(w)
            ns = F.when(mx == mn, F.lit(1.0)).otherwise(
                (F.col("s") - mn) / (mx - mn)
            )
            ns = F.when(ns <= F.lit(0.0), F.lit(0.001)).otherwise(ns)
        elif norm_t == "l2":
            nrm = F.sqrt(F.sum(F.col("s") * F.col("s")).over(w))
            ns = F.when(nrm == F.lit(0.0), F.lit(0.001)).otherwise(
                F.col("s") / nrm
            )
        else:
            raise NotImplementedError(
                f"hybrid normalization technique '{norm_t}' "
                "(min_max, l2)"
            )
        frames.append(
            h.withColumn("ns", ns)
            .withColumn("w", F.lit(weights[i]))
            .select("query_id", "ord", "ns", "w")
        )
    allf = frames[0]
    for f in frames[1:]:
        allf = allf.unionByName(f)
    if comb_t == "arithmetic_mean":
        comb = (F.sum(F.col("ns") * F.col("w")) / F.sum("w")).alias("score")
    elif comb_t == "geometric_mean":
        # the plugin's geometric/harmonic techniques count only
        # POSITIVE sub-scores (l2 normalization preserves a negative
        # cosine's sign); a doc with no positive sub-score combines
        # to 0
        pw = F.when(F.col("ns") > 0, F.col("w"))
        num = F.sum(pw * F.log(F.col("ns")))
        den = F.sum(pw)
        comb = (
            F.when(den.isNull(), F.lit(0.0)).otherwise(F.exp(num / den))
        ).alias("score")
    elif comb_t == "harmonic_mean":
        pw = F.when(F.col("ns") > 0, F.col("w"))
        num = F.sum(pw)
        den = F.sum(pw / F.col("ns"))
        comb = (
            F.when(num.isNull(), F.lit(0.0)).otherwise(num / den)
        ).alias("score")
    else:
        raise NotImplementedError(
            f"hybrid combination technique '{comb_t}' "
            "(arithmetic_mean, geometric_mean, harmonic_mean)"
        )
    grouped = allf.groupBy("query_id", "ord").agg(comb)
    out = docs.join(F.broadcast(grouped), "ord")
    out = q._anti_tombstones(spark, index_dir, out, col="ord")
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("ord")
    )
    return (
        out.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", "doc_id", "score", "repo", "path",
            "commit",
        )
    )


def _terms_order(aconf: dict):
    """terms-agg `order` ({"_count"|"_key"|<metric>: "asc"|"desc"})
    -> (key, direction) or None for the default."""
    o = aconf.get("order")
    if o is None:
        return None
    ((k, d),) = o.items()
    if d not in ("asc", "desc"):
        raise ValueError(f"terms order direction '{d}'")
    return (k, d)


def search(
    spark: SparkSession,
    index_dir: str,
    body: dict,
    corpus_path: str | None = None,
    query_id: int = 0,
    vectors_path: str | None = None,
) -> DSLResult:
    """Execute one _search body; returns DSLResult whose frames carry
    the underlying executors' columns (query_id = `query_id`).
    `vectors_path` points the `knn` clause at a vector table
    (vec_id long, embedding array<float> — the k-NN plugin's index
    analog)."""
    from . import query as q

    if '"id"' in repr(body) or "'id'" in repr(body):
        # stored-script resolution (index/scripts.py): any
        # {"script": {"id": ...}} anywhere in the body becomes the
        # stored inline source before compilation; cheap walk, fires
        # only when an "id" key exists somewhere
        from .scripts import resolve_stored_scripts

        body = resolve_stored_scripts(index_dir, body)
    if body.get("profile"):
        import time as _time

        _prof_t0 = _time.monotonic()
    else:
        _prof_t0 = None
    k = int(body.get("size", 10))
    k_out = k
    if "rescore" in body:
        # the main query must rank through the rescore window before
        # the final page is cut
        k = max(k, int(body["rescore"].get("window_size", 10)))
    node = body.get("query", {"match_all": {}})
    # search-pipeline REQUEST processors (OpenSearch search pipelines;
    # the response processors run at the end of this function):
    # filter_query wraps the body's query so the extra filter applies
    # to hits AND aggregations — exactly the processor's contract
    _pipe = body.get("search_pipeline") or {}
    for proc in _pipe.get("request_processors", []):
        ((pk, pconf),) = proc.items()
        if pk == "filter_query":
            node = {"bool": {
                "must": [node], "filter": [pconf["query"]],
            }}
        else:
            raise NotImplementedError(
                f"search-pipeline request processor '{pk}'"
            )
    if '"index"' in repr(node) or "'index'" in repr(node):
        # a terms-lookup leaf may hide anywhere in the tree; the
        # rewrite walk is cheap and fires only on dict specs carrying
        # an "index" key
        node = _resolve_terms_lookup(spark, node)
    # runtime_mappings: per-query derived fields compiled onto the
    # doc-values sidecar (booltree.runtime_field_col) — usable as
    # range/term/terms/exists filter leaves anywhere a tree compiles,
    # and as metric/histogram aggregation fields below
    _rt = body.get("runtime_mappings") or None
    ((kind, spec),) = node.items()

    def qdf(schema: str, row: tuple) -> DataFrame:
        return spark.createDataFrame([row], schema)

    hits = None
    match_text = None
    _inner_hits_frame = None
    # materialized once per body when the query is match_all or a
    # tree-routed bool; every aggregation then shares it
    agg_matched = None
    # the tree the query compiled to, when it routed through
    # booltree — explain=true replays its algebra per hit
    tree_node = None

    frm = int(body.get("from", 0))
    _sort = body.get("sort")
    if _sort in ("_score", ["_score"], [{"_score": {"order": "desc"}}]):
        _sort = None  # explicit score sort == the default ordering
    if frm and _sort is None and kind not in ("match", "term"):
        raise NotImplementedError(
            f"'from' without 'sort' under query clause '{kind}'"
        )

    if _sort is not None:
        # field sort REPLACES score ordering: materialize the query's
        # match set once, then one sidecar join + windowed page
        # (query.py::sort_by_field_search); the same set feeds aggs
        from .booltree import _dv_columns, bool_tree_match

        keys = []
        for s in (_sort if isinstance(_sort, list) else [_sort]):
            if isinstance(s, str):
                keys.append((s, "asc"))
            else:
                ((f, conf),) = s.items()
                keys.append((
                    f,
                    conf.get("order", "asc")
                    if isinstance(conf, dict) else str(conf),
                ))
        if kind == "match_all":
            matched = q.match_all_ords(spark, index_dir, query_id=query_id)
        elif kind == "bool" or kind in ("range", "terms", "exists") or (
            kind == "term"
            and next(iter(spec)) in _dv_columns(spark, index_dir)
        ):
            wrapped = node if kind == "bool" else {
                "bool": {"filter": [node]}
            }
            matched = bool_tree_match(
                spark, index_dir, wrapped, corpus_path, runtime=_rt
            ).select(
                F.lit(query_id).cast("long").alias("query_id"), "ord"
            )
        elif kind in ("match", "term"):
            text, _ = _field_arg(spec)
            stats = q.load_stats(index_dir)
            qt = q.query_terms(
                spark, index_dir,
                qdf(
                    "query_id long, query string", (query_id, str(text))
                ),
                stats["n_docs"], stats=stats,
            ).select("query_id", "term_id", "idf", "bucket")
            matched = q._match_set(spark, index_dir, qt)
        else:
            raise NotImplementedError(f"sort under query clause '{kind}'")
        hits = q.sort_by_field_search(
            spark, index_dir, matched, keys, k=k, frm=frm
        )
        if "aggs" in body:
            agg_matched = matched.select("query_id", "ord")
    elif kind == "match_all":
        match_text = None
        if "aggs" not in body and "suggest" not in body:
            raise NotImplementedError(
                "match_all without aggs or suggest (no scoring scan to run)"
            )
        if "aggs" in body:
            agg_matched = q.match_all_ords(
                spark, index_dir, query_id=query_id
            )
    elif kind == "match_none":
        # MatchNoDocsQuery: the empty match set, with the standard
        # hit shape so pagination/aggs downstream see zero rows
        hits = spark.createDataFrame(
            [],
            "query_id long, rank int, doc_id long, score double, "
            "repo string, path string, commit string",
        )
        if "aggs" in body:
            agg_matched = spark.createDataFrame(
                [], "query_id long, ord long"
            )
    elif kind in ("match", "term"):
        from .booltree import _dv_columns, bool_tree_match, bool_tree_search

        if kind == "term" and next(iter(spec)) in _dv_columns(
            spark, index_dir
        ):
            # top-level term on a doc-values (keyword) field: an
            # unscored exact filter, not a BM25 text match
            hits = bool_tree_search(
                spark, index_dir, node, k=k,
                corpus_path=corpus_path, query_id=query_id,
                runtime=_rt,
            )
            tree_node = node
            if "aggs" in body:
                agg_matched = bool_tree_match(
                    spark, index_dir, node, corpus_path, runtime=_rt
                ).select(
                    F.lit(query_id).cast("long").alias("query_id"), "ord"
                )
        else:
            match_text, _ = _field_arg(spec)
            match_text = str(match_text)
    elif kind in (
        "range", "terms", "exists", "geo_distance", "geo_bounding_box",
        "geo_shape", "terms_set", "nested",
    ):
        # top-level non-scoring filter query (the OpenSearch shape
        # `{"query": {"range": {...}}}`; geo filters read *_lat/*_lon
        # doc-values — the geoip-enrich companion; terms_set covers
        # multi-valued keyword fields; nested evaluates its inner
        # tree per array<struct> element): identical
        # semantics to bool/filter with one leaf, so route through
        # the tree compiler — every hit scores 0, ordinal order
        from .booltree import bool_tree_match, bool_tree_search

        wrapped = {"bool": {"filter": [node]}}
        hits = bool_tree_search(
            spark, index_dir, wrapped, k=k,
            corpus_path=corpus_path, query_id=query_id, runtime=_rt,
        )
        tree_node = wrapped
        if "aggs" in body:
            agg_matched = bool_tree_match(
                spark, index_dir, wrapped, corpus_path, runtime=_rt
            ).select(
                F.lit(query_id).cast("long").alias("query_id"), "ord"
            )
    elif kind == "match_phrase":
        text, opts = _field_arg(spec)
        slop = int(opts.get("slop", 0))
        ph = qdf("query_id long, phrase string", (query_id, str(text)))
        if slop == 0:
            if corpus_path is None:
                raise ValueError("match_phrase needs corpus_path")
            hits = q.phrase_search(spark, index_dir, corpus_path, ph, k=k)
        else:
            from .positions import sloppy_phrase_topk

            hits = sloppy_phrase_topk(
                spark, index_dir, ph, k=k, slop=slop
            )
    elif kind == "match_bool_prefix":
        text, opts = _field_arg(spec)
        hits = q.bool_prefix_search(
            spark, index_dir,
            qdf("query_id long, query string", (query_id, str(text))),
            k=k,
            max_expansions=int(opts.get("max_expansions", 50)),
        )
    elif kind == "match_phrase_prefix":
        text, opts = _field_arg(spec)
        if corpus_path is None:
            raise ValueError("match_phrase_prefix needs corpus_path")
        hits = q.phrase_prefix_search(
            spark, index_dir, corpus_path,
            qdf("query_id long, phrase string", (query_id, str(text))),
            k=k,
            max_expansions=int(opts.get("max_expansions", 50)),
        )
    elif kind in (
        "span_near", "span_term", "span_first", "span_or", "span_not",
        "span_containing", "span_within", "span_multi",
    ):
        # span family over the positions sidecar: span_term values
        # are TERM-level (not analyzed — the OpenSearch contract);
        # hits rank tightest-span-first (positions.span_near_topk).
        # span_or merges alternative term positions per clause slot
        # (SpanOrQuery); span_not drops spans holding an exclude-term
        # position within [first-pre, last+post] (SpanNotQuery);
        # span_containing/span_within keep big spans enclosing a
        # little-span position (identical match set either direction;
        # ranking always by the big span's width, documented) —
        # everything compiles to ONE positional scan.
        from .positions import span_near_topk

        def _unit_terms(label: str, clause: dict) -> list:
            ((sk, ss),) = clause.items()
            if sk not in ("span_term", "span_or", "span_multi"):
                raise NotImplementedError(
                    f"{label} '{sk}' (span_term/span_or/span_multi — "
                    "unit-length spans only)"
                )
            out: list = []
            for c in _span_parse(sk, ss)["clauses"]:
                out.extend([c] if isinstance(c, str) else c)
            return out

        def _span_parse(ck: str, cs: dict) -> dict:
            if ck == "span_term":
                t, _ = _field_arg(cs)
                return {
                    "clauses": [str(t)], "slop": 0, "in_order": True,
                    "exclude": [], "pre": 0, "post": 0, "require": None,
                }
            if ck == "span_or":
                if not cs.get("clauses"):
                    raise ValueError("span_or needs non-empty clauses")
                alts = []
                for c in cs["clauses"]:
                    ((sk, ss),) = c.items()
                    if sk != "span_term":
                        raise NotImplementedError(
                            f"span_or sub-clause '{sk}' (span_term only)"
                        )
                    t, _ = _field_arg(ss)
                    alts.append(str(t))
                return {
                    "clauses": [alts], "slop": 0, "in_order": True,
                    "exclude": [], "pre": 0, "post": 0, "require": None,
                }
            if ck == "span_near":
                if not cs.get("clauses"):
                    raise ValueError("span_near needs non-empty clauses")
                cls = []
                for c in cs["clauses"]:
                    ((sk, ss),) = c.items()
                    if sk not in ("span_term", "span_or", "span_multi"):
                        raise NotImplementedError(
                            f"span_near sub-clause '{sk}' "
                            "(span_term/span_or/span_multi only)"
                        )
                    cls.extend(_span_parse(sk, ss)["clauses"])
                return {
                    "clauses": cls,
                    "slop": int(cs.get("slop", 0)),
                    "in_order": bool(cs.get("in_order", True)),
                    "exclude": [], "pre": 0, "post": 0, "require": None,
                }
            if ck == "span_not":
                ((ik2, is2),) = cs["include"].items()
                inc = _span_parse(ik2, is2)
                if inc["exclude"]:
                    raise NotImplementedError("nested span_not")
                dist = int(cs.get("dist", 0))
                return {
                    **inc,
                    "exclude": _unit_terms(
                        "span_not exclude", cs["exclude"]
                    ),
                    "pre": int(cs.get("pre", dist)),
                    "post": int(cs.get("post", dist)),
                }
            if ck == "span_multi":
                # SpanMultiTermQueryWrapper: the inner prefix/fuzzy/
                # wildcard/regexp expands against the term dictionary
                # (df-capped, the top_terms rewrite) into span_or
                # alternatives — one clause slot, merged positions
                ((mk, ms),) = cs["match"].items()
                if mk not in ("prefix", "fuzzy", "wildcard", "regexp"):
                    raise NotImplementedError(
                        f"span_multi match '{mk}'"
                    )
                t, opts = _field_arg(ms)
                alts = q.expand_pattern_terms(
                    spark, index_dir, str(t), mk,
                    int(opts.get("max_expansions", 50)),
                )
                if not alts:
                    # empty expansion matches nothing: a term outside
                    # the analyzer's alphabet can never be indexed
                    alts = ["\x00"]
                return {
                    "clauses": [alts], "slop": 0, "in_order": True,
                    "exclude": [], "pre": 0, "post": 0, "require": None,
                }
            if ck in ("span_containing", "span_within"):
                ((bk, bs),) = cs["big"].items()
                big = _span_parse(bk, bs)
                if big["require"] is not None:
                    raise NotImplementedError(
                        f"nested {ck}"
                    )
                return {
                    **big,
                    "require": _unit_terms(
                        f"{ck} little", cs["little"]
                    ),
                }
            raise NotImplementedError(f"span clause '{ck}'")

        max_end = None
        if kind == "span_first":
            # span_first: {"match": <span clause>, "end": N}
            ((ik, ispec),) = spec["match"].items()
            sp = _span_parse(ik, ispec)
            max_end = int(spec["end"])
        else:
            sp = _span_parse(kind, spec)
        hits = span_near_topk(
            spark, index_dir, sp["clauses"],
            slop=sp["slop"], in_order=sp["in_order"],
            k=k, query_id=query_id, max_end=max_end,
            exclude=sp["exclude"],
            excl_pre=sp["pre"], excl_post=sp["post"],
            require=sp["require"],
        )
    elif kind == "intervals":
        # intervals `match` rule (Lucene IntervalsSource.match): the
        # query text ANALYZES to terms; a doc matches when a minimal
        # interval holds all terms with <= max_gaps interleaving
        # positions (default unlimited), in order when ordered=true —
        # exactly the span executor's width contract, so it routes
        # there with analyzed clauses
        from .positions import span_near_topk
        from .query import analyze_query_py, load_stats

        ((_ifield, rule),) = spec.items()
        ((rk, rconf),) = rule.items()
        if rk != "match":
            raise NotImplementedError(
                f"intervals rule '{rk}' (match only)"
            )
        toks = analyze_query_py(load_stats(index_dir), rconf["query"])
        if not toks:
            raise ValueError("intervals match needs query text")
        gaps = int(rconf.get("max_gaps", -1))
        hits = span_near_topk(
            spark, index_dir, toks,
            slop=(2**31 - 1) if gaps < 0 else gaps,
            in_order=bool(rconf.get("ordered", False)),
            k=k, query_id=query_id,
        )
    elif kind in ("prefix", "fuzzy", "wildcard", "regexp"):
        text, opts = _field_arg(spec)
        hits = q.expanded_search(
            spark,
            index_dir,
            qdf("query_id long, pattern string", (query_id, str(text))),
            match=kind,
            k=k,
            max_expansions=int(opts.get("max_expansions", 50)),
        )
    elif kind == "bool":
        from .booltree import bool_tree_match, bool_tree_search

        hits = bool_tree_search(
            spark, index_dir, node, k=k,
            corpus_path=corpus_path, query_id=query_id, runtime=_rt,
        )
        tree_node = node
        if "aggs" in body:
            agg_matched = (
                bool_tree_match(spark, index_dir, node, corpus_path, runtime=_rt)
                .select(
                    F.lit(query_id).cast("long").alias("query_id"), "ord"
                )
            )
    elif kind == "query_string":
        # Kibana-search-bar syntax: parse to a bool tree, then the
        # same compiler/executors as every other tree query
        from .booltree import (
            _dv_columns,
            bool_tree_match,
            bool_tree_search,
        )
        from .querystring import parse_query_string

        qs_text = spec["query"] if isinstance(spec, dict) else str(spec)
        opts = spec if isinstance(spec, dict) else {}
        tree = parse_query_string(
            str(qs_text),
            default_field=str(opts.get("default_field", "content")),
            dv_cols=_dv_columns(spark, index_dir),
            default_operator=str(opts.get("default_operator", "OR")),
        )
        hits = bool_tree_search(
            spark, index_dir, tree, k=k,
            corpus_path=corpus_path, query_id=query_id, runtime=_rt,
        )
        tree_node = tree
        if "aggs" in body:
            agg_matched = bool_tree_match(
                spark, index_dir, tree, corpus_path, runtime=_rt
            ).select(
                F.lit(query_id).cast("long").alias("query_id"), "ord"
            )
    elif kind in (
        "dis_max", "constant_score", "boosting", "function_score",
        "script_score", "rank_feature", "distance_feature", "pinned",
        "script", "wrapper",
    ):
        # scoring tree nodes (Lucene DisjunctionMaxQuery /
        # ConstantScoreQuery / BoostingQuery / FunctionScoreQuery /
        # ScriptScoreQuery / RankFeatureQuery / DistanceFeatureQuery /
        # PinnedQuery) plus the script filter query and the base64
        # wrapper envelope: same compiler as nested bool — all text
        # leaves share one bucket-pruned postings scan
        from .booltree import bool_tree_match, bool_tree_search

        hits = bool_tree_search(
            spark, index_dir, node, k=k,
            corpus_path=corpus_path, query_id=query_id, runtime=_rt,
        )
        tree_node = node
        if "aggs" in body:
            agg_matched = bool_tree_match(
                spark, index_dir, node, corpus_path, runtime=_rt
            ).select(
                F.lit(query_id).cast("long").alias("query_id"), "ord"
            )
    elif kind == "knn":
        # OpenSearch k-NN plugin clause: {"knn": {"<field>": {"vector":
        # [...], "k": N, "method": ...}}}. Routes to the similarity
        # executors over the vector table (`vectors_path`): exact
        # brute-force cosine by default (broadcast query side, scan
        # never shuffles), or the LSH-bucketed ANN path when
        # method="lsh" (bucket equi-join + multi-probe + exact
        # rerank) — the 100-TB shape. Hits carry (query_id, rank,
        # vec_id, cosine).
        if vectors_path is None:
            raise ValueError("knn needs vectors_path")
        from ..datapipe.similarity import ann_lsh_topk, cosine_topk

        ((field, conf),) = spec.items()
        vec = [float(x) for x in conf["vector"]]
        kk = int(conf.get("k", k))
        vectors = spark.read.parquet(vectors_path)
        if conf.get("filter") is not None:
            # OpenSearch efficient k-NN filtering: the filter applies
            # BEFORE the search (k results all satisfy it — never a
            # post-filter that returns < k). term/range predicates
            # compile to native Columns on the vector table, so they
            # push into the parquet scan.
            from .aggs import _filter_pred

            vectors = vectors.filter(_filter_pred(conf["filter"]))
        qdf_v = spark.createDataFrame(
            [(query_id, vec)], "query_id long, qvec array<double>"
        )
        if conf.get("method") == "lsh":
            hits = ann_lsh_topk(
                vectors, qdf_v, k=kk, vec_col=field,
                nbits=int(conf.get("nbits", 8)), dim=len(vec),
            )
        elif conf.get("method") == "hnsw":
            # graph-based ANN: build (or reuse) the layered neighbor
            # table, then fixed-schedule beam search — the OpenSearch
            # k-NN plugin's HNSW method analog
            from ..datapipe.hnsw import hnsw_build, hnsw_topk

            edges = hnsw_build(
                vectors, vec_col=field, dim=len(vec),
                m_edges=int(conf.get("m", 8)),
            )
            hits = hnsw_topk(
                vectors, edges, qdf_v, k=kk, vec_col=field,
                beam=int(conf.get("ef_search", 16)),
            )
        else:
            hits = cosine_topk(vectors, qdf_v, k=kk, vec_col=field)
    elif kind in ("has_child", "has_parent", "parent_id"):
        # join-field relation queries over the doc-values-modeled
        # parent/child mapping (join_name / join_parent columns —
        # index/joinfield.py). Inner queries run through the normal
        # tree compiler; relation resolution is equi-joins only.
        from . import joinfield as jf

        if kind == "has_child":
            hits = jf.has_child_search(
                spark, index_dir, spec["query"],
                child_type=str(spec["type"]),
                score_mode=str(spec.get("score_mode", "none")),
                min_children=int(spec.get("min_children", 1)),
                max_children=(
                    int(spec["max_children"])
                    if "max_children" in spec else None
                ),
                k=k, query_id=query_id, corpus_path=corpus_path,
            )
        elif kind == "has_parent":
            hits = jf.has_parent_search(
                spark, index_dir, spec["query"],
                parent_type=str(spec["parent_type"]),
                score=bool(spec.get("score", False)),
                k=k, query_id=query_id, corpus_path=corpus_path,
            )
        else:
            hits = jf.parent_id_search(
                spark, index_dir,
                child_type=str(spec["type"]),
                parent_id=str(spec["id"]),
                k=k, query_id=query_id,
            )
        if "aggs" in body:
            if kind == "has_child":
                m = jf.has_child_search(
                    spark, index_dir, spec["query"],
                    child_type=str(spec["type"]),
                    min_children=int(spec.get("min_children", 1)),
                    max_children=(
                        int(spec["max_children"])
                        if "max_children" in spec else None
                    ),
                    k=None, corpus_path=corpus_path,
                )
            elif kind == "has_parent":
                m = jf.has_parent_search(
                    spark, index_dir, spec["query"],
                    parent_type=str(spec["parent_type"]),
                    k=None, corpus_path=corpus_path,
                )
            else:
                m = jf.parent_id_search(
                    spark, index_dir,
                    child_type=str(spec["type"]),
                    parent_id=str(spec["id"]), k=None,
                )
            agg_matched = m.select(
                F.lit(query_id).cast("long").alias("query_id"), "ord"
            )
    elif kind == "ids":
        # {"ids": {"values": [...]}} — unscored identity filter on the
        # stored _id (the engine's `path`, the same mapping the _bulk
        # facade writes); request-sized value list, one skinny docs
        # scan, tombstones honored, ordinal order like other filters
        import os as _os

        vals = [str(v) for v in spec.get("values", [])]
        ident = spark.read.parquet(_os.path.join(index_dir, "docs"))
        matched_ids = ident.filter(F.col("path").isin(vals)).select(
            F.lit(query_id).cast("long").alias("query_id"),
            "ord", "doc_id", "repo", "path", "commit",
        )
        matched_ids = q._anti_tombstones(
            spark, index_dir, matched_ids, col="ord"
        )
        hits = (
            matched_ids.withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(F.asc("ord"))
                ),
            )
            .filter(F.col("rank") <= k)
            .select(
                "query_id", "rank", "doc_id",
                F.lit(0.0).alias("score"), "repo", "path", "commit",
            )
        )
        if "aggs" in body:
            agg_matched = matched_ids.select("query_id", "ord")
    elif kind == "simple_query_string":
        text = spec["query"] if isinstance(spec, dict) else str(spec)
        hits = q.simple_query_string(
            spark,
            index_dir,
            qdf("query_id long, query string", (query_id, str(text))),
            k=k,
        )
    elif kind == "multi_match":
        # OpenSearch `multi_match`: one query text against several
        # corpus field columns, each scored as its OWN per-field BM25
        # "index" (field-local df/dl/avgdl — the Lucene fielded-index
        # contract) and combined: type="best_fields" (the OpenSearch
        # default, Lucene dis_max tie_breaker=0) takes the per-doc
        # max of the boosted field scores, "most_fields" sums them.
        # Executor: textstats.multi_match — per-field match-set-sized
        # frames outer-joined, never |docs| x |fields|.
        from ..datapipe.textstats import multi_match as _mm

        if corpus_path is None:
            raise ValueError("multi_match needs corpus_path")
        text = spec["query"]
        fields = _parse_field_boosts(spec.get("fields", []), kind)
        mtype = str(spec.get("type", "best_fields"))
        if mtype not in ("best_fields", "most_fields"):
            raise NotImplementedError(f"multi_match type '{mtype}'")
        docs = spark.read.parquet(corpus_path)
        if "doc_id" not in docs.columns:
            # the engine corpus keys docs by path — any stable key
            # works; the scorer only groups/joins on it
            docs = docs.withColumn("doc_id", F.col("path"))
        hits = _mm(
            docs,
            qdf("query_id long, query string", (query_id, str(text))),
            fields, k=k, mode=mtype,
        )
    elif kind == "combined_fields":
        # OpenSearch `combined_fields`: term-centric fielded ranking —
        # weighted tfs folded across fields BEFORE saturation with ONE
        # combined idf per term (BM25F). Routes to the bm25f executor
        # over index_dir, which must be a FIELDED index
        # (bm25f.build_fielded_index: one corpus row per (doc, field),
        # docs.path = field name); ONE bucket-pruned postings scan.
        from .bm25f import bm25f_topk

        text = spec["query"]
        fields = _parse_field_boosts(spec.get("fields", []), kind)
        hits = bm25f_topk(
            spark, index_dir,
            qdf("query_id long, query string", (query_id, str(text))),
            weights=fields, k=k,
        )
    elif kind == "more_like_this":
        # OpenSearch MLT `like: [{"_id": ...}]` over the corpus; the
        # executor derives each source doc's tf-idf keyword query
        from ..datapipe.textstats import more_like_this as _mlt

        if corpus_path is None:
            raise ValueError("more_like_this needs corpus_path")
        like = spec.get("like", [])
        like = like if isinstance(like, list) else [like]
        ids = [
            x["_id"] if isinstance(x, dict) else x for x in like
        ]
        fields = spec.get("fields", ["content"])
        docs = spark.read.parquet(corpus_path)
        id_col = "doc_id" if "doc_id" in docs.columns else docs.columns[0]
        hits = _mlt(
            docs, fields[0], source_ids=[int(i) for i in ids],
            id_col=id_col,
            m=int(spec.get("max_query_terms", 5)), k=k,
        )
    elif kind == "hybrid":
        hits = _hybrid_hits(
            spark, index_dir, spec, body, k=k, corpus_path=corpus_path,
            vectors_path=vectors_path, query_id=query_id,
        )
    else:
        raise NotImplementedError(f"query clause '{kind}'")

    if match_text is not None and hits is None:
        mq = qdf("query_id long, query string", (query_id, match_text))
        if "slice" in body:
            # sliced scroll: a deterministic 1/max shard of the FULL
            # unscored match set — the parallel-export device
            sl = body["slice"]
            hits = q.sliced_scan(
                spark, index_dir, mq,
                slice_id=int(sl["id"]), slice_max=int(sl["max"]),
            )
        elif "search_after" in body:
            score, doc = body["search_after"]
            hits = q.topk_after(
                spark,
                index_dir,
                qdf(
                    "query_id long, query string, after_score double, "
                    "after_doc long",
                    (query_id, match_text, float(score), int(doc)),
                ),
                k=k,
            )
        elif "collapse" in body:
            if corpus_path is None:
                raise ValueError("collapse needs corpus_path")
            cfield = body["collapse"]["field"]
            hits = q.collapse_search(
                spark, index_dir, corpus_path, mq,
                field=cfield, k=k,
            )
            ih_conf = body["collapse"].get("inner_hits")
            if ih_conf:
                # inner_hits: per collapsed group, its top-`size` hits
                # (the SAME per-group window top_hits_facet runs),
                # limited to the groups on the returned page — one
                # k-bounded semi-join, surfaced as DSLResult.
                # inner_hits (query_id, <field>, doc_count, hit_rank,
                # doc_id, score, ...)
                ih = q.top_hits_facet(
                    spark, index_dir, corpus_path, mq,
                    group_field=cfield,
                    size=int(ih_conf.get("size", 3)),
                )
                _inner_hits_frame = ih.join(
                    F.broadcast(hits.select("query_id", cfield)),
                    ["query_id", cfield],
                )
            else:
                _inner_hits_frame = None
        elif "highlight" in body:
            from ..datapipe.textstats import highlight_col, snippet_col
            from ..tokenizer import tokenize_col

            if corpus_path is None:
                raise ValueError("highlight needs corpus_path")
            top = q.topk_with_docs(spark, index_dir, mq, k=k)
            hconf = body["highlight"]
            hfields = hconf.get("fields") or {"content": {}}
            text_field = next(iter(hfields))
            fconf = hfields[text_field] or {}
            pre = (
                fconf.get("pre_tags") or hconf.get("pre_tags")
                or ["<em>"]
            )[0]
            post = (
                fconf.get("post_tags") or hconf.get("post_tags")
                or ["</em>"]
            )[0]
            nfrag = int(
                fconf.get(
                    "number_of_fragments",
                    hconf.get("number_of_fragments", 5),
                )
            )
            corpus = spark.read.parquet(corpus_path).select(
                "repo", "path", "commit",
                F.col(text_field).alias("__text"),
            )
            qterms = F.array_distinct(tokenize_col(F.lit(match_text)))
            hits = (
                top.join(corpus, ["repo", "path", "commit"])
                .withColumn(
                    "snippet", snippet_col(F.col("__text"), qterms)
                )
                .withColumn(
                    "highlight",
                    highlight_col(
                        F.col("__text"), qterms,
                        max_fragments=nfrag,
                        pre_tag=pre, post_tag=post,
                    ),
                )
                .drop("__text")
            )
        elif frm:
            # score-ordered deep page: rank through frm+k, return the
            # page with its ABSOLUTE ranks (same contract as
            # search_after — page N never re-ranks pages 1..N-1 more
            # cheaply than one bounded window)
            hits = q.topk(spark, index_dir, mq, k=frm + k).filter(
                F.col("rank") > frm
            )
        else:
            hits = q.topk(spark, index_dir, mq, k=k)

    aggs: dict = {}
    agg_body = body.get("aggs") or {}
    # set-algebra aggregations (filters/missing) need ords, not the
    # (mq, matched=None) facet-executor protocol — force the match set
    _SET_AGGS = {
        "filters", "missing", "adjacency_matrix", "weighted_avg",
        "percentile_ranks", "rare_terms", "multi_terms", "top_metrics",
        "geo_centroid", "geo_bounds", "geotile_grid", "geo_line",
        "children", "parent",
    }
    needs_set = any(
        next(iter({k: v for k, v in a.items() if k != "aggs"}))
        in _SET_AGGS
        for a in agg_body.values()
    )
    if (
        (len(agg_body) > 1 or needs_set)
        and agg_matched is None and match_text is not None
    ):
        # multi-agg match body: materialize the disjunctive match set
        # ONCE instead of once per aggregation
        from .query import load_stats

        stats = load_stats(index_dir)
        qt = q.query_terms(
            spark, index_dir,
            qdf("query_id long, query string", (query_id, match_text)),
            stats["n_docs"], stats=stats,
        ).select("query_id", "term_id", "idf", "bucket")
        agg_matched = q._match_set(spark, index_dir, qt)
    if agg_body and agg_matched is not None and len(agg_body) > 1:
        # several aggregations share ONE materialized match set —
        # persist it so each facet executor re-reads the ords, not
        # the postings scan / set algebra that produced them
        agg_matched = agg_matched.persist()
        q._deferred_unpersist.append(agg_matched)
    # sibling pipeline aggregations reference a PARENT aggregation's
    # bucket frame (buckets_path "parent>metric") — collect them now,
    # compute them after the parents exist
    _SIBLING_PIPES = {
        "avg_bucket", "sum_bucket", "min_bucket", "max_bucket",
        "stats_bucket", "extended_stats_bucket", "percentiles_bucket",
        "bucket_count_ks_test", "bucket_correlation",
    }
    sibling_specs = {
        name: aspec for name, aspec in agg_body.items()
        if next(iter({k: v for k, v in aspec.items() if k != "aggs"}))
        in _SIBLING_PIPES
    }
    for name, aspec in agg_body.items():
        if name in sibling_specs:
            continue
        sub = dict(aspec)
        nested = sub.pop("aggs", None)
        ((akind, aconf),) = sub.items()
        if match_text is None and agg_matched is None:
            raise NotImplementedError(
                "aggs under this query kind (supported: match, term, "
                "match_all, bool, range/terms/exists — the kinds with "
                "a materializable match set)"
            )
        mq = qdf(
            "query_id long, query string",
            (query_id, match_text if match_text is not None else ""),
        )
        if corpus_path is None:
            raise ValueError("aggs need corpus_path")
        _METRIC_SUBAGGS = {"avg", "sum", "min", "max", "value_count"}

        def _metric_list(nspec):
            """nested metric sub-aggs -> terms_metric_facet's
            (out_col, kind, field) list; raises on non-metrics."""
            out = []
            for nname, n in (nspec or {}).items():
                ((nkind, nconf),) = n.items()
                if nkind not in _METRIC_SUBAGGS:
                    raise NotImplementedError(
                        f"sub-aggregation '{nkind}' here (metric "
                        "sub-aggs only: avg/sum/min/max/value_count)"
                    )
                out.append((nname, nkind, nconf["field"]))
            return out

        if akind == "terms" and (
            aconf.get("include") is not None
            or aconf.get("exclude") is not None
        ) and (nested or aconf.get("order")):
            raise NotImplementedError(
                "terms include/exclude combined with order/nested "
                "sub-aggregations (plain terms only)"
            )
        _inner_terms = None
        if akind == "terms" and nested and len(nested) == 1:
            _in, _ispec = next(iter(nested.items()))
            _isub = {k: v for k, v in _ispec.items() if k != "aggs"}
            if list(_isub) == ["terms"]:
                _inner_terms = (_in, _isub["terms"], _ispec.get("aggs"))
        if _rt and isinstance(aconf, dict) and aconf.get("field") in _rt:
            # aggregation over a RUNTIME field: derive the column
            # from the sidecar once (same compiled expression the
            # filter leaves use), join the match set, then one
            # grouped aggregation — metric family, histogram, and
            # exact percentiles supported
            import os as _os

            from .booltree import runtime_field_col

            rt_matched = agg_matched
            if rt_matched is None:
                if match_text is None:
                    raise NotImplementedError(
                        "runtime-field agg under this query kind "
                        "(no match set)"
                    )
                from .query import load_stats

                _st = load_stats(index_dir)
                _qt = q.query_terms(
                    spark, index_dir,
                    qdf("query_id long, query string",
                        (query_id, match_text)),
                    _st["n_docs"], stats=_st,
                ).select("query_id", "term_id", "idf", "bucket")
                rt_matched = q._match_set(spark, index_dir, _qt)
            dv = spark.read.parquet(
                _os.path.join(index_dir, "docvalues")
            )
            fcol = runtime_field_col(
                _rt[aconf["field"]], set(dv.columns)
            )
            at = rt_matched.join(
                dv.withColumn("__rtf", fcol).select("ord", "__rtf"),
                "ord",
            )
            v = F.col("__rtf").cast("double")
            if akind in (
                "stats", "avg", "min", "max", "sum", "value_count"
            ):
                full = at.groupBy("query_id").agg(
                    F.count(v).alias("n"),
                    F.min(v).alias("min_v"),
                    F.max(v).alias("max_v"),
                    F.sum(v).alias("sum_v"),
                    F.avg(v).alias("avg_v"),
                )
                proj = {
                    "stats": ["n", "min_v", "max_v", "sum_v", "avg_v"],
                    "avg": ["avg_v"], "min": ["min_v"],
                    "max": ["max_v"], "sum": ["sum_v"],
                    "value_count": ["n"],
                }[akind]
                aggs[name] = full.select("query_id", *proj)
            elif akind == "histogram":
                step = float(aconf["interval"])
                key = F.floor(v / F.lit(step)) * F.lit(step)
                aggs[name] = (
                    at.withColumn("key", key)
                    .groupBy("query_id", "key")
                    .agg(F.count("*").alias("doc_count"))
                )
            elif akind == "percentiles":
                cols = []
                for pv in aconf.get(
                    "percents", (25.0, 50.0, 75.0, 95.0, 99.0)
                ):
                    cols.append(
                        F.percentile(v, F.lit(float(pv) / 100.0)).alias(
                            f"p{float(pv):g}".replace(".", "_")
                        )
                    )
                aggs[name] = at.groupBy("query_id").agg(*cols)
            else:
                raise NotImplementedError(
                    f"aggregation '{akind}' over a runtime field "
                    "(metrics/histogram/percentiles)"
                )
            continue
        if akind == "global":
            # global bucket: sub-aggregations computed over the WHOLE
            # live corpus regardless of the body's query — compiled as
            # a match_all sub-body (the executors and the one-shared-
            # match-set machinery are identical); results surface as
            # "<name>.<sub-name>"
            if not nested:
                raise ValueError("global agg needs sub-aggregations")
            subres = search(
                spark, index_dir,
                {"query": {"match_all": {}}, "aggs": nested},
                corpus_path=corpus_path, query_id=query_id,
            )
            for sn, sdf in subres.aggregations.items():
                aggs[f"{name}.{sn}"] = sdf
        elif akind in ("children", "parent"):
            # join-field pivot buckets (OpenSearch ChildrenAggregator
            # / ParentAggregator): the body's match set pivots across
            # join_parent (index/joinfield.py — equi-joins only),
            # then sub-aggregations run over the pivoted ord set with
            # the same matched= executors. Surfaces <name>
            # (query_id, doc_count) and <name>.<sub>.
            from . import joinfield as jf

            if agg_matched is None:
                raise NotImplementedError(
                    f"'{akind}' agg under this query kind (needs a "
                    "materializable match set)"
                )
            rel = (
                aconf.get("type") or aconf.get("parent_type")
                if isinstance(aconf, dict) else None
            )
            pivoted = jf.pivot_relation(
                spark, index_dir,
                agg_matched.select("query_id", "ord"),
                direction=akind,
                rel_type=(str(rel) if rel else None),
            )
            if nested:
                pivoted = pivoted.persist()
                q._deferred_unpersist.append(pivoted)
            aggs[name] = pivoted.groupBy("query_id").agg(
                F.count("*").alias("doc_count")
            )
            for sn, nspec in (nested or {}).items():
                ssub = {
                    kk: vv for kk, vv in nspec.items() if kk != "aggs"
                }
                ((sk, sc),) = ssub.items()
                if sk == "terms":
                    aggs[f"{name}.{sn}"] = q.faceted_search(
                        spark, index_dir, corpus_path, mq,
                        facet_col=sc["field"],
                        n_buckets_out=int(sc.get("size", 10)),
                        matched=pivoted,
                    )
                elif sk in (
                    "stats", "avg", "min", "max", "sum", "value_count"
                ):
                    full = q.stats_facets(
                        spark, index_dir, corpus_path, mq,
                        field=sc["field"], matched=pivoted,
                    )
                    proj = {
                        "stats": ["n", "min_v", "max_v", "sum_v", "avg_v"],
                        "avg": ["avg_v"],
                        "min": ["min_v"],
                        "max": ["max_v"],
                        "sum": ["sum_v"],
                        "value_count": ["n"],
                    }[sk]
                    aggs[f"{name}.{sn}"] = full.select("query_id", *proj)
                else:
                    raise NotImplementedError(
                        f"sub-aggregation '{sk}' under {akind} "
                        "(terms / metric family only)"
                    )
        elif akind == "composite":
            from . import aggs as agg_exec

            srcs = []
            for s in aconf["sources"]:
                ((sname, sdef),) = s.items()
                ((skind, sconf),) = sdef.items()
                srcs.append((sname, skind, sconf))
            aggs[name] = agg_exec.composite_aggregate(
                spark, index_dir, corpus_path, mq,
                sources=srcs,
                size=int(aconf.get("size", 10)),
                after=aconf.get("after"),
                metrics=_metric_list(nested),
                matched=agg_matched,
            )
        elif _inner_terms is not None:
            # terms -> terms (-> metrics) two-level drill-down: ONE
            # grouped aggregation computes both levels and the leaf
            # metrics (aggs.nested_terms_facet)
            from . import aggs as agg_exec

            _iname, _iconf, _imetrics = _inner_terms
            aggs[name] = agg_exec.nested_terms_facet(
                spark, index_dir, corpus_path, mq,
                outer_field=aconf["field"],
                inner_field=_iconf["field"],
                metrics=_metric_list(_imetrics),
                size_outer=int(aconf.get("size", 10)),
                size_inner=int(_iconf.get("size", 10)),
                matched=agg_matched,
            )
        elif akind in ("histogram", "date_histogram") and nested:
            # histogram with metric sub-aggs folded into the bucket
            # groupBy, plus parent pipeline aggregations
            # (cumulative_sum / derivative — window algebra over the
            # bucket frame) and bucket_sort
            from . import aggs as agg_exec

            mets, pipes, bsort = [], [], None
            cards, cumcards, rates = [], [], []
            for nname, n in nested.items():
                ((nkind, nconf),) = n.items()
                if nkind in _METRIC_SUBAGGS:
                    mets.append((nname, nkind, nconf["field"]))
                elif nkind == "rate":
                    # rate: per-bucket sum(field) (doc_count when no
                    # field) divided by bucket-interval/unit; the
                    # ratio uses java.time ChronoUnit average
                    # durations (month = 2,629,746 s — the OpenSearch
                    # convention), so it's a constant per body and
                    # the rate is a post-scale of one folded metric
                    if akind != "date_histogram":
                        raise NotImplementedError(
                            "rate outside date_histogram"
                        )
                    rfield = nconf.get("field")
                    if rfield:
                        mets.append((f"__rate_{nname}", "sum", rfield))
                    rates.append(
                        (nname, rfield, str(nconf.get("unit", "day")))
                    )
                elif nkind == "cardinality":
                    cards.append((nname, nconf["field"]))
                elif nkind == "cumulative_cardinality":
                    cumcards.append((nname, nconf["buckets_path"]))
                elif nkind in (
                    "cumulative_sum", "derivative", "serial_diff",
                    "moving_fn", "moving_avg", "normalize",
                    "moving_percentiles",
                ):
                    path = nconf["buckets_path"]
                    path = "doc_count" if path == "_count" else path
                    pipes.append((nname, nkind, path, nconf))
                elif nkind in ("bucket_script", "bucket_selector"):
                    # buckets_path is a dict param->path here; resolve
                    # each path to its bucket-frame column name
                    conf = dict(nconf)
                    conf["paths"] = {
                        p: ("doc_count" if v == "_count" else v)
                        for p, v in nconf["buckets_path"].items()
                    }
                    pipes.append((nname, nkind, None, conf))
                elif nkind == "bucket_sort":
                    bsort = nconf
                else:
                    raise NotImplementedError(
                        f"sub-aggregation '{nkind}' under {akind}"
                    )
            hist = agg_exec.histogram_metric_facet(
                spark, index_dir, corpus_path, mq,
                field=aconf["field"],
                interval=aconf.get("interval"),
                calendar_interval=aconf.get("calendar_interval"),
                metrics=mets,
                offset=float(aconf.get("offset", 0)),
                matched=agg_matched,
            )
            if int(aconf.get("min_doc_count", 1)) == 0:
                hist = _densify_histogram(
                    hist, aconf, query_id,
                )
            if rates:
                _CHRONO_S = {
                    "second": 1, "minute": 60, "hour": 3600,
                    "day": 86400, "week": 604800, "month": 2629746,
                    "quarter": 7889238, "year": 31556952,
                }
                ci = str(aconf.get("calendar_interval"))
                iv = {
                    "1m": "minute", "1h": "hour", "1d": "day",
                    "1w": "week", "1M": "month", "1q": "quarter",
                    "1y": "year",
                }.get(ci, ci)
                if iv not in _CHRONO_S:
                    raise NotImplementedError(f"rate under '{ci}'")
                for rname, rfield, runit in rates:
                    if runit not in _CHRONO_S:
                        raise NotImplementedError(f"rate unit '{runit}'")
                    ratio = _CHRONO_S[iv] / _CHRONO_S[runit]
                    src = (
                        F.col(f"__rate_{rname}") if rfield
                        else F.col("doc_count")
                    )
                    # empty densified buckets carry NULL metrics —
                    # their rate is 0, not NULL (nothing/interval)
                    hist = hist.withColumn(
                        rname,
                        F.coalesce(src.cast("double"), F.lit(0.0))
                        / F.lit(float(ratio)),
                    )
                    if rfield:
                        hist = hist.drop(f"__rate_{rname}")
            if cards or cumcards:
                # per-bucket cardinality: one distinct-count grouped
                # pass per field; cumulative_cardinality: EXACT
                # running distinct count via the first-seen-bucket
                # trick — min(bucket) per value, count the debuts per
                # bucket, running-sum over the ordered frame (never a
                # per-bucket re-scan of all earlier buckets)
                card_fields = dict(cards)
                for cname, cfield in cards:
                    at2 = agg_exec.attributed_fields(
                        spark, index_dir, corpus_path, mq,
                        [aconf["field"], cfield], matched=agg_matched,
                    )
                    k2 = agg_exec.histogram_key(
                        F.col(aconf["field"]),
                        aconf.get("interval"),
                        aconf.get("calendar_interval"),
                    )
                    pb = (
                        at2.groupBy("query_id", k2.alias("key"))
                        .agg(F.count_distinct(F.col(cfield)).alias(cname))
                    )
                    hist = hist.join(pb, ["query_id", "key"], "left")
                for ccname, ccpath in cumcards:
                    if ccpath not in card_fields:
                        raise NotImplementedError(
                            f"cumulative_cardinality buckets_path "
                            f"'{ccpath}' must name a sibling "
                            "cardinality sub-aggregation"
                        )
                    cfield = card_fields[ccpath]
                    at2 = agg_exec.attributed_fields(
                        spark, index_dir, corpus_path, mq,
                        [aconf["field"], cfield], matched=agg_matched,
                    )
                    k2 = agg_exec.histogram_key(
                        F.col(aconf["field"]),
                        aconf.get("interval"),
                        aconf.get("calendar_interval"),
                    )
                    debut = (
                        at2.select(
                            "query_id", k2.alias("key"),
                            F.col(cfield).alias("__v"),
                        )
                        .groupBy("query_id", "__v")
                        .agg(F.min("key").alias("key"))
                        .groupBy("query_id", "key")
                        .agg(F.count("*").alias("__new"))
                    )
                    hist = (
                        hist.join(debut, ["query_id", "key"], "left")
                        .fillna(0, subset=["__new"])
                        .withColumn(
                            ccname,
                            F.sum("__new").over(
                                Window.partitionBy("query_id")
                                .orderBy(F.asc("key"))
                                .rowsBetween(
                                    Window.unboundedPreceding, 0
                                )
                            ),
                        )
                        .drop("__new")
                    )
            if pipes:
                hist = agg_exec.bucket_pipeline(hist, "key", pipes)
            if bsort is not None:
                hist = agg_exec.bucket_sort(
                    hist,
                    sort=bsort.get("sort", [{"key": {"order": "asc"}}]),
                    size=bsort.get("size"),
                    frm=int(bsort.get("from", 0)),
                )
            aggs[name] = hist
        elif akind == "terms" and nested and all(
            next(iter(n)) in _METRIC_SUBAGGS for n in nested.values()
        ):
            # terms bucket with nested metric sub-aggregations (the
            # dashboard body): every metric folds into the ONE grouped
            # aggregation that computes the bucket counts; `order` may
            # name _count/_key or any metric sub-agg
            aggs[name] = q.terms_metric_facet(
                spark, index_dir, corpus_path, mq,
                group_field=aconf["field"],
                metrics=[
                    (nname, next(iter(n)), n[next(iter(n))]["field"])
                    for nname, n in nested.items()
                ],
                n_buckets_out=int(aconf.get("size", 10)),
                matched=agg_matched,
                order=_terms_order(aconf),
            )
        elif akind == "terms" and nested and any(
            "top_hits" in n for n in nested.values()
        ):
            if match_text is None:
                raise NotImplementedError(
                    "top_hits under non-match queries (needs scores)"
                )
            th = next(
                n["top_hits"] for n in nested.values() if "top_hits" in n
            )
            aggs[name] = q.top_hits_facet(
                spark, index_dir, corpus_path, mq,
                group_field=aconf["field"],
                size=int(th.get("size", 3)),
            )
        elif akind == "terms" and nested:
            raise NotImplementedError(
                "terms sub-aggregations other than metric aggs "
                "(avg/sum/min/max/value_count) or top_hits"
            )
        elif akind == "terms" and aconf.get("order"):
            # non-default bucket order (_key, or _count asc): same
            # one-groupBy executor, no metrics folded
            aggs[name] = q.terms_metric_facet(
                spark, index_dir, corpus_path, mq,
                group_field=aconf["field"],
                metrics=[],
                n_buckets_out=int(aconf.get("size", 10)),
                matched=agg_matched,
                order=_terms_order(aconf),
            )
        elif akind == "terms":
            aggs[name] = q.faceted_search(
                spark, index_dir, corpus_path, mq,
                facet_col=aconf["field"],
                n_buckets_out=int(aconf.get("size", 10)),
                matched=agg_matched,
                include=aconf.get("include"),
                exclude=aconf.get("exclude"),
                missing=aconf.get("missing"),
            )
        elif akind == "range" and any(
            "key" in r for r in aconf["ranges"]
        ):
            # keyed (possibly overlapping) numeric ranges route
            # through the same generic [from, to) executor the
            # date/ip/geo range aggs use — custom keys, overlap, and
            # zero-doc buckets all come with it
            from . import aggs as agg_exec
            from .aggs import _range_key

            at = agg_exec.attributed_fields(
                spark, index_dir, corpus_path, mq,
                [aconf["field"]], matched=agg_matched,
            )
            specs = [
                (
                    _range_key(r),
                    None if r.get("from") is None else float(r["from"]),
                    None if r.get("to") is None else float(r["to"]),
                )
                for r in aconf["ranges"]
            ]
            aggs[name] = agg_exec._spec_ranges_facet(
                spark, mq, at, F.col(aconf["field"]).cast("double"),
                specs,
            )
        elif akind == "range":
            bounds = sorted(
                {b for r in aconf["ranges"] for b in
                 (r.get("from"), r.get("to")) if b is not None}
            )
            aggs[name] = q.range_facets(
                spark, index_dir, corpus_path, mq,
                field=aconf["field"], bounds=[float(b) for b in bounds],
                matched=agg_matched,
            )
        elif akind == "extended_stats":
            aggs[name] = q.stats_facets(
                spark, index_dir, corpus_path, mq, field=aconf["field"],
                matched=agg_matched,
            )
        elif akind == "cardinality":
            aggs[name] = q.cardinality_facet(
                spark, index_dir, corpus_path, mq, field=aconf["field"],
                matched=agg_matched,
            )
        elif akind == "percentiles":
            aggs[name] = q.percentiles_facet(
                spark, index_dir, corpus_path, mq,
                field=aconf["field"],
                percents=tuple(
                    aconf.get("percents", (25.0, 50.0, 75.0, 95.0, 99.0))
                ),
                matched=agg_matched,
            )
        elif akind == "adjacency_matrix":
            # named filter buckets + their pairwise intersections
            # (co-occurrence dashboards): each filter compiles through
            # the tree compiler once; singles and pairs are counted
            # joins against the shared match set; empty buckets are
            # omitted (the OpenSearch contract)
            from .booltree import bool_tree_match

            if agg_matched is None:
                raise NotImplementedError(
                    "adjacency_matrix under this query kind "
                    "(no match set)"
                )
            named = {
                bname: bool_tree_match(
                    spark, index_dir, {"bool": {"filter": [fq]}},
                    corpus_path, runtime=_rt,
                ).select("ord")
                for bname, fq in aconf["filters"].items()
            }
            parts = []
            keys = sorted(named)
            for i, a in enumerate(keys):
                sets = [(a, named[a])]
                for b in keys[i + 1:]:
                    sets.append((f"{a}&{b}", named[a].join(named[b], "ord")))
                for label, m in sets:
                    parts.append(
                        agg_matched.join(m, "ord")
                        .agg(F.count("*").alias("doc_count"))
                        .select(
                            F.lit(query_id).cast("long").alias("query_id"),
                            F.lit(label).alias("key"),
                            "doc_count",
                        )
                    )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            aggs[name] = out.filter(F.col("doc_count") > 0)
        elif akind in ("significant_terms", "significant_text"):
            if agg_matched is not None and match_text is None and (
                kind == "match_all"
            ):
                raise NotImplementedError(
                    "significant_terms under match_all (foreground == "
                    "background is vacuous)"
                )
            aggs[name] = q.significant_terms(
                spark, index_dir, mq, size=int(aconf.get("size", 10)),
                matched=agg_matched,
            )
        elif akind == "t_test":
            # two-sample Student's t (paired / Welch heteroscedastic /
            # homoscedastic) — aggs.t_test_agg: one attributed pass,
            # conditional algebraic sums, Arrow-batched incomplete
            # beta for the two-tailed p-value
            from . import aggs as agg_exec

            aggs[name] = agg_exec.t_test_agg(
                spark, index_dir, corpus_path, mq,
                a_conf=aconf["a"], b_conf=aconf["b"],
                ttype=str(aconf.get("type", "heteroscedastic")),
                matched=agg_matched,
            )
        elif akind in ("stats", "avg", "min", "max", "sum", "value_count"):
            # single-metric aggs are projections of the extended_stats
            # executor's one grouped aggregation (stats_facets) — no
            # extra scan, and an oracle can recompute each column
            full = q.stats_facets(
                spark, index_dir, corpus_path, mq, field=aconf["field"],
                matched=agg_matched,
            )
            proj = {
                "stats": ["n", "min_v", "max_v", "sum_v", "avg_v"],
                "avg": ["avg_v"],
                "min": ["min_v"],
                "max": ["max_v"],
                "sum": ["sum_v"],
                "value_count": ["n"],
            }[akind]
            aggs[name] = full.select("query_id", *proj)
        elif akind in ("histogram", "date_histogram"):
            hist = q.histogram_facet(
                spark, index_dir, corpus_path, mq,
                field=aconf["field"],
                interval=aconf.get("interval"),
                calendar_interval=aconf.get("calendar_interval"),
                offset=float(aconf.get("offset", 0)),
                matched=agg_matched,
            )
            if int(aconf.get("min_doc_count", 1)) == 0:
                if float(aconf.get("offset", 0)):
                    raise NotImplementedError(
                        "histogram offset with min_doc_count=0"
                    )
                hist = _densify_histogram(hist, aconf, query_id)
            aggs[name] = hist
        elif akind == "missing":
            # docs in the match set whose doc-values field is NULL —
            # one row always (doc_count may be 0)
            import os as _os

            if agg_matched is None:
                raise NotImplementedError(
                    "missing agg under this query kind (no match set)"
                )
            dv = spark.read.parquet(
                _os.path.join(index_dir, "docvalues")
            ).select("ord", aconf["field"])
            aggs[name] = (
                agg_matched.join(dv, "ord", "left")
                .filter(F.col(aconf["field"]).isNull())
                .agg(F.count("*").alias("doc_count"))
                .select(
                    F.lit(query_id).cast("long").alias("query_id"),
                    "doc_count",
                )
            )
        elif akind == "weighted_avg":
            # sum(value*weight)/sum(weight) over the match set's
            # doc-values — null value OR null weight rows are skipped
            # (the OpenSearch contract); one grouped aggregation
            import os as _os

            if agg_matched is None:
                raise NotImplementedError(
                    "weighted_avg under this query kind (no match set)"
                )
            vf = aconf["value"]["field"]
            wf = aconf["weight"]["field"]
            dv = spark.read.parquet(
                _os.path.join(index_dir, "docvalues")
            ).select("ord", vf, wf)
            aggs[name] = (
                agg_matched.join(dv, "ord")
                .filter(F.col(vf).isNotNull() & F.col(wf).isNotNull())
                .agg(
                    (
                        F.sum(F.col(vf) * F.col(wf)) / F.sum(F.col(wf))
                    ).alias("value")
                )
                .select(
                    F.lit(query_id).cast("long").alias("query_id"),
                    "value",
                )
            )
        elif akind == "percentile_ranks":
            # for each requested value v: 100 * fraction of the match
            # set's non-null field values <= v. Exact (no t-digest
            # approximation — this engine's percentiles executor is
            # exact too); one grouped aggregation emitting every
            # requested rank from the same scan
            import os as _os

            if agg_matched is None:
                raise NotImplementedError(
                    "percentile_ranks under this query kind "
                    "(no match set)"
                )
            fld = aconf["field"]
            vals = [float(v) for v in aconf["values"]]
            dv = spark.read.parquet(
                _os.path.join(index_dir, "docvalues")
            ).select("ord", fld)
            ranked = (
                agg_matched.join(dv, "ord")
                .filter(F.col(fld).isNotNull())
                .agg(*[
                    (F.avg(
                        F.when(F.col(fld) <= F.lit(v), 1.0).otherwise(0.0)
                    ) * 100.0).alias(f"_r{i}")
                    for i, v in enumerate(vals)
                ])
            )
            aggs[name] = ranked.select(
                F.lit(query_id).cast("long").alias("query_id"),
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(v).alias("key"),
                            F.col(f"_r{i}").alias("value"),
                        )
                        for i, v in enumerate(vals)
                    ])
                ).alias("kv"),
            ).select("query_id", "kv.key", "kv.value")
        elif akind == "rare_terms":
            # the long tail: terms whose match-set doc_count is <=
            # max_doc_count (default 1), ascending count then key —
            # the inverse of the terms agg's head. Same single grouped
            # aggregation shape; the <= filter is a HAVING, so the
            # exchange is the terms agg's, not a new plan
            import os as _os

            if agg_matched is None:
                raise NotImplementedError(
                    "rare_terms under this query kind (no match set)"
                )
            fld = aconf["field"]
            cap = int(aconf.get("max_doc_count", 1))
            dv = spark.read.parquet(
                _os.path.join(index_dir, "docvalues")
            ).select("ord", fld)
            aggs[name] = (
                agg_matched.join(dv, "ord")
                .filter(F.col(fld).isNotNull())
                .groupBy(F.col(fld).alias("key"))
                .agg(F.count("*").alias("doc_count"))
                .filter(F.col("doc_count") <= cap)
                .select(
                    F.lit(query_id).cast("long").alias("query_id"),
                    "key", "doc_count",
                )
                .orderBy("doc_count", "key")
            )
        elif akind == "multi_terms":
            # composite-key terms buckets: groupBy the tuple of
            # fields, top `size` by doc_count desc then keys asc —
            # ONE grouped aggregation + one window rank (bucket frames
            # are size-capped, the window input is the aggregated
            # frame, not documents)
            import os as _os

            if agg_matched is None:
                raise NotImplementedError(
                    "multi_terms under this query kind (no match set)"
                )
            flds = [t["field"] for t in aconf["terms"]]
            size = int(aconf.get("size", 10))
            dv = spark.read.parquet(
                _os.path.join(index_dir, "docvalues")
            ).select("ord", *flds)
            order = [F.desc("doc_count")] + [F.asc(f) for f in flds]
            # orderBy().limit() compiles to TakeOrderedAndProject
            # (per-partition top-size + merge) — the grouped frame can
            # be key-cardinality-sized at scale, so no global-sort /
            # single-partition window touches it; the rank window runs
            # on the <= size rows the limit kept
            top = (
                agg_matched.join(dv, "ord")
                .groupBy(*flds)
                .agg(F.count("*").alias("doc_count"))
                .orderBy(*order)
                .limit(size)
            )
            w_rank = Window.partitionBy(F.lit(1)).orderBy(*order)
            aggs[name] = top.withColumn(
                "bucket_rank", F.row_number().over(w_rank)
            ).select(
                F.lit(query_id).cast("long").alias("query_id"),
                "bucket_rank", *flds, "doc_count",
            )
        elif akind == "top_metrics":
            # metric values carried by the top-sorted docs of the
            # match set (the "what's the latest value" agg): one
            # doc-values join + one rank window over the match set,
            # ties broken on the internal ordinal
            import os as _os

            if agg_matched is None:
                raise NotImplementedError(
                    "top_metrics under this query kind (no match set)"
                )
            mspec = aconf["metrics"]
            if isinstance(mspec, dict):
                mspec = [mspec]
            flds = [m["field"] for m in mspec]
            ((sfld, sdir),) = aconf["sort"].items()
            size = int(aconf.get("size", 1))
            need = sorted(set(flds) | {sfld})
            dv = spark.read.parquet(
                _os.path.join(index_dir, "docvalues")
            ).select("ord", *need)
            order = (
                F.desc(sfld) if str(sdir).lower() == "desc"
                else F.asc(sfld)
            )
            # TakeOrderedAndProject over the match set (per-partition
            # top-size + merge); the rank window only ever sees the
            # <= size surviving rows — no match-set-sized
            # single-partition sort
            top = (
                agg_matched.join(dv, "ord")
                .filter(F.col(sfld).isNotNull())
                .orderBy(order, F.asc("ord"))
                .limit(size)
            )
            w_tm = Window.partitionBy(F.lit(1)).orderBy(
                order, F.asc("ord")
            )
            aggs[name] = top.withColumn(
                "metric_rank", F.row_number().over(w_tm)
            ).select(
                F.lit(query_id).cast("long").alias("query_id"),
                "metric_rank",
                F.col(sfld).alias("sort_value"),
                *[F.col(f) for f in flds if f != sfld],
            )
        elif akind == "geo_line":
            # {"geo_line": {"point": {"field"}, "sort": {"field"},
            #   "size", "sort_order"}} — the match set's points as a
            # sort-ordered track, truncated to `size` (OpenSearch
            # GeoLine contract, default cap 10000). Long format
            # (query_id, seq, lon, lat, sort_value); the rank filter
            # compiles to WindowGroupLimit so each map partition
            # holds <= size rows before the merge — never a full-
            # match-set collect. Tie-break (sort, lat, lon, ord):
            # deterministic, and rows identical in the first three
            # are interchangeable so oracles can replay the order.
            import os as _os

            if agg_matched is None:
                raise NotImplementedError(
                    "geo_line under this query kind (no match set)"
                )
            fld = aconf["point"]["field"]
            srt = aconf["sort"]["field"]
            size = int(aconf.get("size", 10000))
            asc_ = str(aconf.get("sort_order", "asc")) == "asc"
            latc, lonc = f"{fld}_lat", f"{fld}_lon"
            dv = spark.read.parquet(
                _os.path.join(index_dir, "docvalues")
            )
            missing = {latc, lonc, srt} - set(dv.columns)
            if missing:
                raise NotImplementedError(
                    f"geo_line needs doc-values columns "
                    f"{sorted(missing)}"
                )
            pts = (
                agg_matched.join(
                    dv.select("ord", latc, lonc, srt), "ord"
                )
                .filter(
                    F.col(latc).isNotNull() & F.col(lonc).isNotNull()
                    & F.col(srt).isNotNull()
                )
                .select(
                    "query_id", "ord",
                    F.col(latc).cast("double").alias("lat"),
                    F.col(lonc).cast("double").alias("lon"),
                    F.col(srt).alias("sort_value"),
                )
            )
            sdir = F.asc("sort_value") if asc_ else F.desc("sort_value")
            w = Window.partitionBy("query_id").orderBy(
                sdir, F.asc("lat"), F.asc("lon"), F.asc("ord")
            )
            aggs[name] = (
                pts.withColumn("seq", F.row_number().over(w))
                .filter(F.col("seq") <= size)
                .select(
                    "query_id", "seq", "lon", "lat", "sort_value"
                )
            )
        elif akind in ("geo_centroid", "geo_bounds", "geotile_grid"):
            # geo aggregations over the *_lat/*_lon doc-values
            # convention (the geo filter leaves' storage): centroid =
            # arithmetic mean of coordinates (the OpenSearch
            # geo_centroid contract for points), bounds = min/max box,
            # geotile_grid = Web-Mercator z/x/y tile keys computed in
            # native Columns (floor/tan/log stay in codegen — no UDF,
            # no corpus touch; one grouped count, tile-cardinality-
            # bound). Latitude clamps to the Mercator limit exactly as
            # OpenSearch GeoTileUtils does.
            import math as _math
            import os as _os

            if agg_matched is None:
                raise NotImplementedError(
                    f"{akind} under this query kind (no match set)"
                )
            fld = aconf["field"]
            latc, lonc = f"{fld}_lat", f"{fld}_lon"
            dv = spark.read.parquet(
                _os.path.join(index_dir, "docvalues")
            )
            missing = {latc, lonc} - set(dv.columns)
            if missing:
                raise NotImplementedError(
                    f"geo field '{fld}' needs doc-values columns "
                    f"{sorted(missing)} (attach_doc_values with "
                    "*_lat/*_lon)"
                )
            pts = (
                agg_matched.join(dv.select("ord", latc, lonc), "ord")
                .filter(
                    F.col(latc).isNotNull() & F.col(lonc).isNotNull()
                )
                .select(
                    "query_id",
                    F.col(latc).cast("double").alias("_lat"),
                    F.col(lonc).cast("double").alias("_lon"),
                )
            )
            if akind == "geo_centroid":
                aggs[name] = pts.groupBy("query_id").agg(
                    F.avg("_lat").alias("lat"),
                    F.avg("_lon").alias("lon"),
                    F.count("*").alias("count"),
                )
            elif akind == "geo_bounds":
                aggs[name] = pts.groupBy("query_id").agg(
                    F.max("_lat").alias("top"),
                    F.min("_lat").alias("bottom"),
                    F.min("_lon").alias("left"),
                    F.max("_lon").alias("right"),
                )
            else:  # geotile_grid
                z = int(aconf.get("precision", 7))
                size = int(aconf.get("size", 10000))
                n = float(2 ** z)
                mx = 85.05112877980659  # Mercator latitude limit
                lat = F.greatest(
                    F.least(F.col("_lat"), F.lit(mx)), F.lit(-mx)
                )
                latr = F.radians(lat)
                x = F.least(
                    F.floor(
                        (F.col("_lon") + F.lit(180.0))
                        / F.lit(360.0) * F.lit(n)
                    ),
                    F.lit(int(n) - 1),
                ).cast("long")
                y = F.greatest(
                    F.least(
                        F.floor(
                            (
                                F.lit(1.0)
                                - F.log(
                                    F.tan(latr)
                                    + F.lit(1.0) / F.cos(latr)
                                ) / F.lit(_math.pi)
                            ) / F.lit(2.0) * F.lit(n)
                        ),
                        F.lit(int(n) - 1),
                    ),
                    F.lit(0),
                ).cast("long")
                key = F.concat_ws(
                    "/", F.lit(str(z)),
                    x.cast("string"), y.cast("string"),
                )
                cnt = (
                    pts.select("query_id", key.alias("key"))
                    .groupBy("query_id", "key")
                    .agg(F.count("*").alias("doc_count"))
                )
                wg = Window.partitionBy("query_id").orderBy(
                    F.desc("doc_count"), F.asc("key")
                )
                aggs[name] = (
                    cnt.withColumn(
                        "bucket_rank", F.row_number().over(wg)
                    )
                    .filter(F.col("bucket_rank") <= size)
                    .select(
                        "query_id", "bucket_rank", "key", "doc_count"
                    )
                )
        elif akind == "nested":
            # nested aggregation: explode the match set's
            # array<struct> elements ONCE; sub-aggs aggregate over
            # ELEMENTS (doc_count = element count, the OpenSearch
            # nested-agg contract). A terms sub-agg nesting a
            # reverse_nested sub-agg additionally reports the
            # DISTINCT-PARENT count per bucket — both counts come out
            # of the same grouped aggregation, no second explode.
            from . import aggs as agg_exec

            npath = aconf["path"]
            if not nested:
                raise ValueError("nested agg needs sub-aggregations")
            at = agg_exec.attributed_fields(
                spark, index_dir, corpus_path, mq, [npath],
                matched=agg_matched,
            )
            ex = at.select(
                "query_id", "ord", F.explode(npath).alias("__e")
            )

            def _strip(f):
                return (
                    f[len(npath) + 1:]
                    if f.startswith(npath + ".") else f
                )

            for sn, nspec in nested.items():
                ssub = {k2: v2 for k2, v2 in nspec.items() if k2 != "aggs"}
                ((skind, sconf),) = ssub.items()
                if skind == "terms":
                    key = F.col("__e").getField(_strip(sconf["field"]))
                    has_rev = any(
                        next(iter(
                            {k3: v3 for k3, v3 in g.items() if k3 != "aggs"}
                        )) == "reverse_nested"
                        for g in (nspec.get("aggs") or {}).values()
                    )
                    cnt = ex.groupBy(
                        "query_id", key.alias("key")
                    ).agg(
                        F.count("*").alias("doc_count"),
                        F.count_distinct("ord").alias("parent_count"),
                    )
                    wn = Window.partitionBy("query_id").orderBy(
                        F.desc("doc_count"), F.asc("key")
                    )
                    cols = ["query_id", "bucket_rank", "key", "doc_count"]
                    if has_rev:
                        cols.append("parent_count")
                    aggs[f"{name}.{sn}"] = (
                        cnt.withColumn(
                            "bucket_rank", F.row_number().over(wn)
                        )
                        .filter(
                            F.col("bucket_rank")
                            <= int(sconf.get("size", 10))
                        )
                        .select(*cols)
                    )
                elif skind in (
                    "avg", "sum", "min", "max", "value_count", "stats"
                ):
                    v = F.col("__e").getField(
                        _strip(sconf["field"])
                    ).cast("double")
                    g = ex.groupBy("query_id")
                    if skind == "stats":
                        aggs[f"{name}.{sn}"] = g.agg(
                            F.count(v).alias("n"),
                            F.min(v).alias("min_v"),
                            F.max(v).alias("max_v"),
                            F.sum(v).alias("sum_v"),
                            F.avg(v).alias("avg_v"),
                        )
                    else:
                        fn = {
                            "avg": F.avg, "sum": F.sum, "min": F.min,
                            "max": F.max, "value_count": F.count,
                        }[skind]
                        aggs[f"{name}.{sn}"] = g.agg(
                            fn(v).alias("value")
                        )
                else:
                    raise NotImplementedError(
                        f"sub-aggregation '{skind}' under nested "
                        "(terms [+reverse_nested] / metrics)"
                    )
        elif akind in ("sampler", "diversified_sampler"):
            # sampled bucket: sub-aggregations run over the top
            # shard_size docs by BM25 score. Score ties break on the
            # stored identity key (repo, path, commit) — NOT the
            # internal hash id — so an external oracle can replay the
            # cut exactly; diversified_sampler first caps docs per
            # doc-values value (row_number over value-cardinality
            # partitions, never a match-set-sized window). The
            # top-shard_size cut is orderBy+limit =
            # TakeOrderedAndProject — k-bounded, valid because a body
            # compiles one query_id. The sampled set then feeds the
            # SAME matched-accepting executors the unsampled aggs
            # use; results surface as "<name>.<sub>".
            import os as _os

            if match_text is None:
                raise NotImplementedError(
                    f"{akind} under this query kind (needs a scored "
                    "text match set)"
                )
            if not nested:
                raise ValueError(f"{akind} needs sub-aggregations")
            shard_size = int(aconf.get("shard_size", 100))
            ident = spark.read.parquet(
                _os.path.join(index_dir, "docs")
            ).select("ord", "repo", "path", "commit")
            scored = q.scored_match_set(spark, index_dir, mq).join(
                ident, "ord"
            )
            tie = [F.asc("repo"), F.asc("path"), F.asc("commit")]
            if akind == "diversified_sampler":
                fld = aconf["field"]
                cap = int(aconf.get("max_docs_per_value", 1))
                dv = q._doc_values(spark, index_dir, fld)
                if dv is None:
                    raise NotImplementedError(
                        f"diversified_sampler field '{fld}' needs a "
                        "doc-values sidecar (attach_doc_values)"
                    )
                wv = Window.partitionBy("query_id", fld).orderBy(
                    F.desc("score"), *tie
                )
                scored = (
                    scored.join(dv, "ord")
                    .withColumn("__g", F.row_number().over(wv))
                    .filter(F.col("__g") <= cap)
                )
            sampled = (
                scored.orderBy(F.desc("score"), *tie)
                .limit(shard_size)
                .select("query_id", "ord")
            )
            for sn, nspec in nested.items():
                ssub = {k: v for k, v in nspec.items() if k != "aggs"}
                ((skind, sconf),) = ssub.items()
                if skind == "terms":
                    aggs[f"{name}.{sn}"] = q.faceted_search(
                        spark, index_dir, corpus_path, mq,
                        sconf["field"],
                        n_buckets_out=int(sconf.get("size", 10)),
                        matched=sampled,
                    )
                elif skind in (
                    "stats", "avg", "min", "max", "sum", "value_count"
                ):
                    full = q.stats_facets(
                        spark, index_dir, corpus_path, mq,
                        field=sconf["field"], matched=sampled,
                    )
                    proj = {
                        "stats": ["n", "min_v", "max_v", "sum_v", "avg_v"],
                        "avg": ["avg_v"], "min": ["min_v"],
                        "max": ["max_v"], "sum": ["sum_v"],
                        "value_count": ["n"],
                    }[skind]
                    aggs[f"{name}.{sn}"] = full.select("query_id", *proj)
                elif skind == "cardinality":
                    aggs[f"{name}.{sn}"] = q.cardinality_facet(
                        spark, index_dir, corpus_path, mq,
                        field=sconf["field"], matched=sampled,
                    )
                else:
                    raise NotImplementedError(
                        f"sub-aggregation '{skind}' under {akind} "
                        "(terms/metrics/cardinality)"
                    )
        elif akind == "variable_width_histogram":
            from . import aggs as agg_exec

            aggs[name] = agg_exec.variable_width_histogram_facet(
                spark, index_dir, corpus_path, mq,
                field=aconf["field"],
                buckets=int(aconf.get("buckets", 10)),
                matched=agg_matched,
            )
        elif akind == "geohash_grid":
            from . import aggs as agg_exec

            aggs[name] = agg_exec.geohash_grid_facet(
                spark, index_dir, corpus_path, mq,
                field=aconf["field"],
                precision=int(aconf.get("precision", 5)),
                size=int(aconf.get("size", 10000)),
                matched=agg_matched,
            )
        elif akind == "auto_date_histogram":
            from . import aggs as agg_exec

            aggs[name] = agg_exec.auto_date_histogram_facet(
                spark, index_dir, corpus_path, mq,
                field=aconf["field"],
                buckets=int(aconf.get("buckets", 10)),
                matched=agg_matched,
            )
        elif akind == "date_range":
            from . import aggs as agg_exec

            aggs[name] = agg_exec.date_range_facet(
                spark, index_dir, corpus_path, mq,
                field=aconf["field"], ranges=list(aconf["ranges"]),
                matched=agg_matched,
            )
        elif akind == "ip_range":
            from . import aggs as agg_exec

            aggs[name] = agg_exec.ip_range_facet(
                spark, index_dir, corpus_path, mq,
                field=aconf["field"], ranges=list(aconf["ranges"]),
                matched=agg_matched,
            )
        elif akind == "ip_prefix":
            from . import aggs as agg_exec

            aggs[name] = agg_exec.ip_prefix_facet(
                spark, index_dir, corpus_path, mq,
                field=aconf["field"],
                prefix_length=int(aconf["prefix_length"]),
                is_ipv6=bool(aconf.get("is_ipv6", False)),
                append_prefix_length=bool(
                    aconf.get("append_prefix_length", False)
                ),
                min_doc_count=int(aconf.get("min_doc_count", 1)),
                matched=agg_matched,
            )
        elif akind == "geo_distance":
            from . import aggs as agg_exec

            aggs[name] = agg_exec.geo_distance_facet(
                spark, index_dir, corpus_path, mq,
                field=aconf["field"], origin=aconf["origin"],
                ranges=list(aconf["ranges"]),
                unit=aconf.get("unit", "m"),
                matched=agg_matched,
            )
        elif akind == "string_stats":
            from . import aggs as agg_exec

            aggs[name] = agg_exec.string_stats_facet(
                spark, index_dir, corpus_path, mq,
                field=aconf["field"], matched=agg_matched,
            )
        elif akind == "median_absolute_deviation":
            from . import aggs as agg_exec

            aggs[name] = agg_exec.mad_facet(
                spark, index_dir, corpus_path, mq,
                field=aconf["field"], matched=agg_matched,
            )
        elif akind == "boxplot":
            from . import aggs as agg_exec

            aggs[name] = agg_exec.boxplot_facet(
                spark, index_dir, corpus_path, mq,
                field=aconf["field"], matched=agg_matched,
            )
        elif akind == "matrix_stats":
            from . import aggs as agg_exec

            aggs[name] = agg_exec.matrix_stats_facet(
                spark, index_dir, corpus_path, mq,
                fields=list(aconf["fields"]), matched=agg_matched,
            )
        elif akind == "scripted_metric":
            from . import aggs as agg_exec

            aggs[name] = agg_exec.scripted_metric_facet(
                spark, index_dir, corpus_path, mq,
                map_script=aconf["map_script"],
                reduce=aconf.get("reduce", "sum"),
                params=aconf.get("params"),
                matched=agg_matched,
            )
        elif akind == "filters":
            # named filter buckets: each sub-filter compiles through
            # the tree compiler, intersects the shared match set, and
            # always emits its row (doc_count 0 when empty) — the
            # OpenSearch filters-agg contract
            from .booltree import bool_tree_match

            if agg_matched is None:
                raise NotImplementedError(
                    "filters agg under this query kind (no match set)"
                )
            parts = []
            for bname, fq in aconf["filters"].items():
                m = bool_tree_match(
                    spark, index_dir, {"bool": {"filter": [fq]}},
                    corpus_path, runtime=_rt,
                ).select("ord")
                parts.append(
                    agg_matched.join(m, "ord")
                    .agg(F.count("*").alias("doc_count"))
                    .select(
                        F.lit(query_id).cast("long").alias("query_id"),
                        F.lit(bname).alias("bucket"),
                        "doc_count",
                    )
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            aggs[name] = out
        else:
            raise NotImplementedError(f"aggregation '{akind}'")

    for name, aspec in sibling_specs.items():
        # sibling pipelines re-aggregate an already-computed parent's
        # bucket frame — one small groupBy, zero new scans
        from . import aggs as agg_exec

        ((skind, sconf),) = aspec.items()
        parent, sep, col = sconf["buckets_path"].partition(">")
        if not sep:
            raise NotImplementedError(
                f"sibling pipeline buckets_path '{sconf['buckets_path']}'"
                " (needs 'parent>metric' or 'parent>_count')"
            )
        col = "doc_count" if col == "_count" else col
        if parent not in aggs:
            raise ValueError(
                f"buckets_path parent '{parent}' is not an aggregation "
                "in this body"
            )
        aggs[name] = agg_exec.sibling_bucket_metric(
            aggs[parent], skind, col, conf=sconf
        )

    if "rescore" in body and hits is not None:
        # top-window rescoring (Lucene QueryRescorer, score_mode=total
        # — the default): docs ranked inside window_size get
        # query_weight * original + rescore_query_weight * rescore
        # score; docs beyond the window keep their original score;
        # everything re-ranks and the final page is `size`. The
        # rescore query compiles through the tree compiler, so any
        # supported tree (match/bool/dis_max/...) works. The join back
        # is a doc_id equi-join between the k-sized hit page and the
        # rescore match set (AQE picks the strategy; the hit side is
        # request-bounded).
        from .booltree import bool_tree_match

        if not {"rank", "score", "doc_id"} <= set(hits.columns):
            raise NotImplementedError(
                "rescore on a result shape without rank/score/doc_id "
                "(collapse/highlight envelopes)"
            )
        rs = body["rescore"]
        window = int(rs.get("window_size", 10))
        conf = rs["query"]
        qw = float(conf.get("query_weight", 1.0))
        rw = float(conf.get("rescore_query_weight", 1.0))
        import os as _os

        rsm = bool_tree_match(
            spark, index_dir, conf["rescore_query"], corpus_path,
            runtime=_rt,
        )
        ident = spark.read.parquet(
            _os.path.join(index_dir, "docs")
        ).select("ord", "doc_id")
        rs_scores = rsm.join(ident, "ord").select(
            "doc_id", F.col("score").alias("_rs")
        )
        hits = (
            hits.join(rs_scores, "doc_id", "left")
            .withColumn(
                "score",
                F.when(
                    F.col("rank") <= window,
                    F.lit(qw) * F.col("score")
                    + F.lit(rw) * F.coalesce(F.col("_rs"), F.lit(0.0)),
                ).otherwise(F.col("score")),
            )
            .drop("_rs")
        )
        w_rs = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        # preserve whatever envelope the upstream hit shape carried
        # (some paths add repo/path/commit, some don't)
        keep = ["query_id", "rank", "doc_id", "score"] + [
            c
            for c in hits.columns
            if c not in {"query_id", "rank", "doc_id", "score"}
        ]
        hits = (
            hits.withColumn("rank", F.row_number().over(w_rs))
            .filter(F.col("rank") <= k_out)
            .select(*keep)
        )

    if body.get("min_score") is not None and hits is not None:
        # top-level min_score: drop hits scoring below the cutoff.
        # Score ordering makes the cutoff a suffix of the ranking, so
        # surviving ranks stay contiguous (OpenSearch applies the
        # same filter before the page is cut). Applied after rescore
        # — the rescored score is the one the cutoff sees.
        if "score" not in hits.columns:
            raise NotImplementedError(
                "min_score on this result shape (no score column — "
                "field-sorted or unscored paths)"
            )
        hits = hits.filter(
            F.col("score") >= F.lit(float(body["min_score"]))
        )

    total = None
    if body.get("track_total_hits"):
        # exact full-match-set cardinality (never the size-cut page):
        # reuse the body's materialized match set when one exists,
        # else build it once from the match text
        if agg_matched is not None:
            total = agg_matched.groupBy("query_id").agg(
                F.count("*").alias("total_hits")
            )
        elif match_text is not None:
            from .query import load_stats

            stats = load_stats(index_dir)
            qt = q.query_terms(
                spark, index_dir,
                qdf("query_id long, query string", (query_id, match_text)),
                stats["n_docs"], stats=stats,
            ).select("query_id", "term_id", "idf", "bucket")
            total = q._match_set(spark, index_dir, qt).groupBy(
                "query_id"
            ).agg(F.count("*").alias("total_hits"))
        elif kind == "match_all":
            total = q.match_all_ords(
                spark, index_dir, query_id=query_id
            ).groupBy("query_id").agg(F.count("*").alias("total_hits"))
        elif tree_node is not None:
            from .booltree import bool_tree_match

            total = (
                bool_tree_match(
                    spark, index_dir, tree_node, corpus_path, runtime=_rt
                )
                .select(F.lit(query_id).cast("long").alias("query_id"))
                .groupBy("query_id")
                .agg(F.count("*").alias("total_hits"))
            )
        else:
            raise NotImplementedError(
                f"track_total_hits under query clause '{kind}' "
                "(no materializable match set)"
            )

    sugg: dict = {}
    for name, sspec in (body.get("suggest") or {}).items():
        # {"<name>": {"text"|"prefix": "...", "term"|"completion":
        # {"field": ..., "size": N}}} — routes to the dictionary-only
        # suggest executor (query.py::suggest); the `field` option is
        # accepted and ignored (this engine indexes one text field)
        s = dict(sspec)
        text = s.pop("text", None)
        prefix = s.pop("prefix", None)
        txt = text if text is not None else prefix
        if txt is None or len(s) != 1:
            raise NotImplementedError(
                f"suggest entry '{name}': expected text|prefix plus "
                "exactly one of term|completion"
            )
        ((smode, sconf),) = s.items()
        if smode not in ("term", "completion", "phrase"):
            raise NotImplementedError(f"suggester '{smode}'")
        inputs = spark.createDataFrame(
            [(query_id, str(txt))], "input_id long, text string"
        )
        if smode == "phrase":
            sugg[name] = q.phrase_suggest(
                spark, index_dir, inputs,
                size=int((sconf or {}).get("size", 3)),
                max_errors=int((sconf or {}).get("max_errors", 2)),
            )
        else:
            sugg[name] = q.suggest(
                spark, index_dir, inputs, mode=smode,
                size=int((sconf or {}).get("size", 3)),
            )

    explanation = None
    if body.get("explain") and hits is not None:
        # explain=true: per-(hit, matching-term) BM25 breakdown — tf,
        # df, idf, saturation, contribution (query.explain_score; the
        # contributions sum to each hit's score). Tree-routed queries
        # (nested bool / dis_max / constant_score / boosting /
        # query_string / dv filters) explain per LEAF instead, through
        # booltree.bool_tree_explain — contributions after the tree's
        # boost algebra, still summing to each hit's score. Other
        # result shapes (envelopes) stay loud.
        if not {"doc_id", "score"} <= set(hits.columns):
            raise NotImplementedError(
                "explain on this result shape "
                "(collapse/highlight envelopes)"
            )
        if match_text is not None:
            explanation = q.explain_score(
                spark, index_dir,
                qdf(
                    "query_id long, query string", (query_id, match_text)
                ),
                hits=hits.select("query_id", "doc_id"),
            )
        elif tree_node is not None:
            from .booltree import bool_tree_explain

            hit_ids = [
                r["doc_id"]
                for r in hits.select("doc_id").collect()  # k-sized page
            ]
            explanation = bool_tree_explain(
                spark, index_dir, tree_node, hit_ids, query_id=query_id,
            )
        else:
            raise NotImplementedError(
                "explain on this query shape (match/term or "
                "tree-compiled queries only)"
            )

    if body.get("docvalue_fields") and hits is not None:
        hits = _attach_docvalue_fields(
            spark, index_dir, hits, body["docvalue_fields"]
        )
    if body.get("fields") and hits is not None:
        # the `fields` retrieval param: same sidecar attach as
        # docvalue_fields (this engine's stored fields ARE the
        # doc-values); entries may be strings or {"field": name}
        hits = _attach_docvalue_fields(
            spark, index_dir, hits,
            [f["field"] if isinstance(f, dict) else f
             for f in body["fields"]],
        )
    if body.get("script_fields") and hits is not None:
        # script_fields: per-hit derived values — the same
        # painless-lite compiler runtime fields use, evaluated on the
        # sidecar and joined onto the k-bounded hit page
        import os as _os

        from .booltree import runtime_field_col

        dv = spark.read.parquet(_os.path.join(index_dir, "docvalues"))
        cols = ["ord"]
        proj = dv
        for fname, conf in body["script_fields"].items():
            proj = proj.withColumn(
                fname,
                runtime_field_col(
                    {"type": "double", "script": conf.get("script", conf)},
                    set(dv.columns),
                ),
            )
            cols.append(fname)
        proj = proj.select(*cols)
        if "ord" in hits.columns:
            hits = hits.join(proj, "ord", "left")
        elif "doc_id" in hits.columns:
            docs = spark.read.parquet(
                _os.path.join(index_dir, "docs")
            ).select("doc_id", "ord")
            hits = (
                hits.join(docs, "doc_id", "left")
                .join(proj, "ord", "left")
                .drop("ord")
            )
        else:
            raise NotImplementedError(
                "script_fields on a hit frame without ord/doc_id"
            )

    if body.get("_source") and hits is not None and corpus_path:
        # `_source` retrieval: the stored document as ONE JSON string
        # column (the engine's corpus row IS the source). true = all
        # stored columns; a list/str = include patterns;
        # {includes, excludes} = both — `*` wildcards, fnmatch
        # semantics on column names. Attach is an identity equi-join
        # onto the k-bounded page, so cost is page-sized.
        import fnmatch as _fn

        src = body["_source"]
        if isinstance(src, (str, list)):
            src = {"includes": [src] if isinstance(src, str) else src}
        elif src is True:
            src = {}
        corpus = spark.read.parquet(corpus_path)
        cand = [
            c for c in corpus.columns
            if c not in ("repo", "path", "commit", "content_sha256")
        ]
        inc = src.get("includes") or ["*"]
        exc = src.get("excludes") or []
        keep = [
            c for c in cand
            if any(_fn.fnmatch(c, p) for p in inc)
            and not any(_fn.fnmatch(c, p) for p in exc)
        ]
        if not keep:
            raise ValueError(
                f"_source patterns match no stored fields "
                f"(have: {sorted(cand)})"
            )
        idcols = [
            c for c in ("repo", "path", "commit") if c in hits.columns
        ]
        if not idcols and "doc_id" in hits.columns:
            # minimal hit shapes (query_id, rank, doc_id, score):
            # resolve identity from the skinny docs table first
            import os as _os

            ident = spark.read.parquet(
                _os.path.join(index_dir, "docs")
            ).select("doc_id", "repo", "path", "commit")
            hits = hits.join(ident, "doc_id", "left")
            idcols = ["repo", "path", "commit"]
        if not idcols:
            raise NotImplementedError(
                "_source on a hit frame without identity columns"
            )
        proj = corpus.select(
            *idcols,
            F.to_json(F.struct(*sorted(keep))).alias("_source"),
        )
        hits = hits.join(proj, idcols, "left")

    # search-pipeline RESPONSE processors: page-shaped transforms
    for proc in _pipe.get("response_processors", []):
        ((pk, pconf),) = proc.items()
        if hits is None:
            break
        if pk == "rename_field":
            hits = hits.withColumnRenamed(
                str(pconf["field"]), str(pconf["target_field"])
            )
        elif pk == "truncate_hits":
            ts = int(pconf.get("target_size", 10))
            if "rank" in hits.columns:
                hits = hits.filter(F.col("rank") <= ts)
            else:
                hits = hits.limit(ts)
        else:
            raise NotImplementedError(
                f"search-pipeline response processor '{pk}'"
            )

    return DSLResult(
        hits, aggs, sugg, explanation=explanation, total=total,
        inner_hits=_inner_hits_frame,
        profile=(
            _build_profile(node, hits, aggs, _prof_t0)
            if _prof_t0 is not None else None
        ),
    )


def _densify_histogram(hist, aconf, query_id):
    """min_doc_count=0: emit EVERY bucket in the observed (or
    extended_bounds-widened) key range, doc_count 0 and NULL metrics
    for empty ones — the dense time-series dashboard contract.
    Numeric-interval histograms only (calendar date buckets stay
    sparse — loud). The dense key frame is generated from ONE
    min/max aggregation + sequence/explode (bucket-count-sized,
    distributed); generated keys reproduce the executor's
    floor-multiple float expression exactly (k * interval with k
    integral), so the join back is an exact equi-join. Runs BEFORE
    pipeline aggregations, so windows see empty buckets (the
    OpenSearch evaluation order)."""
    import math

    if aconf.get("calendar_interval"):
        raise NotImplementedError(
            "min_doc_count=0 under calendar_interval (numeric "
            "interval histograms only)"
        )
    interval = float(aconf["interval"])
    eb = aconf.get("extended_bounds") or {}
    lo_e, hi_e = F.min("key"), F.max("key")
    if "min" in eb:
        lo_e = F.least(
            lo_e,
            F.lit(math.floor(float(eb["min"]) / interval) * interval),
        )
    if "max" in eb:
        hi_e = F.greatest(
            hi_e,
            F.lit(math.floor(float(eb["max"]) / interval) * interval),
        )
    key_type = hist.schema["key"].dataType
    bounds = hist.agg(
        F.round(lo_e / interval).cast("long").alias("_k0"),
        F.round(hi_e / interval).cast("long").alias("_kn"),
    )
    dense = (
        bounds.filter(F.col("_k0").isNotNull())
        .select(
            "_k0",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("_kn") - F.col("_k0"))
            ).alias("_i"),
        )
        .select(
            ((F.col("_k0") + F.col("_i")) * F.lit(interval))
            .cast(key_type)
            .alias("key")
        )
    )
    filled = dense.join(hist.drop("query_id"), "key", "left")
    return filled.select(
        F.lit(query_id).cast("long").alias("query_id"),
        "key",
        F.coalesce(F.col("doc_count"), F.lit(0)).alias("doc_count"),
        *[c for c in hist.columns
          if c not in ("query_id", "key", "doc_count")],
    )


def _attach_docvalue_fields(spark, index_dir, hits, fields):
    """`docvalue_fields` body option: widen the hit frame with
    sidecar columns (the OpenSearch way to return sort/filter fields
    without _source). Accepts the string and {"field": ...} forms.
    The sidecar keys on the internal ordinal; hit frames that carry
    `ord` join directly, `doc_id` frames route through the docs
    table first — one broadcast-sized hop either way, hits are
    k-bounded."""
    import os as _os

    names = [
        f["field"] if isinstance(f, dict) else str(f) for f in fields
    ]
    dv = spark.read.parquet(_os.path.join(index_dir, "docvalues"))
    missing = set(names) - set(dv.columns)
    if missing:
        raise NotImplementedError(
            f"docvalue_fields {sorted(missing)} not in doc-values "
            "sidecar (attach_doc_values first)"
        )
    dv = dv.select("ord", *names)
    if "ord" in hits.columns:
        return hits.join(dv, "ord", "left")
    if "doc_id" in hits.columns:
        docs = spark.read.parquet(
            _os.path.join(index_dir, "docs")
        ).select("doc_id", "ord")
        return (
            hits.join(docs, "doc_id", "left")
            .join(dv, "ord", "left")
            .drop("ord")
        )
    raise NotImplementedError(
        "docvalue_fields on a hit frame without ord/doc_id columns"
    )


def _body_match_ords(
    spark: SparkSession,
    index_dir: str,
    body: dict,
    corpus_path: str | None,
    query_id: int,
) -> DataFrame:
    """(query_id, ord) full match set of a body's query — the shared
    front half of scroll / track_total_hits-style consumers. Routes
    match_all -> the live-docs scan, text match/term -> the ids-only
    postings decode, and every tree-eligible node (bool, dv filters,
    term-on-keyword) -> the tree compiler. Tombstones are anti-joined
    inside each executor."""
    from . import query as q
    from .booltree import _dv_columns, bool_tree_match

    node = body.get("query", {"match_all": {}})
    ((kind, spec),) = node.items()
    rt = body.get("runtime_mappings") or None
    if kind == "match_all":
        return q.match_all_ords(spark, index_dir, query_id=query_id)
    if kind in ("match", "term") and not (
        kind == "term" and next(iter(spec)) in _dv_columns(spark, index_dir)
    ):
        text, _ = _field_arg(spec)
        stats = q.load_stats(index_dir)
        qt = q.query_terms(
            spark, index_dir,
            spark.createDataFrame(
                [(query_id, str(text))], "query_id long, query string"
            ),
            stats["n_docs"], stats=stats,
        ).select("query_id", "term_id", "idf", "bucket")
        return q._match_set(spark, index_dir, qt)
    if kind == "bool":
        tree = node
    elif kind in (
        "range", "terms", "exists", "term", "geo_distance",
        "geo_bounding_box", "terms_set", "nested",
    ):
        tree = {"bool": {"filter": [node]}}
    else:
        raise NotImplementedError(f"scroll over query clause '{kind}'")
    return bool_tree_match(
        spark, index_dir, tree, corpus_path, runtime=rt
    ).select(F.lit(query_id).cast("long").alias("query_id"), "ord")


def scroll(
    spark: SparkSession,
    index_dir: str,
    body: dict | None = None,
    scroll_id: str | None = None,
    corpus_path: str | None = None,
    query_id: int = 0,
):
    """OpenSearch scroll API analog (`_search?scroll=...` then
    `POST _search/scroll`): pages a query's FULL match set in `_doc`
    (index-ordinal) order, `body["size"]` docs per page.

    The continuation token is STATELESS — base64 JSON carrying the
    original body and the last ordinal served — so any worker/driver
    can serve any page with no pinned server context (OpenSearch
    keeps a per-scroll search context alive instead; the engine's
    index segments are immutable, so cursor-after-ordinal gives the
    same point-in-time read on a static index for free, and delta
    writes land in NEW directories that a listed-at-first-page reader
    never sees — reference behavior per
    data-prepper-plugins/opensearch-source's scroll reader). Each
    page is one bounded job: the ids-only match set, `ord > cursor`,
    TakeOrderedAndProject(size) — no deep-pagination window state.
    The match set is recomputed per page (the stateless trade-off,
    ids-only and bucket-pruned); for large exports prefer the
    `slice` body (sliced_scan) which runs max INDEPENDENT jobs.

    First call: pass `body` (with optional "size", default 10).
    Continuations: pass `scroll_id` alone. Returns
    (hits DataFrame (query_id, doc_id, repo, path, commit, ord),
    next_scroll_id | None) — next_scroll_id is None when the match
    set is exhausted (the page came back short)."""
    import base64 as _b64
    import json as _json
    import os as _os

    if scroll_id is not None:
        state = _json.loads(_b64.b64decode(scroll_id).decode())
        body = state["body"]
        after = int(state["after_ord"])
    elif body is not None:
        after = -1
    else:
        raise ValueError("scroll needs body or scroll_id")
    size = int(body.get("size", 10))
    matched = _body_match_ords(
        spark, index_dir, body, corpus_path, query_id
    ).filter(F.col("ord") > F.lit(after))
    ident = spark.read.parquet(_os.path.join(index_dir, "docs")).select(
        "ord", "doc_id", "repo", "path", "commit"
    )
    page_ords = matched.orderBy(F.asc("ord")).limit(size)
    # size-bounded page broadcasts into the docs scan — works
    # unchanged at 10^12 docs (same shape as _resolve_ords)
    page = ident.join(F.broadcast(page_ords), "ord").select(
        "query_id", "doc_id", "repo", "path", "commit", "ord"
    )
    meta = page.agg(
        F.count("*").alias("n"), F.max("ord").alias("mx")
    ).collect()[0]
    if meta["n"] < size or meta["n"] == 0:
        nxt = None
    else:
        nxt = _b64.b64encode(
            _json.dumps({"body": body, "after_ord": int(meta["mx"])}).encode()
        ).decode()
    return page, nxt


def msearch(
    spark: SparkSession,
    index_dir: str,
    bodies: list,
    corpus_path: str | None = None,
) -> list:
    """_msearch analog: one DSLResult per body, query_id = position.
    Each body compiles independently (the executors already batch
    multi-query workloads internally when given multi-row frames —
    msearch exists for heterogeneous bodies)."""
    return [
        search(spark, index_dir, b, corpus_path=corpus_path, query_id=i)
        for i, b in enumerate(bodies)
    ]


def msearch_template(
    spark: SparkSession,
    index_dir: str,
    entries: list,
    corpus_path: str | None = None,
) -> list:
    """_msearch/template analog: each entry carries {"source": <body
    template>, "params": {...}}; every entry renders through the
    mustache-lite engine then the batch executes as one msearch
    (query_id = position)."""
    bodies = [
        render_template(e["source"], e.get("params", {}))
        for e in entries
    ]
    return msearch(spark, index_dir, bodies, corpus_path=corpus_path)


def count(
    spark: SparkSession,
    index_dir: str,
    body: dict | None = None,
    corpus_path: str | None = None,
    query_id: int = 0,
) -> DataFrame:
    """_count API analog: the number of live docs matching ANY
    tree-compilable query (no ranking, no k, no hit materialization
    — the ids-only match set feeds one count). An absent/empty body
    counts every live doc (match_all). Returns (query_id, count)."""
    from .booltree import bool_tree_match

    qspec = (body or {}).get("query") or {"match_all": {}}
    m = bool_tree_match(spark, index_dir, qspec, corpus_path)
    return m.agg(F.count("*").alias("count")).select(
        F.lit(int(query_id)).cast("long").alias("query_id"), "count"
    )


def mget(
    spark: SparkSession,
    index_dir: str,
    idents: list,
    corpus_path: str | None = None,
) -> DataFrame:
    """_mget analog: fetch docs by identity (repo, path, commit)
    triples in ONE broadcast semi-join against the docs table —
    misses come back as found=false rows (the OpenSearch _mget
    contract: every requested id answers). Tombstoned docs answer
    found=false (deleted). With `corpus_path`, found rows also carry
    the stored content sha256 for end-to-end identity checks.
    Returns (repo, path, commit, found, doc_id[, content_sha256])."""
    import os as _os

    from . import query as q

    req = spark.createDataFrame(
        [(str(r), str(p), str(c)) for r, p, c in idents],
        "repo string, path string, commit string",
    )
    docs = spark.read.parquet(_os.path.join(index_dir, "docs")).select(
        "ord", "doc_id", "repo", "path", "commit"
    )
    ts = q._tombstone_ords(spark, index_dir)
    if ts is not None:
        docs = docs.join(ts, "ord", "left_anti")
    hit = docs.join(F.broadcast(req), ["repo", "path", "commit"])
    out = req.join(
        hit.select("repo", "path", "commit", "doc_id"),
        ["repo", "path", "commit"], "left",
    ).select(
        "repo", "path", "commit",
        F.col("doc_id").isNotNull().alias("found"),
        "doc_id",
    )
    if corpus_path is not None:
        corpus = spark.read.parquet(corpus_path).select(
            "repo", "path", "commit", "content_sha256"
        )
        out = out.join(corpus, ["repo", "path", "commit"], "left").select(
            "repo", "path", "commit", "found", "doc_id",
            F.when(F.col("found"), F.col("content_sha256")).alias(
                "content_sha256"
            ),
        )
    return out


def explain_doc(
    spark: SparkSession,
    index_dir: str,
    doc_ids: list,
    body: dict,
    query_id: int = 0,
) -> DataFrame:
    """`GET /index/_explain/{id}` analog for one or more docs: does
    this query match each doc, and with what per-leaf score
    contributions? Unlike `explain: true` on a search (top-k hits
    only), this answers for ARBITRARY docs — non-matching and
    tombstoned docs come back as a matched=false row, the API's
    `"matched": false` contract. Any query clause the tree compiler
    routes (bool/dis_max/constant_score/boosting/match/term/filters/
    query_string via parse) is accepted; a bare match/term wraps into
    a single-leaf bool. Returns (query_id, doc_id, matched, leaf,
    contribution); contributions sum to the doc's bool_tree_search
    score (pytest-asserted)."""
    from .booltree import bool_tree_explain

    qspec = (body or {}).get("query") or body or {"match_all": {}}
    return bool_tree_explain(
        spark, index_dir, qspec, doc_ids, query_id=query_id
    )


def analyze(
    spark: SparkSession,
    index_dir: str,
    body: dict,
) -> DataFrame:
    """_analyze API analog: run the INDEX'S persisted analyzer chain
    (code-aware tokenizer, then the stop/stem filters recorded in
    stats.json at build time — the exact chain every document and
    query goes through) over ad-hoc text and return the tokens with
    their positions. `body["text"]` is a string or list of strings
    (each gets its own text_id, the OpenSearch multi-text form).
    Returns (text_id, token, position); positions are post-filter
    ordinals, matching what the positions sidecar stores — so a
    phrase query's expected gaps can be read straight off this
    output. Character offsets are not reported: the tokenizer's
    camelCase/snake_case splits don't preserve a 1:1 source span
    (mirrors reference behavior of delegating analysis to the engine,
    OpenSearchSink's bulk path never re-analyzes client-side).
    Pure Catalyst — tokenize_col + posexplode, no Python UDF."""
    from .query import _query_analyzer, load_stats

    texts = body["text"]
    if isinstance(texts, str):
        texts = [texts]
    an = _query_analyzer(load_stats(index_dir))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "text_id long, text string",
    )
    return df.select(
        "text_id",
        F.posexplode(an(F.col("text"))).alias("position", "token"),
    ).select("text_id", "token", "position")


def validate_query(
    spark: SparkSession,
    index_dir: str,
    body: dict,
    corpus_path: str | None = None,
) -> dict:
    """_validate/query analog: compile the body WITHOUT executing it
    and report whether this engine supports every clause. Returns
    {"valid": bool, "error": str | None} — the error carries the
    compiler's NotImplementedError text naming the offending clause
    (OpenSearch's `explain=true` error string analog). Compilation is
    driver-side plan construction only; no Spark job runs, so this is
    the cheap pre-flight a migrating user runs over their saved
    search bodies."""
    try:
        res = search(
            spark, index_dir, body, corpus_path=corpus_path
        )
        # force lazy agg/hit DataFrames to at least ANALYZE (schema
        # resolution catches missing doc-values columns) — still no
        # job execution
        if res.hits is not None:
            _ = res.hits.schema
        for a in res.aggregations.values():
            _ = a.schema
        return {"valid": True, "error": None}
    except (NotImplementedError, KeyError, ValueError) as e:
        return {"valid": False, "error": f"{type(e).__name__}: {e}"}


def field_caps(spark: SparkSession, index_dir: str) -> DataFrame:
    """_field_caps analog: enumerate the index's queryable fields and
    their capabilities — the discovery call dashboards issue before
    building filter UIs. `content` is the indexed full-text field
    (searchable, not aggregatable); every doc-values sidecar column
    is filterable + aggregatable with its parquet-derived type
    (keyword for strings, long/double for numerics — the same
    mapping OpenSearch reports). Driver-side schema reads only, no
    jobs."""
    import os as _os

    rows = [("content", "text", True, False)]
    try:
        dv = spark.read.parquet(_os.path.join(index_dir, "docvalues"))
        type_map = {
            "string": "keyword", "bigint": "long", "int": "integer",
            "double": "double", "float": "float", "boolean": "boolean",
            "date": "date", "timestamp": "date",
        }
        for f in dv.schema.fields:
            if f.name == "ord":
                continue
            rows.append((
                f.name,
                type_map.get(f.dataType.simpleString(),
                             f.dataType.simpleString()),
                True, True,
            ))
    except Exception:
        pass
    return spark.createDataFrame(
        rows,
        "field string, type string, searchable boolean,"
        " aggregatable boolean",
    )


def render_template(source: dict, params: dict):
    """_render/template analog: substitute mustache params into a
    search-template body. Supports the core of OpenSearch's mustache
    surface: `{{var}}` substitution anywhere in string values (whole-
    string matches keep the param's native type, so `"size":
    "{{size}}"` becomes an int), `{{#toJson}}var{{/toJson}}` for
    lists/objects, and `{{var}}{{^var}}default{{/var}}` inverted-
    section defaults. Unresolved params raise KeyError (loud). Pure
    driver-side dict walk."""
    import json as _json
    import re as _re

    _TOJSON = _re.compile(r"^\{\{#toJson\}\}(\w+)\{\{/toJson\}\}$")
    _INV = _re.compile(
        r"^\{\{(\w+)\}\}\{\{\^\1\}\}(.*?)\{\{/\1\}\}$", _re.S
    )
    _VAR = _re.compile(r"\{\{(\w+)\}\}")

    def sub(v):
        if isinstance(v, dict):
            return {k: sub(x) for k, x in v.items()}
        if isinstance(v, list):
            return [sub(x) for x in v]
        if not isinstance(v, str):
            return v
        m = _TOJSON.match(v)
        if m:
            return _json.loads(_json.dumps(params[m.group(1)]))
        m = _INV.match(v)
        if m:
            name, default = m.group(1), m.group(2)
            got = params.get(name)
            return got if got not in (None, "") else sub(default)
        m = _VAR.fullmatch(v)
        if m:  # whole-string: keep the param's native type
            if m.group(1) not in params:
                raise KeyError(f"unresolved template param {m.group(1)}")
            return params[m.group(1)]

        def rep(mm):
            if mm.group(1) not in params:
                raise KeyError(
                    f"unresolved template param {mm.group(1)}"
                )
            return str(params[mm.group(1)])

        return _VAR.sub(rep, v)

    return sub(source)


def search_template(
    spark: SparkSession,
    index_dir: str,
    template: dict,
    corpus_path: str | None = None,
    query_id: int = 0,
) -> DSLResult:
    """_search/template analog: render `template["source"]` with
    `template["params"]`, then run the resulting body through the
    compiler — the parameterized-search surface ops teams save in
    dashboards."""
    body = render_template(
        template["source"], template.get("params", {})
    )
    return search(
        spark, index_dir, body, corpus_path=corpus_path,
        query_id=query_id,
    )
