"""Bucket-composition aggregations: `composite` (after-key paginated
full bucket export), two-level nested `terms`, histogram/date_histogram
with metric sub-aggregations, and pipeline aggregations
(cumulative_sum / derivative / sibling `*_bucket` / bucket_sort).

These complete the aggregation surface a switching OpenSearch user
sends after the basics (reference users point Data Prepper output at
OpenSearch and query it — cf. the passthrough configuration in
/root/reference/data-prepper-plugins/opensearch/src/main/java/org/
opensearch/dataprepper/plugins/sink/opensearch/configuration/
SearchConfiguration.java); the executors here follow the OpenSearch
aggregation contracts:

* `composite` is THE scalable aggregation: instead of top-N buckets
  it enumerates ALL key combinations in composite-key order, `size`
  per page, resuming from an `after` key — the documented way to
  export every bucket of a high-cardinality field. The physical shape
  is one grouped aggregation over the match set followed by a
  TakeOrderedAndProject (orderBy + limit — never a global sort), so a
  page costs one exchange regardless of corpus size, and pagination
  is a key-range predicate that prunes map-side, not a deep offset.
* nested `terms` buckets compute BOTH levels (and any metric
  sub-aggregations at the leaf) in ONE grouped aggregation on
  (query_id, outer, inner); parent totals and both rank orders are
  window functions over that single exchange — N levels never cost N
  scans.
* pipeline aggregations are pure bucket-frame algebra: running-sum /
  lag windows keyed by the bucket key (cumulative_sum, derivative),
  one small re-aggregation for sibling metrics (avg_bucket & co.),
  and a row_number filter for bucket_sort. They add zero scans.

Every executor takes an optional pre-materialized `matched`
(query_id, ord) frame so a body with several aggregations shares ONE
match set (dsl.py builds and persists it once per body).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .query import _match_set, load_stats, query_terms

_METRIC_FNS = {
    "avg": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "value_count": F.count,
}


def attributed_fields(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    fields: list,
    matched: DataFrame | None = None,
) -> DataFrame:
    """(query_id, ord, *fields) over the full match set — the
    multi-field generalization of query._attributed_match. Field
    values come from the doc-values sidecar when it carries every
    requested column (one ord-join; the corpus is never touched),
    else one identity join against the corpus."""
    if matched is None:
        stats = load_stats(index_dir)
        qt = query_terms(spark, index_dir, queries, stats["n_docs"]).select(
            "query_id", "term_id", "idf", "bucket"
        )
        matched = _match_set(spark, index_dir, qt)
    fields = list(dict.fromkeys(fields))
    try:
        dv = spark.read.parquet(os.path.join(index_dir, "docvalues"))
    except Exception:
        dv = None
    if dv is not None and set(fields) <= set(dv.columns):
        return matched.join(dv.select("ord", *fields), "ord")
    ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        "ord", "repo", "path", "commit"
    )
    attrs = spark.read.parquet(corpus_path).select(
        "repo", "path", "commit", *fields
    )
    return matched.join(ident, "ord").join(attrs, ["repo", "path", "commit"])


def histogram_key(col, interval=None, calendar_interval=None,
                  offset: float = 0.0):
    """The bucket-key expression histogram / date_histogram use:
    floor((v - offset) / interval) * interval + offset for numeric
    fields (`offset` shifts every boundary, the OpenSearch histogram
    offset option), date_trunc(calendar_interval, v) rendered as
    OpenSearch's key_as_string for date fields (offset unsupported
    there — raises)."""
    if offset and calendar_interval is not None:
        raise NotImplementedError(
            "histogram offset with calendar_interval"
        )
    if calendar_interval is not None:
        unit = {
            "minute": "minute", "1m": "minute",
            "hour": "hour", "1h": "hour",
            "day": "day", "1d": "day",
            "week": "week", "1w": "week",
            "month": "month", "1M": "month",
            "quarter": "quarter", "1q": "quarter",
            "year": "year", "1y": "year",
        }.get(calendar_interval)
        if unit is None:
            raise NotImplementedError(
                f"calendar_interval '{calendar_interval}'"
            )
        return F.date_format(
            F.date_trunc(unit, col.cast("timestamp")),
            "yyyy-MM-dd'T'HH:mm:ss",
        )
    if interval is None or float(interval) <= 0:
        raise ValueError("histogram needs a positive interval")
    step = float(interval)
    off = float(offset or 0.0)
    return (
        F.floor((col.cast("double") - F.lit(off)) / F.lit(step))
        * F.lit(step) + F.lit(off)
    )


def composite_aggregate(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    sources: list,
    size: int = 10,
    after: dict | None = None,
    metrics: list = (),
    matched: DataFrame | None = None,
) -> DataFrame:
    """OpenSearch `composite` aggregation: enumerate ALL combinations
    of the source keys present in the match set, in composite-key
    order, paginated by an exclusive `after` key — the scalable
    bucket-export aggregation (terms tops out at top-N; composite
    walks every bucket across requests).

    `sources` is a list of (name, kind, conf) with kind in
    terms / histogram / date_histogram and conf carrying field /
    interval / calendar_interval / order ("asc" default, "desc").
    Rows with a NULL source key are excluded (missing_bucket=false,
    the OpenSearch default). `metrics` is the terms_metric_facet
    list: (out_col, kind, field) metric sub-aggregations folded into
    the SAME grouped aggregation as doc_count.

    Returns (query_id, <name...>, doc_count, *metric_cols), the first
    `size` buckets strictly after `after` in composite order.

    Scale shape: match ords -> one sidecar join -> one groupBy with
    map-side combine -> TakeOrderedAndProject(size). The after-key
    predicate is a plain column comparison applied BEFORE the
    order+limit, so deep pages prune early instead of skipping
    offset rows; no global sort ever materializes."""
    fields = [c.get("field") for _, _, c in sources] + [
        f for _, _, f in metrics
    ]
    attributed = attributed_fields(
        spark, index_dir, corpus_path, queries, fields, matched=matched
    )
    key_cols = []
    for name, kind, conf in sources:
        v = F.col(conf["field"])
        if kind == "terms":
            key = v
        elif kind in ("histogram", "date_histogram"):
            key = histogram_key(
                v,
                interval=conf.get("interval"),
                calendar_interval=conf.get("calendar_interval"),
            )
        else:
            raise NotImplementedError(f"composite source '{kind}'")
        key_cols.append((name, key, conf.get("order", "asc")))
    keyed = attributed.select(
        "query_id",
        *[key.alias(name) for name, key, _ in key_cols],
        *[F.col(f) for _, _, f in metrics],
    )
    for name, _, _ in key_cols:
        keyed = keyed.filter(F.col(name).isNotNull())
    buckets = keyed.groupBy(
        "query_id", *[name for name, _, _ in key_cols]
    ).agg(
        F.count("*").alias("doc_count"),
        *[_METRIC_FNS[kind](F.col(field)).alias(out)
          for out, kind, field in metrics],
    )
    if after:
        # strictly-greater-than-after in composite order: the standard
        # tuple comparison unrolled per source direction
        pred = F.lit(False)
        eq_prefix = F.lit(True)
        for name, _, order in key_cols:
            a = F.lit(after[name])
            gt = F.col(name) < a if order == "desc" else F.col(name) > a
            pred = pred | (eq_prefix & gt)
            eq_prefix = eq_prefix & (F.col(name) == a)
        buckets = buckets.filter(pred)
    order_cols = [
        (F.desc(name) if order == "desc" else F.asc(name))
        for name, _, order in key_cols
    ]
    return buckets.orderBy(F.asc("query_id"), *order_cols).limit(int(size))


def nested_terms_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    outer_field: str,
    inner_field: str,
    metrics: list = (),
    size_outer: int = 10,
    size_inner: int = 10,
    matched: DataFrame | None = None,
) -> DataFrame:
    """Two-level nested `terms` buckets (terms -> terms -> optional
    metric sub-aggregations) — the drill-down dashboard body. ONE
    grouped aggregation on (query_id, outer, inner) computes the leaf
    counts and every metric; parent doc_counts are a window sum over
    the same exchange, and both rank orders (OpenSearch's
    doc_count desc, key asc at each level) are window functions — two
    levels never cost two scans.

    Returns (query_id, parent_rank, parent_facet, parent_count,
    child_rank, child_facet, child_count, *metric_cols), parents
    limited to `size_outer`, children within each parent to
    `size_inner`."""
    attributed = attributed_fields(
        spark, index_dir, corpus_path, queries,
        [outer_field, inner_field] + [f for _, _, f in metrics],
        matched=matched,
    )
    leaf = attributed.groupBy(
        "query_id",
        F.col(outer_field).alias("parent_facet"),
        F.col(inner_field).alias("child_facet"),
    ).agg(
        F.count("*").alias("child_count"),
        *[_METRIC_FNS[kind](F.col(field)).alias(out)
          for out, kind, field in metrics],
    )
    w_parent = Window.partitionBy("query_id", "parent_facet")
    leaf = leaf.withColumn(
        "parent_count", F.sum("child_count").over(w_parent)
    )
    # all rows of one parent share (parent_count, parent_facet), so
    # dense_rank over that ordering IS the parent's bucket rank
    w_prank = Window.partitionBy("query_id").orderBy(
        F.desc("parent_count"), F.asc("parent_facet")
    )
    w_crank = Window.partitionBy("query_id", "parent_facet").orderBy(
        F.desc("child_count"), F.asc("child_facet")
    )
    return (
        leaf.withColumn("parent_rank", F.dense_rank().over(w_prank))
        .withColumn("child_rank", F.row_number().over(w_crank))
        .filter(
            (F.col("parent_rank") <= size_outer)
            & (F.col("child_rank") <= size_inner)
        )
        .select(
            "query_id", "parent_rank", "parent_facet", "parent_count",
            "child_rank", "child_facet", "child_count",
            *[out for out, _, _ in metrics],
        )
    )


def histogram_metric_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    interval=None,
    calendar_interval=None,
    metrics: list = (),
    offset: float = 0.0,
    matched: DataFrame | None = None,
) -> DataFrame:
    """histogram / date_histogram with metric sub-aggregations folded
    into the one grouped aggregation that counts the buckets (the
    time-series dashboard body: per-day buckets each carrying
    avg/sum/... of a stored field). Sparse form (empty buckets
    omitted, min_doc_count=1), keys ascending. Returns
    (query_id, key, doc_count, *metric_cols)."""
    attributed = attributed_fields(
        spark, index_dir, corpus_path, queries,
        [field] + [f for _, _, f in metrics], matched=matched,
    )
    key = histogram_key(
        F.col(field), interval=interval,
        calendar_interval=calendar_interval, offset=offset,
    )
    return (
        attributed.withColumn("key", key)
        .groupBy("query_id", "key")
        .agg(
            F.count("*").alias("doc_count"),
            *[_METRIC_FNS[kind](F.col(f)).alias(out)
              for out, kind, f in metrics],
        )
    )


_MOVING_FNS = {
    "unweightedAvg": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
}


def bucket_pipeline(
    buckets: DataFrame, key_col: str, specs: list
) -> DataFrame:
    """Parent pipeline aggregations over an ordered bucket frame
    (histogram / date_histogram parents): `specs` is a list of
    (out_col, kind, path_col, conf) with kind in cumulative_sum /
    derivative / serial_diff / moving_fn; `path_col` is "doc_count"
    for buckets_path=_count or a metric column already on the frame.
    cumulative_sum is a running-sum window; derivative a lag
    difference (first bucket NULL, the OpenSearch contract);
    serial_diff a lag-`lag` difference (conf["lag"], default 1);
    moving_fn applies conf's MovingFunctions script —
    "MovingFunctions.unweightedAvg|sum|min|max(values)" — over the
    conf["window"] buckets ENDING JUST BEFORE the current one
    (OpenSearch's shift=0 window), NULL while the window is empty.
    Bucket frames are aggregation-sized, so the
    single-partition-per-query window is bounded by bucket
    cardinality, not corpus size."""
    w = Window.partitionBy("query_id").orderBy(F.asc(key_col))
    out = buckets
    for out_col, kind, path, conf in specs:
        if kind == "cumulative_sum":
            out = out.withColumn(
                out_col,
                F.sum(path).over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
        elif kind == "derivative":
            out = out.withColumn(
                out_col, F.col(path) - F.lag(path).over(w)
            )
        elif kind == "serial_diff":
            lag = int((conf or {}).get("lag", 1))
            out = out.withColumn(
                out_col, F.col(path) - F.lag(path, lag).over(w)
            )
        elif kind == "moving_fn":
            script = str((conf or {}).get("script", ""))
            fn = next(
                (f for name, f in _MOVING_FNS.items()
                 if f"MovingFunctions.{name}(" in script),
                None,
            )
            if fn is None:
                raise NotImplementedError(
                    f"moving_fn script '{script}' (supported: "
                    "MovingFunctions.unweightedAvg/sum/min/max)"
                )
            window = int(conf["window"])
            out = out.withColumn(
                out_col, fn(path).over(w.rowsBetween(-window, -1))
            )
        elif kind == "moving_avg":
            # the legacy moving_avg pipeline (moving_fn's
            # predecessor — OpenSearch still accepts it and the
            # model set is what its users reach for): same shift-0
            # frame as moving_fn (the `window` buckets ending just
            # before the current), but PARTIAL windows compute (the
            # documented contract: second bucket = first value;
            # only the first bucket is NULL). models:
            #   simple — unweighted mean
            #   linear — weights 1..n, newest heaviest
            #   ewma   — a=settings.alpha (0.3) fold from oldest,
            #            acc0 = oldest value
            #   holt   — double exponential smoothing: s0=v0,
            #            b0=v1-v0 (0 if n==1), then
            #            s_i = a*v_i + (1-a)(s+b),
            #            b_i = beta*(s_i - s) + (1-beta)*b; emits s.
            # holt_winters needs a season period (and a cost model
            # this engine has no seasonal fixtures for) — loud
            # NotImplementedError, like `predict`.
            model = str((conf or {}).get("model", "simple"))
            if model not in ("simple", "linear", "ewma", "holt"):
                raise NotImplementedError(
                    f"moving_avg model '{model}'"
                )
            if (conf or {}).get("predict"):
                raise NotImplementedError("moving_avg predict")
            window = int((conf or {}).get("window", 5))
            st = (conf or {}).get("settings") or {}
            alpha = float(st.get("alpha", 0.3))
            beta = float(st.get("beta", 0.1))
            vals = F.collect_list(F.col(path).cast("double")).over(
                w.rowsBetween(-window, -1)
            )
            n_ = F.size(vals)
            tail = F.slice(
                vals, 2, F.greatest(n_ - 1, F.lit(0))
            )
            if model == "simple":
                expr = (
                    F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
                    / n_.cast("double")
                )
            elif model == "linear":
                num = F.aggregate(
                    F.zip_with(
                        vals,
                        F.sequence(F.lit(1), F.greatest(n_, F.lit(1))),
                        lambda x, i: x * i.cast("double"),
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
                den = (
                    n_.cast("double") * (n_ + 1).cast("double") / 2.0
                )
                expr = num / den
            elif model == "ewma":
                expr = F.aggregate(
                    tail,
                    F.element_at(vals, 1),
                    lambda a, x: x * alpha + a * (1.0 - alpha),
                )
            else:  # holt
                init = F.struct(
                    F.element_at(vals, 1).alias("s"),
                    F.when(
                        n_ >= 2,
                        F.element_at(vals, 2) - F.element_at(vals, 1),
                    ).otherwise(F.lit(0.0)).alias("b"),
                )

                def _holt_step(acc, x):
                    new_s = (
                        x * alpha
                        + (acc["s"] + acc["b"]) * (1.0 - alpha)
                    )
                    new_b = (
                        (new_s - acc["s"]) * beta
                        + acc["b"] * (1.0 - beta)
                    )
                    return F.struct(
                        new_s.alias("s"), new_b.alias("b")
                    )

                expr = F.aggregate(tail, init, _holt_step)["s"]
            out = out.withColumn(
                out_col, F.when(n_ > 0, expr)
            )
        elif kind == "normalize":
            # rescale bucket metrics against the FULL frame
            # (unbounded window per query — bucket-cardinality-sized,
            # never data-sized): the OpenSearch normalize pipeline
            v = F.col(path).cast("double")
            wall = w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            method = str((conf or {}).get("method", "rescale_0_1"))
            mn, mx = F.min(v).over(wall), F.max(v).over(wall)
            avg, sm = F.avg(v).over(wall), F.sum(v).over(wall)
            if method == "rescale_0_1":
                expr = (v - mn) / (mx - mn)
            elif method == "percent_of_sum":
                expr = v / sm
            elif method == "mean":
                expr = (v - avg) / (mx - mn)
            elif method == "z-score":
                n_ = F.count(v).over(wall).cast("double")
                var = F.avg(v * v).over(wall) - avg * avg
                expr = (v - avg) / F.sqrt(var * n_ / (n_ - 1))
            else:
                raise NotImplementedError(
                    f"normalize method '{method}'"
                )
            out = out.withColumn(out_col, expr)
        elif kind == "moving_percentiles":
            # exact percentile over the window ending just before
            # each bucket (aggregate-over-window; the OpenSearch
            # version reads a t-digest — percentile_approx is the
            # sketch swap)
            window = int(conf["window"])
            pct = float((conf or {}).get("percent", 50.0)) / 100.0
            out = out.withColumn(
                out_col,
                F.percentile(
                    F.col(path).cast("double"), F.lit(pct)
                ).over(w.rowsBetween(-window, -1)),
            )
        elif kind == "bucket_script":
            out = out.withColumn(
                out_col, script_expr(conf["script"], conf["paths"])
            )
        elif kind == "bucket_selector":
            # buckets where the predicate is false are DROPPED (the
            # OpenSearch contract); runs in body order, so columns
            # added by earlier bucket_script specs are referencable
            out = out.filter(script_expr(conf["script"], conf["paths"]))
        else:
            raise NotImplementedError(f"pipeline aggregation '{kind}'")
    return out


def painless_expr(script: str, resolve, calls: dict | None = None):
    """Compile a painless-lite expression into a Spark Column:
    arithmetic (+ - * / %), single comparisons, unary minus, numeric
    literals, `params.X` / `doc['field'].value` / bare-name
    references (all routed through `resolve(kind, name)` with kind in
    'param' | 'doc' | 'name'), and whitelisted function calls
    (`calls` maps "Math.log" / "saturation" / ... to Column
    builders). The grammar overlaps Python's expression syntax, so
    the stdlib ast parser does the lexing; anything outside the
    whitelisted node set fails loudly — a silent partial evaluation
    would corrupt scores or dashboards."""
    import ast

    _BIN = {
        ast.Add: lambda a, b: a + b,
        ast.Sub: lambda a, b: a - b,
        ast.Mult: lambda a, b: a * b,
        ast.Div: lambda a, b: a / b,
        ast.Mod: lambda a, b: a % b,
    }
    _CMP = {
        ast.Gt: lambda a, b: a > b,
        ast.GtE: lambda a, b: a >= b,
        ast.Lt: lambda a, b: a < b,
        ast.LtE: lambda a, b: a <= b,
        ast.Eq: lambda a, b: a == b,
        ast.NotEq: lambda a, b: a != b,
    }

    def _call_name(n):
        if isinstance(n.func, ast.Name):
            return n.func.id
        if isinstance(n.func, ast.Attribute) and isinstance(
            n.func.value, ast.Name
        ):
            return f"{n.func.value.id}.{n.func.attr}"
        return None

    def ev(n):
        if isinstance(n, ast.Expression):
            return ev(n.body)
        if isinstance(n, ast.BinOp) and type(n.op) in _BIN:
            return _BIN[type(n.op)](ev(n.left), ev(n.right))
        if isinstance(n, ast.UnaryOp) and isinstance(n.op, ast.USub):
            return -ev(n.operand)
        if isinstance(n, ast.Compare) and len(n.ops) == 1 and (
            type(n.ops[0]) in _CMP
        ):
            return _CMP[type(n.ops[0])](ev(n.left), ev(n.comparators[0]))
        if isinstance(n, ast.Constant) and isinstance(
            n.value, (int, float)
        ) and not isinstance(n.value, bool):
            return F.lit(n.value)
        if isinstance(n, ast.Attribute) and isinstance(
            n.value, ast.Name
        ) and n.value.id == "params":
            return resolve("param", n.attr)
        if (
            isinstance(n, ast.Attribute) and n.attr == "value"
            and isinstance(n.value, ast.Subscript)
            and isinstance(n.value.value, ast.Name)
            and n.value.value.id == "doc"
            and isinstance(n.value.slice, ast.Constant)
        ):
            return resolve("doc", str(n.value.slice.value))
        if isinstance(n, ast.Name):
            return resolve("name", n.id)
        if isinstance(n, ast.Call) and calls:
            fname = _call_name(n)
            if fname in calls:
                return calls[fname](*[ev(a) for a in n.args])
        raise NotImplementedError(
            f"script construct {ast.dump(n)} in '{script}'"
        )

    try:
        tree = ast.parse(script.strip(), mode="eval")
    except SyntaxError as e:
        raise NotImplementedError(
            f"script '{script}' is not in the supported painless-lite "
            "grammar"
        ) from e
    return ev(tree)


def script_expr(script: str, paths: dict):
    """Bucket-script flavor of painless_expr: `params.X` references
    resolve to bucket-frame columns via `paths` (buckets_path
    resolution happens in the DSL layer); no function calls, no doc
    values — bucket pipelines see only the bucket frame."""

    def resolve(kind, name):
        if kind == "param":
            if name not in paths:
                raise KeyError(
                    f"bucket script references params.{name} with no "
                    f"matching buckets_path (have: {sorted(paths)})"
                )
            return F.col(paths[name]).cast("double")
        raise NotImplementedError(
            f"bucket script reference {kind}:{name} in '{script}'"
        )

    return painless_expr(script, resolve)


def sibling_bucket_metric(
    buckets: DataFrame, kind: str, path_col: str, conf: dict | None = None
) -> DataFrame:
    """Sibling pipeline aggregations (avg_bucket / sum_bucket /
    min_bucket / max_bucket / stats_bucket / extended_stats_bucket /
    percentiles_bucket): one re-aggregation of the parent's bucket
    frame. Returns (query_id, value), the 5-col stats row, the
    8-col extended row (population variance/std from exact power
    sums), or long (query_id, percent, value) rows for
    percentiles_bucket (exact — the frame is bucket-sized)."""
    g = buckets.groupBy("query_id")
    v = F.col(path_col)
    if kind == "percentiles_bucket":
        x = v.cast("double")
        percents = [
            float(p) for p in
            (conf or {}).get("percents", (1, 5, 25, 50, 75, 95, 99))
        ]
        parts = []
        for p in percents:
            parts.append(g.agg(
                F.percentile(x, F.lit(p / 100.0)).alias("value")
            ).select(
                "query_id", F.lit(p).alias("percent"), "value"
            ))
        out = parts[0]
        for pt in parts[1:]:
            out = out.unionByName(pt)
        return out
    if kind == "extended_stats_bucket":
        x = v.cast("double")
        agg = g.agg(
            F.count(x).alias("n"),
            F.min(x).alias("min_v"),
            F.max(x).alias("max_v"),
            F.sum(x).alias("sum_v"),
            F.sum(x * x).alias("sum_sq"),
        )
        nn = F.col("n").cast("double")
        var = F.col("sum_sq") / nn - (
            F.col("sum_v") / nn
        ) * (F.col("sum_v") / nn)
        return agg.select(
            "query_id", "n", "min_v", "max_v", "sum_v",
            (F.col("sum_v") / nn).alias("avg_v"),
            var.alias("variance"),
            F.sqrt(var).alias("std_dev"),
        )
    if kind == "stats_bucket":
        return g.agg(
            F.count(v).alias("n"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
            F.sum(v).alias("sum_v"),
            F.avg(v).alias("avg_v"),
        )
    if kind == "bucket_count_ks_test":
        # the ml-commons sibling: one-sample Kolmogorov-Smirnov of
        # the bucket-count distribution against expected `fractions`
        # (one per bucket, KEY order — the parent must be an ordered
        # bucket agg). Mechanism-equivalent documented form: the
        # empirical CDF is the cumulative count share; D statistics
        # per `alternative` (two_sided = max |ecdf-cdf|, less =
        # max(cdf-ecdf), greater = max(ecdf-cdf)); p-values are the
        # textbook asymptotics — one-sided exp(-2nD²), two-sided the
        # Kolmogorov series 2Σ(-1)^{j-1}exp(-2j²nD²) truncated at
        # j=100 and clamped to [0,1]. All window + fold algebra over
        # the bucket frame; n = total count.
        fracs = [float(x) for x in (conf or {})["fractions"]]
        off = buckets.groupBy("query_id").count().filter(
            F.col("count") != len(fracs)
        ).take(1)
        if off:
            raise ValueError(
                f"bucket_count_ks_test over "
                f"'{(conf or {}).get('buckets_path')}': "
                f"{off[0]['count']} buckets but {len(fracs)} fractions "
                "(one fraction per bucket)"
            )
        alts = list((conf or {}).get(
            "alternative", ["two_sided"]
        ))
        cdf_vals = []
        acc = 0.0
        for fr in fracs:
            acc += fr
            cdf_vals.append(acc)
        wk = Window.partitionBy("query_id").orderBy(F.asc("key"))
        x = v.cast("double")
        tot = F.sum(x).over(
            wk.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        ecdf = F.sum(x).over(
            wk.rowsBetween(Window.unboundedPreceding, 0)
        ) / tot
        expc = F.element_at(
            F.array(*[F.lit(c) for c in cdf_vals]),
            F.row_number().over(wk),
        )
        rows = buckets.select(
            "query_id",
            (ecdf - expc).alias("dplus"),
            tot.alias("n_tot"),
        )
        stat = rows.groupBy("query_id").agg(
            F.max(F.abs(F.col("dplus"))).alias("d_two"),
            F.max(-F.col("dplus")).alias("d_less"),
            F.max(F.col("dplus")).alias("d_greater"),
            F.first("n_tot").alias("n_tot"),
        )
        n_ = F.col("n_tot")

        def _p(alt):
            d = F.col({
                "two_sided": "d_two", "less": "d_less",
                "greater": "d_greater",
            }[alt])
            d = F.greatest(d, F.lit(0.0))
            if alt == "two_sided":
                series = F.aggregate(
                    F.sequence(F.lit(1), F.lit(100)),
                    F.lit(0.0),
                    lambda a, j: a
                    + F.pow(F.lit(-1.0), (j - 1).cast("double"))
                    * F.exp(
                        F.lit(-2.0) * j.cast("double")
                        * j.cast("double") * n_ * d * d
                    ),
                )
                return F.least(
                    F.lit(1.0),
                    F.greatest(F.lit(0.0), 2.0 * series),
                )
            return F.exp(F.lit(-2.0) * n_ * d * d)

        parts = [
            stat.select(
                "query_id", F.lit(alt).alias("alternative"),
                F.col({
                    "two_sided": "d_two", "less": "d_less",
                    "greater": "d_greater",
                }[alt]).alias("d_stat"),
                _p(alt).alias("p_value"),
            )
            for alt in alts
        ]
        out = parts[0]
        for pt in parts[1:]:
            out = out.unionByName(pt)
        return out
    if kind == "bucket_correlation":
        # ml-commons count_correlation sibling: Pearson r between
        # the key-ordered bucket values and the provided
        # `expectations` curve (documented simplified indicator
        # form). One window for the index, one groupBy corr.
        exps = [
            float(x)
            for x in (conf or {}).get(
                "expectations",
                ((conf or {}).get("function", {})
                 .get("count_correlation", {})
                 .get("indicator", {})
                 .get("expectations", [])),
            )
        ]
        if not exps:
            raise ValueError(
                "bucket_correlation needs expectations "
                "(or function.count_correlation.indicator."
                "expectations)"
            )
        wk = Window.partitionBy("query_id").orderBy(F.asc("key"))
        expc = F.element_at(
            F.array(*[F.lit(e) for e in exps]),
            F.row_number().over(wk),
        )
        rows = buckets.select(
            "query_id", v.cast("double").alias("x"),
            expc.alias("e"),
        )
        return rows.groupBy("query_id").agg(
            F.corr("x", "e").alias("value")
        )
    fn = {
        "avg_bucket": F.avg,
        "sum_bucket": F.sum,
        "min_bucket": F.min,
        "max_bucket": F.max,
    }.get(kind)
    if fn is None:
        raise NotImplementedError(f"sibling pipeline '{kind}'")
    return g.agg(fn(v).alias("value"))


def bucket_sort(
    buckets: DataFrame, sort: list, size: int | None = None,
    frm: int = 0,
) -> DataFrame:
    """`bucket_sort` pipeline: re-order the parent's buckets by bucket
    values and truncate (sort + from + size on the bucket frame, not
    on documents). `sort` is the OpenSearch list form
    [{col: {"order": "desc"}}, ...]."""
    order = []
    for s in sort:
        ((col, conf),) = s.items() if isinstance(s, dict) else ((s, {}),)
        desc = (conf or {}).get("order", "asc") == "desc"
        order.append(F.desc(col) if desc else F.asc(col))
    w = Window.partitionBy("query_id").orderBy(*order)
    out = buckets.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") > int(frm)
    )
    if size is not None:
        out = out.filter(F.col("__r") <= int(frm) + int(size))
    return out.withColumn("bucket_order", F.col("__r")).drop("__r")


def string_stats_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    matched: DataFrame | None = None,
) -> DataFrame:
    """`string_stats` aggregation (opensearch-api `aggs:
    {string_stats: {field}}`): count / min_length / max_length /
    avg_length of a keyword field over the full match set, plus the
    Shannon entropy (base 2) of the CHARACTER distribution across
    every value — the OpenSearch definition. Two grouped
    aggregations: one over the values for the length stats, one over
    the exploded characters for entropy; both are match-set-sized,
    never corpus-sized, and the character explode is bounded by total
    value bytes (keyword fields are short). Returns (query_id, count,
    min_length, max_length, avg_length, entropy)."""
    at = attributed_fields(
        spark, index_dir, corpus_path, queries, [field], matched=matched
    )
    v = F.col(field)
    vals = at.where(v.isNotNull()).select(
        "query_id", v.alias("val"), F.length(v).alias("len")
    )
    base = vals.groupBy("query_id").agg(
        F.count("*").alias("count"),
        F.min("len").alias("min_length"),
        F.max("len").alias("max_length"),
        F.avg(F.col("len").cast("double")).alias("avg_length"),
    )
    chars = vals.select(
        "query_id", F.explode(F.split("val", "")).alias("ch")
    ).where(F.length("ch") > 0)
    cf = chars.groupBy("query_id", "ch").agg(F.count("*").alias("c"))
    tot = cf.groupBy("query_id").agg(F.sum("c").alias("t"))
    p = F.col("c").cast("double") / F.col("t").cast("double")
    ent = (
        cf.join(tot, "query_id")
        .groupBy("query_id")
        .agg((-F.sum(p * F.log2(p))).alias("entropy"))
    )
    return base.join(ent, "query_id", "left")


def mad_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    matched: DataFrame | None = None,
) -> DataFrame:
    """`median_absolute_deviation` aggregation: median(|x - median|)
    over the match set. OpenSearch computes it on a t-digest sketch;
    this executor is EXACT (Spark `percentile`, linear interpolation
    — same convention as DuckDB quantile_cont) so the value oracle
    can recompute it bit-for-bit; swap F.percentile for
    F.percentile_approx for the fixed-state 100-TB path (same shape:
    two grouped aggregations, the 1-row-per-query median frame
    broadcast back). Returns (query_id, mad)."""
    at = attributed_fields(
        spark, index_dir, corpus_path, queries, [field], matched=matched
    )
    v = F.col(field).cast("double")
    med = at.groupBy("query_id").agg(
        F.percentile(v, F.lit(0.5)).alias("__med")
    )
    return (
        at.join(F.broadcast(med), "query_id")
        .groupBy("query_id")
        .agg(F.percentile(F.abs(v - F.col("__med")), F.lit(0.5)).alias("mad"))
    )


def boxplot_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    matched: DataFrame | None = None,
) -> DataFrame:
    """`boxplot` aggregation: min / q1 / q2 / q3 / max of a numeric
    field over the match set in ONE grouped aggregation (exact
    percentiles, linear interpolation — DuckDB quantile_cont parity;
    OpenSearch's t-digest analog is the percentile_approx swap).
    Returns (query_id, min_v, q1, q2, q3, max_v)."""
    at = attributed_fields(
        spark, index_dir, corpus_path, queries, [field], matched=matched
    )
    v = F.col(field).cast("double")
    return at.groupBy("query_id").agg(
        F.min(v).alias("min_v"),
        F.percentile(v, F.lit(0.25)).alias("q1"),
        F.percentile(v, F.lit(0.5)).alias("q2"),
        F.percentile(v, F.lit(0.75)).alias("q3"),
        F.max(v).alias("max_v"),
    )


def matrix_stats_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    fields: list,
    matched: DataFrame | None = None,
) -> DataFrame:
    """`matrix_stats` aggregation over a list of numeric fields:
    per-field count / mean / variance / skewness / kurtosis and
    pairwise covariance / correlation, complete-case (docs missing
    ANY field are excluded — the OpenSearch contract). ONE grouped
    aggregation accumulates the raw power sums (Σx, Σx², Σx³, Σx⁴
    per field, Σxy per pair); all moments derive from those sums in
    a fixed algebraic order, so the value oracle reproduces every
    number from the same sums. Conventions documented for parity:
    population moments (divide by n), kurtosis is plain m4/m2² (not
    excess) — matching OpenSearch's definition where a normal
    distribution scores ~3. Returns long-format rows
    (query_id, field_a, field_b, stat, value): field_b == field_a
    for the per-field stats."""
    fields = list(dict.fromkeys(fields))
    at = attributed_fields(
        spark, index_dir, corpus_path, queries, fields, matched=matched
    )
    cond = None
    for f in fields:
        c = F.col(f).isNotNull()
        cond = c if cond is None else (cond & c)
    at = at.where(cond)
    exprs = [F.count("*").alias("n")]
    for f in fields:
        x = F.col(f).cast("double")
        exprs += [
            F.sum(x).alias(f"s1_{f}"),
            F.sum(x * x).alias(f"s2_{f}"),
            F.sum(x * x * x).alias(f"s3_{f}"),
            F.sum(x * x * x * x).alias(f"s4_{f}"),
        ]
    for i, fa in enumerate(fields):
        for fb in fields[i + 1:]:
            exprs.append(
                F.sum(
                    F.col(fa).cast("double") * F.col(fb).cast("double")
                ).alias(f"sxy_{fa}_{fb}")
            )
    sums = at.groupBy("query_id").agg(*exprs)
    n = F.col("n").cast("double")
    rows = []

    def _mom(f):
        mean = F.col(f"s1_{f}") / n
        m2 = F.col(f"s2_{f}") / n - mean * mean
        m3 = (
            F.col(f"s3_{f}") / n
            - F.lit(3.0) * mean * (F.col(f"s2_{f}") / n)
            + F.lit(2.0) * mean * mean * mean
        )
        m4 = (
            F.col(f"s4_{f}") / n
            - F.lit(4.0) * mean * (F.col(f"s3_{f}") / n)
            + F.lit(6.0) * mean * mean * (F.col(f"s2_{f}") / n)
            - F.lit(3.0) * mean * mean * mean * mean
        )
        return mean, m2, m3, m4

    for f in fields:
        mean, m2, m3, m4 = _mom(f)
        per = [
            ("count", n),
            ("mean", mean),
            ("variance", m2),
            ("skewness", m3 / F.pow(m2, F.lit(1.5))),
            ("kurtosis", m4 / (m2 * m2)),
        ]
        for stat, expr in per:
            rows.append(
                sums.select(
                    "query_id",
                    F.lit(f).alias("field_a"),
                    F.lit(f).alias("field_b"),
                    F.lit(stat).alias("stat"),
                    expr.alias("value"),
                )
            )
    for i, fa in enumerate(fields):
        for fb in fields[i + 1:]:
            mean_a, m2a, _, _ = _mom(fa)
            mean_b, m2b, _, _ = _mom(fb)
            cov = F.col(f"sxy_{fa}_{fb}") / n - mean_a * mean_b
            corr = cov / F.sqrt(m2a * m2b)
            for stat, expr in (("covariance", cov), ("correlation", corr)):
                rows.append(
                    sums.select(
                        "query_id",
                        F.lit(fa).alias("field_a"),
                        F.lit(fb).alias("field_b"),
                        F.lit(stat).alias("stat"),
                        expr.alias("value"),
                    )
                )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


_SM_CALLS = {
    "Math.log": F.log,
    "Math.sqrt": F.sqrt,
    "Math.abs": F.abs,
    "Math.pow": lambda a, b: F.pow(a, b),
    "Math.max": F.greatest,
    "Math.min": F.least,
}

_SM_REDUCE = {
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
}


def scripted_metric_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    map_script: str,
    reduce: str = "sum",
    params: dict | None = None,
    matched: DataFrame | None = None,
) -> DataFrame:
    """`scripted_metric` aggregation, distributed-safe subset: the
    map_script is a painless-lite expression over doc['field'].value
    + params (compiled to ONE native Column — no Python in the hot
    path), and the reduce is an algebraic aggregate
    (sum/avg/min/max/count). OpenSearch's free-form init/combine/
    reduce scripts assume a single-shard accumulator object and
    cannot distribute safely; here init+combine ARE Spark's partial
    aggregation (map-side combine), which is the only shape that
    scales — arbitrary stateful scripts raise loudly instead of
    silently computing shard-order-dependent results. Returns
    (query_id, value)."""
    import re as _re

    fields = list(dict.fromkeys(
        _re.findall(r"doc\['([^']+)'\]", map_script)
    ))
    if not fields:
        raise NotImplementedError(
            "scripted_metric map_script must reference at least one "
            "doc['field'].value"
        )
    if reduce not in _SM_REDUCE:
        raise NotImplementedError(
            f"scripted_metric reduce '{reduce}' "
            f"(supported: {sorted(_SM_REDUCE)})"
        )
    at = attributed_fields(
        spark, index_dir, corpus_path, queries, fields, matched=matched
    )
    p = params or {}

    def resolve(kind, name):
        if kind == "doc":
            if name not in fields:
                raise KeyError(name)
            return F.col(name).cast("double")
        if kind == "param":
            if name not in p:
                raise KeyError(
                    f"scripted_metric references params.{name} with no "
                    f"matching params entry (have: {sorted(p)})"
                )
            return F.lit(float(p[name]))
        raise NotImplementedError(
            f"scripted_metric reference {kind}:{name}"
        )

    mapped = painless_expr(map_script, resolve, calls=_SM_CALLS)
    return at.groupBy("query_id").agg(
        _SM_REDUCE[reduce](mapped).alias("value")
    )


def _spec_ranges_facet(
    spark: SparkSession, qids: DataFrame, at: DataFrame, v, specs: list
) -> DataFrame:
    """Generic [from, to) range-bucket counter shared by date_range /
    ip_range / geo_distance aggregations. Per-range membership flags
    are built as ONE array column over the match set (ranges may
    overlap — a doc lands in every containing range, the OpenSearch
    contract), exploded and counted in one grouped aggregation; every
    range then emits its bucket even at doc_count 0 via a left join
    against the literal spec frame (bounded: len(specs) rows × the
    body's query ids — the crossJoin side is a broadcast literal,
    never data-sized). Returns (query_id, bucket_rank, key,
    doc_count) in spec order."""
    flags = []
    for key, lo, hi in specs:
        cond = v.isNotNull()
        if lo is not None:
            cond = cond & (v >= F.lit(float(lo)))
        if hi is not None:
            cond = cond & (v < F.lit(float(hi)))
        flags.append(F.when(cond, F.lit(key)))
    arr = F.filter(F.array(*flags), lambda x: x.isNotNull())
    counts = (
        at.select("query_id", F.explode(arr).alias("key"))
        .groupBy("query_id", "key")
        .agg(F.count("*").alias("doc_count"))
    )
    spec_df = spark.createDataFrame(
        [(i, k) for i, (k, _, _) in enumerate(specs)],
        "bucket_rank int, key string",
    )
    return (
        qids.select("query_id").distinct()
        .crossJoin(F.broadcast(spec_df))
        .join(counts, ["query_id", "key"], "left")
        .fillna(0, subset=["doc_count"])
        .select("query_id", "bucket_rank", "key", "doc_count")
    )


def _range_key(r: dict) -> str:
    if r.get("key") is not None:
        return str(r["key"])
    frm = r.get("from")
    to = r.get("to")
    return (
        f"{'*' if frm is None else frm}-{'*' if to is None else to}"
    )


def _date_epoch(val):
    """Range bound -> epoch seconds (float). Strings are ISO dates /
    datetimes interpreted as UTC; numbers are epoch MILLIS (the
    OpenSearch date-field default). Date-math ('now-1d') raises."""
    from datetime import datetime, timezone

    if val is None:
        return None
    if isinstance(val, (int, float)):
        return float(val) / 1000.0
    s = str(val)
    if "now" in s or "||" in s:
        raise NotImplementedError(f"date-math range bound '{s}'")
    dt = datetime.fromisoformat(s)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def date_range_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    ranges: list,
    matched: DataFrame | None = None,
) -> DataFrame:
    """`date_range` aggregation: [from, to) buckets over a timestamp
    doc-values field. Values compare as epoch seconds (timestamp ->
    double cast — timezone-free, Spark timestamps are UTC micros
    internally); bounds parse via _date_epoch. One match-set pass
    regardless of range count."""
    at = attributed_fields(
        spark, index_dir, corpus_path, queries, [field], matched=matched
    )
    v = F.col(field).cast("timestamp").cast("double")
    specs = [
        (_range_key(r), _date_epoch(r.get("from")), _date_epoch(r.get("to")))
        for r in ranges
    ]
    return _spec_ranges_facet(spark, queries, at, v, specs)


def _ip4_int(s: str) -> int:
    a, b, c, d = (int(x) for x in s.split("."))
    for part in (a, b, c, d):
        if not 0 <= part <= 255:
            raise ValueError(f"bad IPv4 '{s}'")
    return (a << 24) | (b << 16) | (c << 8) | d


def ip_range_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    ranges: list,
    matched: DataFrame | None = None,
) -> DataFrame:
    """`ip_range` aggregation over an IPv4 keyword field: from
    (inclusive) / to (exclusive) bounds, or `mask` CIDR buckets
    ('10.0.0.0/25' -> [network, broadcast+1)). The dotted-quad field
    converts to a 32-bit integer in native Columns (split + weighted
    sum — no UDF); docs with non-IPv4 values fall out of every
    bucket via the null flag. IPv6 raises loudly."""
    at = attributed_fields(
        spark, index_dir, corpus_path, queries, [field], matched=matched
    )
    p = F.split(F.col(field), r"\.")
    ok = (F.size(p) == 4) & F.col(field).rlike(
        r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$"
    )
    v = F.when(
        ok,
        p.getItem(0).cast("long") * F.lit(16777216)
        + p.getItem(1).cast("long") * F.lit(65536)
        + p.getItem(2).cast("long") * F.lit(256)
        + p.getItem(3).cast("long"),
    ).cast("double")
    specs = []
    for r in ranges:
        if ":" in str(r.get("from", "")) + str(r.get("to", "")) + str(
            r.get("mask", "")
        ):
            raise NotImplementedError("ip_range over IPv6 addresses")
        if r.get("mask") is not None:
            base, bits = str(r["mask"]).split("/")
            nbits = int(bits)
            size = 1 << (32 - nbits)
            lo = _ip4_int(base) & ~(size - 1)
            specs.append((r.get("key") or str(r["mask"]), lo, lo + size))
        else:
            lo = _ip4_int(str(r["from"])) if r.get("from") else None
            hi = _ip4_int(str(r["to"])) if r.get("to") else None
            specs.append((_range_key(r), lo, hi))
    return _spec_ranges_facet(spark, queries, at, v, specs)


def ip_prefix_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    prefix_length: int,
    is_ipv6: bool = False,
    append_prefix_length: bool = False,
    min_doc_count: int = 1,
    matched: DataFrame | None = None,
) -> DataFrame:
    """`ip_prefix` aggregation: buckets docs by the /prefix_length
    network of an IPv4 keyword field. Key is the masked network
    address re-rendered dotted-quad (optionally with '/len' appended
    — the agg's append_prefix_length knob), plus the echo columns
    OpenSearch returns per bucket (prefix_length, netmask). All
    native bit math on the int-converted quad — one grouped pass,
    same shape as every bucket facet. IPv6 raises loudly (no ipv6
    fixture surface)."""
    if is_ipv6:
        raise NotImplementedError("ip_prefix over IPv6 addresses")
    nbits = int(prefix_length)
    if not (0 < nbits <= 32):
        raise ValueError("ip_prefix prefix_length must be in 1..32")
    at = attributed_fields(
        spark, index_dir, corpus_path, queries, [field], matched=matched
    )
    p = F.split(F.col(field), r"\.")
    ok = F.col(field).rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    v = F.when(
        ok,
        p.getItem(0).cast("long") * F.lit(16777216)
        + p.getItem(1).cast("long") * F.lit(65536)
        + p.getItem(2).cast("long") * F.lit(256)
        + p.getItem(3).cast("long"),
    )
    size = 1 << (32 - nbits)
    net = (v.bitwiseAND(F.lit(~(size - 1) & 0xFFFFFFFF))).alias("net")
    quad = F.concat_ws(
        ".",
        (F.col("net") / F.lit(16777216)).cast("long") % 256,
        (F.col("net") / F.lit(65536)).cast("long") % 256,
        (F.col("net") / F.lit(256)).cast("long") % 256,
        F.col("net") % 256,
    )
    key = (
        F.concat(quad, F.lit(f"/{nbits}")) if append_prefix_length else quad
    )
    mask_int = (~(size - 1)) & 0xFFFFFFFF
    netmask = ".".join(
        str((mask_int >> s) & 255) for s in (24, 16, 8, 0)
    )
    return (
        at.withColumn("net", net)
        .filter(F.col("net").isNotNull())
        .groupBy("query_id", "net")
        .agg(F.count("*").alias("doc_count"))
        .filter(F.col("doc_count") >= int(min_doc_count))
        .select(
            "query_id",
            key.alias("key"),
            F.lit(nbits).alias("prefix_length"),
            F.lit(netmask).alias("netmask"),
            "doc_count",
        )
    )


_GEO_UNIT_M = {
    "m": 1.0, "meters": 1.0,
    "km": 1000.0, "kilometers": 1000.0,
    "mi": 1609.344, "miles": 1609.344,
    "ft": 0.3048, "yd": 0.9144, "cm": 0.01, "mm": 0.001,
    "nmi": 1852.0, "NM": 1852.0,
}


def geo_distance_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    origin: dict,
    ranges: list,
    unit: str = "m",
    matched: DataFrame | None = None,
) -> DataFrame:
    """`geo_distance` aggregation: concentric [from, to) distance
    rings around an origin point. Distance is the same native-Column
    haversine the geo_distance QUERY leaf uses (booltree._geo_frame —
    arc formula, mean earth radius 6371008.8 m, zero UDFs); range
    bounds are given in `unit` (default meters) and converted once on
    the driver. Field `f` reads sidecar columns f_lat / f_lon."""
    mult = _GEO_UNIT_M.get(unit)
    if mult is None:
        raise NotImplementedError(f"geo_distance unit '{unit}'")
    latc, lonc = f"{field}_lat", f"{field}_lon"
    at = attributed_fields(
        spark, index_dir, corpus_path, queries, [latc, lonc],
        matched=matched,
    )
    lat, lon = F.col(latc).cast("double"), F.col(lonc).cast("double")
    qlat, qlon = float(origin["lat"]), float(origin["lon"])
    dphi = F.radians(lat - F.lit(qlat))
    dlmb = F.radians(lon - F.lit(qlon))
    a = (
        F.pow(F.sin(dphi / 2), 2)
        + F.cos(F.radians(F.lit(qlat))) * F.cos(F.radians(lat))
        * F.pow(F.sin(dlmb / 2), 2)
    )
    v = F.when(
        lat.isNotNull() & lon.isNotNull(),
        F.lit(2.0 * 6371008.8) * F.asin(F.sqrt(a)),
    )
    specs = []
    for r in ranges:
        lo = None if r.get("from") is None else float(r["from"]) * mult
        hi = None if r.get("to") is None else float(r["to"]) * mult
        specs.append((_range_key(r), lo, hi))
    return _spec_ranges_facet(spark, queries, at, v, specs)


_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_grid_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    precision: int = 5,
    size: int = 10000,
    matched: DataFrame | None = None,
) -> DataFrame:
    """`geohash_grid` aggregation: standard geohash cell keys at the
    given precision (1..12 base-32 chars = 5·precision bits,
    longitude first, MSB-interleaved), computed entirely in native
    Columns — quantize lat/lon to integer grids, interleave the bits
    with constant-folded shift/and/or terms, then map each 5-bit
    group through a literal base-32 array. No UDF, no corpus touch;
    one grouped count bounded by cell cardinality, top `size` cells
    by doc_count desc then key asc. Field `f` reads sidecar columns
    f_lat / f_lon (the geo leaves' storage convention)."""
    p = int(precision)
    if not 1 <= p <= 12:
        raise ValueError("geohash precision must be in 1..12")
    latc, lonc = f"{field}_lat", f"{field}_lon"
    at = attributed_fields(
        spark, index_dir, corpus_path, queries, [latc, lonc],
        matched=matched,
    ).filter(F.col(latc).isNotNull() & F.col(lonc).isNotNull())
    lat = F.col(latc).cast("double")
    lon = F.col(lonc).cast("double")
    nbits = 5 * p
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    lon_q = F.least(
        F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(2 ** nlon))),
        F.lit((1 << nlon) - 1),
    ).cast("long")
    lat_q = F.least(
        F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(2 ** nlat))),
        F.lit((1 << nlat) - 1),
    ).cast("long")
    inter = F.lit(0).cast("long")
    for i in range(nlon):
        bit = F.shiftright(lon_q, nlon - 1 - i).bitwiseAND(F.lit(1))
        inter = inter + F.shiftleft(bit, nbits - 1 - 2 * i)
    for i in range(nlat):
        bit = F.shiftright(lat_q, nlat - 1 - i).bitwiseAND(F.lit(1))
        inter = inter + F.shiftleft(bit, nbits - 2 - 2 * i)
    b32 = F.array(*[F.lit(ch) for ch in _GEOHASH_B32])
    chars = [
        F.element_at(
            b32,
            (
                F.shiftright(inter, 5 * (p - 1 - c)).bitwiseAND(F.lit(31))
                + F.lit(1)
            ).cast("int"),
        )
        for c in range(p)
    ]
    key = F.concat(*chars)
    cnt = (
        at.select("query_id", key.alias("key"))
        .groupBy("query_id", "key")
        .agg(F.count("*").alias("doc_count"))
    )
    wg = Window.partitionBy("query_id").orderBy(
        F.desc("doc_count"), F.asc("key")
    )
    return (
        cnt.withColumn("bucket_rank", F.row_number().over(wg))
        .filter(F.col("bucket_rank") <= int(size))
        .select("query_id", "bucket_rank", "key", "doc_count")
    )


# The OpenSearch auto_date_histogram rounding ladder, in seconds:
# 1s 5s 10s 30s / 1m 5m 10m 30m / 1h 3h 12h / 1d 7d / 30d 90d /
# 1y 5y 10y 20y 50y 100y (fixed-duration form — documented: calendar
# months/years approximate as 30/365 days so the bucket keys stay
# pure epoch arithmetic an oracle can replay).
_AUTO_LADDER_S = [
    1, 5, 10, 30,
    60, 300, 600, 1800,
    3600, 10800, 43200,
    86400, 604800,
    2592000, 7776000,
    31536000, 157680000, 315360000, 630720000, 1576800000, 3153600000,
]


def auto_date_histogram_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    buckets: int = 10,
    matched: DataFrame | None = None,
) -> DataFrame:
    """`auto_date_histogram` aggregation: pick the smallest interval
    from the rounding ladder whose bucket count over the match-set
    extent fits `buckets`, then one fixed-width histogram at that
    interval. The extent is a 1-row-per-query min/max aggregation
    collected to the driver (the same bounded driver-gate pattern as
    the corpus-stats broadcast — never data-sized); the ladder walk
    uses the EXACT bucket count floor(max/i) - floor(min/i) + 1 so a
    SQL oracle can replay the choice deterministically. Returns
    (query_id, interval_s, key, doc_count) with `key` the bucket's
    epoch-second lower bound."""
    at = attributed_fields(
        spark, index_dir, corpus_path, queries, [field], matched=matched
    )
    v = F.col(field).cast("timestamp").cast("double")
    ext = (
        at.groupBy("query_id")
        .agg(F.min(v).alias("mn"), F.max(v).alias("mx"))
        .collect()
    )
    import math as _math

    rows = []
    for r in ext:
        chosen = _AUTO_LADDER_S[-1]
        for i in _AUTO_LADDER_S:
            if _math.floor(r["mx"] / i) - _math.floor(r["mn"] / i) + 1 <= int(
                buckets
            ):
                chosen = i
                break
        rows.append((int(r["query_id"]), int(chosen)))
    if not rows:
        rows = [(-1, _AUTO_LADDER_S[-1])]  # keep the frame non-degenerate
    idf = spark.createDataFrame(rows, "query_id long, interval_s long")
    key = (
        F.floor(v / F.col("interval_s")) * F.col("interval_s")
    ).cast("long")
    return (
        at.join(F.broadcast(idf), "query_id")
        .select("query_id", "interval_s", key.alias("key"))
        .groupBy("query_id", "interval_s", "key")
        .agg(F.count("*").alias("doc_count"))
    )


def variable_width_histogram_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    buckets: int = 10,
    matched: DataFrame | None = None,
) -> DataFrame:
    """`variable_width_histogram` aggregation, DETERMINISTIC variant:
    OpenSearch's implementation is a shard-order-dependent streaming
    clustering no external oracle can reproduce; this engine instead
    gives equal-frequency buckets with exact quantile boundaries —
    the same dashboard shape (per-bucket min/max/avg/doc_count, value
    -adaptive widths) with a replayable contract. Boundaries are the
    i/buckets percentiles (ONE grouped aggregation, 1 row per query,
    broadcast back); assignment counts boundaries strictly below the
    value (boundaries rounded to 9 dp so engines agree at exact-tie
    boundaries); the bucket stats are one more grouped aggregation.
    No match-set-sized window anywhere. Returns (query_id, bucket,
    min_v, max_v, avg_v, doc_count), bucket in 0..buckets-1 (empty
    buckets omitted — duplicates can collapse neighbors)."""
    nb = int(buckets)
    if nb < 2:
        raise ValueError("variable_width_histogram needs buckets >= 2")
    at = attributed_fields(
        spark, index_dir, corpus_path, queries, [field], matched=matched
    )
    v = F.col(field).cast("double")
    at = at.where(v.isNotNull())
    bnds = at.groupBy("query_id").agg(
        F.percentile(
            v, F.array(*[F.lit(i / nb) for i in range(1, nb)])
        ).alias("__bnds")
    )
    j = at.join(F.broadcast(bnds), "query_id")
    bidx = F.size(
        F.filter(F.col("__bnds"), lambda b: F.round(b, 9) < v)
    )
    return (
        j.groupBy("query_id", bidx.alias("bucket"))
        .agg(
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
            F.avg(v).alias("avg_v"),
            F.count("*").alias("doc_count"),
        )
    )


# ---------------------------------------------------------------------------
# t_test — two-sample Student's t metric aggregation
# ---------------------------------------------------------------------------


def _betainc_py(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b) — standard Lentz
    modified continued fraction (the textbook numerical method; no
    SciPy in this environment). Accurate to ~1e-10 for the t-test
    p-value range."""
    import math

    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0

    def cf(a: float, b: float, x: float) -> float:
        tiny = 1e-300
        qab, qap, qam = a + b, a + 1.0, a - 1.0
        c = 1.0
        d = 1.0 - qab * x / qap
        if abs(d) < tiny:
            d = tiny
        d = 1.0 / d
        h = d
        for m in range(1, 300):
            m2 = 2 * m
            aa = m * (b - m) * x / ((qam + m2) * (a + m2))
            d = 1.0 + aa * d
            if abs(d) < tiny:
                d = tiny
            c = 1.0 + aa / c
            if abs(c) < tiny:
                c = tiny
            d = 1.0 / d
            h *= d * c
            aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
            d = 1.0 + aa * d
            if abs(d) < tiny:
                d = tiny
            c = 1.0 + aa / c
            if abs(c) < tiny:
                c = tiny
            d = 1.0 / d
            delta = d * c
            h *= delta
            if abs(delta - 1.0) < 3e-12:
                break
        return h

    lbeta = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log(1.0 - x)
    )
    front = math.exp(lbeta)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * cf(a, b, x) / a
    return 1.0 - _betainc_py(b, a, 1.0 - x)


def t_p_value(t: float, df: float) -> float:
    """Two-tailed Student's t p-value: I_{df/(df+t^2)}(df/2, 1/2)."""
    if df <= 0:
        return float("nan")
    return _betainc_py(df / 2.0, 0.5, df / (df + t * t))


def _filter_pred(flt: dict | None):
    """term/range filter spec -> native Column predicate over the
    attributed frame (the t_test a/b `filter` subset; anything the
    frame can't express raises loudly)."""
    if flt is None:
        return F.lit(True)
    ((fk, fs),) = flt.items()
    if fk == "term":
        ((fld, val),) = fs.items()
        if isinstance(val, dict):
            val = val["value"]
        return F.col(fld) == F.lit(val)
    if fk == "range":
        ((fld, conds),) = fs.items()
        p = F.lit(True)
        for op, v in conds.items():
            c = F.col(fld)
            p = p & {
                "gte": c >= F.lit(v), "gt": c > F.lit(v),
                "lte": c <= F.lit(v), "lt": c < F.lit(v),
            }[op]
        return p
    raise NotImplementedError(f"t_test filter '{fk}' (term/range only)")


def t_test_agg(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    a_conf: dict,
    b_conf: dict,
    ttype: str = "heteroscedastic",
    matched: DataFrame | None = None,
) -> DataFrame:
    """OpenSearch `t_test` metric aggregation: Student's t statistic
    + two-tailed p-value between two numeric series drawn from the
    match set (TTestAggregator semantics).

    type='paired': both fields on the SAME docs; t over the
    per-doc differences. 'heteroscedastic' (the OpenSearch default,
    Welch): independent groups a/b — each a field plus an optional
    term/range `filter` — with the Welch-Satterthwaite df.
    'homoscedastic': pooled variance, df = na+nb-2.

    Physical shape: ONE attributed-fields pass (dv-sidecar join),
    conditional algebraic sums (n, Σx, Σx²) per group in ONE grouped
    aggregation — variance and t are closed forms of the sums, so the
    whole thing is a single exchange. The p-value (regularized
    incomplete beta) runs in an Arrow-batched UDF over the ONE result
    row per query."""
    import pandas as pd

    fields = [a_conf["field"], b_conf["field"]]
    filt_fields = []
    for c in (a_conf, b_conf):
        f = c.get("filter")
        if f:
            ((_, fs),) = f.items()
            filt_fields.append(next(iter(fs)))
    at = attributed_fields(
        spark, index_dir, corpus_path, queries,
        fields + filt_fields, matched=matched,
    )
    fa, fb = a_conf["field"], b_conf["field"]
    # every quotient via try_divide: a degenerate group (n < 2, or a
    # filter matching nothing) yields NULL stats instead of an ANSI
    # DIVIDE_BY_ZERO job abort — the distributed-safe failure mode
    dv_ = F.try_divide
    if ttype == "paired":
        if a_conf.get("filter") or b_conf.get("filter"):
            raise ValueError("paired t_test cannot take filters")
        d = (F.col(fa) - F.col(fb)).cast("double")
        g = at.groupBy("query_id").agg(
            F.count(d).alias("n"),
            F.sum(d).alias("s1"),
            F.sum(d * d).alias("s2"),
        )
        n = F.col("n").cast("double")
        mean = dv_(F.col("s1"), n)
        var = dv_(
            F.col("s2") - dv_(F.col("s1") * F.col("s1"), n), n - 1
        )
        stat = g.select(
            "query_id",
            dv_(mean, F.sqrt(dv_(var, n))).alias("t_stat"),
            (n - 1).alias("df"),
        )
    elif ttype in ("heteroscedastic", "homoscedastic"):
        pa = _filter_pred(a_conf.get("filter"))
        pb = _filter_pred(b_conf.get("filter"))
        va = F.when(pa, F.col(fa).cast("double"))
        vb = F.when(pb, F.col(fb).cast("double"))
        g = at.groupBy("query_id").agg(
            F.count(va).alias("na"),
            F.sum(va).alias("sa1"),
            F.sum(va * va).alias("sa2"),
            F.count(vb).alias("nb"),
            F.sum(vb).alias("sb1"),
            F.sum(vb * vb).alias("sb2"),
        )
        na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
        ma, mb = dv_(F.col("sa1"), na), dv_(F.col("sb1"), nb)
        sa2 = dv_(
            F.col("sa2") - dv_(F.col("sa1") * F.col("sa1"), na), na - 1
        )
        sb2 = dv_(
            F.col("sb2") - dv_(F.col("sb1") * F.col("sb1"), nb), nb - 1
        )
        if ttype == "heteroscedastic":
            se2 = dv_(sa2, na) + dv_(sb2, nb)
            dfc = dv_(
                se2 * se2,
                dv_(dv_(sa2, na) ** 2, na - 1)
                + dv_(dv_(sb2, nb) ** 2, nb - 1),
            )
        else:
            sp2 = dv_(
                (na - 1) * sa2 + (nb - 1) * sb2, na + nb - 2
            )
            se2 = sp2 * (dv_(F.lit(1.0), na) + dv_(F.lit(1.0), nb))
            dfc = na + nb - 2
        stat = g.select(
            "query_id",
            dv_(ma - mb, F.sqrt(se2)).alias("t_stat"),
            dfc.cast("double").alias("df"),
        )
    else:
        raise ValueError(f"t_test type '{ttype}'")

    def _pvals(t, df):
        # plain-series body: the module uses `from __future__ import
        # annotations`, so hint-style pandas_udf inference can't run
        return pd.Series(
            [
                t_p_value(float(tv), float(dv))
                if pd.notna(tv) and pd.notna(dv) else float("nan")
                for tv, dv in zip(t, df)
            ]
        )

    pval = F.pandas_udf(_pvals, "double")

    return stat.withColumn(
        "p_value", pval(F.col("t_stat"), F.col("df"))
    )
