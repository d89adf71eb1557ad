"""Nested bool-tree compiler (index/booltree.py) vs an independent
pandas reference implementing Lucene BooleanQuery semantics exactly:
must=AND(scored), filter=AND(unscored), should=optional-or-msm,
must_not=NOT, nested bools contribute their summed score upward."""

from __future__ import annotations

import math
import os

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_prepper_spark.index import query as q
from data_prepper_spark.index.booltree import bool_tree_match, bool_tree_search
from data_prepper_spark.index.dsl import search
from data_prepper_spark.oracle import corpus_doc_ids

from bool_reference import _eval, _ref_hits, _toks, build_ref


@pytest.fixture(scope="module")
def dv_corpus(spark, fixture_dir, tmp_path_factory):
    """Fixture corpus + a numeric n_chars column (the doc-values
    range-filter target)."""
    d = str(tmp_path_factory.mktemp("dvc"))
    out = os.path.join(d, "corpus.parquet")
    (
        spark.read.parquet(os.path.join(fixture_dir, "corpus.parquet"))
        .withColumn("n_chars", F.length("content").cast("long"))
        .write.mode("overwrite").parquet(out)
    )
    return out


@pytest.fixture(scope="module")
def dv_index(spark, dv_corpus, tmp_path_factory):
    from data_prepper_spark.index.build import BuildConfig, build_index
    from data_prepper_spark.index.query import attach_doc_values

    d = str(tmp_path_factory.mktemp("dvidx"))
    build_index(spark, dv_corpus, d, BuildConfig(n_buckets=8,
                                                 hot_group_target=2_000))
    attach_doc_values(spark, d, dv_corpus, cols=("lang", "n_chars"))
    return d


@pytest.fixture(scope="module")
def ref(dv_corpus):
    return build_ref(pd.read_parquet(dv_corpus))


def _engine_hits(spark, dv_index, tree, corpus_path=None) -> list:
    got = bool_tree_search(
        spark, dv_index, tree, k=10**6, corpus_path=corpus_path
    ).select("doc_id", F.round("score", 6).alias("s")).collect()
    return sorted((r["doc_id"], r["s"]) for r in got)


NESTED_TREE = {
    "bool": {
        "must": [
            {"match": {"content": "bloloba skimuba"}},
            {"bool": {
                "should": [
                    {"match": {"content": "gunaba"}},
                    {"match": {"content": "dinaba"}},
                ],
                "must_not": [{"term": {"content": "snaloba"}}],
            }},
        ],
        "filter": [{"range": {"n_chars": {"gte": 9000, "lt": 42000}}}],
    }
}


def test_nested_bool_with_range_filter(spark, dv_index, ref):
    want = _ref_hits(NESTED_TREE, ref)
    got = _engine_hits(spark, dv_index, NESTED_TREE)
    assert got == want and len(want) > 5


def test_filter_is_unscored(spark, dv_index, ref):
    """filter vs must on the same clause: same match set, but the
    must variant's scores include the clause's partials."""
    base = {"bool": {
        "must": [{"match": {"content": "bloloba"}}],
        "filter": [{"match": {"content": "skimuba"}}],
    }}
    must = {"bool": {"must": [
        {"match": {"content": "bloloba"}},
        {"match": {"content": "skimuba"}},
    ]}}
    a = _engine_hits(spark, dv_index, base)
    b = _engine_hits(spark, dv_index, must)
    assert [d for d, _ in a] == [d for d, _ in b] and a
    assert a != b  # scores differ (query partials excluded)
    assert _ref_hits(base, ref) == a


def test_minimum_should_match(spark, dv_index, ref):
    tree = {"bool": {
        "should": [
            {"match": {"content": "gunaba"}},
            {"match": {"content": "dinaba"}},
            {"match": {"content": "snaloba"}},
        ],
        "minimum_should_match": 2,
    }}
    assert _engine_hits(spark, dv_index, tree) == _ref_hits(tree, ref)


def test_must_not_only_matches_rest_of_corpus(spark, dv_index, ref):
    tree = {"bool": {"must_not": [{"match": {"content": "bloloba"}}]}}
    got = _engine_hits(spark, dv_index, tree)
    assert got == _ref_hits(tree, ref)
    assert all(s == 0.0 for _, s in got) and len(got) > 100


def test_terms_and_term_on_docvalues(spark, dv_index, ref):
    tree = {"bool": {
        "must": [{"match": {"content": "bloloba"}}],
        "filter": [{"terms": {"lang": ["python", "go"]}}],
    }}
    assert _engine_hits(spark, dv_index, tree) == _ref_hits(tree, ref)
    one = {"bool": {
        "must": [{"match": {"content": "bloloba"}}],
        "filter": [{"term": {"lang": "python"}}],
    }}
    assert _engine_hits(spark, dv_index, one) == _ref_hits(one, ref)


def test_phrase_desugars_conjunctive(spark, dv_index, ref):
    tree = {"bool": {"must": [{"match_phrase": {"content": "bloloba skimuba"}}]}}
    assert _engine_hits(spark, dv_index, tree) == _ref_hits(tree, ref)


def test_boolean_search_matches_reference(spark, dv_index, ref):
    """boolean_search's (must, should, must_not) rows against the
    independent reference: must conjunctive over analyzed tokens
    (duplicates count once), should optional beside must and required
    alone, an unknown must term or a must_not-only row -> no rows."""

    def tree(must, should, must_not):
        return {"bool": {
            role: [{"match": {"content": t}} for t in _toks(text)]
            for role, text in (
                ("must", must), ("should", should), ("must_not", must_not)
            )
        }}

    rows = [
        (0, "bloloba skimuba", "gunaba", "dinaba"),
        (1, "", "gunaba cestaba", ""),
        (2, "Bloloba bloloba", "dropleba", None),
        (3, "bloloba zzqqnotaterm", "gunaba", ""),
        (4, "", "", "bloloba"),
    ]
    got = {qid: [] for qid, *_ in rows}
    for r in q.boolean_search(
        spark, dv_index,
        spark.createDataFrame(
            rows, "query_id long, must string, should string, must_not string",
        ),
        k=10**6,
    ).select("query_id", "doc_id", F.round("score", 6).alias("s")).collect():
        got[r["query_id"]].append((r["doc_id"], r["s"]))
    for qid in (0, 1, 2):
        want = _ref_hits(tree(*(x or "" for x in rows[qid][1:])), ref)
        assert sorted(got[qid]) == want and want, qid
    assert got[3] == [] and got[4] == []


def test_reanalysis_of_analyzed_tokens_is_identity(corpus_pdf):
    """boolean_search and match_phrase desugaring turn ANALYZED tokens
    into leaf texts, which the leaf path analyzes again: on the
    fixture corpus that second pass returns each token unchanged,
    with the stop and stem filters on."""
    from data_prepper_spark.index.query import analyze_query_py

    for stats in (
        {},
        {"stopwords": ["the", "a", "of", "init"],
         "stemmer": "minimal_english"},
    ):
        toks = set()
        for text in corpus_pdf["content"].head(200):
            toks.update(analyze_query_py(stats, text))
        assert len(toks) > 1000
        assert all(analyze_query_py(stats, t) == [t] for t in toks)


# ---------------------------------------------------------------------------
# DSL routing + aggs under any query
# ---------------------------------------------------------------------------


def test_dsl_routes_nested_bool(spark, dv_index, dv_corpus, ref):
    body = {"query": NESTED_TREE, "size": 10**6}
    hits = search(spark, dv_index, body, corpus_path=dv_corpus).hits
    got = sorted(
        (r["doc_id"], r["s"])
        for r in hits.select(
            "doc_id", F.round("score", 6).alias("s")
        ).collect()
    )
    assert got == _ref_hits(NESTED_TREE, ref)


def _dsl_hits(spark, index_dir, tree) -> list:
    got = search(spark, index_dir, {"query": tree, "size": 10**6}).hits
    return sorted(
        (r["doc_id"], r["s"])
        for r in got.select("doc_id", F.round("score", 6).alias("s")).collect()
    )


def test_dsl_multi_token_match_in_must_is_disjunctive(spark, dv_index, ref):
    """A multi-token `match` inside `must` is an OR over its tokens,
    so it matches more docs than requiring every token."""
    tree = {"bool": {"must": [{"match": {"content": "cestaba dropleba"}}]}}
    want = _ref_hits(tree, ref)
    both = _ref_hits({"bool": {"must": [
        {"match": {"content": "cestaba"}}, {"match": {"content": "dropleba"}},
    ]}}, ref)
    assert len(want) > len(both) > 0
    assert _dsl_hits(spark, dv_index, tree) == want


def test_dsl_text_filter_is_unscored(spark, dv_index, ref):
    """`filter` text leaves decide matching but add no score."""
    tree = {"bool": {
        "must": [{"match": {"content": "bloloba"}}],
        "filter": [{"match": {"content": "cestaba"}}],
    }}
    want = _ref_hits(tree, ref)
    assert want and _dsl_hits(spark, dv_index, tree) == want


def test_dsl_text_bool_total_hits_and_explain(spark, dv_index, ref):
    """track_total_hits and explain work on a one-level text-only
    bool: the total is the full match set, and each hit's explained
    contributions sum to its score."""
    tree = {"bool": {
        "must": [{"match": {"content": "cestaba"}}],
        "should": [{"match": {"content": "gunaba"}}],
    }}
    want = _ref_hits(tree, ref)
    res = search(spark, dv_index, {
        "query": tree, "size": 5, "track_total_hits": True, "explain": True,
    })
    (trow,) = res.total.collect()
    assert trow["total_hits"] == len(want) > 5
    hits = {r["doc_id"]: r["score"] for r in res.hits.collect()}
    top = sorted(want, key=lambda h: -h[1])[:5]
    assert sorted(round(v, 6) for v in hits.values()) == sorted(
        s for _, s in top
    )
    agg = {}
    for r in res.explanation.collect():
        agg[r["doc_id"]] = agg.get(r["doc_id"], 0.0) + r["contribution"]
    assert agg.keys() == hits.keys()
    for d, sc in hits.items():
        assert agg[d] == pytest.approx(sc, rel=1e-9)


def _bool_bodies(vocab: list):
    """Random bool bodies one or two levels deep: must/should/
    must_not/filter clauses over match/term/match_phrase leaves of 1-3
    vocabulary tokens."""
    text = st.lists(st.sampled_from(vocab), min_size=1, max_size=3).map(
        " ".join
    )
    leaf = st.builds(
        lambda kind, t: {kind: {"content": t}},
        st.sampled_from(("match", "term", "match_phrase")), text,
    )

    def bool_of(child):
        return st.dictionaries(
            st.sampled_from(("must", "should", "must_not", "filter")),
            st.lists(child, min_size=1, max_size=3),
            min_size=1,
        ).map(lambda clauses: {"bool": clauses})

    return bool_of(st.one_of(leaf, bool_of(leaf)))


@settings(max_examples=20, deadline=None, derandomize=True)
@given(data=st.data())
def test_random_bool_bodies_match_reference(spark, dv_index, ref, data):
    # 12 common terms (df 300-990 of 1,000 docs): random conjunctions
    # of them still match, so most bodies have a non-empty answer
    common = sorted(t for t, n in ref["dfreq"].items() if 300 <= n <= 990)
    tree = data.draw(_bool_bodies(common[:: len(common) // 12]))
    assert _dsl_hits(spark, dv_index, tree) == _ref_hits(tree, ref)


def test_match_all_aggs_cover_corpus(spark, dv_index, dv_corpus):
    """ADVICE r04 (high): match_all + aggs must aggregate the WHOLE
    corpus, not an empty match set."""
    body = {
        "query": {"match_all": {}},
        "aggs": {
            "by_lang": {"terms": {"field": "lang", "size": 50}},
            "chars": {"extended_stats": {"field": "n_chars"}},
        },
    }
    res = search(spark, dv_index, body, corpus_path=dv_corpus)
    buckets = {
        r["facet"]: r["doc_count"]
        for r in res.aggregations["by_lang"].collect()
    }
    want = (
        pd.read_parquet(dv_corpus)["lang"].value_counts().to_dict()
    )
    assert buckets == want and sum(buckets.values()) > 500
    st = res.aggregations["chars"].collect()[0]
    assert st["n"] == sum(want.values())


def test_aggs_under_nested_bool(spark, dv_index, dv_corpus, ref):
    body = {
        "query": NESTED_TREE,
        "aggs": {"by_lang": {"terms": {"field": "lang", "size": 50}}},
    }
    res = search(spark, dv_index, body, corpus_path=dv_corpus)
    buckets = {
        r["facet"]: r["doc_count"]
        for r in res.aggregations["by_lang"].collect()
    }
    match = {d for d, _ in _ref_hits(NESTED_TREE, ref)}
    want = (
        ref["meta"].loc[sorted(match)]["lang"].value_counts().to_dict()
    )
    assert buckets == want


def test_dsl_term_on_docvalues_field(spark, dv_index, dv_corpus):
    body = {"query": {"term": {"lang": "python"}}, "size": 10**6}
    hits = search(spark, dv_index, body, corpus_path=dv_corpus).hits
    n = hits.count()
    want = int((pd.read_parquet(dv_corpus)["lang"] == "python").sum())
    assert n == want and n > 0
    assert hits.select(F.max("score")).collect()[0][0] == 0.0


def test_match_all_without_aggs_still_raises(spark, dv_index):
    with pytest.raises(NotImplementedError):
        search(spark, dv_index, {"query": {"match_all": {}}})


def test_top_level_range_query(spark, dv_index, dv_corpus):
    """{"query": {"range": ...}} without a bool wrapper: the common
    OpenSearch filter-only body — sugar for bool/filter with one leaf
    (unscored, every hit score 0)."""
    body = {
        "query": {"range": {"n_chars": {"gte": 10000, "lt": 30000}}},
        "size": 10**6,
    }
    hits = search(spark, dv_index, body, corpus_path=dv_corpus).hits
    n = hits.count()
    nc = pd.read_parquet(dv_corpus)["n_chars"]
    want = int(((nc >= 10000) & (nc < 30000)).sum())
    assert n == want and n > 0
    assert hits.select(F.max("score")).collect()[0][0] == 0.0
    # terms / exists route the same way
    t = search(
        spark, dv_index,
        {"query": {"terms": {"lang": ["python", "go"]}}, "size": 10**6},
        corpus_path=dv_corpus,
    ).hits.count()
    langs = pd.read_parquet(dv_corpus)["lang"]
    assert t == int(langs.isin(["python", "go"]).sum())
    e = search(
        spark, dv_index,
        {"query": {"exists": {"field": "lang"}}, "size": 10**6},
        corpus_path=dv_corpus,
    ).hits.count()
    assert e == int(langs.notna().sum())


def test_metric_and_histogram_aggs(spark, dv_index, dv_corpus):
    """stats/avg/sum/value_count projections and histogram buckets
    under a top-level range query, all recomputed in pandas."""
    body = {
        "query": {"range": {"n_chars": {"gte": 25000}}},
        "aggs": {
            "chars": {"stats": {"field": "n_chars"}},
            "mean": {"avg": {"field": "n_chars"}},
            "total": {"sum": {"field": "n_chars"}},
            "cnt": {"value_count": {"field": "n_chars"}},
            "hist": {"histogram": {"field": "n_chars", "interval": 5000}},
        },
    }
    res = search(spark, dv_index, body, corpus_path=dv_corpus)
    nc = pd.read_parquet(dv_corpus)["n_chars"]
    sel = nc[nc >= 25000]
    st = res.aggregations["chars"].collect()[0]
    assert st["n"] == len(sel)
    assert st["min_v"] == int(sel.min())
    assert st["max_v"] == int(sel.max())
    assert st["sum_v"] == int(sel.sum())
    assert abs(st["avg_v"] - sel.mean()) < 1e-9
    assert res.aggregations["chars"].columns == [
        "query_id", "n", "min_v", "max_v", "sum_v", "avg_v"
    ]
    mean = res.aggregations["mean"].collect()[0]
    assert abs(mean["avg_v"] - sel.mean()) < 1e-9
    assert res.aggregations["total"].collect()[0]["sum_v"] == int(sel.sum())
    assert res.aggregations["cnt"].collect()[0]["n"] == len(sel)
    hist = {
        r["key"]: r["doc_count"]
        for r in res.aggregations["hist"].collect()
    }
    want = (sel // 5000 * 5000).astype(float).value_counts().to_dict()
    assert hist == want


def test_date_histogram_agg(spark, dv_index, dv_corpus, tmp_path_factory):
    """date_histogram over a timestamp doc-values column: calendar
    day truncation, key_as_string form."""
    import os as _os

    from data_prepper_spark.index.query import attach_doc_values

    d = str(tmp_path_factory.mktemp("dhc"))
    out = _os.path.join(d, "corpus.parquet")
    # deterministic per-doc timestamp spread over ~3 days
    (
        spark.read.parquet(dv_corpus)
        .withColumn(
            "mtime",
            F.timestamp_seconds(
                F.lit(1700000000)
                + F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(250000))
            ),
        )
        .write.mode("overwrite").parquet(out)
    )
    attach_doc_values(spark, dv_index, out, cols=("lang", "n_chars", "mtime"))
    res = search(
        spark, dv_index,
        {
            "query": {"match_all": {}},
            "aggs": {"daily": {"date_histogram": {
                "field": "mtime", "calendar_interval": "day",
            }}},
        },
        corpus_path=out,
    )
    got = {
        r["key"]: r["doc_count"]
        for r in res.aggregations["daily"].collect()
    }
    pdf = pd.read_parquet(out)
    want = (
        pd.to_datetime(pdf["mtime"]).dt.floor("D")
        .dt.strftime("%Y-%m-%dT%H:%M:%S").value_counts().to_dict()
    )
    assert got == want and len(got) >= 2
    # restore the module-scoped sidecar for any later test
    attach_doc_values(spark, dv_index, dv_corpus, cols=("lang", "n_chars"))


# ---------------------------------------------------------------------------
# boost / dis_max / constant_score (round 5)
# ---------------------------------------------------------------------------

BOOSTED_TREE = {
    "bool": {
        "must": [
            {"match": {"content": {"query": "gunaba", "boost": 2.5}}}
        ],
        "should": [{"bool": {
            "must": [{"match": {"content": "dinaba"}}],
            "boost": 0.5,
        }}],
    }
}

DISMAX_TREE = {
    "dis_max": {
        "queries": [
            {"match": {"content": "gunaba"}},
            {"match": {"content": "dinaba"}},
            {"bool": {
                "must": [{"match": {"content": "bloloba"}}],
                "filter": [{"range": {"n_chars": {"gte": 9000}}}],
            }},
        ],
        "tie_breaker": 0.3,
    }
}

CONST_TREE = {
    "bool": {
        "must": [{"match": {"content": "gunaba"}}],
        "should": [{"constant_score": {
            "filter": {"term": {"lang": "python"}}, "boost": 1.7,
        }}],
    }
}


def test_clause_and_node_boost(spark, dv_index, ref):
    assert _engine_hits(spark, dv_index, BOOSTED_TREE) == _ref_hits(
        BOOSTED_TREE, ref
    )


def test_dis_max_tie_breaker(spark, dv_index, ref):
    assert _engine_hits(spark, dv_index, DISMAX_TREE) == _ref_hits(
        DISMAX_TREE, ref
    )


def test_constant_score_inside_bool(spark, dv_index, ref):
    assert _engine_hits(spark, dv_index, CONST_TREE) == _ref_hits(
        CONST_TREE, ref
    )


def test_dsl_routes_dismax_and_flat_boost(spark, dv_index, ref):
    """Top-level dis_max and a one-level bool whose leaf carries a
    boost both land on the independent reference's scores."""
    got = search(
        spark, dv_index, {"query": DISMAX_TREE, "size": 10**6}
    ).hits.select("doc_id", F.round("score", 6).alias("s")).collect()
    assert sorted((r["doc_id"], r["s"]) for r in got) == _ref_hits(
        DISMAX_TREE, ref
    )
    flat_boosted = {"bool": {
        "must": [{"match": {"content": {"query": "gunaba", "boost": 3.0}}}],
    }}
    got = search(
        spark, dv_index, {"query": flat_boosted, "size": 10**6}
    ).hits.select("doc_id", F.round("score", 6).alias("s")).collect()
    assert sorted((r["doc_id"], r["s"]) for r in got) == _ref_hits(
        flat_boosted, ref
    )


def test_top_level_constant_score(spark, dv_index, ref):
    body = {"query": {"constant_score": {
        "filter": {"range": {"n_chars": {"gte": 9000, "lt": 42000}}},
        "boost": 2.0,
    }}, "size": 10**6}
    got = search(spark, dv_index, body).hits.select(
        "doc_id", F.round("score", 6).alias("s")
    ).collect()
    tree = body["query"]
    assert sorted((r["doc_id"], r["s"]) for r in got) == _ref_hits(tree, ref)


def test_filters_and_missing_aggs(spark, dv_index, dv_corpus, ref):
    """`filters` (named buckets, zero-count rows emitted) and
    `missing` aggregations under a match query — counts recomputed
    from the independent reference's match set + metadata."""
    match_q = {"match": {"content": "gunaba"}}
    body = {
        "query": match_q,
        "aggs": {
            "by": {"filters": {"filters": {
                "py": {"term": {"lang": "python"}},
                "small": {"range": {"n_chars": {"lt": 9000}}},
                "none": {"term": {"lang": "qqq-no-such-lang"}},
            }}},
            "nolang": {"missing": {"field": "lang"}},
        },
    }
    res = search(spark, dv_index, body, corpus_path=dv_corpus)
    match_docs = {d for d, _ in _ref_hits(match_q, ref)}
    meta = ref["meta"]
    want = {
        ("py", sum(1 for d in match_docs if meta.loc[d, "lang"] == "python")),
        ("small", sum(1 for d in match_docs if meta.loc[d, "n_chars"] < 9000)),
        ("none", 0),
    }
    got = {
        (r["bucket"], r["doc_count"])
        for r in res.aggregations["by"].collect()
    }
    assert got == want and any(c > 0 for _, c in want)
    miss = res.aggregations["nolang"].collect()
    assert len(miss) == 1 and miss[0]["doc_count"] == 0  # lang never null


def test_rescore_top_window(spark, dv_index, ref):
    """`rescore` body key: window-wide re-ranking with
    score_mode=total — final = query_weight * BM25(main) +
    rescore_query_weight * score(rescore tree) for docs in the
    window; recomputed from the independent reference."""
    main_q = {"match": {"content": "gunaba"}}
    rs_q = {"match": {"content": "dinaba"}}
    body = {
        "query": main_q,
        "size": 10**6,
        "rescore": {
            "window_size": 10**6,
            "query": {
                "rescore_query": rs_q,
                "query_weight": 0.7,
                "rescore_query_weight": 1.2,
            },
        },
    }
    got = dict(
        (r["doc_id"], r["score"])
        for r in search(spark, dv_index, body).hits.select(
            "doc_id", "score"
        ).collect()
    )
    rs_scores = dict(_ref_hits(rs_q, ref))
    want = {
        d: 0.7 * s + 1.2 * rs_scores.get(d, 0.0)
        for d, s in _ref_hits(main_q, ref)
    }
    assert got and set(got) == set(want)
    for d, s in want.items():
        # _ref_hits rounds each component to 6dp; 0.7*5e-7 + 1.2*5e-7
        # of induced error bounds the comparison
        assert got[d] == pytest.approx(s, abs=2e-6)

    # small window: only the top-5 main-ranked docs are rescored,
    # the rest keep their original BM25 score
    main = sorted(_ref_hits(main_q, ref), key=lambda t: (-t[1], t[0]))
    assert len(main) > 5
    body["rescore"]["window_size"] = 5
    got5 = dict(
        (r["doc_id"], r["score"])
        for r in search(spark, dv_index, body).hits.select(
            "doc_id", "score"
        ).collect()
    )
    top5 = {d for d, _ in main[:5]}
    for d, s in main:
        exp = (
            0.7 * s + 1.2 * rs_scores.get(d, 0.0) if d in top5 else s
        )
        assert got5[d] == pytest.approx(exp, abs=2e-6)


def test_boosting_query(spark, dv_index, ref):
    """`boosting` clause: negative matches are demoted (score *
    negative_boost), never excluded; matching = positive only."""
    tree = {"boosting": {
        "positive": {"match": {"content": "gunaba"}},
        "negative": {"match": {"content": "dinaba"}},
        "negative_boost": 0.25,
    }}
    want = _ref_hits(tree, ref)
    got = _engine_hits(spark, dv_index, tree)
    assert got == want and len(want) > 3
    # demotion happened somewhere: some positive doc also matches
    # the negative clause
    pos = dict(_ref_hits({"match": {"content": "gunaba"}}, ref))
    assert any(abs(s - pos[d]) > 1e-9 for d, s in want)


def test_function_score_fvf(spark, dv_index, ref):
    """`function_score` with field_value_factor over the doc-values
    sidecar: score = BM25 * log10(1 + 0.1 * n_chars)."""
    tree = {"function_score": {
        "query": {"match": {"content": "gunaba"}},
        "field_value_factor": {
            "field": "n_chars", "factor": 0.1, "modifier": "log1p",
        },
    }}
    want = _ref_hits(tree, ref)
    got = _engine_hits(spark, dv_index, tree)
    assert len(got) == len(want) > 3
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd and gs == pytest.approx(ws, abs=2e-6)


def test_function_score_filtered_weights(spark, dv_index, ref):
    """functions list with per-function filters: weights apply only
    where the filter matches; score_mode=sum folds the applicable
    values, boost_mode=sum adds them onto the BM25 score."""
    tree = {"function_score": {
        "query": {"match": {"content": "gunaba dinaba"}},
        "functions": [
            {"filter": {"range": {"n_chars": {"gte": 300}}},
             "weight": 5.0},
            {"filter": {"match": {"content": "dinaba"}},
             "field_value_factor": {
                 "field": "n_chars", "factor": 0.01,
                 "modifier": "sqrt"},
             "weight": 2.0},
        ],
        "score_mode": "sum",
        "boost_mode": "sum",
    }}
    want = _ref_hits(tree, ref)
    got = _engine_hits(spark, dv_index, tree)
    assert len(got) == len(want) > 3
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd and gs == pytest.approx(ws, abs=2e-6)


def test_query_string_end_to_end(spark, dv_index, dv_corpus, ref):
    """`query_string` bodies parse to bool trees and execute through
    the same compiler; scores match the independent reference of the
    equivalent hand-written tree."""
    cases = [
        (
            'gunaba AND (dinaba OR skimuba) -bloloba',
            {"bool": {"must": [
                {"match": {"content": "gunaba"}},
                {"bool": {
                    "should": [
                        {"match": {"content": "dinaba"}},
                        {"match": {"content": "skimuba"}},
                    ],
                    "minimum_should_match": 1,
                }},
                {"bool": {"must_not": [
                    {"match": {"content": "bloloba"}}
                ]}},
            ]}},
        ),
        (
            '+gunaba dinaba n_chars:300',
            {"bool": {
                "must": [{"match": {"content": "gunaba"}}],
                "should": [
                    {"match": {"content": "dinaba"}},
                    {"term": {"n_chars": 300}},
                ],
            }},
        ),
        (
            'blo* -skimuba',
            {"bool": {
                "should": [{"prefix": {"content": "blo"}}],
                "must_not": [{"match": {"content": "skimuba"}}],
                "minimum_should_match": 1,
            }},
        ),
        (
            'gunaba^2 AND n_chars:[9000 TO 42000]',
            {"bool": {"must": [
                {"match": {"content": {"query": "gunaba", "boost": 2.0}}},
                {"range": {"n_chars": {"gte": 9000, "lte": 42000}}},
            ]}},
        ),
    ]
    for qs, tree in cases:
        body = {"query": {"query_string": {"query": qs}}, "size": 10**6}
        got = sorted(
            (r["doc_id"], r["score"])
            for r in search(
                spark, dv_index, body, corpus_path=dv_corpus
            ).hits.select("doc_id", "score").collect()
        )
        want = sorted(_ref_hits(tree, ref))
        assert [d for d, _ in got] == [d for d, _ in want] and got, qs
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=2e-5), qs


def test_expansion_leaves_in_tree(spark, dv_index, dv_corpus, ref):
    """prefix / wildcard / fuzzy LEAVES inside bool trees (Lucene
    multi-term queries, scoring_boolean rewrite): dictionary
    expansion capped df-descending, expanded terms score as a
    disjunctive BM25 bag, and the leaves compose with every tree
    construct."""
    bodies = [
        {"prefix": {"content": "blo"}},
        {"wildcard": {"content": "b*a"}},
        {"wildcard": {"content": "g?naba"}},
        {"fuzzy": {"content": {"value": "bloloba"}}},
        {"prefix": {"content": {
            "value": "blo", "max_expansions": 2, "boost": 2.0}}},
        {"bool": {
            "must": [{"prefix": {"content": "blo"}}],
            "should": [{"match": {"content": "gunaba"}}],
            "must_not": [{"wildcard": {"content": "snal*"}}],
        }},
        {"dis_max": {"queries": [
            {"prefix": {"content": "blo"}},
            {"fuzzy": {"content": "gunaba"}},
        ], "tie_breaker": 0.3}},
        # regexp leaves: anchored whole-term match (Lucene
        # RegexpQuery); with and without a literal blocking prefix,
        # composed under bool with other leaf kinds
        {"regexp": {"content": "blo.*a"}},
        {"regexp": {"content": "[bg][lu]n?aba"}},
        {"bool": {
            "must": [{"regexp": {"content": "b.*a"}}],
            "must_not": [{"prefix": {"content": "snal"}}],
        }},
    ]
    for body in bodies:
        got = _engine_hits(spark, dv_index, body, corpus_path=dv_corpus)
        want = _ref_hits(body, ref)
        assert [d for d, _ in got] == [d for d, _ in want] and got, body
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=2e-5), body


def test_adjacency_matrix_agg(spark, dv_index, dv_corpus, ref):
    """`adjacency_matrix`: named filter buckets plus their pairwise
    intersections, empty buckets omitted — counts recomputed from the
    independent reference's match set + metadata."""
    match_q = {"match": {"content": "gunaba"}}
    body = {
        "query": match_q,
        "aggs": {
            "adj": {"adjacency_matrix": {"filters": {
                "py": {"term": {"lang": "python"}},
                "small": {"range": {"n_chars": {"lt": 9000}}},
                "none": {"term": {"lang": "qqq-no-such-lang"}},
            }}},
        },
    }
    res = search(spark, dv_index, body, corpus_path=dv_corpus)
    match_docs = {d for d, _ in _ref_hits(match_q, ref)}
    meta = ref["meta"]
    sets = {
        "py": {d for d in match_docs if meta.loc[d, "lang"] == "python"},
        "small": {d for d in match_docs if meta.loc[d, "n_chars"] < 9000},
        "none": set(),
    }
    keys = sorted(sets)
    want = {}
    for i, a in enumerate(keys):
        if sets[a]:
            want[a] = len(sets[a])
        for b in keys[i + 1:]:
            inter = sets[a] & sets[b]
            if inter:
                want[f"{a}&{b}"] = len(inter)
    got = {
        r["key"]: r["doc_count"]
        for r in res.aggregations["adj"].collect()
    }
    assert got == want and "py&small" in got  # a real intersection row


def test_serial_diff_and_moving_fn_pipelines(spark, dv_index, dv_corpus):
    """serial_diff (lag-k difference) and moving_fn
    (MovingFunctions.unweightedAvg/sum over the window ending just
    before the current bucket) over a histogram bucket frame —
    verified against hand-computed window algebra on the collected
    counts."""
    body = {
        "query": {"match": {"content": "gunaba"}},
        "aggs": {
            "hist": {
                "histogram": {"field": "n_chars", "interval": 2000},
                "aggs": {
                    "sdiff": {"serial_diff": {
                        "buckets_path": "_count", "lag": 2,
                    }},
                    "mavg": {"moving_fn": {
                        "buckets_path": "_count",
                        "window": 3,
                        "script": "MovingFunctions.unweightedAvg(values)",
                    }},
                    "msum": {"moving_fn": {
                        "buckets_path": "_count",
                        "window": 2,
                        "script": "MovingFunctions.sum(values)",
                    }},
                },
            },
        },
    }
    res = search(spark, dv_index, body, corpus_path=dv_corpus)
    hist = res.aggregations["hist"].orderBy("key").collect()
    assert len(hist) >= 4  # enough buckets to exercise lag=2 + window=3
    counts = [r.doc_count for r in hist]
    for i, r in enumerate(hist):
        if i < 2:
            assert r.sdiff is None
        else:
            assert r.sdiff == counts[i] - counts[i - 2]
        if i == 0:
            assert r.mavg is None and r.msum is None
        else:
            win3 = counts[max(0, i - 3):i]
            assert r.mavg == pytest.approx(sum(win3) / len(win3))
            win2 = counts[max(0, i - 2):i]
            assert r.msum == sum(win2)
    # unsupported MovingFunctions script stays a loud failure
    bad = {
        "query": {"match": {"content": "gunaba"}},
        "aggs": {"hist": {
            "histogram": {"field": "n_chars", "interval": 2000},
            "aggs": {"x": {"moving_fn": {
                "buckets_path": "_count", "window": 3,
                "script": "MovingFunctions.stdDev(values)",
            }}},
        }},
    }
    with pytest.raises(NotImplementedError):
        search(spark, dv_index, bad, corpus_path=dv_corpus)


def test_significant_text_alias(spark, dv_index, dv_corpus):
    """`significant_text` routes to the same executor as
    `significant_terms` (the engine's text field IS the indexed
    content field, the OpenSearch distinction collapses)."""
    mk = lambda kind: {
        "query": {"match": {"content": "gunaba"}},
        "aggs": {"sig": {kind: {"size": 5}}},
    }
    a = search(
        spark, dv_index, mk("significant_terms"), corpus_path=dv_corpus
    ).aggregations["sig"].collect()
    b = search(
        spark, dv_index, mk("significant_text"), corpus_path=dv_corpus
    ).aggregations["sig"].collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b] and a


def test_weighted_avg_percentile_ranks_rare_multi_terms(
    spark, dv_index, dv_corpus, ref
):
    """weighted_avg, percentile_ranks (exact), rare_terms, and
    multi_terms over the match set's doc-values — every number
    recomputed from the independent reference's match set +
    metadata."""
    match_q = {"match": {"content": "gunaba"}}
    body = {
        "query": match_q,
        "aggs": {
            "wavg": {"weighted_avg": {
                "value": {"field": "n_chars"},
                "weight": {"field": "n_chars"},
            }},
            "ranks": {"percentile_ranks": {
                "field": "n_chars", "values": [5000, 9000, 100000],
            }},
            "rare": {"rare_terms": {
                "field": "lang", "max_doc_count": 3,
            }},
            "multi": {"multi_terms": {
                "terms": [{"field": "lang"}, {"field": "n_chars"}],
                "size": 5,
            }},
        },
    }
    res = search(spark, dv_index, body, corpus_path=dv_corpus)
    match_docs = sorted(d for d, _ in _ref_hits(match_q, ref))
    meta = ref["meta"]
    nc = [int(meta.loc[d, "n_chars"]) for d in match_docs]
    lang = [meta.loc[d, "lang"] for d in match_docs]
    # weighted_avg with weight == value: sum(v^2)/sum(v)
    (wrow,) = res.aggregations["wavg"].collect()
    assert wrow.value == pytest.approx(
        sum(v * v for v in nc) / sum(nc)
    )
    # exact percentile ranks
    got_ranks = {
        r.key: r.value for r in res.aggregations["ranks"].collect()
    }
    for v in (5000.0, 9000.0, 100000.0):
        want = 100.0 * sum(1 for x in nc if x <= v) / len(nc)
        assert got_ranks[v] == pytest.approx(want), v
    # rare_terms: langs with <= 3 matching docs, count asc then key
    from collections import Counter

    cnt = Counter(lang)
    want_rare = sorted(
        ((c, k) for k, c in cnt.items() if c <= 3)
    )
    got_rare = [
        (r.doc_count, r.key)
        for r in res.aggregations["rare"].orderBy(
            "doc_count", "key"
        ).collect()
    ]
    assert got_rare == want_rare
    # multi_terms: (lang, n_chars) tuples, top-5 by count desc
    pair_cnt = Counter(zip(lang, nc))
    want_multi = sorted(
        ((-c, k[0], k[1]) for k, c in pair_cnt.items())
    )[:5]
    got_multi = [
        (-r.doc_count, r.lang, r.n_chars)
        for r in res.aggregations["multi"].orderBy(
            "bucket_rank"
        ).collect()
    ]
    assert got_multi == want_multi and len(got_multi) == 5


def test_bucket_script_and_selector(spark, dv_index, dv_corpus):
    """bucket_script (painless-lite params arithmetic -> derived
    bucket column) and bucket_selector (predicate drops buckets) over
    a histogram frame — verified against hand computation on the
    collected buckets; non-grammar scripts stay loud failures."""
    base_hist = {
        "histogram": {"field": "n_chars", "interval": 2000},
        "aggs": {
            "sum_chars": {"sum": {"field": "n_chars"}},
            "ratio": {"bucket_script": {
                "buckets_path": {
                    "s": "sum_chars", "n": "_count",
                },
                "script": "params.s / params.n - 1",
            }},
        },
    }
    body = {
        "query": {"match": {"content": "gunaba"}},
        "aggs": {"hist": dict(base_hist)},
    }
    res = search(spark, dv_index, body, corpus_path=dv_corpus)
    hist = res.aggregations["hist"].orderBy("key").collect()
    assert len(hist) >= 3
    for r in hist:
        assert r.ratio == pytest.approx(
            r.sum_chars / r.doc_count - 1
        )
    # selector keeps only buckets with more than one doc
    sel = {
        "histogram": {"field": "n_chars", "interval": 2000},
        "aggs": {
            "keep": {"bucket_selector": {
                "buckets_path": {"n": "_count"},
                "script": "params.n > 1",
            }},
        },
    }
    body2 = {
        "query": {"match": {"content": "gunaba"}},
        "aggs": {"hist": sel},
    }
    kept = search(
        spark, dv_index, body2, corpus_path=dv_corpus
    ).aggregations["hist"].orderBy("key").collect()
    want = [(r.key, r.doc_count) for r in hist if r.doc_count > 1]
    assert [(r.key, r.doc_count) for r in kept] == want
    assert len(kept) < len(hist)  # the selector actually dropped some
    # out-of-grammar script: loud failure, not silent partial eval
    bad = {
        "query": {"match": {"content": "gunaba"}},
        "aggs": {"hist": {
            "histogram": {"field": "n_chars", "interval": 2000},
            "aggs": {"x": {"bucket_script": {
                "buckets_path": {"n": "_count"},
                "script": "Math.log(params.n)",
            }}},
        }},
    }
    with pytest.raises(NotImplementedError):
        search(spark, dv_index, bad, corpus_path=dv_corpus)


def test_script_score_query(spark, dv_index, dv_corpus, ref):
    """script_score: the child query's match set re-scored by a
    painless-lite script (_score, doc['field'].value sidecar reads,
    params literals, saturation/Math calls) compiled to a native
    Column — verified per doc against the reference BM25 partials +
    metadata; min_score drops docs below it; out-of-grammar scripts
    stay loud failures."""
    match_q = {"match": {"content": "gunaba"}}
    tree = {
        "script_score": {
            "query": match_q,
            "script": {
                "source": (
                    "_score * saturation(doc['n_chars'].value,"
                    " params.k)"
                ),
                "params": {"k": 300},
            },
        }
    }
    got = _engine_hits(spark, dv_index, tree, corpus_path=dv_corpus)
    meta = ref["meta"]
    want = sorted(
        (d, round(s * (meta.loc[d, "n_chars"]
                       / (meta.loc[d, "n_chars"] + 300.0)), 6))
        for d, s in _ref_hits(match_q, ref)
    )
    assert [d for d, _ in got] == [d for d, _ in want] and got
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=2e-5)
    # min_score keeps only the upper tail (cut at a midpoint between
    # two adjacent scores so float rounding can't flip membership)
    ss = sorted(s for _, s in want)
    cut = (ss[len(ss) // 2] + ss[len(ss) // 2 + 1]) / 2.0
    tree_ms = {"script_score": {**tree["script_score"],
                                "min_score": cut}}
    kept = _engine_hits(spark, dv_index, tree_ms, corpus_path=dv_corpus)
    assert [d for d, _ in kept] == [d for d, s in want if s >= cut]
    assert 0 < len(kept) < len(got)
    # grammar violations fail loudly
    bad = {"script_score": {
        "query": match_q,
        "script": {"source": "System.exit(doc['n_chars'].value)"},
    }}
    with pytest.raises(NotImplementedError):
        _engine_hits(spark, dv_index, bad, corpus_path=dv_corpus)


def test_rank_feature_query(spark, dv_index, dv_corpus, ref):
    """rank_feature as a `should` companion: text score + boost *
    saturation(feature) for docs with the feature — recomputed from
    the reference; saturation without a pivot is a loud failure (no
    per-field feature stats to derive the default from)."""
    match_q = {"match": {"content": "gunaba"}}
    tree = {
        "bool": {
            "must": [match_q],
            "should": [{
                "rank_feature": {
                    "field": "n_chars",
                    "saturation": {"pivot": 300},
                    "boost": 0.5,
                },
            }],
        }
    }
    got = _engine_hits(spark, dv_index, tree, corpus_path=dv_corpus)
    meta = ref["meta"]
    want = sorted(
        (d, round(s + 0.5 * (meta.loc[d, "n_chars"]
                             / (meta.loc[d, "n_chars"] + 300.0)), 6))
        for d, s in _ref_hits(match_q, ref)
    )
    assert [d for d, _ in got] == [d for d, _ in want] and got
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=2e-5)
    # log + sigmoid variants execute (spot-check one doc each)
    import math

    for fn_spec, fn in (
        ({"log": {"scaling_factor": 2.0}},
         lambda v: math.log(2.0 * v + 1.0)),
        ({"sigmoid": {"pivot": 300, "exponent": 2.0}},
         lambda v: v**2 / (v**2 + 300.0**2)),
    ):
        t = {"rank_feature": {"field": "n_chars", **fn_spec}}
        hits = _engine_hits(spark, dv_index, t, corpus_path=dv_corpus)
        d0, s0 = hits[0]
        assert s0 == pytest.approx(
            round(fn(float(meta.loc[d0, "n_chars"])), 6), abs=2e-5
        )
    with pytest.raises(NotImplementedError):
        _engine_hits(
            spark, dv_index,
            {"rank_feature": {"field": "n_chars", "saturation": {}}},
            corpus_path=dv_corpus,
        )


def test_top_metrics_agg(spark, dv_index, dv_corpus, ref):
    """top_metrics: metric values carried by the top-sorted docs of
    the match set — recomputed from the reference match set +
    metadata."""
    match_q = {"match": {"content": "gunaba"}}
    body = {
        "query": match_q,
        "aggs": {"tm": {"top_metrics": {
            "metrics": [{"field": "n_chars"}],
            "sort": {"n_chars": "desc"},
            "size": 3,
        }}},
    }
    res = search(spark, dv_index, body, corpus_path=dv_corpus)
    got = [
        (r.metric_rank, r.sort_value)
        for r in res.aggregations["tm"].orderBy("metric_rank").collect()
    ]
    meta = ref["meta"]
    match_docs = [d for d, _ in _ref_hits(match_q, ref)]
    want = sorted(
        (int(meta.loc[d, "n_chars"]) for d in match_docs), reverse=True
    )[:3]
    assert got == [(i + 1, v) for i, v in enumerate(want)] and len(got) == 3


def test_geo_queries(spark, dv_index, dv_corpus, ref, tmp_path):
    """geo_distance (haversine, native Columns) and geo_bounding_box
    (incl. dateline crossing) as non-scoring filter leaves over
    *_lat/*_lon doc-values — membership recomputed with an
    independent numpy haversine; scores stay the text clause's."""
    import numpy as np

    corpus2 = (
        spark.read.parquet(dv_corpus)
        .withColumn(
            "loc_lat",
            (F.col("n_chars") % 120 - 60 + F.lit(0.25)).cast("double"),
        )
        .withColumn(
            "loc_lon",
            ((F.col("n_chars") * 7) % 340 - 170 + F.lit(0.5)).cast(
                "double"
            ),
        )
    )
    cp2 = str(tmp_path / "geo_corpus.parquet")
    corpus2.write.parquet(cp2)
    from data_prepper_spark.index.query import attach_doc_values

    attach_doc_values(
        spark, dv_index, cp2,
        cols=("lang", "n_chars", "loc_lat", "loc_lon"),
    )
    try:
        match_q = {"match": {"content": "gunaba"}}
        qlat, qlon, dist_km = 10.0, 20.0, 3000.0
        tree = {"bool": {
            "must": [match_q],
            "filter": [{"geo_distance": {
                "distance": f"{dist_km}km",
                "loc": {"lat": qlat, "lon": qlon},
            }}],
        }}
        got = _engine_hits(spark, dv_index, tree, corpus_path=cp2)
        meta = ref["meta"]

        def hav_km(lat, lon):
            p1, p2 = np.radians(qlat), np.radians(lat)
            dphi = np.radians(lat - qlat)
            dlmb = np.radians(lon - qlon)
            a = np.sin(dphi / 2) ** 2 + np.cos(p1) * np.cos(p2) * (
                np.sin(dlmb / 2) ** 2
            )
            return 2 * 6371.0088 * np.arcsin(np.sqrt(a))

        def coords(d):
            n = int(meta.loc[d, "n_chars"])
            return (n % 120 - 60 + 0.25, (n * 7) % 340 - 170 + 0.5)

        want = sorted(
            (d, s) for d, s in _ref_hits(match_q, ref)
            if hav_km(*coords(d)) <= dist_km
        )
        assert [d for d, _ in got] == [d for d, _ in want] and got
        assert len(got) < len(_ref_hits(match_q, ref))  # filter bites
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=2e-5)
        # bounding box with dateline crossing (left > right)
        box = {"bool": {
            "must": [match_q],
            "filter": [{"geo_bounding_box": {"loc": {
                "top_left": {"lat": 60, "lon": 150},
                "bottom_right": {"lat": -60, "lon": -100},
            }}}],
        }}
        got_b = _engine_hits(spark, dv_index, box, corpus_path=cp2)
        want_b = sorted(
            (d, s) for d, s in _ref_hits(match_q, ref)
            if (
                -60 <= coords(d)[0] <= 60
                and (coords(d)[1] >= 150 or coords(d)[1] <= -100)
            )
        )
        assert [d for d, _ in got_b] == [d for d, _ in want_b] and got_b
        # missing geo columns stay loud
        with pytest.raises(NotImplementedError):
            _engine_hits(
                spark, dv_index,
                {"geo_distance": {"distance": "1km",
                                  "nowhere": {"lat": 0, "lon": 0}}},
                corpus_path=cp2,
            )
    finally:
        attach_doc_values(
            spark, dv_index, dv_corpus, cols=("lang", "n_chars")
        )


def test_terms_include_exclude(spark, dv_index, dv_corpus, ref):
    """terms-agg include/exclude: regex (anchored whole-value) or
    exact-value list filtering buckets BEFORE the size cut —
    recomputed from the reference; include/exclude under order/nested
    stays a loud failure."""
    from collections import Counter

    match_q = {"match": {"content": "gunaba"}}
    match_docs = [d for d, _ in _ref_hits(match_q, ref)]
    meta = ref["meta"]
    cnt = Counter(meta.loc[d, "lang"] for d in match_docs)

    def run(spec):
        body = {"query": match_q,
                "aggs": {"by": {"terms": {"field": "lang", **spec}}}}
        res = search(spark, dv_index, body, corpus_path=dv_corpus)
        return {
            r.facet: r.doc_count
            for r in res.aggregations["by"].collect()
        }

    langs = sorted(cnt)
    assert len(langs) >= 2
    keep = langs[0]
    # regex include: anchored whole-value
    assert run({"include": keep}) == {keep: cnt[keep]}
    # list include
    two = langs[:2]
    assert run({"include": two}) == {la: cnt[la] for la in two}
    # exclude drops exactly that bucket
    assert run({"exclude": keep}) == {
        la: c for la, c in cnt.items() if la != keep
    }
    # regex with alternation
    assert run({"include": "|".join(two)}) == {
        la: cnt[la] for la in two
    }
    with pytest.raises(NotImplementedError):
        run({"include": keep, "order": {"_key": "asc"}})


def test_histogram_min_doc_count_zero(spark, dv_index, dv_corpus, ref):
    """min_doc_count=0 + extended_bounds: dense bucket range (empty
    buckets at doc_count 0, NULL metrics), pipelines window over the
    DENSE frame — recomputed from the reference match set."""
    from collections import Counter

    match_q = {"match": {"content": "gunaba"}}
    interval = 2000
    body = {
        "query": match_q,
        "aggs": {"hist": {
            "histogram": {"field": "n_chars", "interval": interval,
                          "min_doc_count": 0,
                          "extended_bounds": {"min": 0, "max": 60000}},
            "aggs": {
                "avg_nc": {"avg": {"field": "n_chars"}},
                "cum": {"cumulative_sum": {"buckets_path": "_count"}},
            },
        }},
    }
    res = search(spark, dv_index, body, corpus_path=dv_corpus)
    rows = res.aggregations["hist"].orderBy("key").collect()
    meta = ref["meta"]
    cnt = Counter(
        int(meta.loc[d, "n_chars"]) // interval * interval
        for d, _ in _ref_hits(match_q, ref)
    )
    lo = min(min(cnt), 0)
    hi = max(max(cnt), 60000 // interval * interval)
    want_keys = list(range(lo, hi + 1, interval))
    assert [int(r.key) for r in rows] == want_keys
    run = 0
    for r in rows:
        assert r.doc_count == cnt.get(int(r.key), 0)
        run += r.doc_count
        assert r.cum == run  # pipeline ran over the dense frame
        if r.doc_count == 0:
            assert r.avg_nc is None  # empty buckets carry NULL metrics
    assert any(r.doc_count == 0 for r in rows)  # densify actually fired
    with pytest.raises(NotImplementedError):
        search(
            spark, dv_index,
            {"query": match_q, "aggs": {"h": {
                "date_histogram": {"field": "n_chars",
                                   "calendar_interval": "day",
                                   "min_doc_count": 0},
            }}},
            corpus_path=dv_corpus,
        )


# ---------------------------------------------------------------------------
# explain — per-leaf attribution (bool_tree_explain)
# ---------------------------------------------------------------------------


EXPLAIN_TREE = {
    "bool": {
        "must": [{"match": {"content": {"query": "bloloba skimuba",
                                        "boost": 2.0}}}],
        "should": [{"dis_max": {
            "queries": [{"match": {"content": "gunaba"}},
                        {"match": {"content": "dinaba"}}],
            "tie_breaker": 0.3,
        }}],
        "filter": [{"range": {"n_chars": {"gte": 100}}}],
    }
}


def test_explain_contributions_sum_to_score(spark, dv_index):
    from data_prepper_spark.index.booltree import bool_tree_explain

    hits = bool_tree_search(
        spark, dv_index, EXPLAIN_TREE, k=10
    ).collect()
    assert hits
    ids = [r["doc_id"] for r in hits]
    exp = bool_tree_explain(spark, dv_index, EXPLAIN_TREE, ids).collect()
    by_doc = {}
    for r in exp:
        assert r["matched"] is True
        by_doc.setdefault(r["doc_id"], []).append(r)
    for h in hits:
        rows = by_doc[h["doc_id"]]
        assert sum(r["contribution"] for r in rows) == pytest.approx(
            h["score"], rel=1e-9
        )
        # the filter leaf is listed, matched, and contributes nothing
        fl = [r for r in rows if r["leaf"].startswith("F0:range")]
        assert fl and fl[0]["contribution"] == 0.0
        # the boosted must leaf is present on every hit
        assert any(
            r["leaf"].endswith("match:bloloba skimuba") for r in rows
        )


def test_explain_dismax_winner_attribution(spark, dv_index, ref):
    """For a pure dis_max, the winning child's leaf carries its full
    leaf score; the loser is scaled by tie_breaker (checked against
    the independent pandas per-leaf scores)."""
    from data_prepper_spark.index.booltree import bool_tree_explain

    tree = {"dis_max": {
        "queries": [{"match": {"content": "spark"}},
                    {"match": {"content": "merge"}}],
        "tie_breaker": 0.3,
    }}
    hits = bool_tree_search(spark, dv_index, tree, k=5).collect()
    ids = [r["doc_id"] for r in hits]
    exp = bool_tree_explain(spark, dv_index, tree, ids).collect()
    part = ref["part"]
    for d in ids:
        ls = {
            0: sum(part.get((d, t), 0.0) for t in _toks("spark")),
            1: sum(part.get((d, t), 0.0) for t in _toks("merge")),
        }
        present = {i for i in ls if ls[i] > 0}
        win = max(present, key=lambda i: (ls[i], -i))
        want = {}
        for i in present:
            lbl = "match:spark" if i == 0 else "match:merge"
            want[lbl] = ls[i] if i == win else 0.3 * ls[i]
        got = {
            r["leaf"].split(":", 1)[1]: r["contribution"]
            for r in exp if r["doc_id"] == d
        }
        assert set(got) == set(want)
        for lbl in want:
            assert got[lbl] == pytest.approx(want[lbl], rel=1e-9)


def test_explain_doc_api_nonmatching_and_missing(spark, dv_index, ref):
    from data_prepper_spark.index.dsl import explain_doc

    # a doc that can't match (must_not itself) and an absent doc id
    body = {"query": {"bool": {
        "must": [{"match": {"content": "data"}}],
        "must_not": [{"match": {"content": "data"}}],
    }}}
    some = ref["doc_ids"][0]
    out = explain_doc(spark, dv_index, [some, 10**12], body).collect()
    assert len(out) == 2
    for r in out:
        assert r["matched"] is False and r["leaf"] is None


def test_explain_constant_score_and_boosting(spark, dv_index, ref):
    from data_prepper_spark.index.dsl import explain_doc

    body = {"query": {"bool": {"should": [
        {"constant_score": {
            "filter": {"range": {"n_chars": {"gte": 0}}},
            "boost": 1.5,
        }},
        {"boosting": {
            "positive": {"match": {"content": "gunaba"}},
            "negative": {"match": {"content": "dinaba"}},
            "negative_boost": 0.4,
        }},
    ]}}}
    part = ref["part"]
    demoted = [
        d for d in ref["doc_ids"]
        if part.get((d, "gunaba"), 0.0) > 0
        and part.get((d, "dinaba"), 0.0) > 0
    ]
    assert demoted, "fixture should contain a gunaba+dinaba doc"
    d = demoted[0]
    rows = explain_doc(spark, dv_index, [d], body).collect()
    got = {r["leaf"]: r["contribution"] for r in rows}
    const = [v for k, v in got.items() if k.startswith("constant_score")]
    assert const == [1.5]
    pos_c = [v for k, v in got.items() if k.endswith("match:gunaba")]
    want = 0.4 * part[(d, "gunaba")]
    assert pos_c[0] == pytest.approx(want, rel=1e-9)


def test_explain_loud_on_score_replacing_nodes(spark, dv_index, ref):
    from data_prepper_spark.index.booltree import bool_tree_explain

    tree = {"function_score": {
        "query": {"match": {"content": "data"}},
        "functions": [{"weight": 2.0}],
    }}
    with pytest.raises(NotImplementedError, match="fscore"):
        bool_tree_explain(spark, dv_index, tree, [ref["doc_ids"][0]])


def test_dsl_search_explain_routes_tree(spark, dv_index):
    res = search(
        spark, dv_index,
        {"query": EXPLAIN_TREE, "size": 5, "explain": True},
    )
    hits = {r["doc_id"]: r["score"] for r in res.hits.collect()}
    exp = res.explanation.collect()
    assert {r["doc_id"] for r in exp} == set(hits)
    agg = {}
    for r in exp:
        agg[r["doc_id"]] = agg.get(r["doc_id"], 0.0) + r["contribution"]
    for d, s in hits.items():
        assert agg[d] == pytest.approx(s, rel=1e-9)


# ---------------------------------------------------------------------------
# array doc-values (multi-valued keyword fields) + terms_set
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def arr_corpus(spark, fixture_dir, tmp_path_factory):
    """Fixture corpus + a multi-valued keyword column `tags`
    (deterministic: the lang plus a size band, sometimes duplicated
    to exercise per-doc dedup) and a per-doc `required_matches`."""
    d = str(tmp_path_factory.mktemp("arrc"))
    out = os.path.join(d, "corpus.parquet")
    base = spark.read.parquet(
        os.path.join(fixture_dir, "corpus.parquet")
    ).withColumn("n_chars", F.length("content").cast("long"))
    (
        base.withColumn(
            "tags",
            F.when(
                F.col("n_chars") % 3 == 0,
                F.array("lang", F.concat(F.lit("band"),
                                         (F.col("n_chars") / 10000)
                                         .cast("long").cast("string")),
                        F.col("lang")),  # duplicate element on purpose
            ).otherwise(
                F.array("lang", F.concat(F.lit("band"),
                                         (F.col("n_chars") / 10000)
                                         .cast("long").cast("string"))),
            ),
        )
        .withColumn(
            "required_matches", (F.col("n_chars") % 2 + 1).cast("long")
        )
        .write.mode("overwrite").parquet(out)
    )
    return out


@pytest.fixture(scope="module")
def arr_index(spark, arr_corpus, tmp_path_factory):
    from data_prepper_spark.index.build import BuildConfig, build_index
    from data_prepper_spark.index.query import attach_doc_values

    d = str(tmp_path_factory.mktemp("arridx"))
    build_index(spark, arr_corpus, d,
                BuildConfig(n_buckets=8, hot_group_target=2_000))
    attach_doc_values(
        spark, d, arr_corpus,
        cols=("lang", "n_chars", "tags", "required_matches"),
    )
    return d


@pytest.fixture(scope="module")
def arr_ref(arr_corpus):
    corpus = pd.read_parquet(arr_corpus)
    corpus = corpus.assign(doc_id=corpus_doc_ids(corpus))
    return corpus.set_index("doc_id")[
        ["tags", "required_matches", "lang", "n_chars"]
    ]


def _arr_match_set(spark, arr_index, tree) -> set:
    got = bool_tree_search(spark, arr_index, tree, k=10**6).collect()
    return {r["doc_id"] for r in got}


def test_term_and_exists_on_array_docvalues(spark, arr_index, arr_ref):
    got = _arr_match_set(
        spark, arr_index,
        {"bool": {"filter": [{"term": {"tags": "band1"}}]}},
    )
    want = {
        d for d, r in arr_ref.iterrows() if "band1" in list(r["tags"])
    }
    assert got == want and want
    # exists on an array field: every fixture doc has tags
    got = _arr_match_set(
        spark, arr_index,
        {"bool": {"filter": [{"exists": {"field": "tags"}}]}},
    )
    assert got == set(arr_ref.index)


def test_terms_and_prefix_on_array_docvalues(spark, arr_index, arr_ref):
    tree = {"bool": {"filter": [
        {"terms": {"tags": ["band2", "band3"]}}
    ]}}
    got = _arr_match_set(spark, arr_index, tree)
    want = {
        d for d, r in arr_ref.iterrows()
        if {"band2", "band3"} & set(r["tags"])
    }
    assert got == want and want
    tree = {"bool": {"filter": [{"prefix": {"tags": "band"}}]}}
    got = _arr_match_set(spark, arr_index, tree)
    want = {
        d for d, r in arr_ref.iterrows()
        if any(str(t).startswith("band") for t in r["tags"])
    }
    assert got == want and want


def test_terms_set_msm_field(spark, arr_index, arr_ref):
    """CoveringQuery: per-doc minimum from a sidecar field."""
    supplied = ["band0", "band1", "python"]
    tree = {"bool": {"filter": [{"terms_set": {"tags": {
        "terms": supplied,
        "minimum_should_match_field": "required_matches",
    }}}]}}
    got = _arr_match_set(spark, arr_index, tree)
    want = {
        d for d, r in arr_ref.iterrows()
        if len(set(supplied) & set(r["tags"]))
        >= max(1, int(r["required_matches"]))
    }
    assert got == want and want
    # and some doc must actually need 2 matches for the test to bite
    assert any(int(r["required_matches"]) == 2
               for _, r in arr_ref.iterrows())


def test_terms_set_msm_script(spark, arr_index, arr_ref):
    supplied = ["band0", "band1", "python", "go"]
    tree = {"bool": {"filter": [{"terms_set": {"tags": {
        "terms": supplied,
        "minimum_should_match_script": {
            "source": "Math.min(params.num_terms, "
                      "doc['required_matches'].value)",
        },
    }}}]}}
    got = _arr_match_set(spark, arr_index, tree)
    want = {
        d for d, r in arr_ref.iterrows()
        if len(set(supplied) & set(r["tags"]))
        >= max(1, min(len(supplied), int(r["required_matches"])))
    }
    assert got == want and want


def test_terms_set_requires_msm(spark, arr_index):
    with pytest.raises(NotImplementedError, match="minimum_should_match"):
        bool_tree_search(
            spark, arr_index,
            {"bool": {"filter": [
                {"terms_set": {"tags": {"terms": ["band0"]}}}
            ]}},
            k=5,
        ).collect()


def test_terms_agg_over_array_field(spark, arr_index, arr_corpus, arr_ref):
    """terms agg on a multi-valued field: one bucket per distinct
    element per doc (per-doc dedup — the duplicated lang tag counts
    once)."""
    res = search(
        spark, arr_index,
        {"query": {"match_all": {}}, "size": 0,
         "aggs": {"by_tag": {"terms": {"field": "tags", "size": 100}}}},
        corpus_path=arr_corpus,
    )
    got = {
        (r["facet"], r["doc_count"])
        for r in res.aggregations["by_tag"].collect()
    }
    from collections import Counter

    cnt = Counter()
    for _, r in arr_ref.iterrows():
        for t in set(r["tags"]):
            cnt[t] += 1
    assert got == {(t, n) for t, n in cnt.items()}


def test_terms_set_top_level_and_dsl_routing(spark, arr_index, arr_ref):
    body = {"query": {"terms_set": {"tags": {
        "terms": ["band0", "band1", "python"],
        "minimum_should_match_field": "required_matches",
    }}}, "size": 10**6}
    hits = search(spark, arr_index, body).hits.collect()
    got = {r["doc_id"] for r in hits}
    supplied = {"band0", "band1", "python"}
    want = {
        d for d, r in arr_ref.iterrows()
        if len(supplied & set(r["tags"]))
        >= max(1, int(r["required_matches"]))
    }
    assert got == want and all(r["score"] == 0.0 for r in hits)


# ---------------------------------------------------------------------------
# distance_feature / pinned / script / wrapper queries
# ---------------------------------------------------------------------------


def test_distance_feature_numeric_should(spark, dv_index, ref):
    """Numeric distance_feature as the recency-boost should clause:
    score = must BM25 + boost * pivot / (pivot + |n_chars - origin|),
    checked against the pandas per-leaf reference."""
    tree = {"bool": {
        "must": [{"match": {"content": "gunaba"}}],
        "should": [{"distance_feature": {
            "field": "n_chars", "origin": 20000, "pivot": 5000,
            "boost": 2.0,
        }}],
    }}
    got = dict(_engine_hits(spark, dv_index, tree))
    part, meta = ref["part"], ref["meta"]
    want = {}
    for d in ref["doc_ids"]:
        base = part.get((d, "gunaba"), 0.0)
        if base <= 0:
            continue
        nch = float(meta.loc[d, "n_chars"])
        want[d] = round(
            base + 2.0 * 5000.0 / (5000.0 + abs(nch - 20000.0)), 6
        )
    assert got == want and want


def test_pinned_query_order(spark, dv_index, ref):
    from data_prepper_spark.index.dsl import search

    organic = {"match": {"content": "gunaba"}}
    org_hits = bool_tree_search(
        spark, dv_index, organic, k=10
    ).collect()
    org_ids = [r["doc_id"] for r in sorted(org_hits,
                                           key=lambda r: r["rank"])]
    # pin: one organic hit (promoted out of its spot) + one
    # non-matching doc; both must lead, in pin order
    non_match = next(
        d for d in ref["doc_ids"]
        if ref["part"].get((d, "gunaba"), 0.0) == 0
    )
    pins = [org_ids[3], non_match]
    res = search(
        spark, dv_index,
        {"query": {"pinned": {"ids": pins, "organic": organic}},
         "size": 10},
    ).hits.collect()
    ranked = [r["doc_id"] for r in sorted(res, key=lambda r: r["rank"])]
    assert ranked[:2] == pins
    # organic tail keeps its order, minus the promoted doc
    want_tail = [d for d in org_ids if d != org_ids[3]][:8]
    assert ranked[2:] == want_tail


def test_script_query_filters_docvalues(spark, dv_index, ref):
    tree = {"bool": {"filter": [{"script": {"script": {
        "source": "doc['n_chars'].value % 2 == 0",
    }}}]}}
    got = {d for d, _ in _engine_hits(spark, dv_index, tree)}
    want = {
        d for d in ref["doc_ids"]
        if int(ref["meta"].loc[d, "n_chars"]) % 2 == 0
    }
    assert got == want and want
    # params + comparison form
    tree = {"bool": {"filter": [{"script": {"script": {
        "source": "doc['n_chars'].value > params.cut",
        "params": {"cut": 20000},
    }}}]}}
    got = {d for d, _ in _engine_hits(spark, dv_index, tree)}
    want = {
        d for d in ref["doc_ids"]
        if int(ref["meta"].loc[d, "n_chars"]) > 20000
    }
    assert got == want and want


def test_wrapper_query_decodes(spark, dv_index):
    import base64
    import json

    wrapped = {"wrapper": {"query": base64.b64encode(
        json.dumps(NESTED_TREE).encode()
    ).decode()}}
    assert _engine_hits(spark, dv_index, wrapped) == _engine_hits(
        spark, dv_index, NESTED_TREE
    )


def test_stats_family_matrix_scripted_aggs(spark, dv_index, dv_corpus):
    """string_stats (length stats + character entropy),
    median_absolute_deviation, boxplot, matrix_stats (raw power-sum
    moments), and scripted_metric (painless-lite map + algebraic
    reduce) under a top-level range query — every number recomputed
    in pandas/numpy from the same match set."""
    import collections
    import math

    import numpy as np

    body = {
        "query": {"range": {"n_chars": {"gte": 20000}}},
        "aggs": {
            "sstats": {"string_stats": {"field": "lang"}},
            "mad": {"median_absolute_deviation": {"field": "n_chars"}},
            "box": {"boxplot": {"field": "n_chars"}},
            "mx": {"matrix_stats": {"fields": ["n_chars"]}},
            "sq": {"scripted_metric": {
                "map_script":
                    "Math.sqrt(doc['n_chars'].value) + params.c",
                "params": {"c": 2},
                "reduce": "avg",
            }},
        },
    }
    res = search(spark, dv_index, body, corpus_path=dv_corpus)
    pdf = pd.read_parquet(dv_corpus)
    sel = pdf[pdf["n_chars"] >= 20000]

    lens = sel["lang"].str.len()
    (srow,) = res.aggregations["sstats"].collect()
    assert srow["count"] == len(sel)
    assert srow["min_length"] == int(lens.min())
    assert srow["max_length"] == int(lens.max())
    assert srow["avg_length"] == pytest.approx(lens.mean())
    cc = collections.Counter("".join(sel["lang"]))
    t = sum(cc.values())
    ent = -sum(c / t * math.log2(c / t) for c in cc.values())
    assert srow["entropy"] == pytest.approx(ent)

    x = sel["n_chars"].to_numpy(dtype=float)
    med = np.percentile(x, 50)
    (mrow,) = res.aggregations["mad"].collect()
    assert mrow["mad"] == pytest.approx(
        np.percentile(np.abs(x - med), 50)
    )

    (brow,) = res.aggregations["box"].collect()
    assert brow["min_v"] == x.min()
    assert brow["q1"] == pytest.approx(np.percentile(x, 25))
    assert brow["q2"] == pytest.approx(med)
    assert brow["q3"] == pytest.approx(np.percentile(x, 75))
    assert brow["max_v"] == x.max()

    mean = x.mean()
    m2 = ((x - mean) ** 2).mean()
    m3 = ((x - mean) ** 3).mean()
    m4 = ((x - mean) ** 4).mean()
    got = {
        r["stat"]: r["value"]
        for r in res.aggregations["mx"].collect()
    }
    assert got["count"] == len(x)
    assert got["mean"] == pytest.approx(mean)
    assert got["variance"] == pytest.approx(m2, rel=1e-9)
    assert got["skewness"] == pytest.approx(m3 / m2 ** 1.5, rel=1e-6)
    assert got["kurtosis"] == pytest.approx(m4 / m2 ** 2, rel=1e-6)

    (qrow,) = res.aggregations["sq"].collect()
    assert qrow["value"] == pytest.approx((np.sqrt(x) + 2).mean())

    with pytest.raises(NotImplementedError):
        search(
            spark, dv_index,
            {"query": {"match_all": {}},
             "aggs": {"sq": {"scripted_metric": {
                 "map_script": "doc['n_chars'].value",
                 "reduce": "product",
             }}}},
            corpus_path=dv_corpus,
        )


def test_date_ip_geo_distance_range_aggs(
    spark, dv_index, dv_corpus, tmp_path_factory
):
    """date_range / ip_range (incl. CIDR mask) / geo_distance bucket
    aggregations: [from, to) membership, overlapping buckets,
    zero-doc buckets emitted, every count recomputed in pandas from
    the same derived columns."""
    import math
    import os as _os

    from data_prepper_spark.index.query import attach_doc_values

    d = str(tmp_path_factory.mktemp("nrc"))
    out = _os.path.join(d, "corpus.parquet")
    nc = F.col("n_chars")
    (
        spark.read.parquet(dv_corpus)
        .withColumn("mtime", F.timestamp_seconds(
            F.lit(1451606400) + (nc % 2000) * 3600
        ))
        .withColumn("ip", F.concat_ws(
            ".", F.lit("10"), (nc % 200).cast("string"),
            ((nc * 3) % 250).cast("string"),
            ((nc * 7) % 256).cast("string"),
        ))
        .withColumn("loc_lat", (nc % 120 - 60 + F.lit(0.25)).cast("double"))
        .withColumn(
            "loc_lon", ((nc * 7) % 340 - 170 + F.lit(0.5)).cast("double")
        )
        .write.mode("overwrite").parquet(out)
    )
    attach_doc_values(
        spark, dv_index, out,
        cols=("lang", "n_chars", "mtime", "ip", "loc_lat", "loc_lon"),
    )
    res = search(
        spark, dv_index,
        {
            "query": {"range": {"n_chars": {"gte": 20000}}},
            "aggs": {
                "dr": {"date_range": {"field": "mtime", "ranges": [
                    {"to": "2016-01-20"},
                    {"from": "2016-01-20", "to": "2016-02-10"},
                    {"from": "2016-02-10"},
                    {"from": "2099-01-01", "key": "future"},
                ]}},
                "ipr": {"ip_range": {"field": "ip", "ranges": [
                    {"to": "10.100.0.0"},
                    {"from": "10.100.0.0"},
                    {"mask": "10.64.0.0/10"},
                ]}},
                "gd": {"geo_distance": {
                    "field": "loc",
                    "origin": {"lat": 10.25, "lon": 20.5},
                    "unit": "km",
                    "ranges": [{"to": 3000}, {"from": 3000, "to": 9000},
                               {"from": 9000}],
                }},
            },
        },
        corpus_path=out,
    )
    pdf = pd.read_parquet(out)
    sel = pdf[pdf["n_chars"] >= 20000]
    ncv = sel["n_chars"].astype(int)

    ep = 1451606400 + (ncv % 2000) * 3600
    b1, b2 = 1453248000, 1455062400  # 2016-01-20, 2016-02-10 UTC
    dr = {r["key"]: (r["doc_count"], r["bucket_rank"])
          for r in res.aggregations["dr"].collect()}
    assert dr["*-2016-01-20"] == (int((ep < b1).sum()), 0)
    assert dr["2016-01-20-2016-02-10"] == (
        int(((ep >= b1) & (ep < b2)).sum()), 1
    )
    assert dr["2016-02-10-*"] == (int((ep >= b2).sum()), 2)
    assert dr["future"] == (0, 3)  # zero-doc bucket still emitted

    ipv = (
        (10 << 24) + (ncv % 200) * 65536 + ((ncv * 3) % 250) * 256
        + ((ncv * 7) % 256)
    )
    lo = (10 << 24) + (100 << 16)
    ipr = {r["key"]: r["doc_count"]
           for r in res.aggregations["ipr"].collect()}
    assert ipr["*-10.100.0.0"] == int((ipv < lo).sum())
    assert ipr["10.100.0.0-*"] == int((ipv >= lo).sum())
    mask_lo = (10 << 24) + (64 << 16)
    assert ipr["10.64.0.0/10"] == int(
        ((ipv >= mask_lo) & (ipv < mask_lo + (1 << 22))).sum()
    )
    # overlap: the mask bucket double-counts docs also in from/to ones
    assert ipr["*-10.100.0.0"] + ipr["10.100.0.0-*"] == len(sel)

    lat = (ncv % 120 - 60 + 0.25).astype(float)
    lon = ((ncv * 7) % 340 - 170 + 0.5).astype(float)

    def hav(la, lo_):
        dphi = math.radians(la - 10.25)
        dlmb = math.radians(lo_ - 20.5)
        a = (
            math.sin(dphi / 2) ** 2
            + math.cos(math.radians(10.25)) * math.cos(math.radians(la))
            * math.sin(dlmb / 2) ** 2
        )
        return 2 * 6371008.8 * math.asin(math.sqrt(a))

    dists = [hav(la, lo_) for la, lo_ in zip(lat, lon)]
    gd = {r["key"]: r["doc_count"]
          for r in res.aggregations["gd"].collect()}
    assert gd["*-3000"] == sum(1 for x in dists if x < 3e6)
    assert gd["3000-9000"] == sum(1 for x in dists if 3e6 <= x < 9e6)
    assert gd["9000-*"] == sum(1 for x in dists if x >= 9e6)

    # restore the module-scoped sidecar for any later test
    attach_doc_values(spark, dv_index, dv_corpus, cols=("lang", "n_chars"))


def _ref_geohash(lat, lon, p):
    """Independent textbook geohash encoder (midpoint bisection)."""
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    lat_iv, lon_iv = [-90.0, 90.0], [-180.0, 180.0]
    bits, out, even = 0, [], True
    ch = 0
    for _ in range(5 * p):
        iv, v = (lon_iv, lon) if even else (lat_iv, lat)
        mid = (iv[0] + iv[1]) / 2
        ch <<= 1
        if v >= mid:
            ch |= 1
            iv[0] = mid
        else:
            iv[1] = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(b32[ch])
            bits, ch = 0, 0
    return "".join(out)


def test_geohash_grid_and_auto_date_histogram(
    spark, dv_index, dv_corpus, tmp_path_factory
):
    """geohash_grid: native bit-interleaved cell keys match an
    independent textbook encoder (and the classic u4pru example);
    auto_date_histogram: ladder choice + bucket counts recomputed in
    pandas."""
    import math
    import os as _os

    from data_prepper_spark.index.query import attach_doc_values

    assert _ref_geohash(57.64911, 10.40744, 5) == "u4pru"  # known value

    d = str(tmp_path_factory.mktemp("ghc"))
    out = _os.path.join(d, "corpus.parquet")
    nc = F.col("n_chars")
    (
        spark.read.parquet(dv_corpus)
        .withColumn("mtime", F.timestamp_seconds(
            F.lit(1451606400) + (nc % 5000) * 977
        ))
        .withColumn("loc_lat", (nc % 120 - 60 + F.lit(0.25)).cast("double"))
        .withColumn(
            "loc_lon", ((nc * 7) % 340 - 170 + F.lit(0.5)).cast("double")
        )
        .write.mode("overwrite").parquet(out)
    )
    attach_doc_values(
        spark, dv_index, out,
        cols=("lang", "n_chars", "mtime", "loc_lat", "loc_lon"),
    )
    res = search(
        spark, dv_index,
        {
            "query": {"range": {"n_chars": {"gte": 20000}}},
            "aggs": {
                "gh": {"geohash_grid": {"field": "loc", "precision": 4}},
                "auto": {"auto_date_histogram": {
                    "field": "mtime", "buckets": 8,
                }},
            },
        },
        corpus_path=out,
    )
    pdf = pd.read_parquet(out)
    sel = pdf[pdf["n_chars"] >= 20000]
    ncv = sel["n_chars"].astype(int)
    lat = (ncv % 120 - 60 + 0.25).astype(float)
    lon = ((ncv * 7) % 340 - 170 + 0.5).astype(float)
    want = {}
    for la, lo in zip(lat, lon):
        k = _ref_geohash(la, lo, 4)
        want[k] = want.get(k, 0) + 1
    got = {r["key"]: r["doc_count"]
           for r in res.aggregations["gh"].collect()}
    assert got == want
    ranks = [
        (r["bucket_rank"], r["doc_count"], r["key"])
        for r in res.aggregations["gh"].collect()
    ]
    assert sorted(ranks) == sorted(
        ranks, key=lambda t: (t[0],)
    )  # rank follows (count desc, key asc)

    ep = (1451606400 + (ncv % 5000) * 977).astype(float)
    ladder = [1, 5, 10, 30, 60, 300, 600, 1800, 3600, 10800, 43200,
              86400, 604800, 2592000, 7776000, 31536000]
    chosen = next(
        i for i in ladder
        if math.floor(ep.max() / i) - math.floor(ep.min() / i) + 1 <= 8
    )
    rows = res.aggregations["auto"].collect()
    assert all(r["interval_s"] == chosen for r in rows)
    want_h = (ep // chosen * chosen).astype(int).value_counts().to_dict()
    assert {r["key"]: r["doc_count"] for r in rows} == want_h
    assert len(rows) <= 8

    attach_doc_values(spark, dv_index, dv_corpus, cols=("lang", "n_chars"))


def test_sampler_and_diversified_sampler(spark, dv_index, dv_corpus, ref):
    """sampler / diversified_sampler buckets: sub-aggs (terms, avg,
    value_count) computed over the top-shard_size scored docs — the
    cut and the per-value diversity cap recomputed from the
    independent BM25 reference."""
    tree = {"match": {"content": "gunaba"}}
    body = {
        "query": tree,
        "aggs": {
            "smp": {
                "sampler": {"shard_size": 7},
                "aggs": {
                    "langs": {"terms": {"field": "lang"}},
                    "mean": {"avg": {"field": "n_chars"}},
                },
            },
            "div": {
                "diversified_sampler": {
                    "shard_size": 5, "field": "lang",
                    "max_docs_per_value": 2,
                },
                "aggs": {"cnt": {"value_count": {"field": "n_chars"}}},
            },
        },
    }
    res = search(spark, dv_index, body, corpus_path=dv_corpus)
    assert set(res.aggregations) == {"smp.langs", "smp.mean", "div.cnt"}

    # the engine tie-breaks equal scores on the stored identity key
    cpdf = pd.read_parquet(dv_corpus)
    cpdf = cpdf.assign(doc_id=corpus_doc_ids(cpdf))
    idmap = {
        r.doc_id: (r.repo, r.path, r.commit) for r in cpdf.itertuples()
    }
    scored = []
    for d in ref["doc_ids"]:
        ok, s = _eval(tree, d, ref)
        if ok:
            scored.append((d, s))
    assert len(scored) > 7
    meta = ref["meta"]
    top = sorted(scored, key=lambda t: (-t[1], idmap[t[0]]))[:7]
    langs = [meta.loc[d, "lang"] for d, _ in top]
    want_counts = pd.Series(langs).value_counts().to_dict()
    got_counts = {
        r["facet"]: r["doc_count"]
        for r in res.aggregations["smp.langs"].collect()
    }
    assert got_counts == want_counts
    (mrow,) = res.aggregations["smp.mean"].collect()
    want_mean = (
        sum(int(meta.loc[d, "n_chars"]) for d, _ in top) / len(top)
    )
    assert mrow["avg_v"] == pytest.approx(want_mean)

    # diversified: cap 2 per lang FIRST, then top 5 of the survivors
    by_lang = {}
    surv = []
    for d, s in sorted(scored, key=lambda t: (-t[1], idmap[t[0]])):
        lg = meta.loc[d, "lang"]
        if by_lang.get(lg, 0) < 2:
            by_lang[lg] = by_lang.get(lg, 0) + 1
            surv.append((d, s))
    want_n = len(surv[:5])
    (crow,) = res.aggregations["div.cnt"].collect()
    assert crow["n"] == want_n


def test_track_total_hits_min_score_and_indices_boost(
    spark, dv_index, dv_corpus, ref
):
    """track_total_hits (exact full-match-set cardinality on
    DSLResult.total), top-level min_score (score-suffix cutoff), and
    topk_multi boosts (indices_boost analog) — all recomputed from
    the independent reference."""
    tree = {"match": {"content": "gunaba"}}
    scored = []
    for d in ref["doc_ids"]:
        ok, s = _eval(tree, d, ref)
        if ok:
            scored.append((d, s))
    cut = sorted(s for _, s in scored)[len(scored) // 2]

    res = search(
        spark, dv_index,
        {"query": tree, "size": 10**6, "min_score": cut,
         "track_total_hits": True},
        corpus_path=dv_corpus,
    )
    (trow,) = res.total.collect()
    assert trow["total_hits"] == len(scored)
    want_kept = sum(1 for _, s in scored if s >= cut)
    assert res.hits.count() == want_kept
    assert 0 < want_kept < len(scored)

    # track_total_hits under a tree-compiled query reuses the shared
    # match set
    res2 = search(
        spark, dv_index,
        {"query": {"bool": {"filter": [
            {"range": {"n_chars": {"gte": 20000}}}
        ]}}, "track_total_hits": True},
        corpus_path=dv_corpus,
    )
    pdf = pd.read_parquet(dv_corpus)
    (t2,) = res2.total.collect()
    assert t2["total_hits"] == int((pdf["n_chars"] >= 20000).sum())

    from data_prepper_spark.index.query import topk, topk_multi

    q = spark.createDataFrame(
        [(0, "gunaba")], "query_id long, query string"
    )
    plain = topk_multi(spark, [dv_index], q, k=5)
    boosted = topk_multi(spark, [dv_index], q, k=5, boosts={
        os.path.basename(os.path.normpath(dv_index)): 3.0
    })
    pl = {r["doc_id"]: r["score"] for r in plain.collect()}
    bo = {r["doc_id"]: r["score"] for r in boosted.collect()}
    assert set(pl) == set(bo)
    for d in pl:
        assert bo[d] == pytest.approx(3.0 * pl[d])


def test_nested_query_and_nested_agg(
    spark, dv_index, dv_corpus, tmp_path_factory
):
    """nested query (co-occurrence on ONE array<struct> element — the
    semantics flat object mappings cannot express) and nested /
    reverse_nested aggregations, recomputed in pandas from the same
    derived elements."""
    import os as _os

    from data_prepper_spark.index.query import attach_doc_values

    d = str(tmp_path_factory.mktemp("nstc"))
    out = _os.path.join(d, "corpus.parquet")
    nc = F.col("n_chars")
    third = F.when(
        nc % 3 == 0,
        F.struct(
            F.lit("xtra").alias("kind"),
            (nc % 400).cast("long").alias("len"),
        ),
    )
    (
        spark.read.parquet(dv_corpus)
        .withColumn("chunks", F.filter(
            F.array(
                F.struct(F.lit("head").alias("kind"),
                         (nc % 100).cast("long").alias("len")),
                F.struct(F.lit("body").alias("kind"),
                         (nc % 350).cast("long").alias("len")),
                third,
            ),
            lambda x: x.isNotNull(),
        ))
        .write.mode("overwrite").parquet(out)
    )
    attach_doc_values(
        spark, dv_index, out, cols=("lang", "n_chars", "chunks")
    )

    pdf = pd.read_parquet(out)

    def elems(row):
        n = int(row)
        out_e = [("head", n % 100), ("body", n % 350)]
        if n % 3 == 0:
            out_e.append(("xtra", n % 400))
        return out_e

    # nested query: an element that is BOTH kind=xtra AND len>=200 —
    # docs where the conditions hold only across DIFFERENT elements
    # must not match
    res = search(
        spark, dv_index,
        {"query": {"nested": {
            "path": "chunks",
            "query": {"bool": {"must": [
                {"term": {"chunks.kind": "xtra"}},
                {"range": {"chunks.len": {"gte": 200}}},
            ]}},
        }}, "size": 10**6, "track_total_hits": True},
        corpus_path=out,
    )
    want = sum(
        1 for v in pdf["n_chars"]
        if any(k == "xtra" and ln >= 200 for k, ln in elems(v))
    )
    flat_want = sum(
        1 for v in pdf["n_chars"]
        if any(k == "xtra" for k, _ in elems(v))
        and any(ln >= 200 for _, ln in elems(v))
    )
    (trow,) = res.total.collect()
    assert trow["total_hits"] == want
    assert want < flat_want  # the co-occurrence constraint bites

    # nested agg + reverse_nested + element metric under a range query
    res2 = search(
        spark, dv_index,
        {"query": {"range": {"n_chars": {"gte": 20000}}},
         "aggs": {"ch": {
             "nested": {"path": "chunks"},
             "aggs": {
                 "kinds": {"terms": {"field": "chunks.kind"},
                           "aggs": {"parents": {"reverse_nested": {}}}},
                 "mean_len": {"avg": {"field": "chunks.len"}},
             },
         }}},
        corpus_path=out,
    )
    sel = pdf[pdf["n_chars"] >= 20000]["n_chars"]
    all_elems = [e for v in sel for e in elems(v)]
    want_counts = pd.Series([k for k, _ in all_elems]).value_counts()
    got = {r["key"]: (r["doc_count"], r["parent_count"])
           for r in res2.aggregations["ch.kinds"].collect()}
    for k, (dc, pc) in got.items():
        assert dc == int(want_counts[k])
    assert got["head"][1] == len(sel)  # every doc has a head element
    assert got["xtra"][1] == sum(1 for v in sel if v % 3 == 0)
    (mrow,) = res2.aggregations["ch.mean_len"].collect()
    assert mrow["value"] == pytest.approx(
        sum(ln for _, ln in all_elems) / len(all_elems)
    )

    attach_doc_values(spark, dv_index, dv_corpus, cols=("lang", "n_chars"))


def test_normalize_moving_percentiles_and_sibling_stats(
    spark, dv_index, dv_corpus
):
    """normalize (rescale_0_1 / percent_of_sum) + moving_percentiles
    parent pipes and extended_stats_bucket / percentiles_bucket
    sibling pipes — all recomputed in pandas over the same bucket
    frame."""
    import numpy as np

    body = {
        "query": {"range": {"n_chars": {"gte": 15000}}},
        "aggs": {
            "hist": {
                "histogram": {"field": "n_chars", "interval": 5000},
                "aggs": {
                    "pct": {"normalize": {
                        "buckets_path": "_count",
                        "method": "percent_of_sum",
                    }},
                    "r01": {"normalize": {
                        "buckets_path": "_count",
                        "method": "rescale_0_1",
                    }},
                    "mp": {"moving_percentiles": {
                        "buckets_path": "_count", "window": 3,
                        "percent": 50.0,
                    }},
                },
            },
            "xs": {"extended_stats_bucket": {
                "buckets_path": "hist>_count",
            }},
            "pb": {"percentiles_bucket": {
                "buckets_path": "hist>_count",
                "percents": [25, 50, 75],
            }},
        },
    }
    res = search(spark, dv_index, body, corpus_path=dv_corpus)
    pdf = pd.read_parquet(dv_corpus)
    sel = pdf[pdf["n_chars"] >= 15000]["n_chars"]
    counts = (
        (sel // 5000 * 5000).value_counts().sort_index()
    )
    c = counts.to_numpy(dtype=float)
    rows = sorted(
        res.aggregations["hist"].collect(), key=lambda r: r["key"]
    )
    assert [r["doc_count"] for r in rows] == [int(x) for x in c]
    for i, r in enumerate(rows):
        assert r["pct"] == pytest.approx(c[i] / c.sum())
        assert r["r01"] == pytest.approx(
            (c[i] - c.min()) / (c.max() - c.min())
        )
        if i == 0:
            assert r["mp"] is None
        else:
            lo = max(0, i - 3)
            assert r["mp"] == pytest.approx(
                float(np.percentile(c[lo:i], 50))
            )
    (xs,) = res.aggregations["xs"].collect()
    assert xs["n"] == len(c)
    assert xs["variance"] == pytest.approx(c.var(), rel=1e-9)
    assert xs["std_dev"] == pytest.approx(c.std(), rel=1e-9)
    pb = {r["percent"]: r["value"]
          for r in res.aggregations["pb"].collect()}
    for p in (25.0, 50.0, 75.0):
        assert pb[p] == pytest.approx(float(np.percentile(c, p)))


def test_runtime_mappings(spark, dv_index, dv_corpus):
    """runtime_mappings: per-query derived fields compiled onto the
    doc-values sidecar — range filter leaves inside a bool tree, a
    top-level filter query, and metric/histogram/percentiles aggs,
    all recomputed in pandas from the same expression."""
    import numpy as np

    rt = {
        "chars_k": {
            "type": "double",
            "script": {
                "source": "emit(doc['n_chars'].value / params.d)",
                "params": {"d": 1000.0},
            },
        },
    }
    pdf = pd.read_parquet(dv_corpus)
    ck = pdf["n_chars"].to_numpy(dtype=float) / 1000.0

    res = search(
        spark, dv_index,
        {"query": {"range": {"chars_k": {"gte": 20.0, "lt": 40.0}}},
         "runtime_mappings": rt, "size": 0, "track_total_hits": True},
        corpus_path=dv_corpus,
    )
    (trow,) = res.total.collect()
    assert trow["total_hits"] == int(((ck >= 20.0) & (ck < 40.0)).sum())

    res2 = search(
        spark, dv_index,
        {"query": {"bool": {"must": [
            {"match": {"content": "gunaba"}},
        ], "filter": [
            {"range": {"chars_k": {"gte": 5.0}}},
        ]}},
         "runtime_mappings": rt, "size": 10**6},
        corpus_path=dv_corpus,
    )
    assert res2.hits.count() > 0  # the leaf compiled inside the tree

    res3 = search(
        spark, dv_index,
        {"query": {"range": {"n_chars": {"gte": 20000}}},
         "runtime_mappings": rt,
         "aggs": {
             "st": {"stats": {"field": "chars_k"}},
             "h": {"histogram": {"field": "chars_k", "interval": 5.0}},
             "p": {"percentiles": {"field": "chars_k",
                                   "percents": [50.0]}},
         }},
        corpus_path=dv_corpus,
    )
    sel = ck[pdf["n_chars"].to_numpy() >= 20000]
    (st,) = res3.aggregations["st"].collect()
    assert st["n"] == len(sel)
    assert st["avg_v"] == pytest.approx(sel.mean())
    assert st["min_v"] == pytest.approx(sel.min())
    hist = {r["key"]: r["doc_count"]
            for r in res3.aggregations["h"].collect()}
    want = pd.Series(np.floor(sel / 5.0) * 5.0).value_counts().to_dict()
    assert hist == want
    (prow,) = res3.aggregations["p"].collect()
    assert prow["p50"] == pytest.approx(float(np.percentile(sel, 50)))

    with pytest.raises(NotImplementedError):
        search(
            spark, dv_index,
            {"query": {"range": {"n_chars": {"gte": 20000}}},
             "runtime_mappings": rt,
             "aggs": {"c": {"cardinality": {"field": "chars_k"}}}},
            corpus_path=dv_corpus,
        )


def test_script_fields_and_terms_lookup(spark, dv_index, dv_corpus):
    """script_fields (per-hit derived values via the runtime-field
    compiler) and the terms-lookup rewrite (values fetched from
    another doc, driver-side GET then literal leaf)."""
    res = search(
        spark, dv_index,
        {"query": {"match": {"content": "gunaba"}},
         "script_fields": {
             "half": {"script": {
                 "source": "emit(doc['n_chars'].value / 2)",
             }},
         }},
        corpus_path=dv_corpus,
    )
    pdf = pd.read_parquet(dv_corpus)
    byid = dict(zip(pdf["path"], pdf["content"].str.len()))
    ident = {
        r["doc_id"]: r["path"]
        for r in spark.read.parquet(
            os.path.join(dv_index, "docs")
        ).select("doc_id", "path").collect()
    }
    rows = res.hits.collect()
    assert rows and all(
        r["half"] == pytest.approx(byid[ident[r["doc_id"]]] / 2)
        for r in rows
    )

    # terms lookup: use the dv_index itself as the lookup index — the
    # doc's `lang` value becomes the terms list
    some = spark.read.parquet(
        os.path.join(dv_index, "docs")
    ).select("doc_id", "ord").limit(1).collect()[0]
    dvpdf = spark.read.parquet(
        os.path.join(dv_index, "docvalues")
    ).where(F.col("ord") == some["ord"]).collect()[0]
    res2 = search(
        spark, dv_index,
        {"query": {"terms": {"lang": {
            "index": dv_index, "id": int(some["doc_id"]),
            "path": "lang",
        }}}, "size": 10**6, "track_total_hits": True},
        corpus_path=dv_corpus,
    )
    (t,) = res2.total.collect()
    assert t["total_hits"] == int(
        (pdf["lang"] == dvpdf["lang"]).sum()
    )


def test_cardinality_and_cumulative_cardinality_under_histogram(
    spark, dv_index, dv_corpus
):
    """per-bucket cardinality + cumulative_cardinality (exact running
    distinct via first-seen-bucket debuts) under a histogram,
    recomputed in pandas."""
    res = search(
        spark, dv_index,
        {"query": {"range": {"n_chars": {"gte": 15000}}},
         "aggs": {"hist": {
             "histogram": {"field": "n_chars", "interval": 10000},
             "aggs": {
                 "langs": {"cardinality": {"field": "lang"}},
                 "cum": {"cumulative_cardinality": {
                     "buckets_path": "langs",
                 }},
             },
         }}},
        corpus_path=dv_corpus,
    )
    pdf = pd.read_parquet(dv_corpus)
    sel = pdf[pdf["n_chars"] >= 15000].copy()
    sel["key"] = sel["n_chars"] // 10000 * 10000
    rows = sorted(
        res.aggregations["hist"].collect(), key=lambda r: r["key"]
    )
    seen: set = set()
    for r in rows:
        grp = sel[sel["key"] == r["key"]]
        assert r["langs"] == grp["lang"].nunique()
        seen |= set(grp["lang"])
        assert r["cum"] == len(seen)
    assert rows[-1]["cum"] == sel["lang"].nunique()


def test_collapse_inner_hits(spark, dv_index, dv_corpus, ref):
    """collapse + inner_hits: each collapsed group on the returned
    page carries its own top-`size` hits, recomputed from the
    independent BM25 reference."""
    tree = {"match": {"content": "gunaba"}}
    res = search(
        spark, dv_index,
        {"query": tree,
         "collapse": {"field": "lang", "inner_hits": {"size": 2}}},
        corpus_path=dv_corpus,
    )
    page_groups = {r["lang"] for r in res.hits.collect()}
    ih = res.inner_hits.collect()
    assert {r["lang"] for r in ih} <= page_groups
    scored = []
    for d in ref["doc_ids"]:
        ok, s = _eval(tree, d, ref)
        if ok:
            scored.append((d, s))
    meta = ref["meta"]
    for lg in page_groups:
        grp = sorted(
            ((s, d) for d, s in scored if meta.loc[d, "lang"] == lg),
            key=lambda t: (-t[0], t[1]),
        )
        got = sorted(
            (r["hit_rank"], round(r["score"], 6))
            for r in ih if r["lang"] == lg
        )
        want = [
            (i + 1, round(s, 6)) for i, (s, _) in enumerate(grp[:2])
        ]
        assert got == want
        assert all(
            r["doc_count"] == len(grp) for r in ih if r["lang"] == lg
        )


def test_variable_width_histogram(spark, dv_index, dv_corpus):
    """variable_width_histogram (deterministic equal-frequency
    variant): quantile boundaries + strict-below assignment,
    recomputed in numpy."""
    import numpy as np

    res = search(
        spark, dv_index,
        {"query": {"range": {"n_chars": {"gte": 15000}}},
         "aggs": {"vw": {"variable_width_histogram": {
             "field": "n_chars", "buckets": 4,
         }}}},
        corpus_path=dv_corpus,
    )
    pdf = pd.read_parquet(dv_corpus)
    x = pdf[pdf["n_chars"] >= 15000]["n_chars"].to_numpy(dtype=float)
    bnds = [round(float(np.percentile(x, 100 * i / 4)), 9)
            for i in (1, 2, 3)]
    want: dict = {}
    for v in x:
        b = sum(1 for q in bnds if q < v)
        mn, mx, sm, n = want.get(b, (v, v, 0.0, 0))
        want[b] = (min(mn, v), max(mx, v), sm + v, n + 1)
    rows = {r["bucket"]: r for r in res.aggregations["vw"].collect()}
    assert set(rows) == set(want)
    total = 0
    for b, (mn, mx, sm, n) in want.items():
        r = rows[b]
        assert (r["min_v"], r["max_v"], r["doc_count"]) == (mn, mx, n)
        assert r["avg_v"] == pytest.approx(sm / n)
        total += n
    assert total == len(x)
    # roughly equal-frequency
    counts = [r["doc_count"] for r in rows.values()]
    assert max(counts) <= 2 * min(counts) + len(x) // 4


def test_histogram_offset_terms_missing_keyed_ranges(
    spark, dv_index, dv_corpus, tmp_path_factory
):
    """histogram `offset`, terms-agg `missing` param (and the
    missing-docs-skipped default), and keyed overlapping numeric
    `range` buckets — recomputed in pandas."""
    import os as _os

    from data_prepper_spark.index.query import attach_doc_values

    # corpus with a nullable keyword column
    d = str(tmp_path_factory.mktemp("mk"))
    out = _os.path.join(d, "corpus.parquet")
    (
        spark.read.parquet(dv_corpus)
        .withColumn("team", F.when(
            F.col("n_chars") % 3 == 0, F.concat(
                F.lit("t"), (F.col("n_chars") % 2).cast("string")
            )
        ))
        .write.mode("overwrite").parquet(out)
    )
    attach_doc_values(
        spark, dv_index, out, cols=("lang", "n_chars", "team")
    )
    res = search(
        spark, dv_index,
        {"query": {"range": {"n_chars": {"gte": 15000}}},
         "aggs": {
             "h": {"histogram": {"field": "n_chars",
                                 "interval": 10000,
                                 "offset": 2500}},
             "tm": {"terms": {"field": "team", "missing": "none"}},
             "ts": {"terms": {"field": "team"}},
             "r": {"range": {"field": "n_chars", "ranges": [
                 {"to": 30000, "key": "small"},
                 {"from": 20000, "key": "big"},
                 {"from": 25000, "to": 26000, "key": "mid"},
             ]}},
         }},
        corpus_path=out,
    )
    pdf = pd.read_parquet(out)
    sel = pdf[pdf["n_chars"] >= 15000]
    nc = sel["n_chars"].astype(int)

    hist = {r["key"]: r["doc_count"]
            for r in res.aggregations["h"].collect()}
    want = ((nc - 2500) // 10000 * 10000 + 2500).astype(
        float
    ).value_counts().to_dict()
    assert hist == want

    tm = {r["facet"]: r["doc_count"]
          for r in res.aggregations["tm"].collect()}
    teams = sel["team"]
    assert tm["none"] == int(teams.isna().sum())
    for t in ("t0", "t1"):
        if (teams == t).any():
            assert tm[t] == int((teams == t).sum())
    ts = {r["facet"]: r["doc_count"]
          for r in res.aggregations["ts"].collect()}
    assert None not in ts and sum(ts.values()) == int(teams.notna().sum())

    rr = {r["key"]: r["doc_count"]
          for r in res.aggregations["r"].collect()}
    assert rr["small"] == int((nc < 30000).sum())
    assert rr["big"] == int((nc >= 20000).sum())
    assert rr["mid"] == int(((nc >= 25000) & (nc < 26000)).sum())
    assert rr["small"] + rr["big"] >= len(sel)  # overlap double-counts

    attach_doc_values(spark, dv_index, dv_corpus, cols=("lang", "n_chars"))


def test_function_score_decay_random(spark, dv_index, ref):
    """function_score decay functions (gauss/exp/linear over the
    doc-values column), max_boost capping, min_score exclusion —
    scores match the independent pandas reference; random_score is
    deterministic, in [0,1), and seed-sensitive."""
    for dk in ("gauss", "exp", "linear"):
        tree = {"function_score": {
            "query": {"match": {"content": "gunaba"}},
            "functions": [
                {dk: {"n_chars": {
                    "origin": 300, "scale": 150,
                    "offset": 20, "decay": 0.4,
                }}},
            ],
            "boost_mode": "multiply",
        }}
        want = _ref_hits(tree, ref)
        got = _engine_hits(spark, dv_index, tree)
        assert len(got) == len(want) > 3, dk
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gd == wd and gs == pytest.approx(ws, abs=2e-6), dk

    # max_boost caps the fold; min_score drops low finals
    tree = {"function_score": {
        "query": {"match": {"content": "gunaba"}},
        "functions": [
            {"field_value_factor": {"field": "n_chars",
                                    "factor": 0.05}},
        ],
        "score_mode": "sum", "boost_mode": "multiply",
        "max_boost": 4.0, "min_score": 3.0,
    }}
    want = _ref_hits(tree, ref)
    got = _engine_hits(spark, dv_index, tree)
    assert got and len(got) == len(want)
    base = _ref_hits({"match": {"content": "gunaba"}}, ref)
    assert len(got) < len(base)  # min_score actually excluded docs
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd and gs == pytest.approx(ws, abs=2e-6)

    # random_score: deterministic per seed, varies across docs,
    # [0,1) range, replace mode exposes the raw value
    tree = {"function_score": {
        "query": {"match": {"content": "gunaba"}},
        "functions": [{"random_score": {"seed": 7}}],
        "boost_mode": "replace",
    }}
    got1 = _engine_hits(spark, dv_index, tree)
    got2 = _engine_hits(spark, dv_index, tree)
    assert got1 == got2  # rerun-stable
    scores = [s for _, s in got1]
    assert all(0.0 <= s < 1.0 for s in scores)
    assert len(set(scores)) > 1
    tree["function_score"]["functions"] = [{"random_score": {"seed": 8}}]
    got3 = _engine_hits(spark, dv_index, tree)
    assert got3 != got1  # seed-sensitive


def test_geo_shape_query(spark, dv_index, dv_corpus, tmp_path):
    """geo_shape over point doc-values: envelope == the equivalent
    bounding box; polygon (with a hole) via literal-edge ray casting
    matches a pure-Python point-in-polygon replay; multipolygon and
    the disjoint relation honored."""
    import os

    from data_prepper_spark.index.dsl import search
    from data_prepper_spark.index.query import attach_doc_values

    pdf = pd.read_parquet(dv_corpus)
    pdf["loc_lat"] = (pdf.n_chars % 120 - 60 + 0.25).astype(float)
    pdf["loc_lon"] = ((pdf.n_chars * 7) % 340 - 170 + 0.5).astype(float)
    gpath = str(tmp_path / "geo.parquet")
    pdf.to_parquet(gpath)
    # superset attach so the module's other tests keep lang/n_chars
    attach_doc_values(
        spark, dv_index, gpath,
        cols=("lang", "n_chars", "loc_lat", "loc_lon"),
    )
    pts = pdf.set_index("path")[["loc_lat", "loc_lon"]]

    def got_for(shape, relation="intersects"):
        res = search(spark, dv_index, {
            "query": {"geo_shape": {"loc": {
                "shape": shape, "relation": relation,
            }}},
            "size": 100_000,
        })
        return {r.path for r in res.hits.collect()}

    def ray_inside(rings, x, y):
        inside = False
        for ring in rings:
            p = [(float(a), float(b)) for a, b in ring]
            for (x1, y1), (x2, y2) in zip(p, p[1:]):
                if y1 == y2:
                    continue
                if (y1 > y) != (y2 > y) and x < x1 + (y - y1) * (
                    x2 - x1
                ) / (y2 - y1):
                    inside = not inside
        return inside

    # envelope == bounding box
    env = {"type": "envelope", "coordinates": [[-60, 40], [80, -20]]}
    got = got_for(env)
    want = {
        p for p, r in pts.iterrows()
        if -20 <= r.loc_lat <= 40 and -60 <= r.loc_lon <= 80
    }
    assert got == want and want

    # polygon with a hole
    outer = [[-100, -50], [100, -50], [100, 50], [-100, 50],
             [-100, -50]]
    hole = [[-20, -10], [20, -10], [20, 10], [-20, 10], [-20, -10]]
    poly = {"type": "polygon", "coordinates": [outer, hole]}
    got = got_for(poly)
    want = {
        p for p, r in pts.iterrows()
        if ray_inside([outer, hole], r.loc_lon, r.loc_lat)
    }
    assert got == want and want

    # disjoint = complement (within the non-null coord set)
    got_d = got_for(poly, relation="disjoint")
    assert got_d == set(pts.index) - want

    # multipolygon: union of two disjoint boxes
    b1 = [[[-170, -60], [-50, -60], [-50, 0], [-170, 0], [-170, -60]]]
    b2 = [[[30, 10], [160, 10], [160, 58], [30, 58], [30, 10]]]
    mp = {"type": "multipolygon", "coordinates": [b1, b2]}
    got = got_for(mp)
    want = {
        p for p, r in pts.iterrows()
        if ray_inside(b1, r.loc_lon, r.loc_lat)
        or ray_inside(b2, r.loc_lon, r.loc_lat)
    }
    assert got == want and want

    with pytest.raises(NotImplementedError, match="relation"):
        got_for(env, relation="contains")


def test_moving_avg_models(spark, dv_index, dv_corpus):
    """legacy moving_avg pipeline: simple / linear / ewma / holt over
    the shift-0 window (partial windows compute; first bucket NULL) —
    each model replayed in pure Python on the collected counts."""
    body = {
        "query": {"match": {"content": "gunaba"}},
        "aggs": {"hist": {
            "histogram": {"field": "n_chars", "interval": 2000},
            "aggs": {
                "ma_s": {"moving_avg": {
                    "buckets_path": "_count", "window": 3,
                }},
                "ma_l": {"moving_avg": {
                    "buckets_path": "_count", "window": 3,
                    "model": "linear",
                }},
                "ma_e": {"moving_avg": {
                    "buckets_path": "_count", "window": 4,
                    "model": "ewma", "settings": {"alpha": 0.4},
                }},
                "ma_h": {"moving_avg": {
                    "buckets_path": "_count", "window": 4,
                    "model": "holt",
                    "settings": {"alpha": 0.5, "beta": 0.2},
                }},
            },
        }},
    }
    res = search(spark, dv_index, body, corpus_path=dv_corpus)
    hist = res.aggregations["hist"].orderBy("key").collect()
    assert len(hist) >= 5
    counts = [float(r.doc_count) for r in hist]

    def ewma(vs, a):
        acc = vs[0]
        for v in vs[1:]:
            acc = a * v + (1 - a) * acc
        return acc

    def holt(vs, a, b):
        s = vs[0]
        t = (vs[1] - vs[0]) if len(vs) >= 2 else 0.0
        for v in vs[1:]:
            s_new = a * v + (1 - a) * (s + t)
            t = b * (s_new - s) + (1 - b) * t
            s = s_new
        return s

    for i, r in enumerate(hist):
        if i == 0:
            assert r.ma_s is None and r.ma_l is None
            assert r.ma_e is None and r.ma_h is None
            continue
        w3 = counts[max(0, i - 3):i]
        w4 = counts[max(0, i - 4):i]
        n = len(w3)
        assert r.ma_s == pytest.approx(sum(w3) / n)
        lin = sum(v * (j + 1) for j, v in enumerate(w3)) / (
            n * (n + 1) / 2
        )
        assert r.ma_l == pytest.approx(lin)
        assert r.ma_e == pytest.approx(ewma(w4, 0.4))
        assert r.ma_h == pytest.approx(holt(w4, 0.5, 0.2))

    for bad in (
        {"model": "holt_winters"},
        {"predict": 3},
    ):
        body_bad = {
            "query": {"match": {"content": "gunaba"}},
            "aggs": {"hist": {
                "histogram": {"field": "n_chars", "interval": 2000},
                "aggs": {"x": {"moving_avg": {
                    "buckets_path": "_count", "window": 3, **bad,
                }}},
            }},
        }
        with pytest.raises(NotImplementedError):
            search(spark, dv_index, body_bad, corpus_path=dv_corpus)


def test_ks_test_bucket_count_mismatch_fails(spark):
    """bucket_count_ks_test needs one fraction per bucket; a parent
    with more (or fewer) buckets used to drop the extra buckets from
    the CDF silently. It now fails, naming the aggregation and both
    counts."""
    from data_prepper_spark.index.aggs import sibling_bucket_metric

    buckets = spark.createDataFrame(
        [(0, k, c) for k, c in enumerate([5, 3, 2])],
        "query_id long, key long, doc_count long",
    )
    conf = {"buckets_path": "hist>_count", "fractions": [0.5, 0.5]}
    with pytest.raises(
        ValueError,
        match=r"bucket_count_ks_test over 'hist>_count': 3 buckets but 2",
    ):
        sibling_bucket_metric(buckets, "bucket_count_ks_test", "doc_count", conf)
    conf["fractions"] = [0.5, 0.3, 0.2]  # one per bucket: accepted
    got = sibling_bucket_metric(
        buckets, "bucket_count_ks_test", "doc_count", conf
    ).collect()
    assert got[0].d_stat == pytest.approx(0.0)


def test_ks_test_and_bucket_correlation(spark, dv_index, dv_corpus):
    """bucket_count_ks_test + bucket_correlation siblings (the
    ml-commons pipeline pair) over a histogram parent — D statistics,
    Kolmogorov p-values, and Pearson r replayed in numpy on the
    collected bucket counts."""
    import math

    import numpy as np

    hist_body = {
        "query": {"match": {"content": "gunaba"}},
        "aggs": {"hist": {
            "histogram": {"field": "n_chars", "interval": 2000},
        }},
    }
    base = search(spark, dv_index, hist_body, corpus_path=dv_corpus)
    counts = [
        float(r.doc_count)
        for r in base.aggregations["hist"].orderBy("key").collect()
    ]
    nb = len(counts)
    assert nb >= 4
    fracs = [1.0 / nb] * nb  # uniform expectation
    expect_curve = list(np.linspace(1.0, 2.0, nb))

    body = {
        "query": {"match": {"content": "gunaba"}},
        "aggs": {
            "hist": {"histogram": {
                "field": "n_chars", "interval": 2000,
            }},
            "ks": {"bucket_count_ks_test": {
                "buckets_path": "hist>_count",
                "fractions": fracs,
                "alternative": ["two_sided", "less", "greater"],
            }},
            "corr": {"bucket_correlation": {
                "buckets_path": "hist>_count",
                "function": {"count_correlation": {"indicator": {
                    "expectations": expect_curve,
                }}},
            }},
        },
    }
    res = search(spark, dv_index, body, corpus_path=dv_corpus)
    ks = {
        r.alternative: (r.d_stat, r.p_value)
        for r in res.aggregations["ks"].collect()
    }
    n = sum(counts)
    ecdf = np.cumsum(counts) / n
    cdf = np.cumsum(fracs)
    d_two = float(np.max(np.abs(ecdf - cdf)))
    d_less = float(np.max(cdf - ecdf))
    d_greater = float(np.max(ecdf - cdf))
    assert ks["two_sided"][0] == pytest.approx(d_two)
    assert ks["less"][0] == pytest.approx(d_less)
    assert ks["greater"][0] == pytest.approx(d_greater)
    series = sum(
        (-1) ** (j - 1) * math.exp(-2 * j * j * n * d_two * d_two)
        for j in range(1, 101)
    )
    assert ks["two_sided"][1] == pytest.approx(
        min(1.0, max(0.0, 2 * series))
    )
    assert ks["less"][1] == pytest.approx(
        math.exp(-2 * n * d_less * d_less)
    )
    r = res.aggregations["corr"].collect()[0].value
    assert r == pytest.approx(
        float(np.corrcoef(counts, expect_curve)[0, 1])
    )
    # missing expectations raise
    bad = dict(body)
    bad["aggs"] = {
        "hist": body["aggs"]["hist"],
        "corr": {"bucket_correlation": {
            "buckets_path": "hist>_count",
        }},
    }
    with pytest.raises(ValueError, match="expectations"):
        search(spark, dv_index, bad, corpus_path=dv_corpus)
