"""OpenSearch Query-DSL compiler (index/dsl.py): every routed clause
must produce IDENTICAL results to the direct executor call."""

from __future__ import annotations

import os

import pytest

from data_prepper_spark.index import query as q
from data_prepper_spark.index.dsl import search


def _rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.fixture(scope="module")
def corpus_path(fixture_dir):
    return os.path.join(fixture_dir, "corpus.parquet")


def test_match_routes_to_topk(spark, index_dir):
    body = {"query": {"match": {"content": "class"}}, "size": 5}
    got = search(spark, index_dir, body).hits
    want = q.topk(
        spark, index_dir,
        spark.createDataFrame(
            [(0, "class")], "query_id long, query string"
        ),
        k=5,
    )
    r = _rows(got)
    assert r == _rows(want) and len(r) == 5  # non-trivial match set


def test_term_and_field_dict_form(spark, index_dir):
    a = search(
        spark, index_dir, {"query": {"term": {"content": "def"}}}
    ).hits
    b = search(
        spark, index_dir,
        {"query": {"match": {"content": {"query": "def"}}}},
    ).hits
    ra = _rows(a)
    assert ra == _rows(b) and ra


def test_match_phrase_exact_and_slop(spark, index_dir, corpus_path, corpus_pdf):
    import pandas as pd

    from data_prepper_spark.index.positions import build_positions
    from data_prepper_spark.tokenizer import tokenize_series

    toks = tokenize_series(pd.Series([corpus_pdf.iloc[0].content])).iloc[0]
    phrase = " ".join(toks[10:12])
    body = {
        "query": {"match_phrase": {"content": phrase}},
        "size": 5,
    }
    got = search(spark, index_dir, body, corpus_path=corpus_path).hits
    want = q.phrase_search(
        spark, index_dir, corpus_path,
        spark.createDataFrame(
            [(0, phrase)], "query_id long, phrase string"
        ),
        k=5,
    )
    r = _rows(got)
    assert r == _rows(want) and r

    if not os.path.isdir(os.path.join(index_dir, "positions")):
        build_positions(spark, corpus_path, index_dir)
    sl = search(
        spark, index_dir,
        {"query": {"match_phrase": {"content": {
            "query": phrase, "slop": 2}}}},
    ).hits
    assert "min_cost" in sl.columns  # routed to the sloppy engine
    assert sl.count() > 0


def test_bool_and_sqs(spark, index_dir, corpus_pdf):
    """bool and simple_query_string bodies land on the independent
    pandas reference (tests/bool_reference.py) over the full match
    set."""
    from pyspark.sql import functions as F

    from bool_reference import _ref_hits, build_ref

    ref = build_ref(corpus_pdf)

    def hits(body):
        got = search(spark, index_dir, {**body, "size": 10**6}).hits
        return sorted(
            (r["doc_id"], r["s"])
            for r in got.select(
                "doc_id", F.round("score", 6).alias("s")
            ).collect()
        )

    tree = {"bool": {
        "must": [{"match": {"content": "class"}}],
        "should": [{"term": {"content": "def"}}],
        "must_not": [{"term": {"content": "qqqqnope"}}],
    }}
    want = _ref_hits(tree, ref)
    assert want and hits({"query": tree}) == want

    sqs = {"simple_query_string": {"query": "+class bloloba -guguba"}}
    want = _ref_hits({"bool": {
        "must": [{"match": {"content": "class"}}],
        "should": [{"match": {"content": "bloloba"}}],
        "must_not": [{"match": {"content": "guguba"}}],
    }}, ref)
    assert want and hits({"query": sqs}) == want


def test_expansion_clauses(spark, index_dir):
    for kind in ("prefix", "fuzzy", "wildcard", "regexp"):
        pat = {
            "prefix": "cla",
            "fuzzy": "clasx",
            "wildcard": "cla*",
            "regexp": "cla.*s",
        }[kind]
        got = search(
            spark, index_dir, {"query": {kind: {"content": pat}}}
        ).hits
        want = q.expanded_search(
            spark, index_dir,
            spark.createDataFrame(
                [(0, pat)], "query_id long, pattern string"
            ),
            match=kind, k=10,
        )
        r = _rows(got)
        assert r == _rows(want) and r, kind


def test_aggs_and_collapse(spark, index_dir, corpus_path):
    body = {
        "query": {"match": {"content": "class"}},
        "aggs": {
            "by_lang": {"terms": {"field": "lang"}},
            "nlangs": {"cardinality": {"field": "lang"}},
            "sig": {"significant_terms": {"size": 5}},
            "top_by_lang": {
                "terms": {"field": "lang"},
                "aggs": {"best": {"top_hits": {"size": 2}}},
            },
        },
    }
    res = search(spark, index_dir, body, corpus_path=corpus_path)
    assert set(res.aggregations) == {
        "by_lang", "nlangs", "sig", "top_by_lang"
    }
    mq = spark.createDataFrame(
        [(0, "class")], "query_id long, query string"
    )
    assert _rows(res.aggregations["by_lang"]) == _rows(
        q.faceted_search(spark, index_dir, corpus_path, mq, "lang")
    )
    assert _rows(res.aggregations["nlangs"]) == _rows(
        q.cardinality_facet(spark, index_dir, corpus_path, mq, "lang")
    )
    assert res.aggregations["top_by_lang"].columns[1] == "lang"

    col = search(
        spark, index_dir,
        {"query": {"match": {"content": "class"}},
         "collapse": {"field": "lang"}},
        corpus_path=corpus_path,
    ).hits
    assert _rows(col) == _rows(
        q.collapse_search(
            spark, index_dir, corpus_path, mq, field="lang", k=10
        )
    )


def test_search_after_and_errors(spark, index_dir):
    first = sorted(
        search(
            spark, index_dir,
            {"query": {"match": {"content": "class"}}, "size": 5},
        ).hits.collect(),
        key=lambda r: r["rank"],
    )
    # cursor at the last rank that CLOSES its score-tie group (the
    # topk_after contract: after_doc is an engine-ordinal tie-break,
    # so a mid-tie cursor is only meaningful in ordinal space)
    ci = max(
        i for i in range(len(first) - 1)
        if first[i]["score"] != first[i + 1]["score"]
    )
    cursor = first[ci]
    page2 = search(
        spark, index_dir,
        {"query": {"match": {"content": "class"}}, "size": 3,
         "search_after": [cursor["score"], cursor["doc_id"]]},
    ).hits.collect()
    seen = {r["doc_id"] for r in first[: ci + 1]}
    assert page2 and all(r["doc_id"] not in seen for r in page2)

    with pytest.raises(NotImplementedError, match="intervals"):
        search(
            spark, index_dir,
            {"query": {"intervals": {"content": {"fuzzy": {}}}}},
        )
    with pytest.raises(ValueError, match="span_near"):
        search(
            spark, index_dir,
            {"query": {"span_near": {"clauses": []}}},
        )
    with pytest.raises(ValueError, match="vectors_path"):
        search(
            spark, index_dir,
            {"query": {"knn": {"embedding": {"vector": [0.1], "k": 3}}}},
        )
    with pytest.raises(NotImplementedError, match="aggregation 'geo"):
        search(
            spark, index_dir,
            {"query": {"match": {"content": "x"}},
             "aggs": {"g": {"geo_grid": {"field": "p"}}}},
            corpus_path="unused",
        )


def test_msearch(spark, index_dir):
    from data_prepper_spark.index.dsl import msearch

    res = msearch(
        spark, index_dir,
        [
            {"query": {"match": {"content": "class"}}, "size": 2},
            {"query": {"prefix": {"content": "de"}}, "size": 2},
        ],
    )
    assert len(res) == 2
    a, b = res[0].hits.collect(), res[1].hits.collect()
    assert {r["query_id"] for r in a} == {0}
    assert {r["query_id"] for r in b} == {1}
    assert a and b


def test_highlight_and_more_like_this(spark, index_dir, corpus_path):
    hl = search(
        spark, index_dir,
        {"query": {"match": {"content": "class"}}, "size": 3,
         "highlight": {"fields": {"content": {}}}},
        corpus_path=corpus_path,
    ).hits.collect()
    assert hl and all("class" in r["snippet"] for r in hl)

    # MLT routes over a doc_id-carrying corpus (the documents shape)
    import pandas as pd

    mdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "content": [
                "spark engine query plan optimizer",
                "spark engine query plan catalyst",
                "totally different words about cooking pasta",
                "spark query optimizer notes engine",
                "gardening soil compost seeds water",
                "engine plan query spark tuning",
            ],
        }
    )
    mpath = str(corpus_path) + "_mlt.parquet"
    mdf.to_parquet(mpath)
    mlt = search(
        spark, index_dir,
        {"query": {"more_like_this": {
            "like": [{"_id": 0}],
            "fields": ["content"], "max_query_terms": 5}},
         "size": 3},
        corpus_path=mpath,
    ).hits.collect()
    assert mlt
    got = [r["doc_id"] for r in mlt]
    assert 0 not in got  # MLT excludes the source doc itself
    assert set(got) & {1, 3, 5}  # similar docs rank, not the cooking ones
    assert 2 not in got[:2] and 4 not in got[:2]


def test_terms_metric_subaggs(spark, index_dir, corpus_path):
    """Nested metric sub-aggregations under a terms bucket fold into
    ONE grouped aggregation (terms_metric_facet): bucket set and
    counts identical to the plain terms executor, value_count of a
    never-null field equals doc_count, and unsupported nested kinds
    stay loud."""
    body = {
        "query": {"match": {"content": "class"}},
        "aggs": {
            "by_lang": {
                "terms": {"field": "lang"},
                "aggs": {
                    "n_paths": {"value_count": {"field": "path"}},
                    "max_path": {"max": {"field": "path"}},
                },
            },
        },
    }
    res = search(spark, index_dir, body, corpus_path=corpus_path)
    got = res.aggregations["by_lang"]
    assert got.columns == [
        "query_id", "bucket_rank", "facet", "doc_count",
        "n_paths", "max_path",
    ]
    mq = spark.createDataFrame(
        [(0, "class")], "query_id long, query string"
    )
    assert _rows(
        got.select("query_id", "bucket_rank", "facet", "doc_count")
    ) == _rows(q.faceted_search(spark, index_dir, corpus_path, mq, "lang"))
    rows = got.collect()
    assert rows and all(r.n_paths == r.doc_count for r in rows)
    assert all(r.max_path is not None for r in rows)

    with pytest.raises(NotImplementedError):
        # a terms sub-agg MIXED with other sub-aggs is not the
        # supported one-nested-terms shape — stays loud
        search(
            spark, index_dir,
            {
                "query": {"match": {"content": "class"}},
                "aggs": {
                    "x": {
                        "terms": {"field": "lang"},
                        "aggs": {
                            "inner": {"terms": {"field": "lang"}},
                            "p": {"percentiles": {"field": "lang"}},
                        },
                    },
                },
            },
            corpus_path=corpus_path,
        )


def test_nested_terms_two_levels(spark, index_dir, corpus_path):
    """terms -> terms (-> metrics) drill-down: parent buckets agree
    with the flat terms executor, child counts roll up exactly to the
    parent count, and leaf metrics ride the same grouped pass."""
    body = {
        "query": {"match": {"content": "class"}},
        "aggs": {
            "by_lang": {
                "terms": {"field": "lang", "size": 5},
                "aggs": {
                    "by_repo": {
                        "terms": {"field": "repo", "size": 100_000},
                        "aggs": {
                            "n": {"value_count": {"field": "path"}},
                        },
                    },
                },
            },
        },
    }
    res = search(spark, index_dir, body, corpus_path=corpus_path)
    got = res.aggregations["by_lang"]
    assert got.columns == [
        "query_id", "parent_rank", "parent_facet", "parent_count",
        "child_rank", "child_facet", "child_count", "n",
    ]
    rows = got.collect()
    assert rows
    # leaf metric value_count of a never-null field == child_count
    assert all(r.n == r.child_count for r in rows)
    # children roll up to the parent total (inner size covers all)
    from collections import defaultdict

    roll = defaultdict(int)
    parent_total = {}
    for r in rows:
        roll[r.parent_facet] += r.child_count
        parent_total[r.parent_facet] = r.parent_count
    assert roll == parent_total
    # parent (rank, facet, count) == the flat terms executor
    mq = spark.createDataFrame(
        [(0, "class")], "query_id long, query string"
    )
    flat = {
        (r.bucket_rank, r.facet, r.doc_count)
        for r in q.faceted_search(
            spark, index_dir, corpus_path, mq, "lang", n_buckets_out=5
        ).collect()
    }
    assert {
        (r.parent_rank, r.parent_facet, r.parent_count) for r in rows
    } == flat


def test_composite_pagination(spark, index_dir, corpus_path):
    """composite: full enumeration equals the grouped truth, pages
    tile it exactly (exclusive after-key), desc source order flips
    the walk, and metric sub-aggs ride along."""
    def comp(size, after=None, order="asc"):
        c = {
            "size": size,
            "sources": [
                {"lang": {"terms": {"field": "lang", "order": order}}},
                {"repo": {"terms": {"field": "repo"}}},
            ],
        }
        if after:
            c["after"] = after
        return search(
            spark, index_dir,
            {
                "query": {"match": {"content": "class"}},
                "aggs": {
                    "comp": {
                        "composite": c,
                        "aggs": {
                            "n": {"value_count": {"field": "path"}},
                        },
                    }
                },
            },
            corpus_path=corpus_path,
        ).aggregations["comp"]

    full = comp(10_000).collect()
    assert full and all(r.n == r.doc_count for r in full)
    keys = [(r.lang, r.repo) for r in full]
    assert keys == sorted(keys)  # composite-key order
    # the enumeration IS the grouped truth (vs the nested-terms pass)
    from data_prepper_spark.index.aggs import nested_terms_facet

    mq = spark.createDataFrame(
        [(0, "class")], "query_id long, query string"
    )
    truth = {
        (r.parent_facet, r.child_facet): r.child_count
        for r in nested_terms_facet(
            spark, index_dir, corpus_path, mq, "lang", "repo",
            size_outer=10_000, size_inner=10_000,
        ).collect()
    }
    assert {(r.lang, r.repo): r.doc_count for r in full} == truth
    # pages tile the enumeration: size-2 pages, after = last key
    pages, after = [], None
    for _ in range(len(full) // 2 + 2):
        page = comp(2, after=after).collect()
        if not page:
            break
        pages.extend(page)
        after = {"lang": page[-1].lang, "repo": page[-1].repo}
    assert [(r.lang, r.repo, r.doc_count) for r in pages] == [
        (r.lang, r.repo, r.doc_count) for r in full
    ]
    # desc on the first source reverses the lang walk
    d = comp(10_000, order="desc").collect()
    assert [(r.lang, r.repo) for r in d] == sorted(
        keys, key=lambda t: (_desc_key(t[0]), t[1])
    )


def _desc_key(s):
    """sort key that inverts string order (for the desc check)."""
    return tuple(-ord(c) for c in s)


def test_histogram_pipeline_and_siblings(spark, index_dir, corpus_path):
    """histogram with metric sub-aggs + cumulative_sum + derivative
    (window algebra over the bucket frame), sibling *_bucket
    re-aggregations, and bucket_sort truncation."""
    body = {
        "query": {"match": {"content": "class"}},
        "aggs": {
            "hist": {
                "histogram": {"field": "path_len", "interval": 4},
                "aggs": {
                    "avg_len": {"avg": {"field": "path_len"}},
                    "cum": {"cumulative_sum": {"buckets_path": "_count"}},
                    "deriv": {"derivative": {"buckets_path": "avg_len"}},
                },
            },
            "avg_count": {"avg_bucket": {"buckets_path": "hist>_count"}},
            "stats": {"stats_bucket": {"buckets_path": "hist>_count"}},
        },
    }
    from data_prepper_spark.index.query import attach_doc_values
    from pyspark.sql import functions as F

    # a numeric doc-values column to bucket on
    ident = spark.read.parquet(os.path.join(index_dir, "docs"))
    corpus = spark.read.parquet(corpus_path).withColumn(
        "path_len", F.length("path")
    )
    tmp = corpus_path + "_plen"
    corpus.write.mode("overwrite").parquet(tmp)
    attach_doc_values(spark, index_dir, tmp, cols=("lang", "path_len"))
    try:
        res = search(spark, index_dir, body, corpus_path=tmp)
        hist = res.aggregations["hist"].orderBy("key").collect()
        assert len(hist) >= 2
        run = 0
        prev_avg = None
        for i, r in enumerate(hist):
            run += r.doc_count
            assert r.cum == run
            if i == 0:
                assert r.deriv is None  # first bucket: no derivative
            else:
                assert abs(r.deriv - (r.avg_len - prev_avg)) < 1e-9
            prev_avg = r.avg_len
        counts = [r.doc_count for r in hist]
        (avg_row,) = res.aggregations["avg_count"].collect()
        assert abs(avg_row.value - sum(counts) / len(counts)) < 1e-9
        (st,) = res.aggregations["stats"].collect()
        assert (st.n, st.min_v, st.max_v, st.sum_v) == (
            len(counts), min(counts), max(counts), sum(counts)
        )
        # bucket_sort: top-2 buckets by doc_count desc
        body2 = {
            "query": {"match": {"content": "class"}},
            "aggs": {
                "hist": {
                    "histogram": {"field": "path_len", "interval": 4},
                    "aggs": {
                        "top2": {
                            "bucket_sort": {
                                "sort": [{"doc_count": {"order": "desc"}}],
                                "size": 2,
                            }
                        },
                    },
                },
            },
        }
        top2 = search(
            spark, index_dir, body2, corpus_path=tmp
        ).aggregations["hist"].orderBy("bucket_order").collect()
        want = sorted(counts, reverse=True)[:2]
        assert [r.doc_count for r in top2] == want
        with pytest.raises(NotImplementedError):
            search(
                spark, index_dir,
                {
                    "query": {"match": {"content": "class"}},
                    "aggs": {
                        "hist": {
                            "histogram": {
                                "field": "path_len", "interval": 4
                            },
                            "aggs": {
                                "x": {
                                    "moving_fn": {
                                        "buckets_path": "_count"
                                    }
                                },
                            },
                        },
                    },
                },
                corpus_path=tmp,
            )
    finally:
        # restore the module-scoped doc-values sidecar other tests use
        attach_doc_values(spark, index_dir, corpus_path, cols=("lang",))


def test_sort_and_from_pagination(spark, index_dir, corpus_path):
    """`sort` replaces score ordering (field values off the doc-values
    sidecar, ord tiebreak, absolute ranks); `from` pages both the
    sorted and the score-ordered paths without re-ranking drift."""
    from data_prepper_spark.index.query import attach_doc_values

    attach_doc_values(spark, index_dir, corpus_path, cols=("lang",))
    full = search(
        spark, index_dir,
        {"query": {"match": {"content": "class"}},
         "sort": [{"lang": {"order": "desc"}}], "size": 40},
        corpus_path=corpus_path,
    ).hits.collect()
    full = sorted(full, key=lambda r: r.rank)
    assert full and [r.rank for r in full] == list(range(1, len(full) + 1))
    langs = [r.lang for r in full]
    assert langs == sorted(langs, reverse=True)
    page2 = search(
        spark, index_dir,
        {"query": {"match": {"content": "class"}},
         "sort": [{"lang": {"order": "desc"}}], "from": 10, "size": 10},
        corpus_path=corpus_path,
    ).hits.collect()
    page2 = sorted(page2, key=lambda r: r.rank)
    assert [(r.rank, r.doc_id) for r in page2] == [
        (r.rank, r.doc_id) for r in full[10:20]
    ]

    # score path: from=5 page == ranks 6..15 of the k=15 ranking
    base = sorted(
        search(
            spark, index_dir,
            {"query": {"match": {"content": "class"}}, "size": 15},
        ).hits.collect(),
        key=lambda r: r.rank,
    )
    paged = sorted(
        search(
            spark, index_dir,
            {"query": {"match": {"content": "class"}},
             "from": 5, "size": 10},
        ).hits.collect(),
        key=lambda r: r.rank,
    )
    assert [(r.rank, r.doc_id) for r in paged] == [
        (r.rank, r.doc_id) for r in base[5:15]
    ]

    # sorted filter-only body (no scoring scan at all)
    filt = search(
        spark, index_dir,
        {"query": {"term": {"lang": "python"}},
         "sort": [{"lang": "asc"}], "size": 5},
        corpus_path=corpus_path,
    ).hits.collect()
    assert filt and all(r.lang == "python" for r in filt)

    with pytest.raises(NotImplementedError):
        search(
            spark, index_dir,
            {"query": {"prefix": {"content": "cl"}},
             "sort": [{"lang": "asc"}]},
            corpus_path=corpus_path,
        )


def test_ids_query(spark, index_dir, corpus_path):
    """`ids` query: unscored stored-_id filter in ordinal order, aggs
    share its match set."""
    some = spark.read.parquet(f"{index_dir}/docs").orderBy("ord").limit(
        3
    ).collect()
    vals = [r.path for r in some]
    res = search(
        spark, index_dir,
        {"query": {"ids": {"values": vals}},
         "aggs": {"by_lang": {"terms": {"field": "lang"}}}},
        corpus_path=corpus_path,
    )
    hits = sorted(res.hits.collect(), key=lambda r: r.rank)
    assert [r.path for r in hits] == vals  # ord order == fetch order
    assert all(r.score == 0.0 for r in hits)
    n = res.aggregations["by_lang"].agg(
        {"doc_count": "sum"}
    ).collect()[0][0]
    assert n == 3


def test_knn_query_routes_to_similarity(spark, index_dir, tmp_path):
    """`knn` clause (the k-NN plugin body) routes to the similarity
    executors over the vector table: exact brute-force by default,
    LSH when method='lsh' — LSH's top-1 must agree with exact on a
    well-separated fixture."""
    import numpy as np

    from data_prepper_spark.datapipe.similarity import cosine_topk

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 16)).astype("float32")
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    vpath = str(tmp_path / "vecs")
    vecs.write.parquet(vpath)
    qvec = [float(x) for x in base[17]]  # exact self-match exists

    res = search(
        spark, index_dir,
        {"query": {"knn": {"embedding": {"vector": qvec, "k": 5}}}},
        vectors_path=vpath,
    )
    hits = sorted(res.hits.collect(), key=lambda r: r.rank)
    want = sorted(
        cosine_topk(
            vecs,
            spark.createDataFrame(
                [(0, qvec)], "query_id long, qvec array<double>"
            ),
            k=5,
        ).collect(),
        key=lambda r: r.rank,
    )
    assert [(r.vec_id, round(r.cosine, 9)) for r in hits] == [
        (r.vec_id, round(r.cosine, 9)) for r in want
    ]
    assert hits[0].vec_id == 17

    lsh = search(
        spark, index_dir,
        {"query": {"knn": {"embedding": {
            "vector": qvec, "k": 5, "method": "lsh"}}}},
        vectors_path=vpath,
    ).hits.collect()
    assert sorted(lsh, key=lambda r: r.rank)[0].vec_id == 17

    hnsw = search(
        spark, index_dir,
        {"query": {"knn": {"embedding": {
            "vector": qvec, "k": 5, "method": "hnsw",
            "ef_search": 12}}}},
        vectors_path=vpath,
    ).hits.collect()
    assert sorted(hnsw, key=lambda r: r.rank)[0].vec_id == 17


def test_hybrid_query(spark, tmp_path):
    """`hybrid` query (the neural-search plugin): each sub-query's
    list min_max- or l2-normalizes per query, per-doc scores combine
    by the weighted arithmetic/geometric/harmonic mean over PRESENT
    sub-scores. The engine result must equal a pandas recompute
    composed from the direct executors (q.topk + cosine_topk) — the
    DSL adds routing + the normalize/combine algebra, nothing else.
    Covers: inline config, search_pipeline config form, the
    single-result-list 1.0 pin, and the loud-failure paths."""
    import math

    import numpy as np
    import pandas as pd

    from data_prepper_spark.datapipe.similarity import cosine_topk
    from data_prepper_spark.index.build import BuildConfig, build_index

    # numeric-path corpus so vec_id (long) can BE the stored _id
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rng = np.random.default_rng(11)
    rows = []
    for i in range(30):
        toks = [words[(i + j) % len(words)] for j in range(3 + i % 4)]
        if i == 7:
            toks.append("uniqueterm")  # single-doc match list
        rows.append(("r", str(i), "c", "py", " ".join(toks)))
    pdf = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content"]
    )
    import hashlib

    pdf["content_sha256"] = [
        hashlib.sha256(c.encode()).hexdigest() for c in pdf.content
    ]
    cpath = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(cpath)
    idx = str(tmp_path / "index")
    build_index(spark, cpath, idx, BuildConfig(n_buckets=4))

    base = rng.standard_normal((30, 8)).astype("float32")
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    vpath = str(tmp_path / "vecs")
    vecs.write.parquet(vpath)
    qvec = [float(x) for x in base[3]]

    # reference sub-lists from the direct executors
    lex = q.topk(
        spark, idx,
        spark.createDataFrame(
            [(0, "alpha beta")], "query_id long, query string"
        ),
        k=100,
    ).toPandas()
    docs = pd.read_parquet(os.path.join(idx, "docs"))
    id2path = dict(zip(docs.doc_id, docs.path))
    lex["key"] = lex.doc_id.map(id2path).astype(int)
    knn = cosine_topk(
        vecs,
        spark.createDataFrame(
            [(0, qvec)], "query_id long, qvec array<double>"
        ),
        k=30,
    ).toPandas()
    knn["key"] = knn.vec_id.astype(int)

    def norm(s, technique):
        s = np.asarray(s, dtype=float)
        if technique == "min_max":
            if s.max() == s.min():
                return np.ones_like(s)
            ns = (s - s.min()) / (s.max() - s.min())
            return np.where(ns <= 0.0, 0.001, ns)
        nrm = math.sqrt((s * s).sum())
        return s / nrm if nrm else np.full_like(s, 0.001)

    def combine(technique, weights, lex_s, knn_s):
        # per-key weighted mean over PRESENT sub-scores
        out = {}
        for key in set(lex_s) | set(knn_s):
            ws, parts = [], []
            for w, d in zip(weights, (lex_s, knn_s)):
                if key in d:
                    ws.append(w)
                    parts.append(d[key])
            if technique == "arithmetic_mean":
                sc = sum(w * p for w, p in zip(ws, parts)) / sum(ws)
            else:
                # geometric/harmonic count only POSITIVE sub-scores
                pos = [(w, p) for w, p in zip(ws, parts) if p > 0]
                if not pos:
                    sc = 0.0
                elif technique == "geometric_mean":
                    sc = math.exp(
                        sum(w * math.log(p) for w, p in pos)
                        / sum(w for w, _ in pos)
                    )
                else:  # harmonic
                    sc = sum(w for w, _ in pos) / sum(
                        w / p for w, p in pos
                    )
            out[key] = sc
        return out

    def expect(norm_t, comb_t, weights, k=10):
        lex_s = dict(zip(lex.key, norm(lex.score, norm_t)))
        knn_s = dict(zip(knn.key, norm(knn.cosine, norm_t)))
        comb = combine(comb_t, weights, lex_s, knn_s)
        # engine tie-break: ord asc; ord order == build order here?
        # paths are "0".."29" so ord follows the STRING sort — replay
        # it via the docs table's ord
        path2ord = dict(zip(docs.path.astype(int), docs.ord))
        ranked = sorted(
            comb.items(), key=lambda kv: (-kv[1], path2ord[kv[0]])
        )[:k]
        return [(kk, round(sc, 9)) for kk, sc in ranked]

    def run(spec_extra=None, body_extra=None, k=10):
        spec = {
            "queries": [
                {"match": {"content": "alpha beta"}},
                {"knn": {"embedding": {"vector": qvec, "k": 30}}},
            ],
            "pagination_depth": 100,
        }
        spec.update(spec_extra or {})
        body = {"query": {"hybrid": spec}, "size": k}
        body.update(body_extra or {})
        res = search(spark, idx, body, vectors_path=vpath)
        hits = sorted(res.hits.collect(), key=lambda r: r.rank)
        return [(int(r.path), round(r.score, 9)) for r in hits]

    # 1. defaults: min_max + arithmetic_mean, equal weights
    assert run() == expect("min_max", "arithmetic_mean", [1.0, 1.0])
    # 2. inline weights
    got = run({"combination": {
        "technique": "arithmetic_mean",
        "parameters": {"weights": [0.7, 0.3]},
    }})
    assert got == expect("min_max", "arithmetic_mean", [0.7, 0.3])
    # 3. l2 + geometric via the search-pipeline config form
    got = run(body_extra={"search_pipeline": {
        "phase_results_processors": [{"normalization-processor": {
            "normalization": {"technique": "l2"},
            "combination": {"technique": "geometric_mean"},
        }}],
    }})
    assert got == expect("l2", "geometric_mean", [1.0, 1.0])
    # 4. harmonic
    got = run({"combination": {"technique": "harmonic_mean"}})
    assert got == expect("min_max", "harmonic_mean", [1.0, 1.0])
    # 5. a single-result sub-list pins to 1.0 under min_max
    got = run({"queries": [
        {"match": {"content": "uniqueterm"}},
        {"knn": {"embedding": {"vector": qvec, "k": 30}}},
    ]})
    single = dict(got)
    assert single[7] >= 0.5  # doc 7: lexical ns pinned at 1.0
    # 6. loud failures
    with pytest.raises(NotImplementedError, match="normalization"):
        run({"normalization": {"technique": "z_score"}})
    with pytest.raises(ValueError, match="weights"):
        run({"combination": {"parameters": {"weights": [1.0]}}})
    with pytest.raises(ValueError, match="queries"):
        search(
            spark, idx, {"query": {"hybrid": {"queries": []}}},
            vectors_path=vpath,
        )


def test_ip_prefix_guardrails(spark, index_dir, corpus_path):
    """ip_prefix loud failures: IPv6 unimplemented, prefix_length
    bounds enforced."""
    from data_prepper_spark.index.aggs import ip_prefix_facet

    mq = spark.createDataFrame([(0, "class")], "query_id long, query string")
    with pytest.raises(NotImplementedError, match="IPv6"):
        ip_prefix_facet(
            spark, index_dir, corpus_path, mq, field="ip",
            prefix_length=64, is_ipv6=True,
        )
    with pytest.raises(ValueError, match="prefix_length"):
        ip_prefix_facet(
            spark, index_dir, corpus_path, mq, field="ip",
            prefix_length=0,
        )


def test_scroll_api(spark, index_dir, corpus_path):
    """scroll(): stateless-cursor paging of the full match set in
    _doc (ordinal) order — pages are disjoint, ordinal-monotonic,
    full-sized except the last, and their union is exactly the match
    set; match_all and bool-tree queries page too; unsupported kinds
    fail loudly."""
    from data_prepper_spark.index.dsl import scroll

    body = {"query": {"match": {"content": "class"}}, "size": 7}
    full = q._match_set(
        spark, index_dir,
        q.query_terms(
            spark, index_dir,
            spark.createDataFrame(
                [(0, "class")], "query_id long, query string"
            ),
            q.load_stats(index_dir)["n_docs"],
        ).select("query_id", "term_id", "idf", "bucket"),
    )
    want_ords = sorted(r.ord for r in full.select("ord").collect())

    seen, page_sizes, last_max = [], [], -1
    page, sid = scroll(spark, index_dir, body, corpus_path=corpus_path)
    while True:
        rows = sorted(page.collect(), key=lambda r: r.ord)
        if rows:
            assert rows[0].ord > last_max  # monotonic across pages
            last_max = rows[-1].ord
            seen.extend(r.ord for r in rows)
            page_sizes.append(len(rows))
        if sid is None:
            break
        page, sid = scroll(spark, index_dir, scroll_id=sid)
    assert seen == want_ords  # complete, disjoint, ordered
    assert all(s == 7 for s in page_sizes[:-1])
    assert 0 < page_sizes[-1] <= 7

    # match_all pages the whole live corpus
    n_docs = q.load_stats(index_dir)["n_docs"]
    page, sid = scroll(
        spark, index_dir, {"query": {"match_all": {}}, "size": 1000}
    )
    got = page.count()
    total = got
    while sid is not None:
        page, sid = scroll(spark, index_dir, scroll_id=sid)
        total += page.count()
    assert total == n_docs

    # bool tree scroll == tree match set
    from data_prepper_spark.index.booltree import bool_tree_match

    tree = {"bool": {"should": [{"match": {"content": "class"}},
                                {"match": {"content": "def"}}],
                     "minimum_should_match": 1}}
    page, sid = scroll(
        spark, index_dir, {"query": tree, "size": 10**6},
        corpus_path=corpus_path,
    )
    assert sid is None or page.count() == 10**6
    want = bool_tree_match(spark, index_dir, tree, corpus_path).count()
    assert page.count() == want

    with pytest.raises(NotImplementedError, match="scroll"):
        scroll(
            spark, index_dir,
            {"query": {"match_phrase": {"content": "a b"}}},
            corpus_path=corpus_path,
        )
    with pytest.raises(ValueError, match="scroll"):
        scroll(spark, index_dir)


def test_suggest_block_routes(spark, index_dir):
    """`suggest` body block -> query.suggest: term (did-you-mean) and
    completion (prefix) suggesters, identical to direct executor
    calls; suggest-only bodies (match_all, no aggs) are legal."""
    body = {
        "suggest": {
            "dym": {"text": "clas", "term": {"field": "content",
                                             "size": 3}},
            "comp": {"prefix": "cla", "completion": {"field": "content",
                                                     "size": 5}},
        },
    }
    res = search(spark, index_dir, body)
    assert res.hits is None and set(res.suggest) == {"dym", "comp"}
    inputs = spark.createDataFrame(
        [(0, "clas")], "input_id long, text string"
    )
    want = q.suggest(spark, index_dir, inputs, mode="term", size=3)
    assert _rows(res.suggest["dym"]) == _rows(want)
    inputs2 = spark.createDataFrame(
        [(0, "cla")], "input_id long, text string"
    )
    want2 = q.suggest(spark, index_dir, inputs2, mode="completion", size=5)
    got2 = _rows(res.suggest["comp"])
    assert got2 == _rows(want2) and got2
    # phrase suggester routes too (round 5); unknown modes stay loud
    ph = search(
        spark, index_dir,
        {"suggest": {"p": {"text": "clas", "phrase": {"size": 2}}}},
    )
    assert set(ph.suggest) == {"p"}
    assert {"input_id", "suggestion", "score"} <= set(
        ph.suggest["p"].columns
    )
    with pytest.raises(NotImplementedError):
        search(spark, index_dir, {"suggest": {"x": {"text": "a",
                                                    "shingle": {}}}})


def test_match_phrase_prefix(spark, index_dir, corpus_path, corpus_pdf):
    """Search-as-you-type: doc set and BM25 scores vs an independent
    pandas recompute (expansion in term-dictionary order capped at
    max_expansions, adjacency = fixed tokens followed by a token
    starting with the prefix, score = fixed + matched-expansion
    partials)."""
    import math

    import pandas as pd

    from data_prepper_spark.oracle import (
        B, K1, build_term_stats, corpus_doc_ids,
    )
    from data_prepper_spark.tokenizer import tokenize_series

    toks0 = tokenize_series(pd.Series([corpus_pdf.iloc[0].content])).iloc[0]
    # two fixed tokens + a 3-char prefix of the following token
    fixed = list(toks0[10:12])
    pre = toks0[12][:3]
    phrase = " ".join(fixed) + " " + pre
    max_exp = 10

    got = search(
        spark, index_dir,
        {"query": {"match_phrase_prefix": {"content": {
            "query": phrase, "max_expansions": max_exp}}},
         "size": 10**6},
        corpus_path=corpus_path,
    ).hits.select("doc_id", "score").collect()
    got = sorted((r["doc_id"], round(r["score"], 6)) for r in got)

    corpus = corpus_pdf.assign(doc_id=corpus_doc_ids(corpus_pdf))
    postings, docs = build_term_stats(corpus_pdf)
    n, avgdl = len(docs), docs["dl"].mean()
    dfreq = postings.groupby("term")["doc_id"].nunique()
    dl = dict(zip(docs["doc_id"], docs["dl"]))
    part = {}
    for r in postings.itertuples():
        idf = math.log(1 + (n - dfreq[r.term] + 0.5) / (dfreq[r.term] + 0.5))
        part[(r.doc_id, r.term)] = (
            idf * r.tf * (K1 + 1)
            / (r.tf + K1 * (1 - B + B * dl[r.doc_id] / avgdl))
        )
    expansions = sorted(t for t in dfreq.index if t.startswith(pre))[
        :max_exp
    ]
    want = []
    tok_lists = tokenize_series(corpus["content"])
    for doc_id, toks in zip(corpus["doc_id"], tok_lists):
        toks = list(toks)
        hit = False
        for i in range(len(toks) - len(fixed)):
            if (
                toks[i:i + len(fixed)] == fixed
                and toks[i + len(fixed)].startswith(pre)
            ):
                hit = True
                break
        if not hit:
            continue
        matched_exp = {
            t for t in expansions if (doc_id, t) in part
        }
        if not matched_exp:
            continue
        s = sum(part[(doc_id, t)] for t in set(fixed) if (doc_id, t) in part)
        s += sum(part[(doc_id, t)] for t in matched_exp)
        want.append((doc_id, round(s, 6)))
    assert got == sorted(want) and got


def test_multi_match_routes_to_fielded_scorer(spark, index_dir, corpus_path):
    """multi_match routes to textstats.multi_match with parsed ^boosts
    and identical results; best_fields is the default type (the
    OpenSearch contract); an unknown type raises loudly."""
    from pyspark.sql import functions as F

    from data_prepper_spark.datapipe.textstats import multi_match as mm

    docs = spark.read.parquet(corpus_path).withColumn(
        "doc_id", F.col("path")
    )
    mq = spark.createDataFrame(
        [(0, "class python")], "query_id long, query string"
    )
    for mtype in ("most_fields", "best_fields"):
        got = search(
            spark, index_dir,
            {"query": {"multi_match": {
                "query": "class python",
                "fields": ["content", "lang^3"],
                "type": mtype,
            }}, "size": 7},
            corpus_path=corpus_path,
        ).hits
        want = mm(
            docs, mq, {"content": 1.0, "lang": 3.0}, k=7, mode=mtype
        )
        r = _rows(got)
        assert r == _rows(want) and len(r) == 7, mtype
    # default type == best_fields
    dflt = search(
        spark, index_dir,
        {"query": {"multi_match": {
            "query": "class python", "fields": ["content", "lang^3"],
        }}, "size": 7},
        corpus_path=corpus_path,
    ).hits
    best = mm(docs, mq, {"content": 1.0, "lang": 3.0}, k=7,
              mode="best_fields")
    assert _rows(dflt) == _rows(best)
    with pytest.raises(NotImplementedError):
        search(
            spark, index_dir,
            {"query": {"multi_match": {
                "query": "x", "fields": ["content"], "type": "phrase",
            }}},
            corpus_path=corpus_path,
        )
    with pytest.raises(ValueError):
        search(
            spark, index_dir,
            {"query": {"multi_match": {"query": "x", "fields": []}}},
            corpus_path=corpus_path,
        )


def test_combined_fields_routes_to_bm25f(spark, corpus_path, tmp_path):
    """combined_fields routes to the BM25F executor over a fielded
    index — identical hits to a direct bm25f_topk call."""
    import os

    from pyspark.sql import functions as F

    from data_prepper_spark.index.bm25f import (
        bm25f_topk,
        build_fielded_index,
    )
    from data_prepper_spark.index.build import BuildConfig
    from data_prepper_spark.tokenizer import tokenize_col

    docs = spark.read.parquet(corpus_path).select(
        F.col("path").alias("doc"),
        F.col("content").alias("body"),
        F.array_join(
            F.slice(tokenize_col(F.col("content")), 1, 8), " "
        ).alias("title"),
    )
    fidx = os.path.join(str(tmp_path), "fielded_index")
    build_fielded_index(
        spark, docs, fidx, key_col="doc",
        field_cols={"body": "body", "title": "title"},
        cfg=BuildConfig(n_buckets=4, hot_group_target=5000),
    )
    got = search(
        spark, fidx,
        {"query": {"combined_fields": {
            "query": "class return",
            "fields": ["title^2", "body"],
        }}, "size": 5},
    ).hits
    want = bm25f_topk(
        spark, fidx,
        spark.createDataFrame(
            [(0, "class return")], "query_id long, query string"
        ),
        weights={"title": 2.0, "body": 1.0}, k=5,
    )
    r = _rows(got)
    assert r == _rows(want) and len(r) == 5


def test_span_queries(spark, index_dir, corpus_path, corpus_pdf):
    """span_term / span_near / span_first over the positions sidecar:
    widths agree with a brute-force itertools check on the raw token
    streams, in_order flips matter, span_first bounds the span end,
    and non-span_term sub-clauses stay loud."""
    import itertools

    import pandas as pd

    from data_prepper_spark.index.positions import build_positions
    from data_prepper_spark.tokenizer import tokenize_series

    if not os.path.isdir(os.path.join(index_dir, "positions")):
        build_positions(spark, corpus_path, index_dir)
    toks = tokenize_series(corpus_pdf.content)
    ident = {
        (r.repo, r.path, r.commit): i
        for i, r in enumerate(corpus_pdf.itertuples())
    }

    def brute(clauses, slop, in_order, max_end=None):
        out = {}
        for i, tk in enumerate(toks):
            pos = [
                [p for p, t in enumerate(tk) if t == c] for c in clauses
            ]
            if any(not v for v in pos):
                continue
            best = None
            for pick in itertools.product(*pos):
                if in_order and any(
                    pick[j + 1] <= pick[j] for j in range(len(pick) - 1)
                ):
                    continue
                if max_end is not None and max(pick) + 1 > max_end:
                    continue
                w = max(pick) - min(pick) - (len(pick) - 1)
                if best is None or w < best:
                    best = w
            if best is not None and best <= slop:
                out[i] = best
        return out

    # pick three terms present in doc 0 with gaps
    t0 = toks.iloc[0]
    c3 = [t0[2], t0[5], t0[9]]
    for clauses, slop, in_order in [
        (c3, 6, True),
        (c3[::-1], 6, False),
        ([t0[2], t0[5]], 3, True),
    ]:
        body = {
            "query": {"span_near": {
                "clauses": [
                    {"span_term": {"content": c}} for c in clauses
                ],
                "slop": slop,
                "in_order": in_order,
            }},
            "size": 100_000,
        }
        hits = search(spark, index_dir, body).hits.collect()
        got = {
            ident[(r.repo, r.path, r.commit)]: r.min_width for r in hits
        }
        assert got == brute(clauses, slop, in_order), (clauses, in_order)

    # span_term == tf>0 docs, width always 0
    st = search(
        spark, index_dir,
        {"query": {"span_term": {"content": t0[2]}}, "size": 100_000},
    ).hits.collect()
    assert st and all(r.min_width == 0 for r in st)
    assert {ident[(r.repo, r.path, r.commit)] for r in st} == set(
        brute([t0[2]], 0, True)
    )

    # span_first: end bound enforced
    sf = search(
        spark, index_dir,
        {"query": {"span_first": {
            "match": {"span_term": {"content": t0[2]}}, "end": 3,
        }}, "size": 100_000},
    ).hits.collect()
    assert {
        ident[(r.repo, r.path, r.commit)] for r in sf
    } == set(brute([t0[2]], 0, True, max_end=3))

    with pytest.raises(ValueError, match="span_or"):
        search(
            spark, index_dir,
            {"query": {"span_near": {"clauses": [
                {"span_or": {"clauses": []}},
            ], "slop": 0}}},
        )
    with pytest.raises(NotImplementedError, match="span_near sub-clause"):
        search(
            spark, index_dir,
            {"query": {"span_near": {"clauses": [
                {"span_first": {
                    "match": {"span_term": {"content": "x"}}, "end": 1,
                }},
            ], "slop": 0}}},
        )


def test_span_or_not(spark, index_dir, corpus_path, corpus_pdf):
    """span_or (alternative terms per clause slot, positions merged)
    and span_not (exclude-term positions within [first-pre, last+post]
    reject the span) against brute-force checks on raw token streams.
    For ORDERED 2-clause includes the executor's per-start greedy
    chains are exactly the minimal picks (larger second positions only
    widen the exclusion window), so the brute here — all picks, window
    exclusion — is the true Lucene semantics, not an implementation
    echo. Unordered span_or is checked pick-exhaustively (no
    excludes); span_not consistency properties close the loop."""
    import itertools

    from data_prepper_spark.index.positions import build_positions
    from data_prepper_spark.tokenizer import tokenize_series

    if not os.path.isdir(os.path.join(index_dir, "positions")):
        build_positions(spark, corpus_path, index_dir)
    toks = tokenize_series(corpus_pdf.content)
    ident = {
        (r.repo, r.path, r.commit): i
        for i, r in enumerate(corpus_pdf.itertuples())
    }

    def brute(clauses, slop, in_order, exclude=(), pre=0, post=0):
        out = {}
        for i, tk in enumerate(toks):
            pos = []
            for c in clauses:
                alts = {c} if isinstance(c, str) else set(c)
                pos.append([p for p, t in enumerate(tk) if t in alts])
            if any(not v for v in pos):
                continue
            ex = [p for p, t in enumerate(tk) if t in exclude]
            best = None
            for pick in itertools.product(*pos):
                if in_order and any(
                    pick[j + 1] <= pick[j] for j in range(len(pick) - 1)
                ):
                    continue
                lo, hi = min(pick), max(pick)
                if any(lo - pre <= e <= hi + post for e in ex):
                    continue
                w = hi - lo - (len(pick) - 1)
                if best is None or w < best:
                    best = w
            if best is not None and best <= slop:
                out[i] = best
        return out

    t0 = toks.iloc[0]
    # three DISTINCT tokens (duplicate clause terms are the documented
    # unordered divergence vs Lucene — keep the brute exact)
    firsts: dict = {}
    for p, t in enumerate(t0):
        firsts.setdefault(t, p)
    uniq = list(firsts)
    assert len(uniq) >= 5, "fixture doc 0 too repetitive"
    a, b, c = uniq[2], uniq[3], uniq[4]

    def got_for(body):
        hits = search(spark, index_dir, {**body, "size": 100_000}).hits
        return {
            ident[(r.repo, r.path, r.commit)]: r.min_width
            for r in hits.collect()
        }

    # span_or inside span_near, ordered and unordered
    or_clause = {"span_or": {"clauses": [
        {"span_term": {"content": a}}, {"span_term": {"content": b}},
    ]}}
    for in_order in (True, False):
        got = got_for({"query": {"span_near": {
            "clauses": [or_clause, {"span_term": {"content": c}}],
            "slop": 8, "in_order": in_order,
        }}})
        assert got == brute([[a, b], c], 8, in_order), in_order
    # bare span_or == union of the span_term match sets, width 0
    got = got_for({"query": or_clause})
    assert got == brute([[a, b]], 0, True)

    # span_not: ordered 2-clause include, exclude a term that occurs
    # between the include terms somewhere (so the clause does work)
    ex_brute_all = brute([a, c], 10, True)
    ex_term = None
    for i, w in ex_brute_all.items():
        tk = toks.iloc[i]
        pa = [p for p, t in enumerate(tk) if t == a]
        pc = [p for p, t in enumerate(tk) if t == c]
        for p1 in pa:
            nxt = [p for p in pc if p > p1]
            if not nxt:
                continue
            p2 = min(nxt)
            if p2 - p1 > 1:
                ex_term = tk[p1 + 1]
                break
        if ex_term:
            break
    assert ex_term is not None, "fixture lacks an interleaved token"
    for pre, post, dist in [(0, 0, None), (None, None, 2), (1, 3, None)]:
        spec = {
            "include": {"span_near": {
                "clauses": [
                    {"span_term": {"content": a}},
                    {"span_term": {"content": c}},
                ],
                "slop": 10, "in_order": True,
            }},
            "exclude": {"span_term": {"content": ex_term}},
        }
        if dist is not None:
            spec["dist"] = dist
            epre = epost = dist
        else:
            spec["pre"], spec["post"] = pre, post
            epre, epost = pre, post
        got = got_for({"query": {"span_not": spec}})
        want = brute(
            [a, c], 10, True, exclude={ex_term}, pre=epre, post=epost
        )
        assert got == want, (pre, post, dist)
        # consistency: span_not ⊆ plain include, widths never shrink
        assert set(got) <= set(ex_brute_all)
        assert all(got[i] >= ex_brute_all[i] for i in got)
    # the exclusion must have actually removed or widened something
    got0 = got_for({"query": {"span_not": {
        "include": {"span_near": {"clauses": [
            {"span_term": {"content": a}},
            {"span_term": {"content": c}},
        ], "slop": 10, "in_order": True}},
        "exclude": {"span_term": {"content": ex_term}},
    }}})
    assert got0 != ex_brute_all

    # UNORDERED span_not: the two-pointer minimal covering windows
    # are exact here too — a non-excluded pick's window contains a
    # non-excluded minimal window of smaller width (exclusion zones
    # shrink with the window), so the all-picks brute is the true
    # semantics
    got = got_for({"query": {"span_not": {
        "include": {"span_near": {"clauses": [
            {"span_term": {"content": c}},
            {"span_term": {"content": a}},
        ], "slop": 10, "in_order": False}},
        "exclude": {"span_term": {"content": ex_term}},
        "pre": 1, "post": 1,
    }}})
    assert got == brute(
        [c, a], 10, False, exclude={ex_term}, pre=1, post=1
    )

    # span_or as the exclude (union of exclude positions)
    got = got_for({"query": {"span_not": {
        "include": {"span_near": {"clauses": [
            {"span_term": {"content": a}},
            {"span_term": {"content": c}},
        ], "slop": 10, "in_order": True}},
        "exclude": {"span_or": {"clauses": [
            {"span_term": {"content": ex_term}},
            {"span_term": {"content": b}},
        ]}},
    }}})
    assert got == brute([a, c], 10, True, exclude={ex_term, b})

    # span_first over span_not composes
    got = got_for({"query": {"span_first": {
        "match": {"span_not": {
            "include": {"span_term": {"content": a}},
            "exclude": {"span_term": {"content": ex_term}},
            "pre": 1, "post": 1,
        }},
        "end": 12,
    }}})
    want = {}
    for i, tk in enumerate(toks):
        ex = [p for p, t in enumerate(tk) if t == ex_term]
        ps = [
            p for p, t in enumerate(tk)
            if t == a and p + 1 <= 12
            and not any(p - 1 <= e <= p + 1 for e in ex)
        ]
        if ps:
            want[i] = 0
    assert got == want

    # span_containing / span_within: big spans (a .. c, ordered) that
    # enclose a little-span position. The brute enumerates the SAME
    # spans Lucene's big-span iterator produces — per-start minimal
    # (greedy) chains — because containment is checked against
    # produced spans, not all combinatorial picks.
    def brute_containing(big, slop, little):
        out = {}
        for i, tk in enumerate(toks):
            pa = [p for p, t in enumerate(tk) if t == big[0]]
            pc = sorted(p for p, t in enumerate(tk) if t == big[1])
            lt = [p for p, t in enumerate(tk) if t in little]
            best = None
            import bisect as bi

            for p1 in pa:
                j = bi.bisect_right(pc, p1)
                if j == len(pc):
                    break
                p2 = pc[j]
                if not any(p1 <= e <= p2 for e in lt):
                    continue
                w = p2 - p1 - 1
                if best is None or w < best:
                    best = w
            if best is not None and best <= slop:
                out[i] = best
        return out

    want_c = brute_containing([a, c], 10, {ex_term})
    assert want_c, "containing test would be vacuous"
    for skind in ("span_containing", "span_within"):
        got = got_for({"query": {skind: {
            "big": {"span_near": {"clauses": [
                {"span_term": {"content": a}},
                {"span_term": {"content": c}},
            ], "slop": 10, "in_order": True}},
            "little": {"span_term": {"content": ex_term}},
        }}})
        assert got == want_c, skind
    # containing + not partition the include's spans per doc: a doc in
    # the plain include match set appears in at least one side
    got_n = got_for({"query": {"span_not": {
        "include": {"span_near": {"clauses": [
            {"span_term": {"content": a}},
            {"span_term": {"content": c}},
        ], "slop": 10, "in_order": True}},
        "exclude": {"span_term": {"content": ex_term}},
    }}})
    assert set(ex_brute_all) == set(want_c) | set(got_n)

    # little as span_or widens the containing match set
    got = got_for({"query": {"span_containing": {
        "big": {"span_near": {"clauses": [
            {"span_term": {"content": a}},
            {"span_term": {"content": c}},
        ], "slop": 10, "in_order": True}},
        "little": {"span_or": {"clauses": [
            {"span_term": {"content": ex_term}},
            {"span_term": {"content": b}},
        ]}},
    }}})
    assert got == brute_containing([a, c], 10, {ex_term, b})
    assert set(want_c) <= set(got)


def test_match_bool_prefix(spark, index_dir, corpus_pdf):
    """match_bool_prefix routes to bool_prefix_search; disjunctive
    type-ahead semantics: every doc matching the full first token
    matches (no adjacency), and results are a superset of the
    corresponding match_phrase_prefix match set."""
    import pandas as pd

    from data_prepper_spark.tokenizer import tokenize_series

    toks = tokenize_series(pd.Series([corpus_pdf.iloc[0].content])).iloc[0]
    text = f"{toks[3]} {toks[7][:3]}"
    body = {
        "query": {"match_bool_prefix": {"content": text}},
        "size": 100_000,
    }
    got = search(spark, index_dir, body).hits
    want = q.bool_prefix_search(
        spark, index_dir,
        spark.createDataFrame(
            [(0, text)], "query_id long, query string"
        ),
        k=100_000,
    )
    r = _rows(got)
    assert r == _rows(want) and r
    # no adjacency: every doc containing the full token matches
    full_only = q.topk(
        spark, index_dir,
        spark.createDataFrame(
            [(0, toks[3])], "query_id long, query string"
        ),
        k=100_000,
    )
    assert {x["doc_id"] for x in full_only.collect()} <= {
        x["doc_id"] for x in got.collect()
    }


def test_global_agg_and_sliced_scroll(spark, index_dir, corpus_path):
    """global bucket == match_all-scoped sub-aggs regardless of the
    body's query; slices are disjoint, complete, and stable."""
    body = {
        "query": {"match": {"content": "class"}},
        "aggs": {
            "all": {
                "global": {},
                "aggs": {"by_lang": {"terms": {"field": "lang"}}},
            },
        },
    }
    res = search(spark, index_dir, body, corpus_path=corpus_path)
    got = res.aggregations["all.by_lang"]
    want = search(
        spark, index_dir,
        {"query": {"match_all": {}},
         "aggs": {"by_lang": {"terms": {"field": "lang"}}}},
        corpus_path=corpus_path,
    ).aggregations["by_lang"]
    assert _rows(got) == _rows(want) and _rows(got)

    full = {
        r["doc_id"]
        for r in search(
            spark, index_dir,
            {"query": {"match": {"content": "class"}}, "size": 100_000},
        ).hits.collect()
    }
    parts = []
    for sid in range(3):
        s = search(
            spark, index_dir,
            {"query": {"match": {"content": "class"}},
             "slice": {"id": sid, "max": 3}},
        ).hits.collect()
        parts.append({r["doc_id"] for r in s})
    assert set().union(*parts) == full
    assert sum(len(p) for p in parts) == len(full)  # disjoint
    # stable: rerun slice 0 and get the same shard
    again = {
        r["doc_id"]
        for r in search(
            spark, index_dir,
            {"query": {"match": {"content": "class"}},
             "slice": {"id": 0, "max": 3}},
        ).hits.collect()
    }
    assert again == parts[0]
    with pytest.raises(ValueError, match="slice"):
        search(
            spark, index_dir,
            {"query": {"match": {"content": "class"}},
             "slice": {"id": 3, "max": 3}},
        )


def test_terms_order_and_intervals(spark, index_dir, corpus_path, corpus_pdf):
    """terms `order` by _key / _count asc / a metric sub-agg reorders
    the rank window; intervals `match` rule routes to the span
    executor with ANALYZED tokens."""
    def buckets(order=None, metrics=False):
        t = {"field": "lang", "size": 10}
        if order:
            t["order"] = order
        a = {"terms": t}
        if metrics:
            a["aggs"] = {"n_paths": {"value_count": {"field": "path"}}}
        res = search(
            spark, index_dir,
            {"query": {"match": {"content": "class"}}, "aggs": {"x": a}},
            corpus_path=corpus_path,
        )
        return res.aggregations["x"].orderBy("bucket_rank").collect()

    default = buckets()
    bykey = buckets(order={"_key": "asc"})
    assert {r.facet for r in bykey} == {r.facet for r in default}
    assert [r.facet for r in bykey] == sorted(r.facet for r in bykey)
    casc = buckets(order={"_count": "asc"})
    assert [r.doc_count for r in casc] == sorted(
        r.doc_count for r in casc
    )
    bymetric = buckets(order={"n_paths": "desc"}, metrics=True)
    assert [r.n_paths for r in bymetric] == sorted(
        (r.n_paths for r in bymetric), reverse=True
    )
    with pytest.raises(ValueError, match="order"):
        buckets(order={"nope": "desc"}, metrics=True)

    # intervals match == span_near with analyzed clauses
    from data_prepper_spark.index.positions import (
        build_positions,
        span_near_topk,
    )
    from data_prepper_spark.index.query import analyze_query_py, load_stats

    if not os.path.isdir(os.path.join(index_dir, "positions")):
        build_positions(spark, corpus_path, index_dir)

    import pandas as pd

    from data_prepper_spark.tokenizer import tokenize_series

    t0 = tokenize_series(pd.Series([corpus_pdf.iloc[0].content])).iloc[0]
    # two terms 4 positions apart in doc 0 -> width 3 <= max_gaps 5,
    # so the interval provably matches at least one doc
    text = f"{t0[0]} {t0[4]}"
    got = search(
        spark, index_dir,
        {"query": {"intervals": {"content": {"match": {
            "query": text, "max_gaps": 5, "ordered": True,
        }}}}, "size": 100},
    ).hits
    toks = analyze_query_py(load_stats(index_dir), text)
    want = span_near_topk(
        spark, index_dir, toks, slop=5, in_order=True, k=100
    )
    assert _rows(got) == _rows(want) and _rows(got)
    # unlimited gaps: every doc holding all terms matches
    unl = search(
        spark, index_dir,
        {"query": {"intervals": {"content": {"match": {
            "query": text,
        }}}}, "size": 100_000},
    ).hits
    assert unl.count() >= got.count()


def test_explain_flag(spark, index_dir, corpus_path):
    """explain=true attaches the per-term BM25 breakdown; term
    contributions sum to each hit's score."""
    res = search(
        spark, index_dir,
        {"query": {"match": {"content": "class def"}}, "size": 5,
         "explain": True},
    )
    hits = {(r.query_id, r.doc_id): r.score for r in res.hits.collect()}
    assert hits and res.explanation is not None
    from collections import defaultdict

    sums = defaultdict(float)
    for r in res.explanation.collect():
        sums[(r.query_id, r.doc_id)] += r.contribution
    for key, score in hits.items():
        assert abs(sums[key] - score) < 1e-9
    with pytest.raises(NotImplementedError, match="explain"):
        # sliced hits are UNSCORED — nothing to explain, stays loud
        search(
            spark, index_dir,
            {"query": {"match": {"content": "class"}},
             "slice": {"id": 0, "max": 2}, "explain": True},
            corpus_path=corpus_path,
        )


def test_analyze_api(spark, index_dir, tmp_path):
    """_analyze facade (index/dsl.py::analyze): runs the index's
    persisted analyzer chain over ad-hoc text — identity chain on a
    plain index (code-aware splits, post-filter positions), stop +
    stem filters on an index built with them."""
    import pandas as pd

    from data_prepper_spark.index.dsl import analyze
    from data_prepper_spark.tokenizer import tokenize_series

    text = "getUserName snake_case_id HTTPServer2 calls"
    got = analyze(spark, index_dir, {"text": text}).collect()
    want = tokenize_series(pd.Series([text])).iloc[0]
    assert [(r.token, r.position) for r in got] == [
        (t, i) for i, t in enumerate(want)
    ]
    # multi-text form: one text_id per input
    two = analyze(
        spark, index_dir, {"text": ["alpha beta", "gamma"]}
    ).collect()
    assert {(r.text_id, r.token) for r in two} >= {
        (0, "alpha"), (0, "beta"), (1, "gamma")
    }
    # an index built with stop + stem filters applies BOTH, and
    # positions are post-filter ordinals (what the sidecar stores)
    from data_prepper_spark.index.build import BuildConfig, build_index

    from pyspark.sql import functions as SF

    corpus = spark.createDataFrame(
        [("r", "p1", "c", "py", "classes remove the walls")],
        "repo string, path string, commit string, lang string,"
        " content string",
    ).withColumn("content_sha256", SF.sha2(SF.col("content"), 256))
    cp = str(tmp_path / "c.parquet")
    corpus.write.parquet(cp)
    idx = str(tmp_path / "swidx")
    build_index(
        spark, cp, idx,
        BuildConfig(
            n_buckets=2, hot_group_target=100,
            stopwords=("the",), stemmer="minimal_english",
        ),
    )
    filtered = analyze(
        spark, idx, {"text": "the classes beyond the walls"}
    ).collect()
    assert [(r.token, r.position) for r in filtered] == [
        ("classe", 0), ("beyond", 1), ("wall", 2)
    ]


def test_validate_field_caps_and_templates(
    spark, index_dir, corpus_path
):
    """_validate/query (compile-only support check), _field_caps
    (field discovery), and _search/template + _render/template
    (mustache-lite substitution: whole-string native types, toJson,
    inverted-section defaults)."""
    from data_prepper_spark.index.dsl import (
        field_caps,
        render_template,
        search_template,
        validate_query,
    )
    from data_prepper_spark.index.query import attach_doc_values

    attach_doc_values(spark, index_dir, corpus_path, cols=("lang",))
    ok = validate_query(
        spark, index_dir,
        {"query": {"match": {"content": "class"}}},
    )
    assert ok == {"valid": True, "error": None}
    bad = validate_query(
        spark, index_dir,
        {"query": {"geo_shape": {"location": {}}}},
    )
    assert not bad["valid"] and "geo_shape" in bad["error"]
    caps = {
        r.field: (r.type, r.searchable, r.aggregatable)
        for r in field_caps(spark, index_dir).collect()
    }
    assert caps["content"] == ("text", True, False)
    assert caps["lang"] == ("keyword", True, True)
    # template rendering: native types, toJson, inverted defaults
    src = {
        "query": {"bool": {
            "must": [{"match": {"content": "{{q}}"}}],
            "filter": [{"terms": {
                "lang": "{{#toJson}}langs{{/toJson}}",
            }}],
        }},
        "size": "{{size}}",
        "_note": "q={{q}} size={{size}}",
        "_missing": "{{k}}{{^k}}fallback{{/k}}",
    }
    body = render_template(
        src, {"q": "class", "langs": ["python", "go"], "size": 7}
    )
    assert body["size"] == 7 and isinstance(body["size"], int)
    assert body["query"]["bool"]["filter"][0]["terms"]["lang"] == [
        "python", "go"
    ]
    assert body["_note"] == "q=class size=7"
    assert body["_missing"] == "fallback"
    with pytest.raises(KeyError):
        render_template({"x": "{{nope}}"}, {})
    # end-to-end: template hits == direct body hits
    del src["_note"], src["_missing"]
    res_t = search_template(
        spark, index_dir,
        {"source": src,
         "params": {"q": "class", "langs": ["python", "go"],
                    "size": 7}},
        corpus_path=corpus_path,
    )
    res_d = search(
        spark, index_dir,
        render_template(
            src, {"q": "class", "langs": ["python", "go"], "size": 7}
        ),
        corpus_path=corpus_path,
    )
    assert _rows(res_t.hits) == _rows(res_d.hits) and res_t.hits.count()


def test_aliases_and_docvalue_fields(
    spark, index_dir, corpus_path, tmp_path
):
    """Filtered index aliases (index/aliases.py — the OpenSearch
    multi-tenancy device: alias filter composes UNSCORED with any
    body) and the `docvalue_fields` body option (hits widened with
    sidecar columns)."""
    from data_prepper_spark.index.aliases import (
        delete_alias,
        get_aliases,
        put_alias,
        search_alias,
    )
    from data_prepper_spark.index.query import attach_doc_values

    attach_doc_values(spark, index_dir, corpus_path, cols=("lang",))
    reg = str(tmp_path / "aliases.json")
    put_alias(
        reg, "py_docs", index_dir,
        filter={"term": {"lang": "python"}},
    )
    put_alias(reg, "all_docs", index_dir)
    assert set(get_aliases(reg)) == {"py_docs", "all_docs"}
    body = {"query": {"match": {"content": "init"}}, "size": 10_000}
    flt = search_alias(spark, reg, "py_docs", body,
                       corpus_path=corpus_path)
    plain = search_alias(spark, reg, "all_docs", body,
                         corpus_path=corpus_path)
    direct = search(spark, index_dir, body, corpus_path=corpus_path)
    # unfiltered alias == direct search
    assert _rows(plain.hits) == _rows(direct.hits)
    # filter narrows to python docs; scores are the UNFILTERED ones
    # (alias filters don't score — subset, same score per doc)
    fr = {r.doc_id: r.score for r in flt.hits.collect()}
    dr = {r.doc_id: r.score for r in direct.hits.collect()}
    assert fr and set(fr) < set(dr)
    assert all(dr[d] == s for d, s in fr.items())
    delete_alias(reg, "py_docs")
    assert set(get_aliases(reg)) == {"all_docs"}
    with pytest.raises(KeyError):
        search_alias(spark, reg, "py_docs", body)
    # docvalue_fields: hits widened with the sidecar column
    wide = search(
        spark, index_dir,
        {"query": {"match": {"content": "class"}},
         "docvalue_fields": ["lang"], "size": 5},
        corpus_path=corpus_path,
    ).hits
    rows = wide.collect()
    assert "lang" in wide.columns and rows
    assert all(r.lang is not None for r in rows)
    with pytest.raises(NotImplementedError):
        search(
            spark, index_dir,
            {"query": {"match": {"content": "class"}},
             "docvalue_fields": ["nope"], "size": 5},
            corpus_path=corpus_path,
        )


def test_phrase_suggester(spark, index_dir):
    """suggest.phrase: whole-phrase did-you-mean — per-token
    dictionary candidates (term suggester) combined under a df-
    unigram log-likelihood with per-edit penalty; the unchanged
    phrase is never echoed, ranks are score-descending, max_errors
    bounds the changed-token count."""
    body = {
        "suggest": {"fix": {
            "text": "inot main",
            "phrase": {"size": 5, "max_errors": 2},
        }},
    }
    res = search(spark, index_dir, body)
    rows = res.suggest["fix"].orderBy("suggest_rank").collect()
    assert rows, "no phrase suggestions produced"
    sugs = [r.suggestion for r in rows]
    assert "init main" in sugs  # the obvious 1-edit correction
    assert "inot main" not in sugs  # never echo the input
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    # every suggestion changes 1..max_errors tokens
    for s in sugs:
        changed = sum(
            1 for a, b in zip(s.split(), "inot main".split()) if a != b
        )
        assert 1 <= changed <= 2, s
    # max_errors=1 forbids double corrections
    one = search(
        spark, index_dir,
        {"suggest": {"fix": {
            "text": "inot mair",
            "phrase": {"size": 5, "max_errors": 1},
        }}},
    ).suggest["fix"].collect()
    for r in one:
        changed = sum(
            1 for a, b in zip(r.suggestion.split(),
                              "inot mair".split()) if a != b
        )
        assert changed == 1, r.suggestion


def test_join_field_queries(
    spark, index_dir, corpus_pdf, queries_pdf, tmp_path
):
    """has_child / has_parent / parent_id over the join-field
    doc-values model (index/joinfield.py): expected sets and
    score_mode aggregates recomputed in pandas from the numpy BM25
    oracle — the inner query's per-doc scores come from
    oracle.bm25_topk, so child-score aggregation is independently
    derived, not an engine echo."""
    import numpy as np
    import pandas as pd

    from data_prepper_spark.index.query import attach_doc_values
    from data_prepper_spark.oracle import bm25_topk

    # deterministic relation: sorted-path rank r; r%4==0 -> parent
    # ("question", _id = path), others children of the block parent
    ps = sorted(corpus_pdf.path)
    rank = {p: i for i, p in enumerate(ps)}
    aug = corpus_pdf.copy()
    aug["join_name"] = [
        "question" if rank[p] % 4 == 0 else "answer" for p in aug.path
    ]
    aug["join_parent"] = [
        None if rank[p] % 4 == 0 else ps[rank[p] - rank[p] % 4]
        for p in aug.path
    ]
    aug["n_chars"] = aug.content.str.len()
    apath = str(tmp_path / "aug.parquet")
    aug.to_parquet(apath)
    attach_doc_values(
        spark, index_dir, apath,
        cols=("lang", "n_chars", "join_name", "join_parent"),
    )

    text = queries_pdf.iloc[0]["query"]
    qdf = pd.DataFrame({"query_id": [0], "query": [text]})
    gold = bm25_topk(corpus_pdf, qdf, k=len(corpus_pdf))
    # oracle doc_id is xxh64(repo,path,commit) — map to row position
    from data_prepper_spark.oracle import corpus_doc_ids

    pdf = corpus_pdf.reset_index(drop=True)
    row_of = {d: i for i, d in enumerate(corpus_doc_ids(pdf))}
    score_of = {row_of[d]: s for d, s in zip(gold.doc_id, gold.score)}
    matched = set(score_of)

    child_rows = [
        i for i in matched if aug.iloc[i]["join_name"] == "answer"
    ]
    per_parent: dict = {}
    for i in child_rows:
        per_parent.setdefault(aug.iloc[i]["join_parent"], []).append(
            score_of[i]
        )

    for score_mode, agg in [
        ("none", lambda v: 0.0), ("sum", sum), ("max", max),
        ("min", min), ("avg", lambda v: sum(v) / len(v)),
    ]:
        body = {"query": {"has_child": {
            "type": "answer", "score_mode": score_mode,
            "min_children": 2,
            "query": {"match": {"content": text}},
        }}, "size": 100_000}
        hits = search(spark, index_dir, body).hits.collect()
        got = {r.path: (r.score, r.n_children) for r in hits}
        want = {
            p: (float(agg(v)), len(v))
            for p, v in per_parent.items() if len(v) >= 2
        }
        assert set(got) == set(want), score_mode
        for p in want:
            assert got[p][1] == want[p][1]
            assert abs(got[p][0] - want[p][0]) < 1e-6, (score_mode, p)

    # max_children caps the other side
    hits = search(spark, index_dir, {"query": {"has_child": {
        "type": "answer", "query": {"match": {"content": text}},
        "min_children": 1, "max_children": 2,
    }}, "size": 100_000}).hits.collect()
    assert {r.path for r in hits} == {
        p for p, v in per_parent.items() if 1 <= len(v) <= 2
    }

    # has_parent: children of matching parents, score propagated
    parent_rows = [
        i for i in matched if aug.iloc[i]["join_name"] == "question"
    ]
    want_kids = {}
    for i in parent_rows:
        pp = pdf.iloc[i]["path"]
        for j, r in aug.iterrows():
            if r["join_parent"] == pp:
                want_kids[r["path"]] = score_of[i]
    for score in (False, True):
        hits = search(spark, index_dir, {"query": {"has_parent": {
            "parent_type": "question", "score": score,
            "query": {"match": {"content": text}},
        }}, "size": 100_000}).hits.collect()
        got = {r.path: r.score for r in hits}
        assert set(got) == set(want_kids), score
        for p in got:
            exp = want_kids[p] if score else 0.0
            assert abs(got[p] - exp) < 1e-6, (score, p)

    # parent_id: the one block's children
    some_parent = ps[0]
    hits = search(spark, index_dir, {"query": {"parent_id": {
        "type": "answer", "id": some_parent,
    }}, "size": 100_000}).hits.collect()
    assert {r.path for r in hits} == set(
        aug[aug.join_parent == some_parent].path
    )


def test_join_field_aggs(
    spark, index_dir, corpus_path, corpus_pdf, queries_pdf
):
    """children / parent pivot aggregations and aggs under join-field
    queries: expected pivoted sets + lang buckets recomputed in
    pandas. Relies on the dv relation attached by
    test_join_field_queries' deterministic rule (re-derived here)."""
    import pandas as pd

    from data_prepper_spark.index.query import attach_doc_values
    from data_prepper_spark.oracle import bm25_topk, corpus_doc_ids

    ps = sorted(corpus_pdf.path)
    rank = {p: i for i, p in enumerate(ps)}
    aug = corpus_pdf.reset_index(drop=True).copy()
    aug["join_name"] = [
        "question" if rank[p] % 4 == 0 else "answer" for p in aug.path
    ]
    aug["join_parent"] = [
        None if rank[p] % 4 == 0 else ps[rank[p] - rank[p] % 4]
        for p in aug.path
    ]
    import tempfile

    apath = tempfile.mkdtemp(prefix="dps_join_") + "/aug.parquet"
    aug.to_parquet(apath)
    attach_doc_values(
        spark, index_dir, apath,
        cols=("lang", "join_name", "join_parent"),
    )

    text = queries_pdf.iloc[0]["query"]
    qdf = pd.DataFrame({"query_id": [0], "query": [text]})
    gold = bm25_topk(corpus_pdf, qdf, k=len(corpus_pdf))
    row_of = {d: i for i, d in enumerate(corpus_doc_ids(aug))}
    matched = {row_of[d] for d in gold.doc_id}

    # children agg: match -> the matched docs' children of type answer
    res = search(spark, index_dir, {
        "query": {"match": {"content": text}},
        "aggs": {"kids": {
            "children": {"type": "answer"},
            "aggs": {"by_lang": {"terms": {"field": "lang", "size": 100}}},
        }},
    }, corpus_path=corpus_path)
    matched_paths = set(aug.iloc[sorted(matched)].path)
    kid_rows = aug[
        aug.join_parent.isin(matched_paths) & (aug.join_name == "answer")
    ]
    got_count = {r.query_id: r.doc_count for r in res.aggregations["kids"].collect()}
    assert got_count == {0: len(kid_rows)}
    got_lang = {
        r.facet: r.doc_count
        for r in res.aggregations["kids.by_lang"].collect()
    }
    assert got_lang == kid_rows.lang.value_counts().to_dict()

    # parent agg: matched answers -> their distinct parents
    res = search(spark, index_dir, {
        "query": {"match": {"content": text}},
        "aggs": {"qs": {
            "parent": {"type": "answer"},
            "aggs": {"chars": {"value_count": {"field": "lang"}}},
        }},
    }, corpus_path=corpus_path)
    par_paths = set(
        aug.iloc[sorted(matched)]
        .loc[lambda d: d.join_name == "answer"].join_parent
    )
    got = {r.query_id: r.doc_count for r in res.aggregations["qs"].collect()}
    assert got == {0: len(par_paths)}

    # aggs under a has_child query: lang buckets over matched parents
    res = search(spark, index_dir, {
        "query": {"has_child": {
            "type": "answer", "query": {"match": {"content": text}},
        }},
        "aggs": {"by_lang": {"terms": {"field": "lang", "size": 100}}},
        "size": 10,
    }, corpus_path=corpus_path)
    child_matched = aug.iloc[sorted(matched)].loc[
        lambda d: d.join_name == "answer"
    ]
    parents_hit = aug[aug.path.isin(set(child_matched.join_parent))]
    got = {
        r.facet: r.doc_count
        for r in res.aggregations["by_lang"].collect()
    }
    assert got == parents_hit.lang.value_counts().to_dict()


def test_t_test_rate_aggs(
    spark, index_dir, corpus_path, corpus_pdf, queries_pdf, tmp_path
):
    """t_test (paired / Welch / pooled) and rate aggregations plus
    match_none: statistics recomputed independently in pandas/numpy
    (variance via np.var ddof=1 — a different formula path than the
    engine's power sums), p-values cross-checked against textbook
    critical values inside aggs.t_p_value's own unit assertions."""
    import numpy as np
    import pandas as pd

    from data_prepper_spark.index.query import attach_doc_values
    from data_prepper_spark.oracle import bm25_topk, corpus_doc_ids

    aug = corpus_pdf.reset_index(drop=True).copy()
    aug["n_chars"] = aug.content.str.len().astype("int64")
    # second numeric column for the paired test + a date column
    aug["n_lines"] = aug.content.str.count("\n").astype("int64") + 1
    aug["mtime"] = pd.to_datetime(
        1451606400 + aug.n_chars * 3600, unit="s"
    ).astype("datetime64[us]")  # Spark can't read NANOS parquet
    apath = str(tmp_path / "aug2.parquet")
    aug.to_parquet(apath)
    attach_doc_values(
        spark, index_dir, apath,
        cols=("lang", "n_chars", "n_lines", "mtime"),
    )

    # a high-df term so per-lang groups are non-degenerate (n >= 2)
    from collections import Counter

    from data_prepper_spark.tokenizer import tokenize_series

    dfc: Counter = Counter()
    for tk in tokenize_series(corpus_pdf.content):
        dfc.update(set(tk))
    text = dfc.most_common(1)[0][0]
    qdf = pd.DataFrame({"query_id": [0], "query": [text]})
    gold = bm25_topk(corpus_pdf, qdf, k=len(corpus_pdf))
    row_of = {d: i for i, d in enumerate(corpus_doc_ids(aug))}
    m = aug.iloc[sorted(row_of[d] for d in gold.doc_id)]

    langs = m.lang.value_counts().index[:2].tolist()
    assert (m.lang == langs[0]).sum() >= 2 and (m.lang == langs[1]).sum() >= 2
    a = m[m.lang == langs[0]].n_chars.to_numpy(dtype=float)
    b = m[m.lang == langs[1]].n_chars.to_numpy(dtype=float)

    def welch(a, b):
        va, vb = np.var(a, ddof=1), np.var(b, ddof=1)
        na, nb = len(a), len(b)
        se2 = va / na + vb / nb
        t = (a.mean() - b.mean()) / np.sqrt(se2)
        df = se2**2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
        return t, df

    def pooled(a, b):
        va, vb = np.var(a, ddof=1), np.var(b, ddof=1)
        na, nb = len(a), len(b)
        sp2 = ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)
        t = (a.mean() - b.mean()) / np.sqrt(sp2 * (1 / na + 1 / nb))
        return t, na + nb - 2

    for ttype, fn in [("heteroscedastic", welch), ("homoscedastic", pooled)]:
        res = search(spark, index_dir, {
            "query": {"match": {"content": text}},
            "aggs": {"tt": {"t_test": {
                "a": {"field": "n_chars",
                      "filter": {"term": {"lang": langs[0]}}},
                "b": {"field": "n_chars",
                      "filter": {"term": {"lang": langs[1]}}},
                "type": ttype,
            }}},
        }, corpus_path=corpus_path)
        row = res.aggregations["tt"].collect()[0]
        t, df = fn(a, b)
        assert abs(row.t_stat - t) < 1e-8, ttype
        assert abs(row.df - df) < 1e-6, ttype
        assert 0.0 <= row.p_value <= 1.0

    # paired over the same docs' two columns
    d = (m.n_chars - m.n_lines).to_numpy(dtype=float)
    res = search(spark, index_dir, {
        "query": {"match": {"content": text}},
        "aggs": {"tt": {"t_test": {
            "a": {"field": "n_chars"}, "b": {"field": "n_lines"},
            "type": "paired",
        }}},
    }, corpus_path=corpus_path)
    row = res.aggregations["tt"].collect()[0]
    t = d.mean() / np.sqrt(np.var(d, ddof=1) / len(d))
    assert abs(row.t_stat - t) < 1e-8
    assert row.df == len(d) - 1

    # rate under a daily date_histogram, unit hour
    res = search(spark, index_dir, {
        "query": {"match": {"content": text}},
        "aggs": {"h": {
            "date_histogram": {"field": "mtime",
                               "calendar_interval": "day"},
            "aggs": {
                "sum_rate": {"rate": {"field": "n_chars",
                                      "unit": "hour"}},
                "count_rate": {"rate": {"unit": "hour"}},
            },
        }},
    }, corpus_path=corpus_path)
    rows = {r.key: r for r in res.aggregations["h"].collect()}
    day = m.mtime.dt.floor("D")
    want_sum = m.groupby(day).n_chars.sum() / 24.0
    want_cnt = m.groupby(day).size() / 24.0
    assert len(rows) == len(want_sum)
    for ts, v in want_sum.items():
        key = ts.strftime("%Y-%m-%dT%H:%M:%S")
        assert abs(rows[key].sum_rate - v) < 1e-9
        assert abs(rows[key].count_rate - want_cnt[ts]) < 1e-9

    # match_none: zero hits, zero agg rows
    res = search(spark, index_dir, {
        "query": {"match_none": {}},
        "aggs": {"by_lang": {"terms": {"field": "lang", "size": 10}}},
    }, corpus_path=corpus_path)
    assert res.hits.count() == 0
    assert res.aggregations["by_lang"].count() == 0


def test_span_multi(spark, index_dir, corpus_path, corpus_pdf):
    """span_multi: prefix/wildcard expansion against the term
    dictionary feeding span_or alternatives — match sets and widths
    agree with a brute union over the matching vocabulary; empty
    expansions yield zero hits."""
    from data_prepper_spark.index.positions import build_positions
    from data_prepper_spark.tokenizer import tokenize_series

    if not os.path.isdir(os.path.join(index_dir, "positions")):
        build_positions(spark, corpus_path, index_dir)
    toks = tokenize_series(corpus_pdf.content)
    ident = {
        (r.repo, r.path, r.commit): i
        for i, r in enumerate(corpus_pdf.itertuples())
    }
    vocab = sorted({t for tk in toks for t in tk})
    t0 = toks.iloc[0]
    # a prefix expanding to <= 30 terms so the engine's df-capped
    # top_terms rewrite (max_expansions=50) can't differ from the
    # brute's full union
    pref, alts = None, set()
    for seed in t0:
        if len(seed) < 4:
            continue
        cand = {t for t in vocab if t.startswith(seed[:3])}
        if 1 <= len(cand) <= 30:
            pref, alts = seed[:3], cand
            break
    assert pref, "no low-fanout prefix in fixture doc 0"

    def got_for(body):
        hits = search(spark, index_dir, {**body, "size": 100_000}).hits
        return {
            ident[(r.repo, r.path, r.commit)]: r.min_width
            for r in hits.collect()
        }

    got = got_for({"query": {"span_multi": {
        "match": {"prefix": {"content": pref}},
    }}})
    want = {
        i: 0 for i, tk in enumerate(toks) if any(t in alts for t in tk)
    }
    assert got == want

    # inside span_near, next to a plain term
    import itertools

    partner = next(t for t in t0 if not t.startswith(pref))
    got = got_for({"query": {"span_near": {
        "clauses": [
            {"span_multi": {"match": {"prefix": {"content": pref}}}},
            {"span_term": {"content": partner}},
        ],
        "slop": 5, "in_order": False,
    }}})
    want = {}
    for i, tk in enumerate(toks):
        pa = [p for p, t in enumerate(tk) if t in alts]
        pb = [p for p, t in enumerate(tk) if t == partner]
        best = None
        for x, y in itertools.product(pa, pb):
            if x == y:
                continue
            w = abs(x - y) - 1
            if best is None or w < best:
                best = w
        if best is not None and best <= 5:
            want[i] = best
    assert got == want

    # wildcard form matches the prefix form
    got_w = got_for({"query": {"span_multi": {
        "match": {"wildcard": {"content": pref + "*"}},
    }}})
    assert set(got_w) == set(got_for({"query": {"span_multi": {
        "match": {"prefix": {"content": pref}},
    }}}))

    # empty expansion -> zero hits, loudly nothing
    got = got_for({"query": {"span_multi": {
        "match": {"prefix": {"content": "zzzzzzqqq"}},
    }}})
    assert got == {}


def test_geo_line_desc(spark, index_dir, corpus_path, corpus_pdf, tmp_path):
    """geo_line sort_order=desc + size truncation: order and cut
    recomputed in pandas from the attached point/sort columns."""
    import pandas as pd

    from data_prepper_spark.index.query import attach_doc_values
    from data_prepper_spark.oracle import bm25_topk, corpus_doc_ids

    aug = corpus_pdf.reset_index(drop=True).copy()
    aug["n_chars"] = aug.content.str.len().astype("int64")
    aug["loc_lat"] = (aug.n_chars % 120 - 60 + 0.25).astype(float)
    aug["loc_lon"] = ((aug.n_chars * 7) % 340 - 170 + 0.5).astype(float)
    apath = str(tmp_path / "geo.parquet")
    aug.to_parquet(apath)
    attach_doc_values(
        spark, index_dir, apath,
        cols=("lang", "n_chars", "loc_lat", "loc_lon"),
    )
    text = "zq"
    # any token guaranteed present: use the most common first token
    from collections import Counter

    from data_prepper_spark.tokenizer import tokenize_series

    dfc: Counter = Counter()
    for tk in tokenize_series(corpus_pdf.content):
        dfc.update(set(tk))
    text = dfc.most_common(1)[0][0]
    qdf = pd.DataFrame({"query_id": [0], "query": [text]})
    gold = bm25_topk(corpus_pdf, qdf, k=len(corpus_pdf))
    row_of = {d: i for i, d in enumerate(corpus_doc_ids(aug))}
    m = aug.iloc[sorted(row_of[d] for d in gold.doc_id)]

    res = search(spark, index_dir, {
        "query": {"match": {"content": text}},
        "size": 0,
        "aggs": {"track": {"geo_line": {
            "point": {"field": "loc"},
            "sort": {"field": "n_chars"},
            "size": 25, "sort_order": "desc",
        }}},
    }, corpus_path=corpus_path)
    got = (
        res.aggregations["track"].orderBy("seq").toPandas()
    )
    want = (
        m.sort_values(
            ["n_chars", "loc_lat", "loc_lon"],
            ascending=[False, True, True], kind="mergesort",
        )
        .head(25)
        .reset_index(drop=True)
    )
    assert len(got) == min(25, len(m))
    assert got.sort_value.tolist() == want.n_chars.tolist()
    assert got.lat.tolist() == want.loc_lat.tolist()
    assert got.lon.tolist() == want.loc_lon.tolist()


def test_source_filtering(spark, index_dir, corpus_path, corpus_pdf):
    """_source retrieval: true / include-list / includes+excludes
    wildcard forms attach the stored row as one JSON column; contents
    match the corpus row exactly; no-match patterns raise."""
    body = {"query": {"match": {"content": "gunaba"}}, "size": 5}
    base = search(spark, index_dir, body, corpus_path=corpus_path).hits
    if base.count() == 0:
        from data_prepper_spark.tokenizer import tokenize_series

        tok = tokenize_series(corpus_pdf.content.iloc[:1]).iloc[0][0]
        body = {"query": {"match": {"content": tok}}, "size": 5}

    got = search(
        spark, index_dir, {**body, "_source": True},
        corpus_path=corpus_path,
    ).hits.collect()
    assert got
    pdf = corpus_pdf.set_index(["repo", "path", "commit"])
    import json as _json

    for r in got:
        src = _json.loads(r._source)
        row = pdf.loc[(r.repo, r.path, r.commit)]
        assert src["content"] == row.content
        assert src["lang"] == row.lang
        assert "content_sha256" not in src

    got = search(
        spark, index_dir, {**body, "_source": ["lang"]},
        corpus_path=corpus_path,
    ).hits.collect()
    assert all(set(_json.loads(r._source)) == {"lang"} for r in got)

    got = search(
        spark, index_dir,
        {**body, "_source": {"includes": ["*"], "excludes": ["cont*"]}},
        corpus_path=corpus_path,
    ).hits.collect()
    assert all("content" not in _json.loads(r._source) for r in got)

    with pytest.raises(ValueError, match="_source"):
        search(
            spark, index_dir, {**body, "_source": ["nope*"]},
            corpus_path=corpus_path,
        ).hits.collect()


def test_highlight_fragments(spark, index_dir, corpus_path, corpus_pdf):
    """Tagged highlight fragments: matched tokens wrapped in
    pre/post tags, fragments non-overlapping and capped at
    number_of_fragments — verified against a pure-Python replay of
    the greedy anchor selection on the raw token stream."""
    from data_prepper_spark.tokenizer import tokenize_series

    toks = tokenize_series(corpus_pdf.content)
    from collections import Counter

    dfc: Counter = Counter()
    for tk in toks:
        dfc.update(set(tk))
    term = dfc.most_common(1)[0][0]

    hl = search(
        spark, index_dir,
        {"query": {"match": {"content": term}}, "size": 5,
         "highlight": {
             "fields": {"content": {"number_of_fragments": 3}},
             "pre_tags": ["[H]"], "post_tags": ["[/H]"],
         }},
        corpus_path=corpus_path,
    ).hits.collect()
    assert hl
    ident = {
        (r.repo, r.path, r.commit): i
        for i, r in enumerate(corpus_pdf.itertuples())
    }
    width = 5
    for r in hl:
        tk = toks.iloc[ident[(r.repo, r.path, r.commit)]]
        pos = [i for i, t in enumerate(tk) if t == term]
        anchors = []
        for p in pos:
            if len(anchors) >= 3:
                break
            if not anchors or p > anchors[-1] + 2 * width:
                anchors.append(p)
        want = []
        for p in anchors:
            lo, hi = max(p - width, 0), min(p + width, len(tk) - 1)
            want.append(" ".join(
                f"[H]{t}[/H]" if t == term else t
                for t in tk[lo:hi + 1]
            ))
        assert list(r.highlight) == want, (r.path,)
        assert 1 <= len(r.highlight) <= 3
        assert all("[H]" in f for f in r.highlight)


def test_search_pipeline_processors(
    spark, index_dir, corpus_path, corpus_pdf
):
    """search-pipeline processors: filter_query narrows hits AND
    aggregations (the request processor runs before agg match-set
    materialization); rename_field + truncate_hits reshape the
    page."""
    from collections import Counter

    from data_prepper_spark.index.query import attach_doc_values
    from data_prepper_spark.tokenizer import tokenize_series

    aug = corpus_pdf.reset_index(drop=True).copy()
    aug["n_chars"] = aug.content.str.len().astype("int64")
    import tempfile

    apath = tempfile.mkdtemp(prefix="dps_sp_") + "/aug.parquet"
    aug.to_parquet(apath)
    attach_doc_values(spark, index_dir, apath, cols=("lang", "n_chars"))

    dfc: Counter = Counter()
    toks = tokenize_series(corpus_pdf.content)
    for tk in toks:
        dfc.update(set(tk))
    term = dfc.most_common(1)[0][0]
    langs = sorted(aug.lang.unique())
    keep = langs[0]

    body = {
        "query": {"match": {"content": term}},
        "size": 100_000,
        "aggs": {"by_lang": {"terms": {"field": "lang", "size": 50}}},
        "search_pipeline": {
            "request_processors": [
                {"filter_query": {
                    "query": {"term": {"lang": keep}},
                }},
            ],
            "response_processors": [
                {"rename_field": {"field": "score",
                                  "target_field": "relevance"}},
                {"truncate_hits": {"target_size": 7}},
            ],
        },
    }
    res = search(spark, index_dir, body, corpus_path=corpus_path)
    rows = res.hits.collect()
    assert rows and len(rows) <= 7
    assert "relevance" in res.hits.columns
    assert "score" not in res.hits.columns
    # every hit satisfies the injected filter
    lang_of = dict(zip(aug.path, aug.lang))
    assert all(lang_of[r.path] == keep for r in rows)
    # aggregations see the filtered match set too
    buckets = {
        r.facet: r.doc_count
        for r in res.aggregations["by_lang"].collect()
    }
    assert set(buckets) == {keep}
    matched = {
        i for i, tk in enumerate(toks) if term in tk
    }
    want = sum(1 for i in matched if aug.iloc[i].lang == keep)
    assert buckets[keep] == want


def test_msearch_template(spark, index_dir, corpus_path, corpus_pdf):
    """_msearch/template: rendered bodies equal their hand-written
    forms query by query."""
    from collections import Counter

    from data_prepper_spark.index.dsl import msearch_template
    from data_prepper_spark.tokenizer import tokenize_series

    dfc: Counter = Counter()
    for tk in tokenize_series(corpus_pdf.content):
        dfc.update(set(tk))
    t1, t2 = [t for t, _ in dfc.most_common(2)]
    res = msearch_template(
        spark, index_dir,
        [
            {"source": {"query": {"match": {"content": "{{q}}"}},
                        "size": "{{k}}"},
             "params": {"q": t1, "k": 4}},
            {"source": {"query": {"match": {"content": "{{q}}"}},
                        "size": "{{k}}"},
             "params": {"q": t2, "k": 2}},
        ],
        corpus_path=corpus_path,
    )
    assert len(res) == 2
    r0 = res[0].hits.collect()
    r1 = res[1].hits.collect()
    assert len(r0) == 4 and len(r1) == 2
    want0 = search(
        spark, index_dir,
        {"query": {"match": {"content": t1}}, "size": 4},
        corpus_path=corpus_path,
    ).hits.collect()
    assert [(r.doc_id, r.rank) for r in r0] == [
        (r.doc_id, r.rank) for r in want0
    ]
