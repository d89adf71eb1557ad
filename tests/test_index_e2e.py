"""Golden end-to-end: Spark engine vs exhaustive numpy oracle.

Rank-identical + score within 1e-6 (FIXTURES.md §3) — mirrors the
reference's golden e2e index assertions
(e2e-test/log/.../EndToEndBasicLogTest.java:56-71).
"""

import os

import numpy as np
import pandas as pd
import pytest

from data_prepper_spark.index.query import topk
from data_prepper_spark.oracle import bm25_topk


def _compare(got: pd.DataFrame, want: pd.DataFrame):
    got = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    want = want.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(got) == len(want)
    m = got.merge(want, on=["query_id", "rank"], suffixes=("_g", "_w"))
    score_close = np.abs(m["score_g"] - m["score_w"]) < 1e-6
    assert score_close.all(), m[~score_close].head()
    doc_eq = m["doc_id_g"] == m["doc_id_w"]
    # docs may swap only at float-tie boundaries (same score to 1e-9)
    if not doc_eq.all():
        bad = m[~doc_eq]
        assert (np.abs(bad["score_g"] - bad["score_w"]) < 1e-9).all(), bad.head()


@pytest.fixture(scope="module")
def gold(corpus_pdf, queries_pdf):
    return bm25_topk(corpus_pdf, queries_pdf, k=10)


def test_exhaustive_rank_identity(spark, index_dir, queries_pdf, gold):
    qdf = spark.createDataFrame(queries_pdf)
    got = topk(spark, index_dir, qdf, k=10).toPandas()
    _compare(got, gold)


def test_blockmax_rank_identity(spark, index_dir, queries_pdf, gold):
    qdf = spark.createDataFrame(queries_pdf)
    got = topk(spark, index_dir, qdf, k=10, mode="blockmax").toPandas()
    _compare(got, gold)


def test_index_stats_match_oracle(spark, index_dir, corpus_pdf):
    from data_prepper_spark.index.build import load_stats
    from data_prepper_spark.oracle import build_term_stats

    stats = load_stats(index_dir)
    postings, docs = build_term_stats(corpus_pdf)
    assert stats["n_docs"] == len(docs)
    assert abs(stats["avgdl"] - docs["dl"].mean()) < 1e-9

    # per-term document frequencies must match exactly
    terms = (
        spark.read.parquet(f"{index_dir}/terms")
        .select("term", "df")
        .toPandas()
        .sort_values("term")
        .reset_index(drop=True)
    )
    want = (
        postings.groupby("term")
        .size()
        .rename("df")
        .reset_index()
        .sort_values("term")
        .reset_index(drop=True)
    )
    assert len(terms) == len(want)
    assert (terms["term"] == want["term"]).all()
    assert (terms["df"] == want["df"]).all()


def test_topk_with_docs_resolves_identity(spark, index_dir, queries_pdf, corpus_pdf):
    from data_prepper_spark.index.query import topk_with_docs
    from data_prepper_spark.xxh64 import doc_id_of

    qdf = spark.createDataFrame(queries_pdf.head(5))
    got = topk_with_docs(spark, index_dir, qdf, k=3).toPandas()
    assert {"repo", "path", "commit"} <= set(got.columns)
    assert got["repo"].notna().all()
    # identity round-trips: xxhash64(repo, path, commit) == doc_id
    for r in got.head(10).itertuples():
        assert doc_id_of(r.repo, r.path, r.commit) == r.doc_id


def test_hot_terms_are_salted(spark, index_dir):
    """Hot terms (df > hot_group_target) must be split across several
    disjoint-range groups — i.e. more than one block row with
    non-overlapping [min_doc, max_doc] ranges."""
    from pyspark.sql import functions as F

    tid = (
        spark.read.parquet(f"{index_dir}/terms")
        .filter(F.col("term") == "init")
        .select("term_id")
        .collect()[0][0]
    )
    post = spark.read.parquet(f"{index_dir}/postings")
    hot = post.filter(post.term_id == tid).orderBy("min_doc").toPandas()
    assert len(hot) > 1
    assert (hot["min_doc"].values[1:] > hot["max_doc"].values[:-1]).all()


def test_routed_per_lang_indexes(spark, fixture_dir, corpus_pdf, queries_pdf, tmp_path):
    """Multi-sink routing analog: one corpus pass -> per-lang
    sub-indexes (reference ConditionalRoute + DynamicIndexManager);
    each sub-index is rank-identical to an oracle over its slice."""
    import os

    from data_prepper_spark.index.build import BuildConfig, build_routed_indexes
    from data_prepper_spark.oracle import bm25_topk

    out = str(tmp_path / "routed")
    stats = build_routed_indexes(
        spark,
        os.path.join(fixture_dir, "corpus.parquet"),
        out,
        route_col="lang",
        cfg=BuildConfig(n_buckets=4, hot_group_target=5000),
    )
    langs = sorted(corpus_pdf["lang"].unique())
    assert sorted(stats) == langs
    for lang in langs:
        sub = corpus_pdf[corpus_pdf["lang"] == lang]
        assert stats[lang]["n_docs"] == len(sub)
    # query one sub-index; golden vs oracle restricted to that slice
    lang = langs[0]
    sub = corpus_pdf[corpus_pdf["lang"] == lang].reset_index(drop=True)
    qp = queries_pdf.head(3)
    gold = bm25_topk(sub, qp, k=5)
    qdf = spark.createDataFrame(qp)
    got = topk(
        spark, os.path.join(out, f"index_{lang}"), qdf, k=5, mode="blockmax"
    ).toPandas()
    _compare(got, gold)


def test_sideband_encode_identical(spark, fixture_dir, tmp_path):
    """The sideband (JVM-parquet -> pyarrow direct read) and streamed
    (mapInArrow) encode feeds produce bit-identical posting blocks."""
    import pandas as pd

    from data_prepper_spark.index.build import BuildConfig, build_index

    outs = {}
    for name, sb in (("side", True), ("stream", False)):
        idx = str(tmp_path / name)
        build_index(
            spark,
            os.path.join(fixture_dir, "corpus.parquet"),
            idx,
            BuildConfig(sideband_encode=sb),
        )
        outs[name] = (
            spark.read.parquet(os.path.join(idx, "postings"))
            .select(
                "term_id", "min_doc", "n", "docs", "tfs", "dls",
                "max_tf", "block_max",
            )
            .toPandas()
            .sort_values(["term_id", "min_doc"])
            .reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(outs["side"], outs["stream"])


def test_direct_tokens_write_identical(spark, fixture_dir, tmp_path):
    """The direct (pyarrow-written, reverse-sideband) and JVM-written
    tokens tables are identical in content, and the indexes built from
    them are bit-identical."""
    import pandas as pd

    from data_prepper_spark.index.build import BuildConfig, build_index

    posts, toks = {}, {}
    for name, direct in (("direct", True), ("jvm", False)):
        idx = str(tmp_path / name)
        build_index(
            spark,
            os.path.join(fixture_dir, "corpus.parquet"),
            idx,
            BuildConfig(direct_tokens_write=direct),
        )
        posts[name] = (
            spark.read.parquet(os.path.join(idx, "postings"))
            .select(
                "term_id", "min_doc", "n", "docs", "tfs", "dls",
                "max_tf", "block_max",
            )
            .toPandas()
            .sort_values(["term_id", "min_doc"])
            .reset_index(drop=True)
        )
        t = spark.read.parquet(os.path.join(idx, "tokens")).toPandas()
        toks[name] = (
            t[sorted(t.columns)]
            .sort_values(["unit", "doc_id", "term"], na_position="first")
            .reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(posts["direct"], posts["jvm"])
    pd.testing.assert_frame_equal(toks["direct"], toks["jvm"])


def test_impact_ordered_ordinals(
    spark, fixture_dir, index_dir, queries_pdf, gold, tmp_path
):
    """ordinal_order='dl' (docid-reordering for block-max pruning):
    scores stay oracle-identical (doc swaps only at exact float ties),
    ordinals follow (dl asc, doc_id asc), and the within-term
    block_max dispersion rises vs the default hash-random order."""
    import json

    import pandas as pd

    from data_prepper_spark.index.build import BuildConfig, build_index

    idx = str(tmp_path / "dlord")
    build_index(
        spark,
        os.path.join(fixture_dir, "corpus.parquet"),
        idx,
        BuildConfig(
            n_buckets=8, hot_group_target=2_000, ordinal_order="dl"
        ),
    )
    qdf = spark.createDataFrame(queries_pdf)
    for mode in ("exhaustive", "blockmax"):
        got = topk(spark, idx, qdf, k=10, mode=mode).toPandas()
        _compare(got, gold)

    docs = (
        spark.read.parquet(os.path.join(idx, "docs"))
        .toPandas()
        .sort_values("ord")
        .reset_index(drop=True)
    )
    want = docs.sort_values(["dl", "doc_id"]).reset_index(drop=True)
    assert (docs["doc_id"].values == want["doc_id"].values).all()
    assert (docs["ord"].values == np.arange(len(docs))).all()

    with open(os.path.join(idx, "stats.json")) as f:
        dl_stats = json.load(f)
    with open(os.path.join(index_dir, "stats.json")) as f:
        def_stats = json.load(f)
    assert dl_stats["ordinal_order"] == "dl"
    assert dl_stats["blockmax_dispersion"] > def_stats["blockmax_dispersion"]


def test_query_session_matches_topk(spark, index_dir, queries_pdf):
    """QuerySession.topk_one (driver dict + single-job serve path) is
    rank- and score-identical to the module-level topk."""
    from data_prepper_spark.index.query import QuerySession

    qs = QuerySession(spark, index_dir).warm()
    try:
        assert qs._dict is not None and qs._ord_map is not None
        for _, row in queries_pdf.head(5).iterrows():
            a = (
                qs.topk_one(row["query"], k=10, query_id=int(row["query_id"]))
                .sort_values("rank")
                .reset_index(drop=True)
            )
            q = spark.createDataFrame(
                [(int(row["query_id"]), row["query"])],
                "query_id long, query string",
            )
            b = (
                topk(spark, index_dir, q, k=10)
                .toPandas()
                .sort_values("rank")
                .reset_index(drop=True)
            )
            assert (a["doc_id"] == b["doc_id"]).all()
            assert np.allclose(a["score"], b["score"])
        # batch path through the session matches too
        qdf = spark.createDataFrame(queries_pdf.head(5))
        a = qs.topk(qdf, k=10).toPandas().sort_values(
            ["query_id", "rank"]
        ).reset_index(drop=True)
        b = topk(spark, index_dir, qdf, k=10).toPandas().sort_values(
            ["query_id", "rank"]
        ).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)
    finally:
        qs.close()


def test_query_session_with_docs(spark, index_dir, queries_pdf):
    from data_prepper_spark.index.query import QuerySession

    qs = QuerySession(spark, index_dir).warm()
    try:
        row = queries_pdf.iloc[0]
        out = qs.topk_one(row["query"], k=3, with_docs=True)
        assert {"repo", "path", "commit"} <= set(out.columns)
        assert out["path"].notna().all()
    finally:
        qs.close()


def test_query_session_with_docs_without_driver_structures(
    spark, index_dir, queries_pdf, monkeypatch
):
    """with_docs resolves identity columns on every input path of the
    single-query body (VERDICT r02 #4: a fallback once dropped them):
    the warm driver dict + ord map, the cached terms table with no
    driver dict and no ord map (size gates forced to 0), and an
    unwarmed session that reads only pushdown-pruned parquet."""
    from data_prepper_spark.index.query import QuerySession

    row = queries_pdf.iloc[0]
    qs = QuerySession(spark, index_dir).warm()
    try:
        want = qs.topk_one(row["query"], k=3, with_docs=True)
    finally:
        qs.close()
    monkeypatch.setattr(QuerySession, "DRIVER_DICT_MAX_TERMS", 0)
    monkeypatch.setattr(QuerySession, "DRIVER_DOCS_MAX", 0)
    bare = QuerySession(spark, index_dir).warm()
    try:
        assert bare._dict is None and bare._ord_map is None
        gots = [
            bare.topk_one(row["query"], k=3, with_docs=True),
            QuerySession(spark, index_dir).topk_one(
                row["query"], k=3, with_docs=True
            ),
        ]
    finally:
        bare.close()
    for got in gots:
        assert list(got.columns) == [
            "query_id", "rank", "doc_id", "score", "repo", "path", "commit",
        ]
        assert got["doc_id"].tolist() == want["doc_id"].tolist()
        assert got["path"].tolist() == want["path"].tolist()
        assert np.allclose(got["score"], want["score"])


def test_topk_one_cold_matches_topk(
    spark, index_dir, queries_pdf, monkeypatch
):
    """topk_one_cold (no resident state; pushdown-pruned scans +
    driver decode) is rank/score-identical to the module topk on both
    the driver-decode path and the Σdf-gated batch plan; with_docs
    resolves identity columns."""
    from data_prepper_spark.index.query import QuerySession, topk_one_cold

    rows = list(queries_pdf.head(4).iterrows())
    want = {}
    for _, row in rows:
        q = spark.createDataFrame(
            [(int(row["query_id"]), row["query"])],
            "query_id long, query string",
        )
        want[row["query_id"]] = (
            topk(spark, index_dir, q, k=10)
            .toPandas()
            .sort_values("rank")
            .reset_index(drop=True)
        )
    for gate in (5_000_000, 1):  # driver decode, then the batch plan
        monkeypatch.setattr(QuerySession, "MAX_DRIVER_POSTINGS", gate)
        for _, row in rows:
            a = topk_one_cold(
                spark, index_dir, row["query"], k=10,
                query_id=int(row["query_id"]),
            )
            b = want[row["query_id"]]
            assert a["doc_id"].tolist() == b["doc_id"].tolist()
            assert np.allclose(a["score"], b["score"])
        wd = topk_one_cold(
            spark, index_dir, rows[0][1]["query"], k=3, with_docs=True,
        )
        assert list(wd.columns) == [
            "query_id", "rank", "doc_id", "score", "repo", "path", "commit"
        ]
        assert len(wd) == 3 and wd["repo"].notna().all()


def test_session_open_runs_no_spark_job(
    spark, index_dir, queries_pdf, tmp_path
):
    """Opening a QuerySession is metadata only (stats.json + a listing
    of the tombstone part files), also over a tombstoned index; the
    Spark work starts with warm() or the first query."""
    import shutil as sh

    from data_prepper_spark.index.query import QuerySession, delete_by_query

    idx = str(tmp_path / "idx")
    sh.copytree(index_dir, idx)
    assert delete_by_query(spark, idx, queries_pdf["query"].iloc[0]) > 0
    sc = spark.sparkContext
    sc.setJobGroup("session_open", "QuerySession open")
    try:
        sess = QuerySession(spark, idx)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("session_open")) == []
    assert len(sess.segments) == 1 and sess.segments[0].tombstones


def test_phrase_search_exact_hits(spark, index_dir, fixture_dir, corpus_pdf):
    """phrase_search returns exactly the docs whose canonical token
    stream contains the phrase contiguously (up to k), never a false
    positive, and nothing for a phrase absent from the corpus."""
    from data_prepper_spark.index.query import phrase_search
    from data_prepper_spark.tokenizer import tokenize_series
    from pyspark.sql import functions as F

    corpus_path = os.path.join(fixture_dir, "corpus.parquet")
    joined = corpus_pdf["content"].map(
        lambda t: " " + " ".join(tokenize_series(pd.Series([t]))[0]) + " "
    )
    toks0 = tokenize_series(pd.Series([corpus_pdf["content"].iloc[0]]))[0]
    phrase = f"{toks0[5]} {toks0[6]} {toks0[7]}"
    want = set(
        corpus_pdf[joined.str.contains(f" {phrase} ", regex=False)]["path"]
    )
    assert want, "test phrase must occur in the corpus"
    ph = spark.createDataFrame(
        [(0, phrase), (1, "qqq zzz notaword")], "query_id long, phrase string"
    )
    out = phrase_search(spark, index_dir, corpus_path, ph, k=1000).toPandas()
    got = set(out[out.query_id == 0]["path"])
    assert got == want
    assert len(out[out.query_id == 1]) == 0
    # ranks are dense from 1 and scores non-increasing
    r = out[out.query_id == 0].sort_values("rank")
    assert r["rank"].tolist() == list(range(1, len(r) + 1))
    assert (r["score"].diff().dropna() <= 1e-12).all()


def test_boolean_search_semantics(spark, index_dir, corpus_pdf):
    """Lucene bool-query contract: conjunctive must, must_not
    exclusion, minimum_should_match=1 when no must clause, and an
    unknown must term matches nothing. Match sets verified against a
    pandas recomputation over the canonical token stream."""
    from collections import Counter

    from data_prepper_spark.index.query import boolean_search
    from data_prepper_spark.tokenizer import tokenize_series

    toksets = [
        set(tokenize_series(pd.Series([t]))[0]) for t in corpus_pdf["content"]
    ]
    cnt = Counter(t for s in toksets for t in s)
    common = [t for t, _ in cnt.most_common()]
    a, b = common[0], common[1]
    c = common[len(common) // 3]  # mid-frequency -> exclusion bites
    paths = corpus_pdf["path"].tolist()
    want_bool = {
        p for p, s in zip(paths, toksets) if a in s and b in s and c not in s
    }
    want_should = {p for p, s in zip(paths, toksets) if a in s or b in s}
    q = spark.createDataFrame(
        [
            (0, f"{a} {b}", "", c),
            (1, f"zzznotaword {a}", b, ""),
            (2, "", f"{a} {b}", ""),
        ],
        "query_id long, must string, should string, must_not string",
    )
    out = boolean_search(spark, index_dir, q, k=1_000_000).toPandas()
    assert want_bool and set(out[out.query_id == 0]["path"]) == want_bool
    assert len(out[out.query_id == 1]) == 0
    assert set(out[out.query_id == 2]["path"]) == want_should
    r = out[out.query_id == 0].sort_values("rank")
    assert r["rank"].tolist() == list(range(1, len(r) + 1))
    assert (r["score"].diff().dropna() <= 1e-12).all()


def test_expanded_search_prefix_and_fuzzy(spark, index_dir, corpus_pdf):
    """Multi-term expansion: prefix match set equals a pandas
    recomputation; fuzzy (distance 1) hits exactly the
    edit-distance-neighborhood of a real term; unknown patterns
    return nothing; max_expansions caps the expansion by df."""
    from collections import Counter

    from data_prepper_spark.index.query import expanded_search
    from data_prepper_spark.tokenizer import tokenize_series

    toksets = [
        set(tokenize_series(pd.Series([t]))[0]) for t in corpus_pdf["content"]
    ]
    cnt = Counter(t for s in toksets for t in s)
    base = max((t for t in cnt if len(t) >= 4), key=lambda t: cnt[t])
    pfx = base[:3]
    paths = corpus_pdf["path"].tolist()
    want_pfx = {
        p
        for p, s in zip(paths, toksets)
        if any(t.startswith(pfx) for t in s)
    }
    q = spark.createDataFrame(
        [(0, pfx), (1, "zzzzznotaprefix")], "query_id long, pattern string"
    )
    out = expanded_search(
        spark, index_dir, q, match="prefix", k=1_000_000, max_expansions=10_000
    ).toPandas()
    assert set(out[out.query_id == 0]["path"]) == want_pfx and want_pfx
    assert len(out[out.query_id == 1]) == 0
    # fuzzy: pattern = base with first char replaced -> distance 1
    fz = ("z" if base[0] != "z" else "q") + base[1:]

    def _d1(a, b):
        if a == b:
            return True
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        if la == lb:
            return sum(x != y for x, y in zip(a, b)) <= 1
        s, l = (a, b) if la < lb else (b, a)
        for i in range(len(l)):
            if l[:i] + l[i + 1 :] == s:
                return True
        return False

    want_fz = {
        p for p, s in zip(paths, toksets) if any(_d1(t, fz) for t in s)
    }
    qf = spark.createDataFrame([(0, fz)], "query_id long, pattern string")
    outf = expanded_search(
        spark, index_dir, qf, match="fuzzy", k=1_000_000, max_expansions=10_000
    ).toPandas()
    assert set(outf[outf.query_id == 0]["path"]) == want_fz and want_fz
    # max_expansions=1 keeps only the highest-df expansion
    out1 = expanded_search(
        spark, index_dir, q, match="prefix", k=1_000_000, max_expansions=1
    ).toPandas()
    top_term = sorted(
        (t for t in cnt if t.startswith(pfx)), key=lambda t: (-cnt[t], t)
    )[0]
    want_one = {p for p, s in zip(paths, toksets) if top_term in s}
    assert set(out1[out1.query_id == 0]["path"]) == want_one


def test_expanded_search_regexp(spark, index_dir, corpus_pdf):
    """Regexp expansion (Lucene RegexpQuery semantics): the pattern
    is ANCHORED — it must match the whole dictionary term — and the
    match set equals a pandas re.fullmatch recomputation. Covers a
    pattern with a literal prefix (blocked join key pushes into the
    scan), a prefix-less pattern (degrades to the residual scan), and
    a no-match pattern."""
    import re
    from collections import Counter

    from data_prepper_spark.index.query import expanded_search
    from data_prepper_spark.tokenizer import tokenize_series

    toksets = [
        set(tokenize_series(pd.Series([t]))[0]) for t in corpus_pdf["content"]
    ]
    cnt = Counter(t for s in toksets for t in s)
    base = max((t for t in cnt if len(t) >= 4), key=lambda t: cnt[t])
    # literal-prefix pattern: first 2 chars literal, then any run
    p0 = re.escape(base[:2]) + ".*"
    # prefix-less pattern: char class head (no blocking key)
    p1 = "[" + base[0] + "z]" + re.escape(base[1:])
    p2 = "zzz[0-9]+never"
    paths = corpus_pdf["path"].tolist()
    q = spark.createDataFrame(
        [(0, p0), (1, p1), (2, p2)], "query_id long, pattern string"
    )
    out = expanded_search(
        spark, index_dir, q, match="regexp", k=1_000_000,
        max_expansions=10_000,
    ).toPandas()
    for qid, pat in ((0, p0), (1, p1), (2, p2)):
        rx = re.compile(pat)
        want = {
            p
            for p, s in zip(paths, toksets)
            if any(rx.fullmatch(t) for t in s)
        }
        got = set(out[out.query_id == qid]["path"])
        assert got == want, (qid, pat)
    assert len(out[out.query_id == 0]) > 0  # non-degenerate
    # ANCHORING: a substring-only pattern must NOT match longer terms
    sub = base[1:3]
    if sub and any(t != sub and sub in t for t in cnt):
        qs = spark.createDataFrame(
            [(0, re.escape(sub))], "query_id long, pattern string"
        )
        outs = expanded_search(
            spark, index_dir, qs, match="regexp", k=1_000_000,
            max_expansions=10_000,
        ).toPandas()
        want_exact = {p for p, s in zip(paths, toksets) if sub in s}
        assert set(outs[outs.query_id == 0]["path"]) == want_exact


def test_faceted_search_full_match_set(spark, index_dir, fixture_dir, corpus_pdf):
    """Facet buckets count EVERY matching doc (not just top-k) per
    lang, ordered (doc_count desc, value asc); verified against a
    pandas recomputation of the disjunctive match set."""
    from collections import Counter

    from data_prepper_spark.index.query import faceted_search
    from data_prepper_spark.tokenizer import tokenize_series

    corpus_path = os.path.join(fixture_dir, "corpus.parquet")
    toksets = [
        set(tokenize_series(pd.Series([t]))[0]) for t in corpus_pdf["content"]
    ]
    cnt = Counter(t for s in toksets for t in s)
    a, b = [t for t, _ in cnt.most_common(2)]
    want = Counter(
        lang
        for lang, s in zip(corpus_pdf["lang"], toksets)
        if a in s or b in s
    )
    q = spark.createDataFrame(
        [(0, f"{a} {b}")], "query_id long, query string"
    )
    out = (
        faceted_search(spark, index_dir, corpus_path, q, facet_col="lang",
                       n_buckets_out=1_000_000)
        .toPandas()
        .sort_values("bucket_rank")
    )
    assert dict(zip(out["facet"], out["doc_count"])) == dict(want)
    counts = out["doc_count"].tolist()
    assert counts == sorted(counts, reverse=True)
    # doc-values sidecar path (corpus join skipped) gives identical
    # buckets — it is the scale path for 100-TB corpora
    from data_prepper_spark.index.query import attach_doc_values

    attach_doc_values(spark, index_dir, corpus_path, cols=("lang",))
    out_dv = (
        faceted_search(spark, index_dir, corpus_path, q, facet_col="lang",
                       n_buckets_out=1_000_000)
        .toPandas()
        .sort_values("bucket_rank")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(out.reset_index(drop=True), out_dv)


def test_simple_query_string_parse(spark):
    """Catalyst operator split matches the reference Python parse on
    edge cases (lone +/-, repeated spaces, all-must, all-bare)."""
    from data_prepper_spark.index.query import parse_simple_queries

    def ref(q):
        must, should, must_not = [], [], []
        for tok in q.split():
            if tok.startswith("+") and len(tok) > 1:
                must.append(tok[1:])
            elif tok.startswith("-") and len(tok) > 1:
                must_not.append(tok[1:])
            else:
                should.append(tok)
        return " ".join(must), " ".join(should), " ".join(must_not)

    cases = [
        "+a b -c",
        "+ a -",
        "a  b",
        "+x +y",
        "-only",
        "",
        "+data query -slow spark",
    ]
    q = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "query_id long, query string"
    )
    got = parse_simple_queries(q).toPandas().sort_values("query_id")
    for row, c in zip(got.itertuples(), cases):
        assert (row.must, row.should, row.must_not) == ref(c), c


def test_delete_by_query_and_expunge(spark, index_dir, fixture_dir, corpus_pdf,
                                     queries_pdf, tmp_path):
    """Lucene delete semantics: tombstoned docs vanish from results
    while survivors keep their PRE-delete scores (stats untouched);
    expunge_deletes rebuilds minus tombstones and is rank-identical
    to the numpy oracle over the filtered corpus."""
    import shutil as sh

    from collections import Counter

    from data_prepper_spark.index.query import delete_by_query, expunge_deletes
    from data_prepper_spark.oracle import bm25_topk
    from data_prepper_spark.tokenizer import tokenize_series
    from data_prepper_spark.xxh64 import doc_id_of

    idx = str(tmp_path / "idx")
    sh.copytree(index_dir, idx)
    toksets = [
        set(tokenize_series(pd.Series([t]))[0]) for t in corpus_pdf["content"]
    ]
    # doc frequency per term; pick one present in ~1/4 of the docs so
    # both the deleted and surviving sets are substantial
    dfreq = Counter(t for s in toksets for t in s)
    target = len(toksets) // 4
    term = min(dfreq, key=lambda t: (abs(dfreq[t] - target), t))
    dead_mask = pd.Series([term in s for s in toksets])
    dead_ids = {
        doc_id_of(r.repo, r.path, r.commit)
        for r, d in zip(corpus_pdf.itertuples(), dead_mask)
        if d
    }
    n = delete_by_query(spark, idx, term)
    assert n == int(dead_mask.sum()) and n > 0
    qp = queries_pdf.head(8)
    qdf = spark.createDataFrame(qp)
    full = topk(spark, index_dir, qdf, k=100_000).toPandas()
    got = topk(spark, idx, qdf, k=10).toPandas()
    assert not (set(got["doc_id"]) & dead_ids)
    # expected = full ranking minus dead docs, re-ranked, top 10 —
    # scores must be BIT-identical (postings/stats untouched)
    live = (
        full[~full["doc_id"].isin(dead_ids)]
        .sort_values(["query_id", "rank"])
        .copy()
    )
    live["rank"] = live.groupby("query_id").cumcount() + 1
    exp = live[live["rank"] <= 10].reset_index(drop=True)
    got = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert (got["score"].to_numpy() == exp["score"].to_numpy()).all()
    # re-delete is idempotent
    assert delete_by_query(spark, idx, term) == n
    got_again = (
        topk(spark, idx, qdf, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert got_again["doc_id"].tolist() == got["doc_id"].tolist()
    # merge-with-expunge: survivors' stats recomputed
    out = str(tmp_path / "merged")
    expunge_deletes(
        spark, os.path.join(fixture_dir, "corpus.parquet"), idx, out
    )
    sub = corpus_pdf[~dead_mask.to_numpy()].reset_index(drop=True)
    gold = bm25_topk(sub, qp.head(5), k=5)
    got2 = topk(spark, out, spark.createDataFrame(qp.head(5)), k=5).toPandas()
    _compare(got2, gold)
    # reindex drops tombstoned docs WITHOUT re-tokenizing — same gold
    from data_prepper_spark.index.build import reindex

    out2 = str(tmp_path / "reindexed")
    reindex(spark, idx, out2)
    got3 = topk(spark, out2, spark.createDataFrame(qp.head(5)), k=5).toPandas()
    _compare(got3, gold)


def test_search_after_pages_tile(spark, index_dir, queries_pdf):
    """search_after pages tile the ranking: page1 (k=10) + page2
    (next 10 after page1's last hit) == topk k=20, in order, with no
    overlap — for every fixture query."""
    from data_prepper_spark.index.query import topk_after

    qp = queries_pdf.head(6)
    qdf = spark.createDataFrame(qp)
    p1 = topk(spark, index_dir, qdf, k=10).toPandas().sort_values(
        ["query_id", "rank"]
    )
    p20 = topk(spark, index_dir, qdf, k=20).toPandas().sort_values(
        ["query_id", "rank"]
    )
    cursors = []
    for r in p1[p1["rank"] == 10].itertuples():
        qtext = qp[qp["query_id"] == r.query_id]["query"].iloc[0]
        cursors.append((int(r.query_id), qtext, float(r.score), int(r.doc_id)))
    cur = spark.createDataFrame(
        cursors,
        "query_id long, query string, after_score double, after_doc long",
    )
    p2 = topk_after(spark, index_dir, cur, k=10).toPandas().sort_values(
        ["query_id", "rank"]
    )
    for qid in p1["query_id"].unique():
        a = p1[p1.query_id == qid]["doc_id"].tolist()
        b = p2[p2.query_id == qid]["doc_id"].tolist()
        want = p20[p20.query_id == qid]["doc_id"].tolist()
        assert a + b == want


def test_reindex_from_tokens(spark, index_dir, queries_pdf, tmp_path):
    """_reindex analog: rebuild from the source index's tokens under a
    different bucketing — rank-identical results, no corpus re-read;
    doc_filter drops whole docs and stats are recomputed."""
    from data_prepper_spark.index.build import BuildConfig, load_stats, reindex
    from data_prepper_spark.index.query import topk as _topk

    dst = str(tmp_path / "reidx")
    stats = reindex(
        spark, index_dir, dst, BuildConfig(n_buckets=4, hot_group_target=500)
    )
    src_stats = load_stats(index_dir)
    assert stats["n_docs"] == src_stats["n_docs"]
    assert stats["avgdl"] == src_stats["avgdl"]
    assert stats["n_buckets"] == 4
    qdf = spark.createDataFrame(queries_pdf)
    a = _topk(spark, index_dir, qdf, k=10).toPandas()
    b = _topk(spark, dst, qdf, k=10).toPandas()
    a = a.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = b.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (a.doc_id == b.doc_id).all()
    assert (a.score - b.score).abs().max() < 1e-9

    # reindex-with-query: keep only repo org0/* docs
    flt = str(tmp_path / "reidx_flt")
    fstats = reindex(
        spark, index_dir, flt,
        BuildConfig(n_buckets=4, hot_group_target=500),
        doc_filter="repo LIKE 'org0/%'",
    )
    docs = spark.read.parquet(f"{flt}/docs").toPandas()
    assert len(docs) == fstats["n_docs"] < src_stats["n_docs"]
    assert docs.repo.str.startswith("org0/").all()


def test_positions_sidecar_and_positional_phrase(
    spark, index_dir, fixture_dir, corpus_pdf
):
    """Positions sidecar matches the tokenizer ground truth; the
    positional phrase path returns the SAME match set as the
    retrieve-then-verify phrase path; ordered slop admits gaps."""
    from data_prepper_spark.index.positions import (
        build_positions,
        phrase_topk_positional,
    )
    from data_prepper_spark.index.query import phrase_search
    from data_prepper_spark.tokenizer import tokenize_series
    from pyspark.sql import functions as F

    corpus_path = os.path.join(fixture_dir, "corpus.parquet")
    build_positions(spark, corpus_path, index_dir, encoding="plain")

    # ground truth for one doc
    doc = corpus_pdf.iloc[0]
    toks = tokenize_series(pd.Series([doc.content])).iloc[0]
    docs_tbl = pd.read_parquet(os.path.join(index_dir, "docs"))
    did = int(docs_tbl[docs_tbl.path == doc.path].doc_id.iloc[0])
    got = (
        spark.read.parquet(os.path.join(index_dir, "positions"))
        .filter(F.col("doc_id") == did)
        .toPandas()
        .set_index("term")["positions"]
    )
    import collections

    want = collections.defaultdict(list)
    for i, t in enumerate(toks):
        want[t].append(i)
    assert len(got) == len(want)
    for t, ps in want.items():
        assert list(got[t]) == ps

    # same match set as retrieve-then-verify (ranking keys differ:
    # phrase_freq vs BM25 — so compare SETS per query, exhaustively);
    # phrases drawn from the corpus itself so the match sets are
    # non-empty
    phrases = [" ".join(toks[10:12]), " ".join(toks[30:33])]
    ph_all = spark.createDataFrame(
        [(i, p) for i, p in enumerate(phrases)],
        "query_id long, phrase string",
    )
    plain_out = (
        phrase_topk_positional(spark, index_dir, ph_all, k=100_000)
        .toPandas().sort_values(["query_id", "doc_id"]).reset_index(drop=True)
    )
    from data_prepper_spark import fsio

    plain_bytes = fsio.du(os.path.join(index_dir, "positions"))
    # varbyte layout: identical results; on parquet it is measurably
    # LARGER than plain int lists (parquet RLE+snappy beats varbyte
    # blobs — why plain is the default; see build_positions docstring)
    build_positions(spark, corpus_path, index_dir, encoding="varbyte")
    vb_bytes = fsio.du(os.path.join(index_dir, "positions"))
    assert 0.5 < vb_bytes / plain_bytes < 2.0  # same order; layout choice documented
    vb_out = (
        phrase_topk_positional(spark, index_dir, ph_all, k=100_000)
        .toPandas().sort_values(["query_id", "doc_id"]).reset_index(drop=True)
    )
    assert plain_out.doc_id.tolist() == vb_out.doc_id.tolist()
    assert plain_out.phrase_freq.tolist() == vb_out.phrase_freq.tolist()
    build_positions(spark, corpus_path, index_dir)  # leave default layout
    ph = spark.createDataFrame(
        [(i, p) for i, p in enumerate(phrases)],
        "query_id long, phrase string",
    )
    a = phrase_search(spark, index_dir, corpus_path, ph, k=100_000).toPandas()
    b = phrase_topk_positional(spark, index_dir, ph, k=100_000).toPandas()
    for qid in range(len(phrases)):
        sa = set(a[a.query_id == qid].doc_id)
        sb = set(b[b.query_id == qid].doc_id)
        assert sa == sb and sb

    # ordered slop: "alpha gamma" with slop=1 matches "alpha beta gamma"
    import shutil as sh
    import tempfile

    tmp = tempfile.mkdtemp(prefix="posidx_")
    pdf = pd.DataFrame(
        {
            "repo": ["r"] * 2,
            "path": ["1", "2"],
            "commit": ["c"] * 2,
            "content": ["alpha beta gamma end", "alpha gamma end"],
        }
    )
    cp = os.path.join(tmp, "c.parquet")
    pdf.to_parquet(cp)
    spark.createDataFrame(pdf).select(
        F.xxhash64("repo", "path", "commit").alias("doc_id"),
        "repo", "path", "commit",
    ).write.parquet(os.path.join(tmp, "docs"))
    build_positions(spark, cp, tmp)
    phq = spark.createDataFrame(
        [(0, "alpha gamma")], "query_id long, phrase string"
    )
    exact = phrase_topk_positional(spark, tmp, phq, slop=0).toPandas()
    sloppy = phrase_topk_positional(spark, tmp, phq, slop=1).toPandas()
    assert set(exact.path) == {"2"}
    assert set(sloppy.path) == {"1", "2"}
    sh.rmtree(tmp)


def test_stopword_analyzer_build(spark, fixture_dir, corpus_pdf, queries_pdf, tmp_path):
    """BuildConfig.stopwords (the analyzer stop filter): stopped terms
    never reach the dictionary, dl/avgdl count surviving tokens only,
    and the engine stays rank-identical to the numpy oracle running
    the same filtered analyzer. A query made only of stopwords simply
    matches nothing (standard stopped-analyzer contract)."""
    from data_prepper_spark.index.build import BuildConfig, build_index, load_stats

    sw = ("init", "main")  # both exist in the fixture vocabulary
    idx = str(tmp_path / "stopidx")
    build_index(
        spark,
        os.path.join(fixture_dir, "corpus.parquet"),
        idx,
        BuildConfig(n_buckets=4, hot_group_target=5000, stopwords=sw),
    )
    terms = spark.read.parquet(os.path.join(idx, "terms")).toPandas()
    assert not (terms.term.isin(sw)).any()

    from data_prepper_spark.oracle import bm25_topk, build_term_stats

    postings, docs = build_term_stats(corpus_pdf, stopwords=sw)
    stats = load_stats(idx)
    assert stats["n_docs"] == len(docs)
    assert abs(stats["avgdl"] - docs["dl"].mean()) < 1e-9
    # avgdl must actually have changed vs the unfiltered analyzer
    _, docs_unfiltered = build_term_stats(corpus_pdf)
    assert docs["dl"].sum() < docs_unfiltered["dl"].sum()

    qp = queries_pdf.head(6)
    gold = bm25_topk(corpus_pdf, qp, k=10, stopwords=sw)
    got = topk(spark, idx, spark.createDataFrame(qp), k=10).toPandas()
    _compare(got, gold)

    # stopword-only query: zero hits
    swq = spark.createDataFrame([(99, "init main")], "query_id long, query string")
    assert topk(spark, idx, swq, k=10).count() == 0

    # the JVM tokens path applies the same filter (bit-identical index)
    from data_prepper_spark.index.build import BuildConfig as _BC

    idx2 = str(tmp_path / "stopidx_jvm")
    build_index(
        spark,
        os.path.join(fixture_dir, "corpus.parquet"),
        idx2,
        _BC(n_buckets=4, hot_group_target=5000, stopwords=sw,
            direct_tokens_write=False),
    )
    cols = ["term_id", "min_doc", "n", "docs", "tfs", "dls"]
    a = (
        spark.read.parquet(os.path.join(idx, "postings")).select(cols)
        .toPandas().sort_values(["term_id", "min_doc"]).reset_index(drop=True)
    )
    b = (
        spark.read.parquet(os.path.join(idx2, "postings")).select(cols)
        .toPandas().sort_values(["term_id", "min_doc"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_stemmed_analyzer_build(spark, fixture_dir, corpus_pdf, queries_pdf,
                                tmp_path):
    """BuildConfig.stemmer='minimal_english' on the physical path:
    tf/df/dl over stemmed tokens, query side stems through the
    persisted stats.json chain, rank/score-identical to the oracle
    with the same analyzer."""
    import os as _os

    from data_prepper_spark.index.build import (
        BuildConfig, build_index, load_stats,
    )
    from data_prepper_spark.oracle import bm25_topk as _gold_topk

    idx = str(tmp_path / "stemidx")
    build_index(
        spark,
        _os.path.join(fixture_dir, "corpus.parquet"),
        idx,
        BuildConfig(n_buckets=4, hot_group_target=5000,
                    stemmer="minimal_english"),
    )
    st = load_stats(idx)
    assert st["stemmer"] == "minimal_english"
    terms = spark.read.parquet(_os.path.join(idx, "terms")).toPandas()
    bad = terms[
        terms.term.str.len().gt(3)
        & terms.term.str.endswith("s")
        & ~terms.term.str.endswith(("ss", "us", "is"))
    ]
    assert bad.empty  # dictionary fully stemmed

    qp = queries_pdf.head(6)
    gold = _gold_topk(corpus_pdf, qp, k=10, stemmer="minimal_english")
    got = topk(spark, idx, spark.createDataFrame(qp), k=10).toPandas()
    _compare(got, gold)

    # a PLURAL query form must reach the singular dictionary term:
    # pick a stemmable dictionary term and query its 's' form
    t = terms[terms.term.str.len() > 4].sort_values(
        "df", ascending=False
    ).term.iloc[0]
    plural = spark.createDataFrame(
        [(7, t + "s")], "query_id long, query string"
    )
    singular = spark.createDataFrame(
        [(7, t)], "query_id long, query string"
    )
    a = topk(spark, idx, plural, k=10).toPandas()
    b = topk(spark, idx, singular, k=10).toPandas()
    assert len(a) > 0
    pd.testing.assert_frame_equal(
        a.sort_values("rank").reset_index(drop=True),
        b.sort_values("rank").reset_index(drop=True),
    )


def test_stopword_conjunctive_queries(spark, fixture_dir, tmp_path):
    """ADVICE r03 regression: on a stopword-built index, must clauses
    and phrases CONTAINING a stopword behave like the reference's
    stopped analyzer (token removed query-side) instead of returning
    zero rows forever."""
    import os as _os

    from data_prepper_spark.index.build import BuildConfig, build_index
    from data_prepper_spark.index.positions import (
        build_positions, phrase_topk_positional,
    )
    from data_prepper_spark.index.query import (
        analyze_query_py, boolean_search, load_stats, phrase_search,
    )

    sw = ("init", "main")
    cp = _os.path.join(fixture_dir, "corpus.parquet")
    idx = str(tmp_path / "stopidx2")
    build_index(
        spark, cp, idx,
        BuildConfig(n_buckets=4, hot_group_target=5000, stopwords=sw),
    )
    st = load_stats(idx)
    assert st["stopwords"] == ["init", "main"]
    terms = spark.read.parquet(_os.path.join(idx, "terms")).toPandas()
    t = terms[terms.term.str.len() > 4].sort_values(
        "df", ascending=False
    ).term.iloc[0]

    # boolean: "t init" as must == "t" as must (stopword removed)
    mk = lambda m: spark.createDataFrame(
        [(1, m, None, None)],
        "query_id long, must string, should string, must_not string",
    )
    with_sw = boolean_search(spark, idx, mk(f"{t} init"), k=10).toPandas()
    without = boolean_search(spark, idx, mk(t), k=10).toPandas()
    assert len(with_sw) > 0
    pd.testing.assert_frame_equal(
        with_sw.sort_values("rank").reset_index(drop=True),
        without.sort_values("rank").reset_index(drop=True),
    )

    # phrase: two adjacent analyzed tokens with a stopword wedged in
    # still match (analyzer drops it on both sides)
    doc = pd.read_parquet(cp)
    doc = doc[doc.content.str.contains(t, case=False)].iloc[0]
    toks = analyze_query_py(st, doc.content)
    ph = f"{toks[0]} init {toks[1]}"
    pq = spark.createDataFrame([(1, ph)], "query_id long, phrase string")
    pres = phrase_search(spark, idx, cp, pq, k=10).toPandas()
    assert len(pres) > 0

    # positional sidecar records the analyzed stream -> same hit
    build_positions(spark, cp, idx)
    ppres = phrase_topk_positional(spark, idx, pq, k=10).toPandas()
    assert len(ppres) > 0
    assert set(pres.doc_id) & set(ppres.doc_id)


def test_tombstones_visible_across_all_apis(spark, index_dir, fixture_dir,
                                            corpus_pdf, tmp_path):
    """ADVICE r03: delete_by_query must be honored by EVERY
    index-backed match path — not just topk. Tombstone a doc set,
    then assert phrase/boolean/expanded search, facets,
    significant_terms, collapse, topk_one_cold exclude it, and that a
    warm QuerySession keeps its open-time view on BOTH its single-query
    and batch paths until refresh(), then drops the docs on both."""
    import shutil as sh

    from collections import Counter

    from data_prepper_spark.index.query import (
        QuerySession,
        attach_doc_values,
        boolean_search,
        collapse_search,
        delete_by_query,
        expanded_search,
        faceted_search,
        phrase_search,
        significant_terms,
        topk_one_cold,
    )
    from data_prepper_spark.tokenizer import tokenize_series
    from data_prepper_spark.xxh64 import doc_id_of

    idx = str(tmp_path / "idx")
    sh.copytree(index_dir, idx)
    cpath = os.path.join(fixture_dir, "corpus.parquet")

    # session opened BEFORE the delete: snapshot contract
    sess = QuerySession(spark, idx).warm()

    toksets = [
        set(tokenize_series(pd.Series([t]))[0]) for t in corpus_pdf["content"]
    ]
    dfreq = Counter(t for s in toksets for t in s)
    target = len(toksets) // 4
    term = min(dfreq, key=lambda t: (abs(dfreq[t] - target), t))
    dead_ids = {
        doc_id_of(r.repo, r.path, r.commit)
        for r, s in zip(corpus_pdf.itertuples(), toksets)
        if term in s
    }
    pre = sess.topk_one(term, k=10)
    assert set(pre.doc_id) <= dead_ids  # querying the term itself

    n = delete_by_query(spark, idx, term)
    assert n == len(dead_ids) > 0

    # snapshot: the warm session still returns the dead docs, on the
    # single-query and the batch path alike...
    q1 = spark.createDataFrame([(0, term)], "query_id long, query string")
    still = sess.topk_one(term, k=10)
    assert list(still.doc_id) == list(pre.doc_id)
    batch = sess.topk(q1, k=10).toPandas().sort_values("rank")
    assert list(batch.doc_id) == list(still.doc_id)
    # ...until refresh, which moves both
    sess.refresh()
    assert len(sess.topk_one(term, k=10)) == 0
    assert sess.topk(q1, k=10).count() == 0
    sess.close()

    # stateless paths see the delete immediately
    assert len(topk_one_cold(spark, idx, term, k=10)) == 0
    assert topk(spark, idx, q1, k=10).count() == 0

    bq = spark.createDataFrame(
        [(0, term, None, None)],
        "query_id long, must string, should string, must_not string",
    )
    assert boolean_search(spark, idx, bq, k=10).count() == 0

    ph = spark.createDataFrame([(0, term)], "query_id long, phrase string")
    assert phrase_search(spark, idx, cpath, ph, k=10).count() == 0

    pq = spark.createDataFrame(
        [(0, term[:3])], "query_id long, pattern string"
    )
    got = expanded_search(spark, idx, pq, match="prefix", k=100_000).toPandas()
    assert not (set(got.doc_id) & dead_ids)

    attach_doc_values(spark, idx, cpath, cols=("lang",))
    fc = faceted_search(
        spark, idx, cpath, q1, facet_col="lang"
    ).toPandas()
    assert fc.doc_count.sum() == 0 if len(fc) else True

    st = significant_terms(spark, idx, q1, size=5).toPandas()
    assert len(st) == 0  # empty foreground

    cl = collapse_search(spark, idx, cpath, q1, field="lang", k=5).toPandas()
    assert len(cl) == 0


def test_sloppy_phrase_transpositions(spark):
    """Lucene sloppy-phrase semantics (SloppyPhraseMatcher): cost =
    range of offset-adjusted positions. Transposition costs 2; ordered
    gaps cost their width; freq counts non-overlapping windows."""
    import shutil as sh
    import tempfile

    from data_prepper_spark.index.positions import (
        build_positions,
        phrase_topk_positional,
        sloppy_phrase_topk,
    )
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="slopidx_")
    pdf = pd.DataFrame(
        {
            "repo": ["r"] * 4,
            "path": ["exact", "gap", "swap", "double"],
            "commit": ["c"] * 4,
            "content": [
                "alpha beta end",            # exact match
                "alpha filler beta end",     # ordered gap 1
                "beta alpha end",            # transposition (cost 2)
                "alpha beta mid alpha beta", # two windows
            ],
        }
    )
    cp = os.path.join(tmp, "c.parquet")
    pdf.to_parquet(cp)
    spark.createDataFrame(pdf).select(
        F.xxhash64("repo", "path", "commit").alias("doc_id"),
        "repo", "path", "commit",
    ).write.parquet(os.path.join(tmp, "docs"))
    build_positions(spark, cp, tmp)
    phq = spark.createDataFrame(
        [(0, "alpha beta")], "query_id long, phrase string"
    )

    def paths(df):
        return dict(zip(df.path, zip(df.min_cost, df.phrase_freq)))

    s0 = paths(sloppy_phrase_topk(spark, tmp, phq, slop=0).toPandas())
    assert set(s0) == {"exact", "double"}
    assert s0["double"] == (0, 2)  # two non-overlapping exact windows
    s1 = paths(sloppy_phrase_topk(spark, tmp, phq, slop=1).toPandas())
    assert set(s1) == {"exact", "gap", "double"}  # swap costs 2: out
    assert s1["gap"] == (1, 1)
    s2 = paths(sloppy_phrase_topk(spark, tmp, phq, slop=2).toPandas())
    assert set(s2) == {"exact", "gap", "swap", "double"}
    assert s2["swap"] == (2, 1)  # the Lucene transposition rule

    # ordered path rejects the swap even at slop=2 (ordered semantics)
    ordered = phrase_topk_positional(
        spark, tmp, phq, slop=2, k=10
    ).toPandas()
    assert "swap" not in set(ordered.path)
    sh.rmtree(tmp)


def test_positions_folded_into_build(spark, fixture_dir, tmp_path):
    """BuildConfig.positions=True records the positions sidecar inside
    the single tokenize pass — content-identical to the separate
    build_positions pass, phrase queries identical, resume contract
    intact (pending-unit partitions cleared for BOTH artifacts)."""
    import pytest as _pytest

    from data_prepper_spark.index.build import BuildConfig, build_index
    from data_prepper_spark.index.positions import (
        build_positions,
        phrase_topk_positional,
    )
    from data_prepper_spark.tokenizer import tokenize_series
    from pyspark.sql import functions as F

    corpus_path = os.path.join(fixture_dir, "corpus.parquet")
    idx = str(tmp_path / "idx_folded")
    build_index(
        spark, corpus_path, idx,
        BuildConfig(n_buckets=8, hot_group_target=5000, positions=True),
    )
    folded = (
        spark.read.parquet(os.path.join(idx, "positions"))
        .select("doc_id", "term", "positions")
        .toPandas()
        .sort_values(["doc_id", "term"])
        .reset_index(drop=True)
    )
    idx2 = str(tmp_path / "idx_sidecar")
    os.makedirs(idx2)
    # separate-pass sidecar over the same corpus (bare dir: no stats)
    build_positions(spark, corpus_path, idx2)
    sidecar = (
        spark.read.parquet(os.path.join(idx2, "positions"))
        .select("doc_id", "term", "positions")
        .toPandas()
        .sort_values(["doc_id", "term"])
        .reset_index(drop=True)
    )
    assert len(folded) == len(sidecar) > 0
    assert folded.doc_id.tolist() == sidecar.doc_id.tolist()
    assert folded.term.tolist() == sidecar.term.tolist()
    assert [list(x) for x in folded.positions] == [
        list(x) for x in sidecar.positions
    ]

    # phrase query through the folded sidecar
    doc = pd.read_parquet(corpus_path).iloc[0]
    toks = tokenize_series(pd.Series([doc.content])).iloc[0]
    ph = spark.createDataFrame(
        [(0, " ".join(toks[5:7]))], "query_id long, phrase string"
    )
    out = phrase_topk_positional(spark, idx, ph, k=10).toPandas()
    assert len(out) > 0

    # JVM write path refuses the flag loudly
    with _pytest.raises(ValueError, match="direct_tokens_write"):
        build_index(
            spark, corpus_path, str(tmp_path / "idx_bad"),
            BuildConfig(positions=True, direct_tokens_write=False),
        )


def test_positional_paths_honor_tombstones(spark, fixture_dir, tmp_path):
    """delete_by_query visibility extends to the positions sidecar:
    a tombstoned doc disappears from exact, ordered-slop AND sloppy
    phrase results (the ord->doc_id mapping is exercised, since
    tombstones store engine ords)."""
    from data_prepper_spark.index.build import BuildConfig, build_index
    from data_prepper_spark.index.positions import (
        phrase_topk_positional,
        sloppy_phrase_topk,
    )
    from data_prepper_spark.index.query import delete_by_query
    from data_prepper_spark.tokenizer import tokenize_series

    corpus_path = os.path.join(fixture_dir, "corpus.parquet")
    idx = str(tmp_path / "tomb_pos_idx")
    build_index(
        spark, corpus_path, idx,
        BuildConfig(n_buckets=8, hot_group_target=5000, positions=True),
    )
    doc = pd.read_parquet(corpus_path).iloc[0]
    toks = tokenize_series(pd.Series([doc.content])).iloc[0]
    phrase = " ".join(toks[10:12])
    ph = spark.createDataFrame(
        [(0, phrase)], "query_id long, phrase string"
    )
    docs_tbl = pd.read_parquet(os.path.join(idx, "docs"))
    did = int(docs_tbl[docs_tbl.path == doc.path].doc_id.iloc[0])

    before = phrase_topk_positional(
        spark, idx, ph, k=100000
    ).toPandas()
    assert did in set(before.doc_id)
    sl_before = sloppy_phrase_topk(spark, idx, ph, k=100000, slop=2)
    assert did in set(sl_before.toPandas().doc_id)

    # tombstone every doc matching the phrase terms through the REAL
    # delete path, then assert our doc is among the invisible ones
    n_deleted = delete_by_query(spark, idx, phrase)
    assert n_deleted >= 1

    after = phrase_topk_positional(spark, idx, ph, k=100000).toPandas()
    assert did not in set(after.doc_id)
    # every phrase hit matches the delete query (same terms), so the
    # positional match set empties entirely
    assert len(after) == 0
    sl_after = sloppy_phrase_topk(
        spark, idx, ph, k=100000, slop=2
    ).toPandas()
    assert did not in set(sl_after.doc_id)


def test_topk_multi_index(spark, fixture_dir, corpus_pdf, queries_pdf, tmp_path):
    """topk_multi (the GET idx1,idx2/_search surface): per-lang routed
    indexes queried back together — each index scores with its own
    stats (per-index idf), global merge takes top-k. Verified against
    a pandas merge of the per-slice oracles (same per-index scoring
    contract)."""
    import os

    from data_prepper_spark.index.build import BuildConfig, build_routed_indexes
    from data_prepper_spark.index.query import topk_multi
    from data_prepper_spark.oracle import bm25_topk

    out = str(tmp_path / "routedm")
    build_routed_indexes(
        spark,
        os.path.join(fixture_dir, "corpus.parquet"),
        out,
        route_col="lang",
        cfg=BuildConfig(n_buckets=4, hot_group_target=5000),
    )
    langs = sorted(corpus_pdf["lang"].unique())
    dirs = [os.path.join(out, f"index_{la}") for la in langs]
    qp = queries_pdf.head(4)
    got = topk_multi(
        spark, dirs, spark.createDataFrame(qp), k=5
    ).toPandas()
    # oracle: per-slice BM25 with slice-local stats, merged per query
    import pandas as pd

    golds = []
    for la in langs:
        sub = corpus_pdf[corpus_pdf["lang"] == la].reset_index(drop=True)
        g = bm25_topk(sub, qp, k=5)
        g["_index"] = f"index_{la}"
        golds.append(g)
    merged = pd.concat(golds, ignore_index=True)
    merged = merged.sort_values(
        ["query_id", "score", "doc_id", "_index"],
        ascending=[True, False, True, True],
    )
    merged["rank"] = merged.groupby("query_id").cumcount() + 1
    merged = merged[merged["rank"] <= 5].reset_index(drop=True)
    got = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (got["doc_id"].values == merged["doc_id"].values).all()
    assert (got["_index"].values == merged["_index"].values).all()
    import numpy as np

    assert np.abs(got["score"].values - merged["score"].values).max() < 1e-6
    # provenance column names real winning indexes from >1 lang
    assert got["_index"].nunique() > 1
