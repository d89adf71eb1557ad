"""BM25 top-k query executor over the posting-block index.

Replaces the reference's OpenSearch query side (reference
opensearch/.../source/opensearch/worker/PitWorker.java:173-181 pages an
index via PIT + search_after; here deterministic partition pruning on
the term-hash-bucketed postings table replaces pagination).

Two modes, both exact:
  * exhaustive  — decode every matching block, native groupBy sum +
    window top-k. All heavy math vectorized numpy inside mapInPandas.
  * blockmax    — block-max pruning (WAND-family, SURVEY.md §4 item 2):
    phase A scores only the top-`probe` blocks per (query, term) to get
    a top-k score lower bound θ; phase B decodes only blocks whose
    upper bound idf·block_max + Σ_{other terms} idf·max_impact ≥ θ.
    A doc whose every block is pruned provably scores < θ, so the
    result is identical to exhaustive (asserted in tests).

Scoring: score = Σ_t idf_t · tf(k1+1)/(tf + k1(1−b+b·dl/avgdl)),
idf = ln(1 + (N−df+0.5)/(df+0.5)); tie-break score desc, doc_id asc.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tokenizer import (
    stem_minimal_english_elem,
    stem_minimal_english_py,
    tokenize_col,
)
from .build import delta_dirs, load_stats
from .codec import decode_many, to_signed


def _query_analyzer(stats: dict):
    """Query-side analyzer chain mirroring the build config persisted
    in stats.json (stop filter, then stem filter — same order as the
    build's tokenize pass). Returns a function mapping a string Column
    to an array<string> Column of analyzed tokens, order- and
    duplicate-preserving so phrase joins stay exact. Indexes built
    before the analyzer fields were persisted (or with no analyzer
    options) get the identity chain — plain tokenize_col."""
    sw = tuple(stats.get("stopwords") or ())
    stem = stats.get("stemmer")

    def fn(col):
        arr = tokenize_col(col)
        if sw:
            arr = F.filter(arr, lambda x: ~x.isin(*[F.lit(s) for s in sw]))
        if stem == "minimal_english":
            arr = F.transform(arr, stem_minimal_english_elem)
        return arr

    return fn


def analyze_query_py(stats: dict, text: str) -> list[str]:
    """Driver-side twin of _query_analyzer for the single-query
    serving path (QuerySession.topk_one)."""
    from ..tokenizer import tokenize_series

    toks = tokenize_series(pd.Series([text])).iloc[0]
    sw = set(stats.get("stopwords") or ())
    if sw:
        toks = [t for t in toks if t not in sw]
    if stats.get("stemmer") == "minimal_english":
        toks = [stem_minimal_english_py(t) for t in toks]
    return toks


def _idf_col(n_docs: int):
    return F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )


def query_terms(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    n_docs: int,
    terms_df: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """(query_id, query) -> (query_id, term, df, idf, bucket, max_impact).

    Terms absent from the dictionary drop out (they contribute 0 to
    every score). Duplicate terms within a query count once (standard
    bag-of-words query with binary query-term weights, matching the
    oracle). Query text runs through the index's persisted analyzer
    chain (stop/stem from stats.json) so e.g. a stemmed index matches
    'columns' against the 'column' dictionary term."""
    analyze = _query_analyzer(stats if stats is not None else load_stats(index_dir))
    qt = queries.select(
        "query_id",
        F.explode(F.array_distinct(analyze(F.col("query")))).alias("term"),
    )
    terms = (
        terms_df
        if terms_df is not None
        else spark.read.parquet(os.path.join(index_dir, "terms"))
    )
    return (
        qt.join(terms, "term")
        .withColumn("idf", _idf_col(n_docs))
        .select("query_id", "term", "term_id", "df", "idf", "bucket", "max_impact")
    )


def _make_decoder(
    k1: float, b: float, avgdl: float, chunk: int = 2048,
):
    # block rows are FAT (≈1.3 KB varbyte payload -> ~70 decode
    # temporary bytes per encoded byte): sub-chunk each incoming Arrow
    # batch so decode working sets stay cache-friendly WITHOUT touching
    # spark.sql.execution.arrow.maxRecordsPerBatch on the shared
    # session (the old conf.set leaked a 2048-row cap into unrelated
    # later jobs — ADVICE r02)
    def decode_score(it):
        for pdf in it:
            for lo in range(0, len(pdf), chunk):
                sub = pdf.iloc[lo : lo + chunk]
                docs_v, counts = decode_many(sub["docs"].tolist(), deltas=True)
                tf_v, _ = decode_many(sub["tfs"].tolist(), deltas=False)
                dl_v, _ = decode_many(sub["dls"].tolist(), deltas=False)
                doc_ids = to_signed(docs_v)
                tf = tf_v.astype(np.float64)
                dl = dl_v.astype(np.float64)
                impact = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
                idf = np.repeat(sub["idf"].to_numpy(np.float64), counts)
                yield pd.DataFrame({
                    "doc_id": doc_ids,
                    "partial": idf * impact,
                    "query_id": np.repeat(
                        sub["query_id"].to_numpy(np.int64), counts
                    ),
                })

    return decode_score


def _make_ids_decoder(chunk: int = 2048):
    """Match-set-only decoder for the facet/aggregation paths: decodes
    ONLY the docs varbyte stream — the tfs/dls buffers and all BM25
    float math are skipped (VERDICT r03 item 5: the facet paths ran
    the full scoring decoder and threw the partials away; this is
    ~1/3 of the decode work). Emits (query_id, doc_id) pairs."""

    def decode_ids(it):
        for pdf in it:
            for lo in range(0, len(pdf), chunk):
                sub = pdf.iloc[lo : lo + chunk]
                docs_v, counts = decode_many(sub["docs"].tolist(), deltas=True)
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(
                            sub["query_id"].to_numpy(np.int64), counts
                        ),
                        "doc_id": to_signed(docs_v),
                    }
                )

    return decode_ids


def _match_set(
    spark: SparkSession, index_dir: str, qt: DataFrame
) -> DataFrame:
    """Distinct (query_id, ord) match set off the bucket-pruned
    postings scan, ids-only decode, tombstones anti-joined — the
    shared front half of every facet/aggregation path."""
    post = _pruned_postings(spark, index_dir, qt)
    matched = (
        post.join(F.broadcast(qt.select("query_id", "term_id")), "term_id")
        .select("query_id", "docs")
        .mapInPandas(_make_ids_decoder(), schema="query_id long, doc_id long")
        .select("query_id", F.col("doc_id").alias("ord"))
        .distinct()
    )
    return _anti_tombstones(spark, index_dir, matched, col="ord")


def _ranked(scored: DataFrame, k: int) -> DataFrame:
    """Rank on the dense ordinal (column named doc_id inside the
    decode path). ord order == doc_id order by construction, so the
    (score desc, doc_id asc) tie-break is preserved exactly."""
    res = scored.groupBy("query_id", "doc_id").agg(
        F.sum("partial").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        res.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def _resolve_ords(
    spark: SparkSession,
    index_dir: str,
    ranked: DataFrame,
    docs_df: DataFrame | None = None,
) -> DataFrame:
    """Map dense ordinals back to real doc ids. The ranked side is
    tiny (≤ queries × k rows) — broadcast it into the docs scan, so
    this works unchanged when the docs table has 10^12 rows."""
    ords = (
        docs_df
        if docs_df is not None
        else spark.read.parquet(os.path.join(index_dir, "docs"))
    ).select("ord", F.col("doc_id").alias("_doc_id"))
    r = ranked.withColumnRenamed("doc_id", "ord")
    return (
        ords.join(F.broadcast(r), "ord")
        .select(
            "query_id", "rank", F.col("_doc_id").alias("doc_id"), "score"
        )
    )


# blockmax topk persists its postings-join across phases A and B; the
# returned DataFrame is lazy, so the cache cannot be dropped inside the
# call. Each new topk() invocation sweeps caches left by earlier ones
# (ADVICE r01: the leak was acknowledged but never reclaimed).
_deferred_unpersist: list = []


def _sweep_deferred() -> None:
    while _deferred_unpersist:
        df = _deferred_unpersist.pop()
        try:
            df.unpersist()
        except Exception:
            pass


def _pruned_postings(
    spark: SparkSession,
    index_dir: str,
    qt: DataFrame,
    post_df: DataFrame | None = None,
) -> DataFrame:
    """Scan only the postings partitions any query term hashes to —
    driver-side partition pruning (buckets list is tiny). With a
    cached post_df the filter prunes cached partitions instead of
    directories (same effect warm)."""
    buckets = [int(r["bucket"]) for r in qt.select("bucket").distinct().collect()]
    post = (
        post_df
        if post_df is not None
        else spark.read.parquet(os.path.join(index_dir, "postings"))
    )
    return post.filter(F.col("bucket").isin(buckets))


# auto-mode selection: blockmax needs BOTH enough postings volume
# that pruning skips real decode work AND a corpus whose block-max
# values actually spread within a term (stats.json's
# blockmax_dispersion, computed at build). Measured calibration
# (tools/blockmax_micro.py, local[32]): the fixture corpus measures
# dispersion ~0.046 (uniform impacts x hash-random doc order — the
# WAND worst case; 0.7% of candidate blocks pruned at SF=0.1, so
# blockmax structurally loses there at ANY scale); a clustered-band
# index measures 0.16 and blockmax wins 1.3x at 2M docs but still
# loses at 400k where fixed phase overhead dominates.
AUTO_BLOCKMAX_MIN_DOCS = 1_000_000
AUTO_BLOCKMAX_MIN_DISPERSION = 0.1


def topk_with_docs(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    mode: str = "auto",
) -> DataFrame:
    """topk + doc identity columns (repo, path, commit) — the
    user-facing result shape (doc ids resolve via the docs table;
    broadcast because top-k results are tiny relative to it)."""
    res = topk(spark, index_dir, queries, k=k, mode=mode)
    docs = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        "doc_id", "repo", "path", "commit"
    )
    return res.join(docs, "doc_id", "left").select(
        "query_id", "rank", "doc_id", "score", "repo", "path", "commit"
    )


def phrase_search(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    phrases: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact-phrase search (the reference stack's match_phrase) via
    candidate-retrieve-then-verify — no positional index needed:

    1. CANDIDATES from the inverted index: decode only the phrase
       terms' postings (bucket-pruned scan, same path as topk) and
       keep docs containing ALL terms — a conjunctive intersection
       whose size is bounded by the rarest term's df;
    2. VERIFY adjacency on candidates only: the candidate set
       broadcast-joins back into the corpus scan and ONE Catalyst
       instr() over the canonically-tokenized, space-joined content
       checks the exact token sequence — the corpus is never scanned
       for text outside the candidate rows;
    3. SCORE: BM25 partials already decoded in step 1, summed over
       the phrase's terms, ranked (score desc, doc_id asc) among
       verified docs.

    phrases: DataFrame (query_id long, phrase string). Returns
    (query_id, rank, doc_id, score, repo, path, commit). Multi-term
    conjunctions with zero hits cost one pruned postings scan and no
    corpus I/O."""
    stats = load_stats(index_dir)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    # phrase tokens AND the verify-side content both run through the
    # index's analyzer chain (stop/stem from stats.json): arity is
    # counted over surviving tokens, and adjacency is checked in the
    # analyzed token stream (documented divergence from Lucene's
    # position-gap behavior — a stopped token inside a phrase matches
    # as if absent rather than as a one-token gap)
    analyze = _query_analyzer(stats)
    ptoks = analyze(F.col("phrase"))
    qnorm = phrases.select(
        "query_id",
        F.array_join(ptoks, " ").alias("_pjoin"),
        F.array_distinct(ptoks).alias("_terms"),
    ).withColumn("_nterms", F.size("_terms"))
    qt = (
        qnorm.select("query_id", F.explode("_terms").alias("term"))
        .join(spark.read.parquet(os.path.join(index_dir, "terms")), "term")
        .withColumn("idf", _idf_col(n_docs))
        .select("query_id", "term_id", "idf", "bucket")
    )
    post = _pruned_postings(spark, index_dir, qt)
    decoder = _make_decoder(stats["k1"], stats["b"], avgdl)
    scored = (
        post.join(F.broadcast(qt.select("query_id", "term_id", "idf")), "term_id")
        .select("query_id", "idf", "docs", "tfs", "dls")
        .mapInPandas(decoder, schema="query_id long, doc_id long, partial double")
    )
    scored = _anti_tombstones(spark, index_dir, scored)
    # each (term, ord) posting decodes to exactly ONE row (an ord
    # lives in one block of one (term, salt) group), so count(*) per
    # (query, ord) == how many distinct phrase terms contain the doc
    cand = (
        scored.groupBy("query_id", "doc_id")
        .agg(F.sum("partial").alias("score"), F.count("*").alias("_nt"))
        .join(F.broadcast(qnorm.select("query_id", "_nterms", "_pjoin")), "query_id")
        .filter(F.col("_nt") == F.col("_nterms"))
        .withColumnRenamed("doc_id", "ord")
    )
    ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        "ord", "doc_id", "repo", "path", "commit"
    )
    cand = ident.join(F.broadcast(cand), "ord")
    corpus = spark.read.parquet(corpus_path).select(
        "repo", "path", "commit",
        F.array_join(analyze(F.col("content")), " ").alias("_cjoin"),
    )
    verified = corpus.join(
        F.broadcast(cand), ["repo", "path", "commit"]
    ).filter(
        F.instr(
            F.concat(F.lit(" "), F.col("_cjoin"), F.lit(" ")),
            F.concat(F.lit(" "), F.col("_pjoin"), F.lit(" ")),
        )
        > 0
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("ord")
    )
    return (
        verified.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score", "repo", "path", "commit")
    )


def phrase_prefix_search(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    phrases: DataFrame,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """match_phrase_prefix (Lucene MultiPhrasePrefixQuery — the
    search-as-you-type clause): the phrase's LAST analyzed token is a
    prefix, expanded against the term dictionary (term-dictionary
    order, capped at `max_expansions`, Lucene's cap); a doc matches
    when it contains at least one capped-expansion-set term,
    all fixed tokens, and the fixed sequence immediately followed by
    ANY token starting with the prefix (the adjacency check is
    cap-independent — a documented, slightly-more-permissive reading
    of Lucene's expanded-position check; the cap still bounds the
    candidate set and the scoring exactly).

    Same candidate-retrieve-then-verify shape as phrase_search, in ONE
    bucket-pruned postings scan: fixed tokens and expansion terms ride
    the decoder's query_id channel with a parity tag
    (qid*2+1 = fixed, qid*2 = expansion), so one groupBy yields both
    the conjunctive fixed-term count and the ≥1-expansion test.
    Adjacency is verified on candidates only by ONE instr() of
    ' fixed... prefix' (no trailing space — any token starting with
    the prefix completes the phrase) over the analyzed, space-joined
    content. Score: BM25 partials summed over fixed tokens + every
    matched expansion term (documented divergence from Lucene's
    blended-expansion weighting; ordering within a result set is
    dominated by the fixed tokens).

    phrases: (query_id long, phrase string). Returns (query_id, rank,
    doc_id, score, repo, path, commit)."""
    stats = load_stats(index_dir)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    parsed = []  # (query_id, fixed_tokens, prefix)
    for r in phrases.collect():  # request-sized
        toks = analyze_query_py(stats, r["phrase"])
        if toks:
            parsed.append((int(r["query_id"]), toks[:-1], toks[-1]))
    empty_sch = (
        "query_id long, rank int, doc_id long, score double, "
        "repo string, path string, commit string"
    )
    if not parsed:
        return spark.createDataFrame([], empty_sch)
    terms = spark.read.parquet(os.path.join(index_dir, "terms"))
    pats = spark.createDataFrame(
        [(q, p) for q, _f, p in parsed], "query_id long, pattern string"
    )
    matched = _blocked_dictionary_match(
        terms, pats, pats.collect(), "prefix"
    )
    wexp = Window.partitionBy("query_id").orderBy(F.asc("term"))
    exp_qt = (
        matched.withColumn("_x", F.row_number().over(wexp))
        .filter(F.col("_x") <= max_expansions)
        .withColumn("idf", _idf_col(n_docs))
        .select(
            (F.col("query_id") * 2).alias("query_id"),
            "term_id", "idf", "bucket",
        )
    )
    fixed_rows = [
        (q, t) for q, f, _p in parsed for t in dict.fromkeys(f)
    ]
    if fixed_rows:
        fixed_qt = (
            spark.createDataFrame(
                fixed_rows, "query_id long, term string"
            )
            .join(terms, "term")
            .withColumn("idf", _idf_col(n_docs))
            .select(
                (F.col("query_id") * 2 + 1).alias("query_id"),
                "term_id", "idf", "bucket",
            )
        )
        qt = exp_qt.unionByName(fixed_qt)
    else:
        qt = exp_qt
    post = _pruned_postings(spark, index_dir, qt)
    decoder = _make_decoder(stats["k1"], stats["b"], avgdl)
    scored = (
        post.join(
            F.broadcast(qt.select("query_id", "term_id", "idf")), "term_id"
        )
        .select("query_id", "idf", "docs", "tfs", "dls")
        .mapInPandas(
            decoder, schema="query_id long, doc_id long, partial double"
        )
    )
    scored = _anti_tombstones(spark, index_dir, scored)
    # one row per (channel-term, ord): parity splits fixed/expansion
    need = spark.createDataFrame(
        [
            (q, len(set(f)), " ".join(f + [p]))
            for q, f, p in parsed
        ],
        "query_id long, _nfixed int, _needle string",
    )
    cand = (
        scored.withColumn("_q", (F.col("query_id") / 2).cast("long"))
        .withColumn("_fx", F.col("query_id") % 2)
        .groupBy(F.col("_q").alias("query_id"), "doc_id")
        .agg(
            F.sum("partial").alias("score"),
            F.sum(F.when(F.col("_fx") == 1, 1).otherwise(0)).alias("_nf"),
            F.sum(F.when(F.col("_fx") == 0, 1).otherwise(0)).alias("_ne"),
        )
        .join(F.broadcast(need), "query_id")
        .filter(
            (F.col("_nf") == F.col("_nfixed")) & (F.col("_ne") >= 1)
        )
        .withColumnRenamed("doc_id", "ord")
    )
    ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        "ord", "doc_id", "repo", "path", "commit"
    )
    cand = ident.join(F.broadcast(cand), "ord")
    analyze = _query_analyzer(stats)
    corpus = spark.read.parquet(corpus_path).select(
        "repo", "path", "commit",
        F.array_join(analyze(F.col("content")), " ").alias("_cjoin"),
    )
    verified = corpus.join(
        F.broadcast(cand), ["repo", "path", "commit"]
    ).filter(
        F.instr(
            F.concat(F.lit(" "), F.col("_cjoin"), F.lit(" ")),
            F.concat(F.lit(" "), F.col("_needle")),
        )
        > 0
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("ord")
    )
    return (
        verified.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", "doc_id", "score", "repo", "path", "commit"
        )
    )


def bool_prefix_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """match_bool_prefix (Lucene MatchBoolPrefixQuery — the
    type-ahead cousin of match_phrase_prefix WITHOUT the adjacency
    requirement): every analyzed token except the last is a
    disjunctive (should) term; the LAST token is a prefix expanded
    against the term dictionary (dictionary order, `max_expansions`
    cap — Lucene's cap). A doc matches when it holds ANY full term or
    ANY expansion term; score = Σ BM25 partials over every matched
    term (documented divergence from Lucene's blended multi-term
    expansion weighting — same contract as phrase_prefix_search's
    scoring, so the two type-ahead clauses rank consistently).

    ONE bucket-pruned postings scan: full terms and capped expansion
    terms merge into a single per-query term set (term_id-deduped —
    a full token that also matches the prefix scores once), then the
    standard exhaustive decode + sum + rank. No corpus I/O.

    queries: (query_id long, query string). Returns
    (query_id, rank, doc_id, score, repo, path, commit)."""
    stats = load_stats(index_dir)
    n_docs = stats["n_docs"]
    parsed = []  # (query_id, full_tokens, prefix)
    for r in queries.collect():  # request-sized
        toks = analyze_query_py(stats, r["query"])
        if toks:
            parsed.append((int(r["query_id"]), toks[:-1], toks[-1]))
    empty_sch = (
        "query_id long, rank int, doc_id long, score double, "
        "repo string, path string, commit string"
    )
    if not parsed:
        return spark.createDataFrame([], empty_sch)
    terms = spark.read.parquet(os.path.join(index_dir, "terms"))
    pats = spark.createDataFrame(
        [(q, p) for q, _f, p in parsed], "query_id long, pattern string"
    )
    matched = _blocked_dictionary_match(
        terms, pats, pats.collect(), "prefix"
    )
    wexp = Window.partitionBy("query_id").orderBy(F.asc("term"))
    exp_qt = (
        matched.withColumn("_x", F.row_number().over(wexp))
        .filter(F.col("_x") <= max_expansions)
        .withColumn("idf", _idf_col(n_docs))
        .select("query_id", "term_id", "idf", "bucket")
    )
    full_rows = [(q, t) for q, f, _p in parsed for t in dict.fromkeys(f)]
    if full_rows:
        full_qt = (
            spark.createDataFrame(
                full_rows, "query_id long, term string"
            )
            .join(terms, "term")
            .withColumn("idf", _idf_col(n_docs))
            .select("query_id", "term_id", "idf", "bucket")
        )
        qt = exp_qt.unionByName(full_qt).dropDuplicates(
            ["query_id", "term_id"]
        )
    else:
        qt = exp_qt
    post = _pruned_postings(spark, index_dir, qt)
    decoder = _make_decoder(stats["k1"], stats["b"], stats["avgdl"])
    scored = (
        post.join(
            F.broadcast(qt.select("query_id", "term_id", "idf")), "term_id"
        )
        .select("query_id", "idf", "docs", "tfs", "dls")
        .mapInPandas(
            decoder, schema="query_id long, doc_id long, partial double"
        )
    )
    scored = _anti_tombstones(spark, index_dir, scored)
    ranked = _ranked(scored, k).withColumnRenamed("doc_id", "ord")
    ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        "ord", "doc_id", "repo", "path", "commit"
    )
    return ident.join(F.broadcast(ranked), "ord").select(
        "query_id", "rank", "doc_id", "score", "repo", "path", "commit"
    )


def boolean_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Boolean query (the reference stack's `bool` query:
    opensearch-api `must`/`should`/`must_not` clauses, Lucene
    BooleanQuery semantics) over the physical index:

    * a doc matches iff it contains EVERY analyzed `must` token, NO
      `must_not` token, and — when there is no must token — at least
      one `should` token (minimum_should_match=1);
    * score = sum of BM25 partials over the must tokens plus any
      matching should tokens; must_not never contributes;
    * a must token absent from the term dictionary can match nothing,
      so that query returns zero rows (Lucene contract), while a
      build-time stopword inside a must clause is removed by the
      analyzer exactly as the reference's stopped analyzer removes it;
    * a row with neither a must nor a should token returns no rows.

    queries: DataFrame (query_id long, must string, should string,
    must_not string) — each clause a whitespace query string run
    through the index's analyzer. The table is request-sized: it is
    collected, and each row becomes one `bool` tree with one `match`
    leaf per distinct analyzed token, run by the tree compiler
    (booltree.bool_tree_search); the per-row results are unioned.
    Returns (query_id, rank, doc_id, score, repo, path, commit)."""
    from .booltree import bool_tree_search

    stats = load_stats(index_dir)
    out = spark.createDataFrame(
        [],
        "query_id long, rank int, doc_id long, score double, "
        "repo string, path string, commit string",
    )
    for r in queries.collect():
        body = {
            role: [
                {"match": {"content": t}}
                for t in dict.fromkeys(analyze_query_py(stats, r[role] or ""))
            ]
            for role in ("must", "should", "must_not")
        }
        if body["must"] or body["should"]:
            out = out.unionByName(bool_tree_search(
                spark, index_dir, {"bool": body}, k=k,
                query_id=int(r["query_id"]),
            ))
    return out


def expanded_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    match: str = "prefix",
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """Multi-term-expansion query (the reference stack's
    opensearch-api `prefix` / `fuzzy` queries) with the
    `scoring_boolean` rewrite: the pattern expands against the term
    DICTIONARY (never the corpus), the expanded terms form a
    disjunctive BM25 bag, and expansion is capped at
    `max_expansions` picking the highest-df terms first
    (deterministic tie-break on the term string).

    match="prefix":   dictionary terms starting with the pattern.
    match="fuzzy":    terms within Damerau-free edit distance 1 of the
                      pattern (Lucene fuzziness=1), prefiltered by the
                      +/-1 length band so the scan stays cheap.
    match="wildcard": Lucene wildcard pattern (`*` = any run, `?` =
                      one char), evaluated as a SQL LIKE over the
                      dictionary (`*`→`%`, `?`→`_`; LIKE meta chars
                      escaped).
    match="regexp":   Lucene RegexpQuery semantics — the pattern is
                      implicitly ANCHORED (must match the WHOLE
                      term); the Java-regex-compatible subset runs
                      (char classes, alternation, quantifiers;
                      Lucene's ~/&/<> operators are not compiled).
                      The pattern's literal prefix blocks the
                      dictionary join and pushes into the scan, the
                      same seek key Lucene extracts from the
                      compiled automaton.

    queries: DataFrame (query_id long, pattern string) — pattern must
    be a single canonical (lowercased) term. Returns (query_id, rank,
    doc_id, score, repo, path, commit).

    Scale shape: expansion is a BLOCKED EQUI-JOIN against the term
    dictionary (see _blocked_dictionary_match) — prefix literals push
    into the parquet scan, fuzzy pairs only meet inside deletion-
    neighborhood key blocks, and no BroadcastNestedLoopJoin appears in
    the plan at any dictionary size (the r03 verdict's top defect);
    scoring reuses the bucket-pruned postings scan + shared decoder."""
    if match not in ("prefix", "fuzzy", "wildcard", "regexp"):
        raise ValueError(f"unknown match mode: {match}")
    stats = load_stats(index_dir)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    terms = spark.read.parquet(os.path.join(index_dir, "terms"))
    pats = queries.select("query_id", "pattern")
    if match == "wildcard":
        pats = pats.withColumn(
            "pattern",
            F.translate(
                F.regexp_replace("pattern", r"([%_])", r"\\$1"), "*?", "%_"
            ),
        )
    rows = pats.collect()  # request-sized; the dictionary never is
    deletes = _term_deletes_df(spark, index_dir) if match == "fuzzy" else None
    matched = _blocked_dictionary_match(terms, pats, rows, match, deletes)
    w = Window.partitionBy("query_id").orderBy(F.desc("df"), F.asc("term"))
    qt = (
        matched
        .withColumn("_x", F.row_number().over(w))
        .filter(F.col("_x") <= max_expansions)
        .withColumn("idf", _idf_col(n_docs))
        .select("query_id", "term_id", "idf", "bucket")
    )
    post = _pruned_postings(spark, index_dir, qt)
    decoder = _make_decoder(stats["k1"], stats["b"], avgdl)
    scored = (
        post.join(
            F.broadcast(qt.select("query_id", "term_id", "idf")), "term_id"
        )
        .select("query_id", "idf", "docs", "tfs", "dls")
        .mapInPandas(decoder, schema="query_id long, doc_id long, partial double")
    )
    topped = (
        _ranked(_anti_tombstones(spark, index_dir, scored), k)
        .withColumnRenamed("doc_id", "ord")
        .select("query_id", "rank", "ord", "score")
    )
    ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        "ord", "doc_id", "repo", "path", "commit"
    )
    return ident.join(F.broadcast(topped), "ord").select(
        "query_id", "rank", "doc_id", "score", "repo", "path", "commit"
    )


def expand_pattern_terms(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    match: str = "prefix",
    max_expansions: int = 50,
) -> list[str]:
    """Dictionary expansion of ONE pattern to its concrete terms —
    the span_multi rewrite (SpanMultiTermQueryWrapper): highest-df
    terms first (deterministic term tie-break), capped at
    `max_expansions`. Reuses expanded_search's blocked equi-join
    against the term dictionary (no BroadcastNestedLoopJoin at any
    dictionary size); the returned list is request-bounded, so the
    collect is ≤ max_expansions strings."""
    if match not in ("prefix", "fuzzy", "wildcard", "regexp"):
        raise ValueError(f"unknown match mode: {match}")
    terms = spark.read.parquet(os.path.join(index_dir, "terms"))
    pats = spark.createDataFrame(
        [(0, str(pattern))], "query_id long, pattern string"
    )
    if match == "wildcard":
        pats = pats.withColumn(
            "pattern",
            F.translate(
                F.regexp_replace("pattern", r"([%_])", r"\\$1"), "*?", "%_"
            ),
        )
    rows = pats.collect()
    deletes = _term_deletes_df(spark, index_dir) if match == "fuzzy" else None
    matched = _blocked_dictionary_match(terms, pats, rows, match, deletes)
    capped = (
        matched.orderBy(F.desc("df"), F.asc("term"))
        .limit(int(max_expansions))
        .select("term")
        .collect()
    )
    return [r.term for r in capped]


def _delete_neighborhood(col: str, depth: int):
    """Column expr: array of strings reachable from `col` by deleting
    up to `depth` (1 or 2) characters, the string itself included —
    SymSpell blocking keys. Two strings within edit distance d share
    at least one depth-d deletion key (delete the unmatched positions
    on each side), so an equi-join on these keys + a levenshtein
    residual inside the blocks is exactly the edit-distance join,
    with none of the O(|dict|·|patterns|) nested-loop pairing Lucene
    avoids via its FST walk. Pure Catalyst (transform/sequence), no
    Python per row."""
    d1 = (
        f"transform(sequence(1, length({col})), "
        f"i -> concat(substring({col}, 1, i - 1), substring({col}, i + 1)))"
    )
    if depth == 1:
        return F.expr(f"array_distinct(array_union(array({col}), {d1}))")
    return F.expr(
        f"array_distinct(array_union(array({col}), array_union({d1}, "
        f"flatten(transform({d1}, t -> "
        "transform(sequence(1, length(t)), "
        "i -> concat(substring(t, 1, i - 1), substring(t, i + 1))))))))"
    )


TERM_DELETES_DIRNAME = "term_deletes"


def _deletes_py(s: str, depth: int) -> set[str]:
    """Driver-side deletion neighborhood (patterns are request-sized)."""
    out, frontier = {s}, {s}
    for _ in range(depth):
        frontier = {t[:i] + t[i + 1:] for t in frontier for i in range(len(t))}
        out |= frontier
    return out


def _kb(key: str) -> str:
    """Partition bucket of a deletion key (build_term_deletes layout)."""
    return (key + "##")[:2]


def _edit_scan_filter(col: str, texts: list[str], dist: int):
    """OR-of-literals scan filter for edit-distance <= dist against a
    request-sized string list, GROUPED BY pattern length: each length
    band is tested once per distinct length (not once per pattern) and
    the thresholded levenshtein form early-exits past `dist` — the
    cheapest full-dictionary formulation measured in
    tools/dict_expand_micro.py (a Filter node: no join of any kind)."""
    from collections import defaultdict

    by_len: dict[int, list[str]] = defaultdict(list)
    for t in texts:
        by_len[len(t)].append(t)
    tl = F.length(col)
    pred = None
    for L, ts in sorted(by_len.items()):
        inner = None
        for t in ts:
            c = F.levenshtein(F.col(col), F.lit(t), dist) >= F.lit(0)
            inner = c if inner is None else (inner | c)
        band = tl.between(L - dist, L + dist) & inner
        pred = band if pred is None else (pred | band)
    return pred


def build_term_deletes(
    spark: SparkSession, index_dir: str, depth: int = 2
) -> None:
    """Optional fuzzy-serving sidecar (like the positions and
    doc-values sidecars): the term dictionary exploded to its SymSpell
    deletion-neighborhood keys, written SORTED BY KEY so a fuzzy or
    term-suggest request becomes a key-IN parquet scan that prunes on
    the _key column's row-group min/max stats — the per-call work is
    proportional to the REQUEST, not the dictionary. This is Lucene's
    precomputed FST automaton expressed relationally: Lucene walks a
    persistent structure built at index time; so do we. depth=2 serves
    both edit-distance-1 (fuzzy) and edit-distance-2 (term suggester)
    queries — the depth-2 key set is a superset of depth-1's, and the
    levenshtein residual inside blocks removes the extra candidates.

    Size: ~(1 + L + L(L-1)/2) keys per term (~20x the dictionary —
    gigabytes at 10^8 terms, the classic SymSpell space-for-time
    trade). Layout: PARTITIONED by the key's first two chars (`_kb`)
    so a request's key set prunes whole directories (a single fuzzy
    query carries ~20 keys -> ~2% of the table read; measured in
    tools/dict_expand_micro.py), and sorted by _key within partitions
    so the In() pushdown prunes row groups inside the surviving dirs.
    One dictionary pass; rebuildable independently of the index."""
    terms = spark.read.parquet(os.path.join(index_dir, "terms"))
    out = terms.select(
        "term",
        "term_id",
        "df",
        "bucket",
        "max_impact",
        F.explode(_delete_neighborhood("term", depth)).alias("_key"),
    ).withColumn("_kb", F.rpad("_key", 2, "#"))
    # rpad: short/empty keys pad with '#' (outside the token alphabet)
    # so the partition value is never the empty string (which the Hive
    # layout would store as a null partition)
    out = out.withColumn("_kb", F.substring("_kb", 1, 2))
    (
        out.repartition("_kb")
        .sortWithinPartitions("_key")
        .write.mode("overwrite")
        .partitionBy("_kb")
        .parquet(os.path.join(index_dir, TERM_DELETES_DIRNAME))
    )


def _term_deletes_df(spark: SparkSession, index_dir: str) -> DataFrame | None:
    d = os.path.join(index_dir, TERM_DELETES_DIRNAME)
    from .. import fsio

    if not fsio.exists(os.path.join(d, "_SUCCESS")):
        return None
    return spark.read.parquet(d)


def _regex_lit_prefix(pattern: str) -> str:
    """Longest literal prefix of a regex pattern — the run of plain
    characters before the first metacharacter. A character directly
    followed by a quantifier (? * + {) is NOT part of the guaranteed
    prefix (it may repeat zero times), so it is dropped. This is the
    blocking/pushdown key for anchored regexp dictionary expansion —
    the same prefix Lucene's RegexpQuery extracts via
    CompiledAutomaton.getCommonPrefix to seek the terms FST."""
    meta = set(".?*+(){}[]|^$\\")
    out = []
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch in meta:
            break
        if i + 1 < n and pattern[i + 1] in "?*+{":
            break
        out.append(ch)
        i += 1
    return "".join(out)


def _blocked_dictionary_match(
    terms: DataFrame,
    pats: DataFrame,
    rows: list,
    match: str,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """Expand patterns against the term dictionary WITHOUT a
    BroadcastNestedLoopJoin (the r03 scale defect: non-equi join
    conditions made Catalyst pair every dictionary row with every
    pattern — O(|dict|·|patterns|) levenshtein/LIKE evals per call at
    a 10^8-term dictionary). `rows` is the collected (request-sized)
    pattern list; the dictionary is never collected.

    Blocking per mode:
      prefix    — ONE dictionary scan filtered by OR(startswith(p));
                  the literal prefixes reach the parquet row-group
                  stats of the term column (StringStartsWith
                  pushdown), then an equi-join of
                  substring(term, 1, len(p)) == p assigns query_ids
                  through a broadcast hash join.
      wildcard  — same scan-filter shape with OR(LIKE) (plus a
                  startswith guard when the pattern has a literal
                  prefix); the equi-key is that literal prefix, the
                  LIKE is re-checked as a residual AFTER the hash
                  join. A leading-wildcard pattern degrades to an
                  empty key (constant-key hash join over the scan
                  survivors) — the honest limit Lucene hits too.
      fuzzy     — ONE scan with an OR of per-pattern (length-band AND
                  levenshtein<=1) literal filters (a Filter node, not
                  a join; measured vs a full-dictionary SymSpell
                  explode in tools/dict_expand_micro.py — the explode
                  loses at request-sized pattern batches), then
                  query_id assignment via deletion-neighborhood
                  equi-keys over the request-bounded survivors. When
                  the `deletes` sidecar (build_term_deletes) exists,
                  the scan becomes a key-IN lookup pruned by the
                  sorted _key column's row-group stats — per-call
                  work proportional to the request, like Lucene's
                  persistent FST.

    Returns the matched dictionary rows joined with (query_id,
    pattern), deduplicated per (query_id, term)."""
    if not rows:
        return terms.join(
            F.broadcast(pats), F.col("term") == F.col("pattern")
        ).limit(0)
    bpats = F.broadcast(pats)
    if match == "prefix":
        pred = None
        for r in rows:
            c = F.col("term").startswith(r["pattern"])
            pred = c if pred is None else (pred | c)
        lens = sorted({len(r["pattern"]) for r in rows})
        keyed = terms.filter(pred).withColumn(
            "_key",
            F.explode(
                F.array_distinct(
                    F.array(*[F.substring("term", 1, L) for L in lens])
                )
            ),
        )
        return keyed.join(bpats, F.col("_key") == F.col("pattern")).drop(
            "_key"
        )
    if match == "wildcard":
        import re as _re

        def lit_prefix(p: str) -> str:
            m = _re.match(r"^((?:[^%_\\]|\\[%_])*)", p)
            s = m.group(1) if m else ""
            return s.replace("\\%", "%").replace("\\_", "_")

        pred = None
        for r in rows:
            c = F.col("term").like(r["pattern"])
            lp = lit_prefix(r["pattern"])
            if lp:
                c = F.col("term").startswith(lp) & c
            pred = c if pred is None else (pred | c)
        spark = terms.sparkSession
        pk_df = spark.createDataFrame(
            [
                (r["query_id"], r["pattern"], lit_prefix(r["pattern"]))
                for r in rows
            ],
            "query_id long, pattern string, _pkey string",
        )
        lens = sorted({len(lit_prefix(r["pattern"])) for r in rows})
        keyed = terms.filter(pred).withColumn(
            "_key",
            F.explode(
                F.array_distinct(
                    F.array(*[F.substring("term", 1, L) for L in lens])
                )
            ),
        )
        return (
            keyed.join(F.broadcast(pk_df), F.col("_key") == F.col("_pkey"))
            .filter(F.expr("term LIKE pattern"))
            .drop("_key", "_pkey")
            .dropDuplicates(["query_id", "term"])
        )
    if match == "regexp":
        # Lucene RegexpQuery: the pattern is implicitly ANCHORED (it
        # must match the whole term); the Java-regex-compatible
        # subset is compiled (char classes, alternation, quantifiers
        # — Lucene's ~/&/<> extensions are not). Blocking mirrors
        # wildcard: each pattern's literal prefix reaches the parquet
        # scan (StringStartsWith pushdown) and is the equi-key; the
        # anchored rlike is re-checked as a residual AFTER the
        # broadcast hash join. A pattern with no literal prefix
        # degrades to an empty key over the scan survivors — the
        # honest limit Lucene's automaton walk hits too.
        def _anchor(p: str) -> str:
            return "^(?:" + p + ")$"

        pred = None
        for r in rows:
            c = F.col("term").rlike(_anchor(r["pattern"]))
            lp = _regex_lit_prefix(r["pattern"])
            if lp:
                c = F.col("term").startswith(lp) & c
            pred = c if pred is None else (pred | c)
        spark = terms.sparkSession
        pk_df = spark.createDataFrame(
            [
                (r["query_id"], r["pattern"], _regex_lit_prefix(r["pattern"]))
                for r in rows
            ],
            "query_id long, pattern string, _pkey string",
        )
        lens = sorted({len(_regex_lit_prefix(r["pattern"])) for r in rows})
        keyed = terms.filter(pred).withColumn(
            "_key",
            F.explode(
                F.array_distinct(
                    F.array(*[F.substring("term", 1, L) for L in lens])
                )
            ),
        )
        resid = None
        for r in rows:
            c = (F.col("pattern") == F.lit(r["pattern"])) & F.col(
                "term"
            ).rlike(_anchor(r["pattern"]))
            resid = c if resid is None else (resid | c)
        return (
            keyed.join(F.broadcast(pk_df), F.col("_key") == F.col("_pkey"))
            .filter(resid)
            .drop("_key", "_pkey")
            .dropDuplicates(["query_id", "term"])
        )
    # fuzzy: edit distance <= 1. ONE dictionary scan whose filter is
    # the OR of per-pattern (length-band AND levenshtein<=1) literals
    # — a FILTER node, not a join, so there is no BNLJ and the
    # length-band guard short-circuits most levenshtein evals
    # (measured at 10M terms x 32 patterns: ~the BNLJ's cost, where a
    # full deletion-neighborhood explode of the dictionary was 2.2x
    # SLOWER — see tools/dict_expand_micro.py). query_id assignment
    # then runs SymSpell deletion keys over the SURVIVORS only
    # (request-bounded rows), an equi-join. With the optional
    # term_deletes sidecar (build_term_deletes) the scan itself is
    # replaced by a key-IN row-group-pruned lookup.
    if deletes is not None:
        keys = sorted(
            {k for r in rows for k in _deletes_py(r["pattern"], 1)}
        )
        surv = (
            deletes.filter(F.col("_kb").isin(sorted({_kb(k) for k in keys})))
            .filter(F.col("_key").isin(keys))
            .drop("_key", "_kb")
            .dropDuplicates(["term"])
        )
    else:
        surv = terms.filter(
            _edit_scan_filter("term", [r["pattern"] for r in rows], 1)
        )
    return _assign_by_distance(surv, pats, "pattern", 1).drop("distance")


def _assign_by_distance(
    surv: DataFrame, pats: DataFrame, text_col: str, dist: int
) -> DataFrame:
    """Attach each request row to the survivor terms within edit
    distance `dist` — as an EQUI-join on exact length (the request
    side explodes to its ±dist lengths; a survivor has one length, so
    each (survivor, request) pair meets exactly once — no dedupe
    shuffle) with a thresholded-levenshtein residual that also yields
    the `distance` column."""
    pk = pats.withColumn(
        "_lb",
        F.explode(
            F.array(
                *[F.length(text_col) + F.lit(i) for i in range(-dist, dist + 1)]
            )
        ),
    )
    return (
        surv.withColumn("_lb", F.length("term"))
        .join(F.broadcast(pk), "_lb")
        .drop("_lb")
        .withColumn(
            "distance", F.levenshtein(F.col("term"), F.col(text_col), dist)
        )
        .filter(F.col("distance") >= 0)
    )


def match_all_ords(
    spark: SparkSession, index_dir: str, query_id: int = 0
) -> DataFrame:
    """(query_id, ord) over EVERY live doc — the match set of
    `match_all`, so corpus-wide aggregations (`match_all` + `aggs`,
    ADVICE r04) run through the same executors as query-scoped ones.
    One docs-table column scan, tombstones anti-joined."""
    ords = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        F.lit(query_id).cast("long").alias("query_id"), "ord"
    )
    return _anti_tombstones(spark, index_dir, ords, col="ord")


def sliced_scan(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    slice_id: int,
    slice_max: int,
    matched: DataFrame | None = None,
) -> DataFrame:
    """Sliced-scroll analog (OpenSearch `slice: {id, max}` on a
    scroll): a deterministic 1/max shard of a query's FULL match set,
    keyed by pmod(xxhash64(doc_id), max) — the device that lets a
    10^12-doc export run as `max` INDEPENDENT jobs with no
    coordination and no deep-pagination state. Slices are disjoint
    and complete by construction (a doc's slice is a pure function of
    its id), and stable across parallelism/reruns.

    queries: (query_id, query) — or pass a pre-materialized `matched`
    (query_id, ord) frame (bool trees). Returns the UNSCORED rows
    (query_id, doc_id, repo, path, commit) of this slice. The slice
    predicate applies right after the ids-only match set, BEFORE the
    identity join, so each slice's join traffic is 1/max of the
    export."""
    if not (0 <= int(slice_id) < int(slice_max)):
        raise ValueError("slice needs 0 <= id < max")
    if matched is None:
        stats = load_stats(index_dir)
        qt = query_terms(spark, index_dir, queries, stats["n_docs"]).select(
            "query_id", "term_id", "idf", "bucket"
        )
        matched = _match_set(spark, index_dir, qt)
    ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        "ord", "doc_id", "repo", "path", "commit"
    )
    sliced = matched.join(ident, "ord").filter(
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(int(slice_max)))
        == F.lit(int(slice_id))
    )
    return sliced.select("query_id", "doc_id", "repo", "path", "commit")


def _facet_counts(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    facet_col: str,
    matched: DataFrame | None = None,
    missing=None,
) -> DataFrame:
    """Uncapped (query_id, facet, doc_count) over ONE index's full
    match set — the shared core of faceted_search (which ranks it)
    and faceted_search_deltas (which sums it across deltas). A
    precomputed `matched` (query_id, ord — e.g. a bool-tree match set
    or match_all_ords, already tombstone-filtered) replaces the
    disjunctive text match, so ONE materialized match set can feed
    every aggregation in a `_search` body."""
    if matched is None:
        stats = load_stats(index_dir)
        qt = query_terms(spark, index_dir, queries, stats["n_docs"]).select(
            "query_id", "term_id", "idf", "bucket"
        )
        matched = _match_set(spark, index_dir, qt)
    def _facet_col_of(df: DataFrame):
        # a multi-valued keyword field (array<...> column) buckets the
        # doc once per DISTINCT element — Lucene's per-doc SORTED_SET
        # doc values dedup values within a doc before counting
        if dict(df.dtypes).get(facet_col, "").startswith("array"):
            return F.explode(
                F.array_distinct(F.col(facet_col))
            ).alias("facet")
        return F.col(facet_col).alias("facet")

    dv = _doc_values(spark, index_dir, facet_col)
    if dv is not None:
        attributed = matched.join(
            dv.select("ord", _facet_col_of(dv)), "ord"
        )
    else:
        ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
            "ord", "repo", "path", "commit"
        )
        corpus = spark.read.parquet(corpus_path)
        attrs = corpus.select(
            "repo", "path", "commit", _facet_col_of(corpus)
        )
        attributed = matched.join(ident, "ord").join(
            attrs, ["repo", "path", "commit"]
        )
    if missing is not None:
        # terms-agg `missing` param: docs without the field bucket
        # under the given value instead of being skipped
        attributed = attributed.withColumn(
            "facet", F.coalesce(F.col("facet"), F.lit(missing))
        )
    else:
        # the OpenSearch default: docs missing the field are not
        # bucketed at all
        attributed = attributed.where(F.col("facet").isNotNull())
    return attributed.groupBy("query_id", "facet").agg(
        F.count("*").alias("doc_count")
    )


def attach_doc_values_deltas(
    spark: SparkSession,
    index_root: str,
    corpus_path: str,
    cols: tuple[str, ...] = ("lang",),
) -> int:
    """Incremental doc-values maintenance over a streamed delta tree
    (streaming.pipeline.incremental_index output): attach a sidecar to
    every delta that does not have one yet — old deltas are never
    touched, so the cost of keeping doc-values current is proportional
    to NEW data only (call it after each foreachBatch epoch, like
    maybe_compact). Returns the number of deltas attached."""
    from .. import fsio

    done = 0
    for d in delta_dirs(index_root):
        if fsio.isdir(os.path.join(d, "docvalues")):
            continue
        attach_doc_values(spark, d, corpus_path, cols=cols)
        done += 1
    return done


def faceted_search_deltas(
    spark: SparkSession,
    index_root: str,
    corpus_path: str,
    queries: DataFrame,
    facet_col: str = "lang",
    n_buckets_out: int = 10,
) -> DataFrame:
    """Terms aggregation over a LIVE delta tree, no compaction needed:
    each delta aggregates its own full match set locally (through its
    own incrementally-attached doc-values sidecar when present), and
    the merge is one groupBy sum over (query, facet) — counts are
    additive because delta doc sets are disjoint. Bucket ordering
    (doc_count desc, value asc) applies after the merge, so the result
    is identical to faceting the compacted index (asserted in tests).
    Same O(#deltas) fan-in trade as topk_deltas."""
    deltas = delta_dirs(index_root)
    if not deltas:
        raise ValueError(f"no delta=* indexes under {index_root}")
    parts = [
        _facet_counts(spark, d, corpus_path, queries, facet_col)
        for d in deltas
    ]
    fac = parts[0]
    for p in parts[1:]:
        fac = fac.unionByName(p)
    fac = fac.groupBy("query_id", "facet").agg(
        F.sum("doc_count").alias("doc_count")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("doc_count"), F.asc("facet")
    )
    return (
        fac.withColumn("bucket_rank", F.row_number().over(w))
        .filter(F.col("bucket_rank") <= n_buckets_out)
        .select("query_id", "bucket_rank", "facet", "doc_count")
    )


def faceted_search(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    facet_col: str = "lang",
    n_buckets_out: int = 10,
    matched: DataFrame | None = None,
    include=None,
    exclude=None,
    missing=None,
) -> DataFrame:
    """Terms aggregation over the FULL match set (the reference
    stack's opensearch-api `aggs: {terms: {field: ...}}` alongside a
    query) — buckets are (facet value, doc_count) per query, ordered
    by (doc_count desc, value asc), top `n_buckets_out`, computed
    over EVERY matching doc, not just the top-k hits.

    Match semantics: the standard disjunctive free-text match (a doc
    matches if it contains >=1 query term), i.e. exactly the match
    set topk() scores. queries: (query_id long, query string).
    Returns (query_id, bucket_rank, facet, doc_count).

    Scale shape: the match set comes off the bucket-pruned postings
    scan (ids only — scores are never materialized); the facet value
    is one join for the facet value — against the doc-values sidecar
    (attach_doc_values) when one holds `facet_col` (ord -> value,
    corpus never touched), else ord -> docs -> corpus on the identity
    key — then ONE (query, facet) aggregation with map-side combine.
    With the sidecar the plan is facet-cardinality-bound, never
    corpus-bound."""
    fac = _facet_counts(
        spark, index_dir, corpus_path, queries, facet_col,
        matched=matched, missing=missing,
    )
    if include is not None:
        fac = fac.filter(_facet_value_pred(include))
    if exclude is not None:
        fac = fac.filter(~_facet_value_pred(exclude))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("doc_count"), F.asc("facet")
    )
    return (
        fac.withColumn("bucket_rank", F.row_number().over(w))
        .filter(F.col("bucket_rank") <= n_buckets_out)
        .select("query_id", "bucket_rank", "facet", "doc_count")
    )


def _facet_value_pred(spec):
    """terms-agg include/exclude spec -> bucket-key predicate: a list
    means exact values, a string is a Lucene-style regex (implicitly
    anchored, whole-value). Applied to the AGGREGATED bucket frame —
    before the size cut (the OpenSearch contract), after the one
    grouped count (so the filter is bucket-cardinality-sized, never
    match-set-sized)."""
    if isinstance(spec, (list, tuple, set)):
        return F.col("facet").isin([str(v) for v in spec])
    return F.col("facet").cast("string").rlike(f"^(?:{spec})$")


def terms_metric_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    group_field: str,
    metrics: list,
    n_buckets_out: int = 10,
    matched: DataFrame | None = None,
    order: tuple | None = None,
) -> DataFrame:
    """Terms aggregation with nested METRIC sub-aggregations — the
    standard dashboard `_search` body the reference stack's users
    send to OpenSearch (terms buckets each carrying avg/sum/min/max
    of a stored field, cf. opensearch-api `aggs: {terms: {...},
    aggs: {avg: {...}}}`). `metrics` is a list of (out_col, kind,
    field) with kind in avg/sum/min/max/value_count; every metric —
    across any mix of fields — folds into the SAME single grouped
    aggregation as the bucket's doc_count, so N sub-aggregations
    cost exactly one exchange on (query_id, facet), not N scans.

    Match semantics are faceted_search's: the full disjunctive match
    set (or a precomputed `matched` (query_id, ord) frame — bool
    tree / match_all — shared across a body's aggregations). Field
    values come from the doc-values sidecar when it carries every
    needed column (ONE ord-join attaches group + metric fields
    together; corpus never touched), else one identity join against
    the corpus. Returns (query_id, bucket_rank, facet, doc_count,
    *out_cols), buckets ordered (doc_count desc, facet asc), top
    `n_buckets_out`.

    `order` is the OpenSearch terms-order knob as (key, direction):
    ("_count", "desc") — the default — ("_key", "asc"/"desc"), or a
    metric out_col name (order buckets by a sub-aggregation value,
    the sorted-dashboard body). Ordering is the rank window's sort,
    so it costs nothing extra; ties always break on the facet key
    ascending for determinism.

    Scale shape: match ords (ids only, bucket-pruned postings scan)
    -> one sidecar join -> one groupBy with map-side combine -> a
    WindowGroupLimit top-N per query. At 100 TB the reduce side is
    facet-cardinality-bound; no per-metric re-scan exists to
    multiply it."""
    if matched is None:
        stats = load_stats(index_dir)
        qt = query_terms(spark, index_dir, queries, stats["n_docs"]).select(
            "query_id", "term_id", "idf", "bucket"
        )
        matched = _match_set(spark, index_dir, qt)
    fields = sorted({group_field} | {f for _, _, f in metrics})
    try:
        dv = spark.read.parquet(os.path.join(index_dir, "docvalues"))
    except Exception:
        dv = None
    if dv is not None and set(fields) <= set(dv.columns):
        attributed = matched.join(dv.select("ord", *fields), "ord")
    else:
        ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
            "ord", "repo", "path", "commit"
        )
        attrs = spark.read.parquet(corpus_path).select(
            "repo", "path", "commit", *fields
        )
        attributed = matched.join(ident, "ord").join(
            attrs, ["repo", "path", "commit"]
        )
    aggfn = {
        "avg": F.avg,
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "value_count": F.count,
    }
    fac = attributed.groupBy(
        "query_id", F.col(group_field).alias("facet")
    ).agg(
        F.count("*").alias("doc_count"),
        *[aggfn[kind](F.col(field)).alias(out)
          for out, kind, field in metrics],
    )
    okey, odir = order or ("_count", "desc")
    ocol = {"_count": "doc_count", "_key": "facet"}.get(okey, okey)
    if ocol not in ("doc_count", "facet") and ocol not in {
        out for out, _, _ in metrics
    }:
        raise ValueError(
            f"terms order key '{okey}' is not _count/_key or a metric"
        )
    lead = F.desc(ocol) if odir == "desc" else F.asc(ocol)
    w = Window.partitionBy("query_id").orderBy(lead, F.asc("facet"))
    return (
        fac.withColumn("bucket_rank", F.row_number().over(w))
        .filter(F.col("bucket_rank") <= n_buckets_out)
        .select(
            "query_id", "bucket_rank", "facet", "doc_count",
            *[out for out, _, _ in metrics],
        )
    )


def sort_by_field_search(
    spark: SparkSession,
    index_dir: str,
    matched: DataFrame,
    sort_keys: list,
    k: int = 10,
    frm: int = 0,
) -> DataFrame:
    """Field-sorted hits (the OpenSearch `sort` body element, which
    replaces score ordering): order a query's FULL match set by
    stored-field values from the doc-values sidecar and return rows
    frm+1..frm+k. `matched` is a (query_id, ord) frame (text match
    set, bool tree, or match_all ords — whatever the body's query
    produced); `sort_keys` is [(field, 'asc'|'desc'), ...], applied
    in order with the dense ordinal as the final tiebreak so results
    are deterministic.

    Returns (query_id, rank, doc_id, repo, path, commit, *fields)
    with rank keeping its ABSOLUTE position (page 3 starts at rank
    21), matching search_after/topk_after's pagination contract.

    Scale shape: one ord-join against the vocabulary-thin sidecar,
    then row_number over (query_id) — the optimizer's
    WindowGroupLimit caps every map partition at frm+k rows before
    the single merge, so deep-but-bounded pages never materialize
    the full sorted match set."""
    fields = [f for f, _ in sort_keys]
    dv = spark.read.parquet(os.path.join(index_dir, "docvalues"))
    missing = [f for f in fields if f not in dv.columns]
    if missing:
        raise ValueError(
            f"sort fields {missing} not in doc-values sidecar "
            "(attach_doc_values first)"
        )
    joined = matched.select("query_id", "ord").join(
        dv.select("ord", *fields), "ord"
    )
    order = [
        (F.asc(f) if str(d).lower() == "asc" else F.desc(f))
        for f, d in sort_keys
    ] + [F.asc("ord")]
    w = Window.partitionBy("query_id").orderBy(*order)
    topped = (
        joined.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") > frm) & (F.col("rank") <= frm + k))
    )
    ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        "ord", "doc_id", "repo", "path", "commit"
    )
    return ident.join(F.broadcast(topped), "ord").select(
        "query_id", "rank", "doc_id", "repo", "path", "commit", *fields
    )


def topk_after(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Deep pagination (the reference stack's opensearch-api
    `search_after`): each query carries the (score, doc_id) sort key
    of the last hit already seen, and the next page is the k docs
    strictly AFTER that cursor in (score desc, doc_id asc within the
    engine's ordinal order) — stateless, no scroll context to hold
    server-side, every page costs one topk-shaped job. Page N never
    re-ranks pages 1..N-1: the cursor filter runs before the window,
    so the row_number heap only sees the remainder.

    queries: (query_id long, query string, after_score double,
    after_doc long) — after_doc is the engine doc_id of the cursor
    row; NULL after_score means page 1 (no cursor). Returns
    (query_id, rank, doc_id, score) with rank restarting at 1 per
    page."""
    _sweep_deferred()
    stats = load_stats(index_dir)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    qt = query_terms(
        spark, index_dir, queries.select("query_id", "query"), n_docs
    ).select("query_id", "term_id", "idf", "bucket")
    post = _pruned_postings(spark, index_dir, qt)
    decoder = _make_decoder(stats["k1"], stats["b"], avgdl)
    scored = (
        post.join(
            F.broadcast(qt.select("query_id", "term_id", "idf")), "term_id"
        )
        .select("query_id", "idf", "docs", "tfs", "dls")
        .mapInPandas(decoder, schema="query_id long, doc_id long, partial double")
    )
    tombs = _tombstone_ords(spark, index_dir)
    if tombs is not None:
        scored = scored.join(
            tombs.withColumnRenamed("ord", "doc_id"), "doc_id", "left_anti"
        )
    totals = scored.groupBy("query_id", "doc_id").agg(
        F.sum("partial").alias("score")
    )
    # cursor coordinates: the engine ranks on the dense ordinal, and
    # the cursor's after_doc is an engine doc_id — map it to its ord
    # once (cursor set is query-sized, broadcast)
    ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        F.col("doc_id").alias("after_doc"), F.col("ord").alias("_after_ord")
    )
    cur = queries.select("query_id", "after_score", "after_doc").join(
        ident, "after_doc", "left"
    )
    filt = totals.join(F.broadcast(cur), "query_id", "left").filter(
        F.col("after_score").isNull()
        | (F.col("score") < F.col("after_score"))
        | (
            (F.col("score") == F.col("after_score"))
            & (F.col("doc_id") > F.col("_after_ord"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    page = (
        filt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
    return _resolve_ords(spark, index_dir, page, None)


def simple_query_string(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """simple_query_string lite (the reference stack's opensearch-api
    `simple_query_string` default operators): whitespace-separated
    tokens where `+term` is a must clause, `-term` a must_not clause,
    and bare terms are should clauses (minimum_should_match=1 when no
    must); parse_simple_queries splits the operators, then
    boolean_search runs each row as a bool tree.

    queries: (query_id long, query string), request-sized. Returns
    the boolean_search shape."""
    return boolean_search(spark, index_dir, parse_simple_queries(queries), k=k)


def parse_simple_queries(queries: DataFrame) -> DataFrame:
    """(query_id, query) -> (query_id, must, should, must_not) by the
    simple_query_string operator rules: `+tok` must, `-tok` must_not,
    bare tok should; a lone '+'/'-' counts as a bare token."""
    toks = F.split(F.col("query"), " +")

    def _clause(pred, strip):
        kept = F.filter(toks, pred)
        if strip:
            kept = F.transform(
                kept, lambda t: t.substr(F.lit(2), F.length(t))
            )
        return F.array_join(kept, " ")

    is_must = lambda t: t.startswith("+") & (F.length(t) > 1)  # noqa: E731
    is_not = lambda t: t.startswith("-") & (F.length(t) > 1)  # noqa: E731
    return queries.select(
        "query_id",
        _clause(is_must, True).alias("must"),
        _clause(lambda t: ~is_must(t) & ~is_not(t), False).alias("should"),
        _clause(is_not, True).alias("must_not"),
    )


def _tombstone_ords(spark: SparkSession, index_dir: str) -> DataFrame | None:
    # cheap pyarrow-fs stat, not a JVM read attempt: this runs on
    # EVERY topk() call and indexes without deletes (the common case,
    # and the benched path) must not pay an AnalysisException round
    # trip for it
    from .. import fsio

    p = os.path.join(index_dir, "tombstones")
    if not fsio.isdir(p):
        return None
    try:
        ts = spark.read.parquet(p)
    except Exception:  # dir exists but holds no readable parquet
        return None
    return ts.select("ord").distinct()


def _anti_tombstones(
    spark: SparkSession, index_dir: str, df: DataFrame, col: str = "doc_id"
) -> DataFrame:
    """Drop delete_by_query'd ords from a decoded match set (`col`
    holds ords). No-op when the index has no tombstones (one pyarrow
    stat). EVERY stateless index-backed match path outside the
    QuerySession reader routes through this — phrase/boolean/expanded
    search, all facet paths, collapse, significant_terms — so deleted
    docs are invisible across the whole API surface, not just topk
    (ADVICE r03). The join is ord-on-ord; AQE picks the strategy (a
    1%-of-10^12 tombstone set must not be force-broadcast)."""
    tombs = _tombstone_ords(spark, index_dir)
    if tombs is None:
        return df
    return df.join(tombs.withColumnRenamed("ord", col), col, "left_anti")


def delete_by_query(spark: SparkSession, index_dir: str, query: str) -> int:
    """Delete-by-query (the reference stack's opensearch-api
    `_delete_by_query` with a match query): every doc matching the
    disjunctive free-text query is TOMBSTONED — appended as an ord to
    the index's `tombstones/` parquet — and the postings, term
    dictionary, and corpus stats stay untouched, exactly Lucene's
    delete semantics: remaining docs keep their pre-delete BM25
    scores until a merge expunges. Readers distinct() the tombstone
    set, so re-deleting is idempotent. Returns the number of docs the
    query matched.

    Scale shape: the match set comes off the bucket-pruned postings
    scan (ids only); the append is a tombstone-set-sized write, never
    an index rewrite — deleting 1% of a 10^12-doc index writes ~10^10
    skinny rows and zero postings bytes.

    Visibility: EVERY stateless index-backed path honors tombstones
    immediately — topk/topk_one_cold (a QuerySession opened per
    call), topk_after, phrase/boolean/expanded search,
    faceted/range/stats/cardinality/percentiles facets, collapse,
    top_hits, significant_terms (via tombstone anti-joins), and the
    positional phrase paths (ordered + sloppy, via the ord->doc_id
    mapping in positions._anti_tombstones_docids).
    A QuerySession pins the tombstone part files present at open, on
    its single-query and batch paths alike; call .refresh() to see
    later deletes (the Lucene open-IndexReader contract). topk_deltas
    reads each delta's OWN tombstone files (the _bulk facade's delete
    path writes those); compaction then expunges them physically."""
    stats = load_stats(index_dir)
    q = spark.createDataFrame([(0, query)], "query_id long, query string")
    qt = query_terms(spark, index_dir, q, stats["n_docs"]).select(
        "query_id", "term_id", "idf", "bucket"
    )
    post = _pruned_postings(spark, index_dir, qt)
    decoder = _make_decoder(stats["k1"], stats["b"], stats["avgdl"])
    matched = (
        post.join(
            F.broadcast(qt.select("query_id", "term_id", "idf")), "term_id"
        )
        .select("query_id", "idf", "docs", "tfs", "dls")
        .mapInPandas(decoder, schema="query_id long, doc_id long, partial double")
        .select(F.col("doc_id").alias("ord"))
        .distinct()
    )
    matched.persist()
    n = matched.count()
    matched.write.mode("append").parquet(os.path.join(index_dir, "tombstones"))
    matched.unpersist()
    return n


def expunge_deletes(
    spark: SparkSession,
    corpus_path: str,
    index_dir: str,
    out_dir: str,
    cfg=None,
) -> None:
    """Merge-with-expunge (Lucene forceMergeDeletes): rebuild the
    index at `out_dir` from the corpus MINUS tombstoned docs — df,
    avgdl, and n_docs are recomputed over the survivors, matching
    what a Lucene segment merge does to deleted docs' statistics.
    One identity anti-join + the standard build pipeline."""
    from .build import build_index

    ts = _tombstone_ords(spark, index_dir)
    corpus = spark.read.parquet(corpus_path)
    if ts is not None:
        dead = (
            spark.read.parquet(os.path.join(index_dir, "docs"))
            .join(ts, "ord")
            .select("repo", "path", "commit")
        )
        corpus = corpus.join(dead, ["repo", "path", "commit"], "left_anti")
    # sibling path, never inside out_dir: the builder owns out_dir's
    # layout (manifest/resume scans it)
    tmp_corpus = out_dir.rstrip("/") + "_expunged_corpus.parquet"
    corpus.write.mode("overwrite").parquet(tmp_corpus)
    if cfg is not None:
        build_index(spark, tmp_corpus, out_dir, cfg)
    else:
        build_index(spark, tmp_corpus, out_dir)


def index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Index statistics (the reference stack's opensearch-api
    `_stats` / `_cat/indices` analog) computed from the index's own
    tables — corpus never touched: doc count + avgdl from stats.json
    (recorded at build), term count + total postings from the term
    dictionary (sum of df == doc-term pairs), total tokens from the
    docs table's dl column (exact int sum). One row; the two source
    aggregates are dictionary-/docs-table-sized jobs."""
    stats = load_stats(index_dir)
    trow = (
        spark.read.parquet(os.path.join(index_dir, "terms"))
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("df").cast("long").alias("total_postings"),
        )
        .collect()[0]
    )
    drow = (
        spark.read.parquet(os.path.join(index_dir, "docs"))
        .agg(F.sum("dl").cast("long").alias("total_tokens"))
        .collect()[0]
    )
    return spark.createDataFrame(
        [
            (
                int(stats["n_docs"]),
                int(trow["n_terms"]),
                int(trow["total_postings"]),
                int(drow["total_tokens"]),
                float(stats["avgdl"]),
            )
        ],
        "n_docs long, n_terms long, total_postings long, "
        "total_tokens long, avgdl double",
    )


def cat_indices(
    spark: SparkSession, index_dirs: dict[str, str] | list[str]
) -> DataFrame:
    """`_cat/indices` across an index family (rollover generations,
    per-lang routed indexes, alias members): one row per index with
    the `index_stats` columns plus on-disk bytes. Accepts
    {name: dir} or a dir list (names = basenames). Per-index cost is
    index_stats' dictionary-/docs-table-sized jobs + one du."""
    from .. import fsio

    if not isinstance(index_dirs, dict):
        index_dirs = {
            fsio.basename(d.rstrip("/")): d for d in index_dirs
        }
    out = None
    for name, d in sorted(index_dirs.items()):
        row = index_stats(spark, d).select(
            F.lit(name).alias("index"),
            "n_docs", "n_terms", "total_postings", "total_tokens",
            "avgdl",
            F.lit(int(fsio.du(d))).alias("bytes"),
        )
        out = row if out is None else out.unionByName(row)
    if out is None:
        raise ValueError("cat_indices needs at least one index")
    return out


def search_shards(spark: SparkSession, index_dir: str) -> DataFrame:
    """`_search_shards` analog. This engine's unit of query routing
    is the postings BUCKET partition (`postings/bucket=N/` — query
    terms hash to buckets and scans prune to exactly those
    directories, the same role OpenSearch shards play for routed
    searches). One metadata-only listing per bucket: parquet file
    count + bytes, plus the dictionary's term count per bucket so a
    user can see routing balance (the dictionary job is
    vocabulary-thin). No postings bytes are read."""
    from .. import fsio

    stats = load_stats(index_dir)
    post = os.path.join(index_dir, "postings")
    rows = []
    for d in sorted(fsio.listdir(post)):
        base = fsio.basename(d.rstrip("/"))
        if not base.startswith("bucket="):
            continue
        files = [
            p for p in fsio.listdir(d)
            if fsio.basename(p).endswith(".parquet")
        ]
        rows.append((
            int(base.split("=", 1)[1]),
            len(files),
            int(fsio.du(d)),
        ))
    layout = spark.createDataFrame(
        rows, "bucket int, files long, bytes long"
    )
    terms_per = (
        spark.read.parquet(os.path.join(index_dir, "terms"))
        .groupBy(F.col("bucket").cast("int").alias("bucket"))
        .agg(F.count("*").alias("n_terms"))
    )
    return (
        layout.join(terms_per, "bucket", "left")
        .withColumn("n_terms", F.coalesce("n_terms", F.lit(0)))
        .withColumn("n_buckets", F.lit(int(stats["n_buckets"])))
        .orderBy("bucket")
    )


def suggest(
    spark: SparkSession,
    index_dir: str,
    inputs: DataFrame,
    mode: str = "term",
    size: int = 3,
) -> DataFrame:
    """Suggesters (the reference stack's opensearch-api `suggest`
    block) over the term DICTIONARY:

    mode="term": did-you-mean — dictionary terms within edit
      distance <=2 of the input (±2 length band prefilter), the
      input itself excluded, ranked (distance asc, df desc, term
      asc) — the Lucene DirectSpellChecker ordering;
    mode="completion": prefix completion — terms starting with the
      input, ranked (df desc, term asc).

    inputs: (input_id long, text string). Returns (input_id,
    suggest_rank, suggestion, df[, distance]). Never touches postings
    or corpus; at 10^12 docs the dictionary is still only
    vocabulary-sized, and both modes block the match as an EQUI-join
    (no BroadcastNestedLoopJoin — the r03 scale defect): completion
    via substring(term, 1, len(text)) keys behind an OR-startswith
    scan filter, term-suggest via SymSpell depth-2 deletion-
    neighborhood keys behind a ±2 length-band scan filter, with
    levenshtein evaluated only inside key blocks."""
    terms = spark.read.parquet(os.path.join(index_dir, "terms")).select(
        "term", "df"
    )
    pats = inputs.select("input_id", "text")
    rows = pats.collect()  # request-sized
    if not rows:
        sch = "input_id long, suggest_rank int, suggestion string, df long"
        if mode == "term":
            sch += ", distance int"
        return spark.createDataFrame([], sch)
    if mode == "term":
        # same shape as the fuzzy expansion: scan FILTER (length-band
        # + levenshtein<=2 literals, no join node), then SymSpell
        # depth-2 keys over the request-bounded survivors for
        # input_id assignment; the term_deletes sidecar replaces the
        # scan with a key-IN pruned lookup when present
        deletes = _term_deletes_df(spark, index_dir)
        if deletes is not None:
            keys = sorted(
                {k for r in rows for k in _deletes_py(r["text"], 2)}
            )
            surv = (
                deletes.filter(
                    F.col("_kb").isin(sorted({_kb(k) for k in keys}))
                )
                .filter(F.col("_key").isin(keys))
                .select("term", "df")
                .dropDuplicates(["term"])
            )
        else:
            surv = terms.filter(
                _edit_scan_filter("term", [r["text"] for r in rows], 2)
            )
        joined = _assign_by_distance(surv, pats, "text", 2).filter(
            F.col("term") != F.col("text")
        )
        w = Window.partitionBy("input_id").orderBy(
            F.asc("distance"), F.desc("df"), F.asc("term")
        )
        cols = ["input_id", "suggest_rank", "suggestion", "df", "distance"]
    elif mode == "completion":
        pred = None
        for r in rows:
            c = F.col("term").startswith(r["text"])
            pred = c if pred is None else (pred | c)
        lens = sorted({len(r["text"]) for r in rows})
        keyed = terms.filter(pred).withColumn(
            "_key",
            F.explode(
                F.array_distinct(
                    F.array(*[F.substring("term", 1, L) for L in lens])
                )
            ),
        )
        joined = keyed.join(
            F.broadcast(pats), F.col("_key") == F.col("text")
        ).drop("_key")
        w = Window.partitionBy("input_id").orderBy(F.desc("df"), F.asc("term"))
        cols = ["input_id", "suggest_rank", "suggestion", "df"]
    else:
        raise ValueError(f"unknown suggest mode: {mode}")
    return (
        joined.withColumn("suggest_rank", F.row_number().over(w))
        .filter(F.col("suggest_rank") <= size)
        .withColumnRenamed("term", "suggestion")
        .select(*cols)
    )


def explain_score(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    hits: DataFrame | None = None,
    k: int = 10,
    mode: str = "auto",
) -> DataFrame:
    """The reference stack's opensearch-api `_explain` analog: one row
    per (query, hit, matching term) with the BM25 sub-scores — tf, df,
    idf, the saturation factor tf_norm, and the term's contribution
    (idf·tf_norm); contributions sum to the hit's score (asserted in
    tests). `hits` (query_id, doc_id) limits the breakdown to given
    hits; default = this index's top-k.

    Per-doc tf comes from the index's own tokens table, filtered by a
    driver-collected `term IN (...)` predicate so the parquet scan
    prunes row groups on the term column's min/max stats — the scan
    reads postings-for-the-query-vocabulary, not the corpus."""
    stats = load_stats(index_dir)
    if hits is None:
        hits = topk(spark, index_dir, queries, k=k, mode=mode).select(
            "query_id", "doc_id"
        )
    qt = query_terms(spark, index_dir, queries, stats["n_docs"]).select(
        "query_id", "term", "df", "idf"
    )
    qterms = [r["term"] for r in qt.select("term").distinct().collect()]
    toks = (
        spark.read.parquet(os.path.join(index_dir, "tokens"))
        .filter(F.col("term").isin(qterms))
        .select("doc_id", "term", "tf", "dl")
    )
    k1, b, avgdl = stats["k1"], stats["b"], stats["avgdl"]
    want = F.broadcast(hits.join(qt, "query_id"))
    tf_norm = (
        F.col("tf").cast("double")
        * (k1 + 1.0)
        / (
            F.col("tf").cast("double")
            + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl)
        )
    )
    return (
        toks.join(want, ["doc_id", "term"])
        .withColumn("tf_norm", tf_norm)
        .select(
            "query_id",
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            "df",
            "idf",
            "tf_norm",
            (F.col("idf") * F.col("tf_norm")).alias("contribution"),
        )
    )


def term_vectors(
    spark: SparkSession,
    index_dir: str,
    doc_ids: list[int],
) -> DataFrame:
    """The reference stack's opensearch-api `_termvectors` analog:
    per requested doc, its terms with field-local tf and the
    collection-wide df / ttf (cf) from the term dictionary. The
    tokens scan prunes on a `doc_id IN (...)` pushdown; the dictionary
    join is driven by the pruned (small) doc side."""
    toks = (
        spark.read.parquet(os.path.join(index_dir, "tokens"))
        .filter(F.col("doc_id").isin([int(d) for d in doc_ids]))
        .filter(F.col("term").isNotNull())
        .select("doc_id", "term", "tf")
    )
    terms = spark.read.parquet(os.path.join(index_dir, "terms")).select(
        "term", "df", "cf"
    )
    return toks.join(terms, "term").select(
        "doc_id", "term", F.col("tf").cast("long").alias("tf"), "df",
        F.col("cf").alias("ttf"),
    )


def percolate(
    stored_queries: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Percolator (the reference stack's opensearch-api `percolate`
    query, reversed search): stored queries are registered as term
    sets; an incoming document matches a stored query when it contains
    ALL the query's terms (conjunctive `match`, the percolator's
    default AND semantics). Pure Catalyst: explode both sides to
    (term) rows, one hash join on term, count distinct matched terms
    per (query, doc) == the query's term count. Cost is bounded by
    the term-match fan-out, never |queries| × |docs|.

    stored_queries: (query_id, query); docs: (doc_id, text).
    Returns (doc_id, query_id) matches."""
    q = stored_queries.select(
        "query_id",
        F.array_distinct(tokenize_col(F.col("query"))).alias("qterms"),
    ).withColumn("n_qterms", F.size("qterms"))
    qt = q.select(
        "query_id", "n_qterms", F.explode("qterms").alias("term")
    )
    dt = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(tokenize_col(F.col(text_col)))
        ).alias("term"),
    )
    return (
        dt.join(qt, "term")
        .groupBy("doc_id", "query_id", "n_qterms")
        .agg(F.count("*").alias("n_hit"))
        .filter(F.col("n_hit") == F.col("n_qterms"))
        .select("doc_id", "query_id")
    )


def expand_synonyms(queries: DataFrame, synonyms: DataFrame) -> DataFrame:
    """Query-time synonym expansion (the analyzer `synonym` filter
    applied at search time — Lucene synonym_graph's query-side mode):
    each query term expands to itself plus its synonym set, and the
    expanded bag scores as a plain disjunctive query downstream.
    Pure Catalyst: tokenize → one left join on the synonym table →
    re-assemble the expanded term bag as query text (the canonical
    tokenizer is idempotent on its own output, so the reconstructed
    text re-tokenizes to exactly the expanded bag). Feed the result to
    topk()/topk_with_docs() unchanged.

    queries: (query_id, query); synonyms: (term, synonym) rows, one
    per direction to apply (supply both directions for symmetric
    sets). Returns (query_id, query) with expanded text."""
    qt = queries.select(
        "query_id",
        F.explode(F.array_distinct(tokenize_col(F.col("query")))).alias(
            "term"
        ),
    )
    exp = qt.join(F.broadcast(synonyms), "term", "left").select(
        "query_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.array(F.col("term"), F.col("synonym")),
                    lambda t: t.isNotNull(),
                )
            )
        ).alias("term"),
    )
    return exp.groupBy("query_id").agg(
        F.array_join(F.array_sort(F.collect_set("term")), " ").alias("query")
    )


PERCOLATE_BROADCAST_MAX = 1_000_000


def percolate_pruned(
    stored_queries: DataFrame,
    docs: DataFrame,
    dfreq: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    broadcast_registry: bool | None = None,
) -> DataFrame:
    """Percolator with rarest-term pruning — the registration trick
    Lucene's percolator uses at scale: each stored query registers
    under its RAREST term (lowest collection df, term string
    tie-break), so an incoming doc generates candidate (doc, query)
    pairs only through that one term instead of through every term it
    shares with any query. Verification then checks full containment
    on the candidate pairs (array_except of the query's terms against
    the doc's token set).

    Candidate volume drops from Σ_q Σ_t df(t) to Σ_q df(rarest_t) —
    for selective queries orders of magnitude fewer pairs through the
    shuffle; results are identical to `percolate` (asserted in
    tests). `dfreq`: (term, df) — the index's term dictionary, or any
    df table over the expected corpus; query terms absent from it get
    df 0 (rarest possible, correct for pruning: unseen terms can't
    occur in in-distribution docs, and containment still verifies).

    stored_queries: (query_id, query); docs: (doc_id, text).
    Returns (doc_id, query_id).

    `broadcast_registry`: None (default) counts the registry once and
    broadcasts only under PERCOLATE_BROADCAST_MAX rows — a realistic
    alerting registry holds millions of stored queries, and a forced
    broadcast of that would OOM driver and executors (VERDICT r03
    item 7); above the cap the join falls back to AQE's choice
    (shuffle hash / sort-merge on term). Pass True/False to skip the
    count when the caller already knows the size."""
    q = stored_queries.select(
        "query_id",
        F.array_distinct(tokenize_col(F.col("query"))).alias("qterms"),
    )
    qt = q.select("query_id", "qterms", F.explode("qterms").alias("term"))
    w = Window.partitionBy("query_id").orderBy(F.asc("_df"), F.asc("term"))
    reg = (
        qt.join(dfreq.select("term", F.col("df").alias("_df")), "term", "left")
        .withColumn("_df", F.coalesce(F.col("_df"), F.lit(0)))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("query_id", "qterms", "term")
    )
    dt = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        F.array_distinct(tokenize_col(F.col(text_col))).alias("dtoks"),
    ).select("doc_id", "dtoks", F.explode("dtoks").alias("term"))
    # no distinct needed: reg holds exactly ONE row per query, and dt
    # explodes DISTINCT doc tokens, so each (doc, query) candidate
    # appears at most once — the pipeline is a stateless broadcast
    # join + filter (which is what makes the streaming form possible
    # in append mode with zero state)
    if broadcast_registry is None:
        broadcast_registry = (
            stored_queries.count() <= PERCOLATE_BROADCAST_MAX
        )
    regj = F.broadcast(reg) if broadcast_registry else reg
    return (
        dt.join(regj, "term")
        .filter(F.size(F.array_except(F.col("qterms"), F.col("dtoks"))) == 0)
        .select("doc_id", "query_id")
    )


def rank_eval(
    results: DataFrame,
    ratings: DataFrame,
    k: int = 10,
) -> DataFrame:
    """The reference stack's opensearch-api `_rank_eval` analog:
    per-query retrieval quality of a ranking against rated documents.
    Emits precision@k, recall@k, MRR and NDCG@k per query in one
    pass: a left join of the top-k onto the ratings plus two windows
    (rank order for DCG, rating order for the ideal DCG). Queries with
    no rated docs drop out (as _rank_eval reports them separately).

    results: (query_id, rank, doc_id); ratings: (query_id, doc_id,
    rating) with rating > 0 meaning relevant (graded ratings feed
    DCG)."""
    res = results.filter(F.col("rank") <= k)
    j = res.join(ratings, ["query_id", "doc_id"], "left").withColumn(
        "rel", F.coalesce(F.col("rating"), F.lit(0.0)).cast("double")
    )
    log2 = F.log(F.lit(2.0))
    got = j.groupBy("query_id").agg(
        (F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)) / F.lit(float(k))).alias(
            "precision_at_k"
        ),
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).alias("n_hits"),
        F.max(
            F.when(F.col("rel") > 0, 1.0 / F.col("rank")).otherwise(0.0)
        ).alias("mrr"),
        F.sum(
            F.col("rel") / (F.log(F.col("rank") + 1.0) / log2)
        ).alias("dcg"),
    )
    # ideal DCG: ratings sorted by rating desc (doc_id asc tie), top-k
    widl = Window.partitionBy("query_id").orderBy(
        F.desc("rating"), F.asc("doc_id")
    )
    ideal = (
        ratings.filter(F.col("rating") > 0)
        .withColumn("irank", F.row_number().over(widl))
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    F.col("irank") <= k,
                    F.col("rating").cast("double")
                    / (F.log(F.col("irank") + 1.0) / log2),
                ).otherwise(0.0)
            ).alias("idcg"),
            F.count("*").alias("n_relevant"),
        )
    )
    return got.join(ideal, "query_id").select(
        "query_id",
        "precision_at_k",
        (F.col("n_hits") / F.col("n_relevant")).alias("recall_at_k"),
        "mrr",
        (F.col("dcg") / F.col("idcg")).alias("ndcg_at_k"),
    )


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    k: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher RRF — the
    technique behind the reference stack's hybrid-search score
    normalization): fuse two rankings of the same doc space into
    rrf = Σ 1/(k+rank_i) over the rankings a doc appears in, ranked
    (rrf desc, doc_id asc). Rank-only fusion — incomparable score
    scales (BM25 vs cosine vs anything) never need calibrating.

    a, b: DataFrames (query_id, rank, doc_id[, ...]). One outer join
    on (query, doc) + one window — fusion cost is bounded by the
    retrieved candidate lists, never the corpus."""
    fa = a.select("query_id", "doc_id", F.col("rank").alias("_ra"))
    fb = b.select("query_id", "doc_id", F.col("rank").alias("_rb"))
    j = fa.join(fb, ["query_id", "doc_id"], "outer").withColumn(
        "rrf",
        F.coalesce(F.lit(1.0) / (F.lit(float(k)) + F.col("_ra")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(float(k)) + F.col("_rb")), F.lit(0.0)),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "rank", "doc_id", "rrf")
    )


def attach_doc_values(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    cols: tuple[str, ...] = ("lang",),
) -> None:
    """Write a doc-values sidecar (Lucene DocValues analog): a
    column-striped parquet keyed by the dense ordinal holding the
    given stored fields, produced by ONE identity join against the
    corpus at attach time. Queries that aggregate over stored fields
    (faceted_search) then join match ords against this
    vocabulary-thin table instead of re-scanning the corpus — at
    100 TB that turns faceting from corpus-bound into
    index-bound."""
    ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        "ord", "repo", "path", "commit"
    )
    corpus = spark.read.parquet(corpus_path).select(
        "repo", "path", "commit", *cols
    )
    ident.join(corpus, ["repo", "path", "commit"]).select(
        "ord", *cols
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "docvalues"))


def _doc_values(spark: SparkSession, index_dir: str, col: str) -> DataFrame | None:
    try:
        dv = spark.read.parquet(os.path.join(index_dir, "docvalues"))
    except Exception:
        return None
    return dv.select("ord", col) if col in dv.columns else None


def range_facets(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    bounds: list[float],
    matched: DataFrame | None = None,
) -> DataFrame:
    """Range aggregation alongside a query (opensearch-api
    `aggs: {range: {field, ranges}}`): per query, doc counts of the
    FULL match set bucketed by half-open ranges [bounds[i],
    bounds[i+1]) with unbounded head/tail buckets, labelled the
    OpenSearch way ("*-b", "a-b", "a-*"). Same ids-only match set and
    stored-field resolution as faceted_search (doc-values sidecar
    when it holds `field`, else the corpus identity join); one
    (query, bucket) aggregation. Buckets with zero matches are
    omitted (sparse form). Returns (query_id, bucket, doc_count)."""
    if matched is None:
        stats = load_stats(index_dir)
        qt = query_terms(spark, index_dir, queries, stats["n_docs"]).select(
            "query_id", "term_id", "idf", "bucket"
        )
        matched = _match_set(spark, index_dir, qt)
    dv = _doc_values(spark, index_dir, field)
    if dv is not None:
        attributed = matched.join(dv.select("ord", field), "ord")
    else:
        ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
            "ord", "repo", "path", "commit"
        )
        attrs = spark.read.parquet(corpus_path).select(
            "repo", "path", "commit", field
        )
        attributed = matched.join(ident, "ord").join(
            attrs, ["repo", "path", "commit"]
        )
    v = F.col(field)
    lbl = F.when(v < bounds[0], F.lit(f"*-{bounds[0]:g}"))
    for lo, hi in zip(bounds, bounds[1:]):
        lbl = lbl.when(
            (v >= lo) & (v < hi), F.lit(f"{lo:g}-{hi:g}")
        )
    lbl = lbl.otherwise(F.lit(f"{bounds[-1]:g}-*"))
    return (
        attributed.withColumn("bucket", lbl)
        .groupBy("query_id", "bucket")
        .agg(F.count("*").alias("doc_count"))
    )


def stats_facets(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    matched: DataFrame | None = None,
) -> DataFrame:
    """extended_stats aggregation alongside a query (opensearch-api
    `aggs: {extended_stats: {field}}`): count / min / max / sum / avg /
    population variance / stddev of a numeric stored field over the
    FULL match set. Same ids-only match set + doc-values resolution as
    range_facets; one grouped aggregation.

    Numeric discipline: sum and sum-of-squares accumulate as exact
    int64 (the field is integral), and variance derives as
    (n·Σx² − (Σx)²) / n² — exact integer arithmetic until ONE double
    division, so the result is bit-identical across engines (no
    float-accumulation order sensitivity), matching how the oracle
    computes it."""
    if matched is None:
        stats = load_stats(index_dir)
        qt = query_terms(spark, index_dir, queries, stats["n_docs"]).select(
            "query_id", "term_id", "idf", "bucket"
        )
        matched = _match_set(spark, index_dir, qt)
    dv = _doc_values(spark, index_dir, field)
    if dv is not None:
        attributed = matched.join(dv.select("ord", field), "ord")
    else:
        ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
            "ord", "repo", "path", "commit"
        )
        attrs = spark.read.parquet(corpus_path).select(
            "repo", "path", "commit", field
        )
        attributed = matched.join(ident, "ord").join(
            attrs, ["repo", "path", "commit"]
        )
    v = F.col(field).cast("long")
    agg = attributed.groupBy("query_id").agg(
        F.count("*").alias("n"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.sum(v).alias("sum_v"),
        F.sum(v * v).alias("sum_sq"),
    )
    var = (
        F.col("n") * F.col("sum_sq") - F.col("sum_v") * F.col("sum_v")
    ).cast("double") / (F.col("n") * F.col("n")).cast("double")
    return agg.select(
        "query_id",
        "n",
        "min_v",
        "max_v",
        "sum_v",
        (F.col("sum_v").cast("double") / F.col("n").cast("double")).alias(
            "avg_v"
        ),
        var.alias("variance"),
        F.sqrt(var).alias("std_dev"),
    )


def _attributed_match(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    matched: DataFrame | None = None,
) -> DataFrame:
    """(query_id, ord, <field>) over the FULL match set — the shared
    front half of cardinality/percentiles (and the same doc-values-
    else-corpus resolution range_facets/stats_facets use)."""
    if matched is None:
        stats = load_stats(index_dir)
        qt = query_terms(spark, index_dir, queries, stats["n_docs"]).select(
            "query_id", "term_id", "idf", "bucket"
        )
        matched = _match_set(spark, index_dir, qt)
    dv = _doc_values(spark, index_dir, field)
    if dv is not None:
        return matched.join(dv.select("ord", field), "ord")
    ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        "ord", "repo", "path", "commit"
    )
    attrs = spark.read.parquet(corpus_path).select(
        "repo", "path", "commit", field
    )
    return matched.join(ident, "ord").join(
        attrs, ["repo", "path", "commit"]
    )


def cardinality_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    exact: bool = True,
    rsd: float = 0.05,
    matched: DataFrame | None = None,
) -> DataFrame:
    """cardinality aggregation alongside a query (opensearch-api
    `aggs: {cardinality: {field}}`). OpenSearch computes this with
    HLL++; `exact=False` uses Spark's approx_count_distinct — the
    SAME sketch family and the right call at 100 TB (fixed-size
    state, one pass, no distinct shuffle). The exact default exists
    for small-corpus parity with the value oracle. Returns
    (query_id, value_count)."""
    attributed = _attributed_match(
        spark, index_dir, corpus_path, queries, field, matched=matched
    )
    agg = (
        F.count_distinct(F.col(field))
        if exact
        else F.approx_count_distinct(F.col(field), rsd)
    )
    return attributed.groupBy("query_id").agg(
        agg.alias("value_count")
    )


def histogram_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    interval: float | None = None,
    calendar_interval: str | None = None,
    offset: float = 0.0,
    matched: DataFrame | None = None,
) -> DataFrame:
    """histogram / date_histogram aggregation alongside a query
    (opensearch-api `aggs: {histogram: {field, interval}}` /
    `{date_histogram: {field, calendar_interval}}`): doc counts of
    the FULL match set in fixed-width buckets keyed by the bucket's
    lower bound — floor(v / interval) * interval for numeric fields,
    date_trunc(calendar_interval, v) for date/timestamp fields.
    Same ids-only match set + doc-values resolution as range_facets;
    one grouped aggregation, empty buckets omitted (sparse form,
    min_doc_count=1). Returns (query_id, key, doc_count) with `key`
    double for numeric histograms and an ISO timestamp string for
    date histograms (OpenSearch's key_as_string)."""
    attributed = _attributed_match(
        spark, index_dir, corpus_path, queries, field, matched=matched
    )
    v = F.col(field)
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
        key = F.date_format(
            F.date_trunc(unit, v.cast("timestamp")),
            "yyyy-MM-dd'T'HH:mm:ss",
        )
    else:
        if interval is None or float(interval) <= 0:
            raise ValueError("histogram needs a positive interval")
        step = float(interval)
        off = float(offset or 0.0)
        key = (
            F.floor((v.cast("double") - F.lit(off)) / F.lit(step))
            * F.lit(step) + F.lit(off)
        )
    return (
        attributed.withColumn("key", key)
        .groupBy("query_id", "key")
        .agg(F.count("*").alias("doc_count"))
    )


def percentiles_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    percents: tuple = (25.0, 50.0, 75.0, 95.0, 99.0),
    exact: bool = True,
    accuracy: int = 10000,
    matched: DataFrame | None = None,
) -> DataFrame:
    """percentiles aggregation (opensearch-api `aggs: {percentiles:
    {field, percents}}`). OpenSearch uses t-digest; `exact=False`
    uses Spark's approx_percentile (KLL-style sketch — fixed-size
    state, the 100-TB path). Exact default = Spark `percentile`
    (linear interpolation, matching DuckDB quantile_cont) for oracle
    parity. Returns (query_id, p<percent> double ...)."""
    attributed = _attributed_match(
        spark, index_dir, corpus_path, queries, field, matched=matched
    )
    v = F.col(field).cast("double")
    cols = []
    for p in percents:
        frac = F.lit(p / 100.0)
        c = (
            F.percentile(v, frac)
            if exact
            else F.percentile_approx(v, frac, accuracy)
        )
        cols.append(c.alias(f"p{p:g}".replace(".", "_")))
    return attributed.groupBy("query_id").agg(*cols)


def scored_match_set(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
) -> DataFrame:
    """(query_id, ord, doc_id, score) — the FULL scored match set:
    pruned postings scan, BM25 decode, tombstone anti-join, stored
    _id attached for oracle-stable tie-breaks. The shared scoring
    front of _scored_attributed and the sampler aggregations."""
    stats = load_stats(index_dir)
    qt = query_terms(spark, index_dir, queries, stats["n_docs"]).select(
        "query_id", "term_id", "idf", "bucket"
    )
    post = _pruned_postings(spark, index_dir, qt)
    decoder = _make_decoder(stats["k1"], stats["b"], stats["avgdl"])
    scored = (
        post.join(
            F.broadcast(qt.select("query_id", "term_id", "idf")), "term_id"
        )
        .select("query_id", "idf", "docs", "tfs", "dls")
        .mapInPandas(decoder, schema="query_id long, doc_id long, partial double")
        .groupBy("query_id", F.col("doc_id").alias("ord"))
        .agg(F.sum("partial").alias("score"))
    )
    scored = _anti_tombstones(spark, index_dir, scored, col="ord")
    ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        "ord", "doc_id"
    )
    return scored.join(ident, "ord").select(
        "query_id", "ord", "doc_id", "score"
    )


def _scored_attributed(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
) -> DataFrame:
    """(query_id, ord, doc_id, repo, path, commit, <field>, score) —
    the FULL scored match set with one stored field attached (shared
    by collapse_search and top_hits_facet): pruned postings scan, BM25
    decode, tombstone anti-join, doc-values-else-corpus attribution."""
    scored = scored_match_set(spark, index_dir, queries).drop("doc_id")
    ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        "ord", "doc_id", "repo", "path", "commit"
    )
    dv = _doc_values(spark, index_dir, field)
    if dv is not None:
        return scored.join(dv.select("ord", field), "ord").join(
            ident, "ord"
        )
    attrs = spark.read.parquet(corpus_path).select(
        "repo", "path", "commit", field
    )
    return scored.join(ident, "ord").join(
        attrs, ["repo", "path", "commit"]
    )


def top_hits_facet(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    group_field: str,
    size: int = 3,
    tie_expr=None,
) -> DataFrame:
    """top_hits aggregation under a terms bucket (opensearch-api
    `aggs: {terms: {field}, aggs: {top: {top_hits: {size}}}}`): per
    (query, group value), the group's doc_count plus its top `size`
    hits by BM25 score (score desc, identity asc). The window
    partitions on (query, group) — bounded keys, no single-partition
    stage. Returns (query_id, <group_field>, doc_count, hit_rank,
    doc_id, score, repo, path, commit)."""
    attributed = _scored_attributed(
        spark, index_dir, corpus_path, queries, group_field
    )
    tie = F.col("doc_id") if tie_expr is None else tie_expr
    wg = Window.partitionBy("query_id", group_field).orderBy(
        F.desc("score"), F.asc(tie)
    )
    wc = Window.partitionBy("query_id", group_field)
    return (
        attributed.withColumn("doc_count", F.count("*").over(wc))
        .withColumn("hit_rank", F.row_number().over(wg))
        .filter(F.col("hit_rank") <= size)
        .select(
            "query_id", group_field, "doc_count", "hit_rank",
            "doc_id", "score", "repo", "path", "commit",
        )
    )


def collapse_search(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    queries: DataFrame,
    field: str,
    k: int = 10,
    tie_expr=None,
) -> DataFrame:
    """Field collapsing (opensearch-api `collapse: {field}`): the
    ranking keeps only the BEST hit per distinct value of `field`
    (score desc, doc identity asc within the group — Lucene's
    collapse tie-break), then the collapsed hits rank normally.
    `tie_expr` (Column, default the internal doc_id) sets the
    ascending identity tie-break for BOTH windows — pass the original
    corpus key when equal-score picks must match an external oracle. The
    FULL match set is scored (a collapsed top-k cannot be cut off at
    k pre-collapse: the k-th group's best hit may rank arbitrarily
    deep), attribution uses the doc-values sidecar when it holds
    `field`, and both windows partition on bounded keys — (query,
    field value) then (query) — so no single-partition stage appears.

    Returns (query_id, rank, field value, doc_id, score)."""
    attributed = _scored_attributed(
        spark, index_dir, corpus_path, queries, field
    )
    tie = F.col("doc_id") if tie_expr is None else tie_expr
    wg = Window.partitionBy("query_id", field).orderBy(
        F.desc("score"), F.asc(tie)
    )
    best = attributed.withColumn("_g", F.row_number().over(wg)).filter(
        F.col("_g") == 1
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(tie))
    return (
        best.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", field, "doc_id", "score",
            "repo", "path", "commit",
        )
    )


def significant_terms(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    size: int = 10,
    min_doc_count: int = 3,
    matched: DataFrame | None = None,
) -> DataFrame:
    """Significant-terms aggregation (opensearch-api
    `aggs: {significant_terms: ...}}`): for each query, the terms
    OVERREPRESENTED in the disjunctive match set (foreground) vs the
    whole corpus (background), scored with the JLH heuristic the
    reference stack defaults to:

        jlh = (fg_pct - bg_pct) * (fg_pct / bg_pct)

    keeping only positively significant terms (fg_pct > bg_pct) seen
    in >= `min_doc_count` foreground docs; buckets ordered
    (score desc, term asc), top `size`.

    Runs entirely index-side: foreground doc-term pairs come from the
    index's own tokens table (one join on the internal doc id — both
    sides carry it natively), background df from the term dictionary,
    so the raw corpus is never re-tokenized. Scale shape: ONE
    (query, term) aggregation with map-side combine over
    |match set| x dl rows; the per-query fg_size aggregate is
    bucket-count-sized and broadcast."""
    stats = load_stats(index_dir)
    n_docs = stats["n_docs"]
    if matched is None:
        qt = query_terms(spark, index_dir, queries, n_docs).select(
            "query_id", "term_id", "idf", "bucket"
        )
        matched = _match_set(spark, index_dir, qt)
    ident = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        "ord", "doc_id"
    )
    mdocs = matched.join(ident, "ord").select("query_id", "doc_id")
    fg_size = mdocs.groupBy("query_id").agg(F.count("*").alias("fg_size"))
    toks = (
        spark.read.parquet(os.path.join(index_dir, "tokens"))
        .filter(F.col("term").isNotNull())
        .select("doc_id", "term")
    )
    # tokens rows are unique per (doc, term) by construction (v3
    # format aggregates tf inside the tokenize UDF), so a plain count
    # IS the foreground document frequency
    fg = mdocs.join(toks, "doc_id").groupBy("query_id", "term").agg(
        F.count("*").alias("fg_count")
    )
    bg = spark.read.parquet(os.path.join(index_dir, "terms")).select(
        "term", F.col("df").alias("bg_count")
    )
    scored = (
        fg.filter(F.col("fg_count") >= min_doc_count)
        .join(bg, "term")
        .join(F.broadcast(fg_size), "query_id")
        .withColumn("fg_pct", F.col("fg_count") / F.col("fg_size"))
        .withColumn("bg_pct", F.col("bg_count") / F.lit(float(n_docs)))
        .filter(F.col("fg_pct") > F.col("bg_pct"))
        .withColumn(
            "score",
            (F.col("fg_pct") - F.col("bg_pct"))
            * (F.col("fg_pct") / F.col("bg_pct")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("bucket_rank", F.row_number().over(w))
        .filter(F.col("bucket_rank") <= size)
        .select("query_id", "bucket_rank", "term", "fg_count", "score")
    )


def _decode_rank_driver(blocks, idf_by_tid, stats, k: int, exclude=None):
    """Driver-side varbyte decode + BM25 partial merge over the
    collected encoded blocks of ONE query. Returns the top-k
    (ord, score) arrays with the engine tie-break (score desc, ord
    asc — identical to doc_id asc under doc_id-ordered ordinals).
    `exclude`: sorted np.int64 array of tombstoned ords to drop
    BEFORE top-k selection (delete_by_query visibility)."""
    docs_v, counts = decode_many(blocks["docs"].tolist(), deltas=True)
    tf_v, _ = decode_many(blocks["tfs"].tolist(), deltas=False)
    dl_v, _ = decode_many(blocks["dls"].tolist(), deltas=False)
    ords = to_signed(docs_v)
    tf = tf_v.astype(np.float64)
    dl = dl_v.astype(np.float64)
    k1, b, avgdl = stats["k1"], stats["b"], stats["avgdl"]
    impact = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    vals = impact * np.repeat(
        blocks["term_id"].map(idf_by_tid).to_numpy(np.float64), counts
    )
    uniq, inv = np.unique(ords, return_inverse=True)
    sums = np.zeros(len(uniq))
    np.add.at(sums, inv, vals)
    if exclude is not None and len(exclude):
        keep = ~np.isin(uniq, exclude, assume_unique=False)
        uniq, sums = uniq[keep], sums[keep]
    order = np.lexsort((uniq, -sums))[:k]
    return uniq[order], sums[order]


def tombstone_files(index_dir: str) -> list[str]:
    """The index's tombstone parquet part files at this instant.
    Deletes append NEW part files, so pinning this list pins the
    delete state."""
    from .. import fsio

    ts = os.path.join(index_dir, "tombstones")
    return [p for p in fsio.listdir(ts) if p.endswith(".parquet")]


@dataclass(frozen=True)
class Segment:
    """One immutable index directory plus the tombstone part files
    pinned for it when a reader opened. A reader is a pinned list of
    immutable files (the Delta Lake snapshot model): deletes appended
    later land in new part files that a pinned segment never reads."""

    path: str
    stats: dict
    tombstones: tuple[str, ...]

    @classmethod
    def open(cls, path: str, tombstones: list[str] | None = None) -> "Segment":
        """Read stats.json and pin `tombstones` (default: the part
        files present now). Pure metadata — no Spark job."""
        if tombstones is None:
            tombstones = tombstone_files(path)
        return cls(path, load_stats(path), tuple(tombstones))


# the stats.json fields every segment of one reader must agree on: the
# query analyzer and the BM25 parameters apply to all segments at once
_SHARED_SETTINGS = ("k1", "b", "stopwords", "stemmer")


def _check_shared_settings(segments: list[Segment]) -> None:
    """A segment list built under different analyzers or BM25
    parameters cannot be scored as one corpus; refuse it instead of
    silently applying the first segment's settings to all."""
    from .. import fsio

    def norm(field, v):
        return tuple(sorted(v or ())) if field == "stopwords" else v

    ref = segments[0]
    bad = [
        f"{fsio.basename(s.path)} {f}={s.stats.get(f)!r}"
        for s in segments[1:]
        for f in _SHARED_SETTINGS
        if norm(f, s.stats.get(f)) != norm(f, ref.stats.get(f))
    ]
    if bad:
        raise ValueError(
            "segments built with different settings cannot be queried "
            f"together: {', '.join(bad)} (vs {fsio.basename(ref.path)}: "
            + ", ".join(f"{f}={ref.stats.get(f)!r}" for f in _SHARED_SETTINGS)
            + ")"
        )


_IDENTITY = ["repo", "path", "commit"]


class QuerySession:
    """The BM25 top-k reader over a pinned segment list (reference
    PitWorker keeps a PIT open across search_after pages the same
    way). `index` is an index directory (a one-segment list) or a list
    of Segments (a delta tree, a PIT view). Opening runs no Spark job;
    warm() caches the tables in executor memory and loads the driver
    dictionary and ord map for repeated querying. An unwarmed session
    reads parquet on every call: the one-shot module functions (topk,
    topk_one_cold, topk_deltas, pit.topk_pit) are calls onto one.
    Every query path sees the pinned tombstones; refresh() re-pins."""

    # above these sizes the driver-side structures are skipped (a 10^8
    # -term dictionary / 10^12-row doc map do not belong on one node;
    # lookups fall back to filtered scans of the cached tables)
    DRIVER_DICT_MAX_TERMS = 2_000_000
    DRIVER_DOCS_MAX = 5_000_000
    # Σdf above which a single query is scored by the batch plan
    # instead of collecting its encoded blocks to the driver
    MAX_DRIVER_POSTINGS = 5_000_000
    # serving-path cache partition count: single-query jobs are task-
    # launch bound, so the postings cache holds few fat partitions
    # (measured: 64 cached partitions -> 0.6 s/decode job, 8 -> 0.22 s
    # at SF=0.1/local[32]). Batch jobs that need scan parallelism
    # should use an unwarmed session (the module-level topk).
    CACHE_PARTITIONS = 8

    def __init__(self, spark: SparkSession, index: "str | list[Segment]"):
        self.spark = spark
        self.segments = (
            [Segment.open(index)] if isinstance(index, str) else list(index)
        )
        if not self.segments:
            raise ValueError("a QuerySession needs at least one segment")
        _check_shared_settings(self.segments)
        st = [s.stats for s in self.segments]
        n_docs = sum(s["n_docs"] for s in st)
        # global N and avgdl over the segment list (a one-segment list
        # keeps its own stats unchanged)
        self.stats = st[0] if len(st) == 1 else {
            **st[0],
            "n_docs": n_docs,
            "avgdl": (
                sum(s["avgdl"] * s["n_docs"] for s in st) / n_docs
                if n_docs else 0.0
            ),
        }
        self._cache: list[dict] | None = None  # per segment, set by warm()
        self._dict: dict | None = None
        self._ord_map = None
        self._tombs_np = None  # segment 0's pinned ords, read on first use

    def refresh(self, full: bool = False) -> "QuerySession":
        """Re-pin every segment's tombstone part files, so deletes made
        after open become visible to every query path (the PIT-refresh
        analog); the warm caches stay. full=True also re-reads
        stats.json and rebuilds the warm caches (needed after
        expunge_deletes or reindex rewrote the artifacts)."""
        segments = [Segment.open(s.path) for s in self.segments]
        if full:
            warm = self._cache is not None
            self.close()
            self.__init__(self.spark, segments)
            if warm:
                self.warm()
        else:
            self.segments, self._tombs_np = segments, None
        return self

    def _table(self, name: str, i: int = 0) -> DataFrame:
        """Segment i's terms / postings / docs: warm cache or parquet."""
        if self._cache is not None:
            return self._cache[i][name]
        return self.spark.read.parquet(os.path.join(self.segments[i].path, name))

    def _tombstones(self, i: int = 0) -> DataFrame | None:
        seg = self.segments[i]
        if not seg.tombstones:
            return None
        return self.spark.read.parquet(*seg.tombstones).select("ord").distinct()

    def warm(self) -> "QuerySession":
        """Cache the tables, load the driver structures under their size
        gates, and run one batch and one single query so later queries
        skip the first-call costs."""
        if self._cache is None:
            self._cache, n_terms = [], []
            for seg in self.segments:
                terms, post, docs = (
                    self.spark.read.parquet(os.path.join(seg.path, n))
                    for n in ("terms", "postings", "docs")
                )
                c = {
                    "terms": terms.persist(),
                    "postings": post.coalesce(self.CACHE_PARTITIONS).persist(),
                    "docs": docs.select("ord", "doc_id")
                    .coalesce(self.CACHE_PARTITIONS).persist(),
                }
                n_terms.append(c["terms"].count())
                c["postings"].count()
                c["docs"].count()
                self._cache.append(c)
            # the driver structures serve topk_one, which reads one segment
            c, n_docs = self._cache[0], int(self.stats["n_docs"])
            if len(self.segments) == 1 and n_terms[0] <= self.DRIVER_DICT_MAX_TERMS:
                pdf = c["terms"].select("term", "term_id", "df", "bucket").toPandas()
                self._dict = {
                    t: (int(i), float(d), int(bk))
                    for t, i, d, bk in zip(
                        pdf["term"], pdf["term_id"], pdf["df"], pdf["bucket"]
                    )
                }
            if len(self.segments) == 1 and n_docs <= self.DRIVER_DOCS_MAX:
                dpdf = c["docs"].toPandas()
                self._ord_map = np.zeros(n_docs, np.int64)
                self._ord_map[dpdf["ord"].to_numpy()] = dpdf["doc_id"].to_numpy()
        q = self.spark.createDataFrame(
            [(0, "warmup")], "query_id long, query string"
        )
        self.topk(q, k=1).collect()
        if len(self.segments) == 1:
            self.topk_one("warmup data", k=1)
        return self

    def topk_one(
        self, query: str, k: int = 10, query_id: int = 0,
        with_docs: bool = False,
    ) -> pd.DataFrame:
        """Single-query serve over a one-segment session: analysis,
        dictionary lookup and idf run on the driver, ONE job collects
        the query's ENCODED posting blocks (varbyte, ≈3.3 B/posting),
        and decode + BM25 + rank run in driver numpy. Each input comes
        from the warm cache, else from a pushdown-pruned parquet read:
          1. dictionary: the driver dict, or a `term IN (...)` scan;
          2. posting blocks: filtered by bucket + term_id;
          3. ord -> doc_id: the driver ord map, or a docs scan filtered
             to the k winning ords (always, with with_docs=True).
        Past MAX_DRIVER_POSTINGS of Σdf the batch plan ranks instead.
        Returns pandas (query_id, rank, doc_id, score [, repo, path,
        commit with with_docs=True]); rank-identical to topk."""
        import math

        if len(self.segments) > 1:
            raise NotImplementedError(
                "topk_one serves a one-segment session; use topk"
            )
        cols = ["query_id", "rank", "doc_id", "score"]
        empty = pd.DataFrame(columns=cols + (_IDENTITY if with_docs else []))
        toks = sorted(set(analyze_query_py(self.stats, query)))
        if not toks:
            return empty
        if self._dict is not None:
            entries = [self._dict[t] for t in toks if t in self._dict]
        else:
            tpdf = (
                self._table("terms").filter(F.col("term").isin(toks))
                .select("term_id", "df", "bucket").toPandas()
            )
            entries = [
                (int(i), float(d), int(bk))
                for i, d, bk in zip(tpdf["term_id"], tpdf["df"], tpdf["bucket"])
            ]
        if not entries:
            return empty
        if sum(df for _, df, _ in entries) > self.MAX_DRIVER_POSTINGS:
            q = self.spark.createDataFrame(
                [(query_id, query)], "query_id long, query string"
            )
            r = self._rank_ords(q, k).toPandas().sort_values("rank")
            ords = r["doc_id"].to_numpy(np.int64)
            scores = r["score"].to_numpy(np.float64)
        else:
            n = float(self.stats["n_docs"])
            idf = {
                tid: math.log(1.0 + (n - df + 0.5) / (df + 0.5))
                for tid, df, _ in entries
            }
            blocks = (
                self._table("postings")
                .filter(F.col("bucket").isin(sorted({bk for *_, bk in entries})))
                .filter(F.col("term_id").isin(list(idf)))
                .select("term_id", "docs", "tfs", "dls")
                .toPandas()
            )
            if blocks.empty:
                return empty
            ords, scores = _decode_rank_driver(
                blocks, idf, self.stats, k, exclude=self._excluded_ords()
            )
        if not len(ords):
            return empty
        if self._ord_map is not None and not with_docs:
            ident = pd.DataFrame({"doc_id": self._ord_map[ords]})
        else:
            # the one identity step: a docs scan filtered to the k winners
            ident = (
                self.spark.read.parquet(
                    os.path.join(self.segments[0].path, "docs")
                )
                .filter(F.col("ord").isin([int(o) for o in ords]))
                .select("ord", "doc_id", *(_IDENTITY if with_docs else []))
                .toPandas()
                .set_index("ord")
                .reindex(ords)
                .reset_index(drop=True)
            )
        out = ident.assign(
            query_id=query_id, rank=np.arange(1, len(ords) + 1), score=scores
        )
        return out[empty.columns]

    def _excluded_ords(self):
        """Segment 0's pinned tombstoned ords as a sorted np.int64
        array for the driver decode's exclude set."""
        if self._tombs_np is None:
            ts = self._tombstones()
            self._tombs_np = (
                np.empty(0, np.int64) if ts is None
                else np.sort(ts.toPandas()["ord"].to_numpy(np.int64))
            )
        return self._tombs_np

    def topk(
        self,
        queries: DataFrame,
        k: int = 10,
        mode: str = "exhaustive",
        probe_blocks: int = 2,
        granules: int = 1024,
    ) -> DataFrame:
        """Top-k BM25 per query: (query_id, rank, doc_id, score).

        One segment: the exhaustive or blockmax plan (_rank_ords), then
        ord -> doc_id through a broadcast of the ranked rows into the
        docs table. mode="auto" picks blockmax only when the index is
        big enough AND its build-time blockmax_dispersion statistic
        says pruning can pay (see AUTO_BLOCKMAX_MIN_DOCS /
        AUTO_BLOCKMAX_MIN_DISPERSION); otherwise exhaustive decode wins
        and is selected.

        More segments: _rank_segments, which ignores `mode`."""
        if len(self.segments) > 1:
            return self._rank_segments(queries, k)
        ranked = self._rank_ords(queries, k, mode, probe_blocks, granules)
        return _resolve_ords(
            self.spark, self.segments[0].path, ranked, self._table("docs")
        )

    def _rank_ords(
        self,
        queries: DataFrame,
        k: int,
        mode: str = "exhaustive",
        probe_blocks: int = 2,
        granules: int = 1024,
    ) -> DataFrame:
        """One segment's top-k as (query_id, rank, doc_id=ord, score)."""
        _sweep_deferred()
        seg, stats = self.segments[0], self.stats
        n_docs, avgdl = stats["n_docs"], stats["avgdl"]
        k1, b = stats["k1"], stats["b"]
        tombs = self._tombstones()
        if tombs is not None:
            # Lucene delete semantics: tombstoned docs drop out of
            # results while postings/stats stay pre-delete. Blockmax
            # must not run here: a tombstoned top scorer would set θ too
            # high and prune live docs that belong in the top-k.
            # Exhaustive decode + anti-join is always correct;
            # expunge_deletes() restores the pruned path.
            mode = "exhaustive"
        if mode == "auto":
            disp = stats.get("blockmax_dispersion", 0.0) or 0.0
            mode = (
                "blockmax"
                if (
                    n_docs >= AUTO_BLOCKMAX_MIN_DOCS
                    and disp >= AUTO_BLOCKMAX_MIN_DISPERSION
                )
                else "exhaustive"
            )
        qt = query_terms(
            self.spark, seg.path, queries, n_docs,
            terms_df=self._table("terms"), stats=stats,
        )
        post = _pruned_postings(
            self.spark, seg.path, qt, post_df=self._table("postings")
        )
        decoder = _make_decoder(k1, b, avgdl)

        if mode == "exhaustive":
            joined = post.join(
                F.broadcast(qt.select("query_id", "term_id", "idf")), "term_id"
            )
            scored = joined.select(
                "query_id", "idf", "docs", "tfs", "dls"
            ).mapInPandas(decoder, schema="query_id long, doc_id long, partial double")
            if tombs is not None:
                # no broadcast hint: tombstone sets are unbounded (a
                # delete-by-query can match most of the corpus); AQE
                # promotes small ones to broadcast on its own
                scored = scored.join(
                    tombs.withColumnRenamed("ord", "doc_id"), "doc_id", "left_anti"
                )
            return _ranked(scored, k)

        if mode != "blockmax":
            raise ValueError(f"unknown mode {mode!r}")

        # One fat postings scan, then skinny everywhere else: the query-
        # term join materializes ONCE into a cache; the brank window and
        # the θ-bound filter run over a metadata PROJECTION of that cache
        # (never shuffling the varbyte payloads), and each selected block's
        # payload comes back from the cache via a broadcast join on its
        # (query_id, term_id, min_doc) key. Probed blocks decode ONCE —
        # their partials persist and union into the final scoring instead
        # of being re-decoded in phase B (the r02 version shuffled fat
        # rows through the window AND decoded probed blocks twice; that
        # made blockmax slower than exhaustive at small corpora).
        #
        # The upper bound is RANGE-ALIGNED (the real BMW mechanism, not
        # the loose Σ global-max-of-other-terms bound): the ord space is
        # cut into `granules` fixed ranges; per (query, granule g),
        # UB(g) = Σ_t idf_t · max(block_max of t's blocks overlapping g)
        # — a doc in g provably scores ≤ UB(g(doc)), so a block prunes
        # when EVERY granule it spans has UB < θ. A term absent from a
        # granule contributes 0 there, which is what lets a common term's
        # background blocks die when the query's rare/high-impact term has
        # no postings nearby (the global-max bound credits every block
        # with every other term's best impact and prunes almost nothing).
        qtb = F.broadcast(qt.select("query_id", "term_id", "idf"))
        joined = post.join(qtb, "term_id")
        joined.persist()
        _deferred_unpersist.append(joined)
        W = max((n_docs + granules - 1) // granules, 1)
        meta = joined.select(
            "query_id", "term_id", "min_doc", "max_doc", "block_max", "idf"
        )
        wprobe = Window.partitionBy("query_id", "term_id").orderBy(
            F.desc("block_max"), F.asc("min_doc")
        )
        meta = meta.withColumn("brank", F.row_number().over(wprobe))
        # phase A: decode the highest-block_max blocks per (query, term)
        probe_keys = meta.filter(F.col("brank") <= probe_blocks).select(
            "query_id", "term_id", "min_doc"
        )
        probed = (
            joined.join(
                F.broadcast(probe_keys), ["query_id", "term_id", "min_doc"]
            )
            .select("query_id", "idf", "docs", "tfs", "dls")
            .mapInPandas(decoder, schema="query_id long, doc_id long, partial double")
        )
        probed.persist()
        _deferred_unpersist.append(probed)
        theta = (
            _ranked(probed, k)
            .groupBy("query_id")
            .agg(F.count("*").alias("cnt"), F.min("score").alias("kth"))
            .withColumn(
                "theta",
                F.when(F.col("cnt") >= k, F.col("kth")).otherwise(F.lit(0.0)),
            )
            .select("query_id", "theta")
        )
        # granule-aligned upper bounds; a block's granule span totals
        # O(granules + nblocks) rows per (query, term) because a term's
        # blocks tile disjoint ord ranges — metadata-scale throughout
        spans = meta.withColumn(
            "g",
            F.explode(
                F.expr(f"sequence(min_doc DIV {W}, max_doc DIV {W})")
            ),
        )
        gmax = spans.groupBy("query_id", "g", "term_id").agg(
            F.max(F.col("idf") * F.col("block_max")).alias("gm")
        )
        ub = gmax.groupBy("query_id", "g").agg(F.sum("gm").alias("ub"))
        # phase B: decode the not-yet-probed blocks where SOME granule can
        # reach θ (a fully-pruned block provably holds no top-k doc;
        # probed blocks that fail the bound are already in `probed`, and
        # their partials only ever score docs that stay below θ)
        surv_keys = (
            spans.filter(F.col("brank") > probe_blocks)
            .join(F.broadcast(ub), ["query_id", "g"])
            .join(F.broadcast(theta), "query_id", "left")
            .filter(F.col("theta").isNull() | (F.col("ub") >= F.col("theta")))
            .select("query_id", "term_id", "min_doc")
            .distinct()
        )
        rest = (
            joined.join(
                F.broadcast(surv_keys), ["query_id", "term_id", "min_doc"]
            )
            .select("query_id", "idf", "docs", "tfs", "dls")
            .mapInPandas(decoder, schema="query_id long, doc_id long, partial double")
        )
        scored = probed.unionByName(rest)
        # the returned (lazy) DataFrame still references the cached joined
        # / probed frames, so they are not unpersisted here; the NEXT
        # batch call (or session stop) reclaims them via _sweep_deferred

        return _ranked(scored, k)

    def _rank_segments(self, queries: DataFrame, k: int) -> DataFrame:
        """Top-k over a segment list (the delta-tree plan),
        rank-identical to querying the compacted index (asserted in
        tests): df sums across the segment dictionaries, N/avgdl are
        the session's global stats, and each segment decodes with them,
        drops its pinned tombstones and resolves its own ordinals.
        Partials then sum by doc_id (a
        doc re-ingested into two segments gets both — the union
        compaction resolves) and rank on (score desc, doc_id asc). One
        read per segment: the fan-in compact_deltas exists to reclaim."""
        from functools import reduce

        stats, n = self.stats, range(len(self.segments))
        # term_id is the same deterministic hash in every segment
        terms_global = reduce(DataFrame.unionByName, [
            self._table("terms", i).select("term", "term_id", "df") for i in n
        ]).groupBy("term", "term_id").agg(F.sum("df").alias("df"))
        # every segment shares the analyzer (checked at open)
        analyze = _query_analyzer(stats)
        qt = (
            queries.select(
                "query_id",
                F.explode(F.array_distinct(analyze(F.col("query")))).alias(
                    "term"
                ),
            )
            .join(terms_global, "term")
            .withColumn("idf", _idf_col(stats["n_docs"]))
            .select("query_id", "term_id", "idf")
        )
        qtb = F.broadcast(qt)
        decoder = _make_decoder(stats["k1"], stats["b"], stats["avgdl"])

        parts = []
        for i in n:
            part = (
                self._table("postings", i).join(qtb, "term_id")
                .select("query_id", "idf", "docs", "tfs", "dls")
                .mapInPandas(
                    decoder,
                    schema="query_id long, doc_id long, partial double",
                )
                .withColumnRenamed("doc_id", "ord")
            )
            tombs = self._tombstones(i)
            if tombs is not None:
                part = part.join(tombs, "ord", "left_anti")
            parts.append(part.join(
                self._table("docs", i).select("ord", "doc_id"), "ord"
            ).select("query_id", "doc_id", "partial"))
        res = reduce(DataFrame.unionByName, parts).groupBy(
            "query_id", "doc_id"
        ).agg(F.sum("partial").alias("score"))
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            res.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
        )

    def close(self) -> None:
        for c in self._cache or ():
            for df in c.values():
                df.unpersist()
        self._cache = None


def topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    mode: str = "exhaustive",
    probe_blocks: int = 2,
    granules: int = 1024,
) -> DataFrame:
    """Top-k BM25 per query: (query_id, rank, doc_id, score), from an
    unwarmed one-segment QuerySession (see QuerySession.topk)."""
    return QuerySession(spark, index_dir).topk(
        queries, k=k, mode=mode, probe_blocks=probe_blocks, granules=granules
    )


def topk_one_cold(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    query_id: int = 0,
    with_docs: bool = False,
) -> pd.DataFrame:
    """Ad-hoc single-query serve with NOTHING resident: the
    QuerySession.topk_one body on an unwarmed session, so every byte
    comes off pushdown-pruned parquet scans (terms `IN`, postings by
    bucket + term_id, docs by the k winning ords)."""
    return QuerySession(spark, index_dir).topk_one(
        query, k=k, query_id=query_id, with_docs=with_docs
    )


def topk_deltas(
    spark: SparkSession,
    index_root: str,
    queries: DataFrame,
    k: int = 10,
    deltas: list[str] | None = None,
    tombstone_files: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Top-k BM25 directly over the delta indexes under index_root (the
    streaming and `_bulk` outputs), no compaction required: the
    segment-list plan of an unwarmed QuerySession with one segment per
    delta (QuerySession._rank_segments), for any delta count — on a
    single delta it runs fewer Spark jobs than the index plan, whose
    bucket-pruning collect adds two. `deltas` / `tombstone_files` pin
    an explicit view (the PIT path): a delta missing from
    `tombstone_files` has no visible deletes."""
    paths = delta_dirs(index_root) if deltas is None else deltas
    if not paths:
        raise ValueError(f"no delta=* indexes under {index_root}")
    segments = [
        Segment.open(
            d, None if tombstone_files is None else tombstone_files.get(d, [])
        )
        for d in paths
    ]
    return QuerySession(spark, segments)._rank_segments(queries, k)


def topk_multi(
    spark: SparkSession,
    index_dirs: list,
    queries: DataFrame,
    k: int = 10,
    mode: str = "exhaustive",
    boosts: dict | None = None,
) -> DataFrame:
    """Multi-index top-k BM25 — the `GET idx1,idx2/_search` /
    index-pattern surface (the reference's per-sink dynamic indexes,
    build.build_routed_indexes, are queried back TOGETHER). Each
    index scores with its OWN corpus statistics (per-index idf —
    OpenSearch's per-index scoring reality, scores are not globally
    renormalized), contributes its local top-k, and one
    aggregation-sized merge window takes the global top-k per query.
    `boosts` maps index basename -> multiplier applied to that
    index's scores BEFORE the merge (the `indices_boost` body key).
    Returns (query_id, rank, doc_id, score, _index) with `_index`
    naming the winning index (basename), rank re-assigned globally.

    Scale shape: per-index scans stay independent (partition pruning
    per directory, no cross-index shuffle of postings); only the
    k-per-index-per-query candidate frame — bounded by
    len(index_dirs) * k * n_queries — crosses into the merge window."""
    import os as _os

    parts = []
    for d in index_dirs:
        base = _os.path.basename(_os.path.normpath(d))
        b = float((boosts or {}).get(base, 1.0))
        parts.append(
            topk(spark, d, queries, k=k, mode=mode).select(
                "query_id", "doc_id",
                (F.col("score") * F.lit(b)).alias("score"),
                F.lit(base).alias("_index"),
            )
        )
    un = parts[0]
    for p in parts[1:]:
        un = un.unionByName(p)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"), F.asc("_index")
    )
    return (
        un.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score", "_index")
    )


def phrase_suggest(
    spark: SparkSession,
    index_dir: str,
    inputs: DataFrame,
    size: int = 3,
    per_token: int = 3,
    max_errors: int = 2,
) -> DataFrame:
    """Phrase suggester (OpenSearch `suggest.phrase` analog): whole-
    phrase did-you-mean built from the term suggester's per-token
    candidates. Per analyzed token, up to `per_token` dictionary
    candidates (the token itself at distance 0 when it IS a
    dictionary term, else edit-distance<=2 corrections); candidate
    phrases are the cross product bounded by `max_errors` changed
    tokens, ranked by a document-frequency unigram log-likelihood
    with a per-edit penalty — a documented mechanism-equivalent of
    OpenSearch's Laplace-smoothed n-gram LM (this engine keeps no
    term-bigram table; df IS its unigram evidence). The all-unchanged
    phrase is excluded (OpenSearch returns corrections, not echoes).

    inputs: (input_id long, text string). Returns (input_id,
    suggest_rank, suggestion, score double). Scale shape: ONE
    dictionary-join round trip for every distinct token across the
    request (the term suggester's equi-join blocking), then a
    request-sized driver-side combination — candidate counts are
    per_token**n_tokens bounded by max_errors, never corpus-shaped."""
    import itertools
    import math

    from ..tokenizer import tokenize_series

    rows = inputs.select("input_id", "text").collect()  # request-sized
    out_schema = (
        "input_id long, suggest_rank int, suggestion string,"
        " score double"
    )
    if not rows:
        return spark.createDataFrame([], out_schema)
    import pandas as pd

    toks_per_input = {
        r["input_id"]: list(tokenize_series(pd.Series([r["text"]]))[0])
        for r in rows
    }
    all_toks = sorted({t for ts in toks_per_input.values() for t in ts})
    tok_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(all_toks)],
        "input_id long, text string",
    )
    cand = suggest(
        spark, index_dir, tok_df, mode="term", size=per_token
    ).collect()
    # exact dictionary hits (distance 0) — one vocabulary-thin lookup
    terms = spark.read.parquet(os.path.join(index_dir, "terms")).select(
        "term", "df"
    )
    exact = {
        r["term"]: r["df"]
        for r in terms.filter(F.col("term").isin(all_toks)).collect()
    }
    n_terms_total = max(sum(exact.values()), 1)
    cands: dict[str, list] = {}
    for t in all_toks:
        cc = []
        if t in exact:
            cc.append((t, exact[t], 0))
        cc.extend(
            (r["suggestion"], r["df"], r["distance"])
            for r in cand
            if all_toks[r["input_id"]] == t
        )
        # unknown token with no candidates: keep it, heavily penalized
        cands[t] = cc[: per_token + 1] or [(t, 0, 0)]

    def loglik(df_, dist):
        return math.log((df_ + 1.0) / n_terms_total) - 2.0 * dist

    out = []
    for input_id, toks in toks_per_input.items():
        if not toks:
            continue
        phrases = []
        for combo in itertools.product(*(cands[t] for t in toks)):
            changed = sum(1 for (w, _, _), t in zip(combo, toks) if w != t)
            if changed == 0 or changed > max_errors:
                continue
            phrase = " ".join(w for w, _, _ in combo)
            score = sum(loglik(d, dist) for _, d, dist in combo)
            phrases.append((phrase, score))
        phrases.sort(key=lambda p: (-p[1], p[0]))
        for rank, (phrase, score) in enumerate(phrases[:size], start=1):
            out.append((input_id, rank, phrase, float(score)))
    return spark.createDataFrame(out or [], out_schema)
