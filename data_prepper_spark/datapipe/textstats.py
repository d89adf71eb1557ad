"""Text analysis for training-data curation: language ID, quality
scoring, token counting, document fingerprinting. All native Catalyst
expressions (regexp counts / length ratios) so they stay in
whole-stage codegen across a 100 TB scan."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..tokenizer import tokenize_col

# marker stopwords per language for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "que", "los", "una"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
}


def _count_word(c: Column, w: str) -> Column:
    return F.size(F.regexp_extract_all(c, F.lit(rf"\b{w}\b"), F.lit(0)))


def lang_id(df: DataFrame, text_col: str, dest: str = "lang_pred") -> DataFrame:
    """Stopword-marker language heuristic: argmax of per-language
    marker-word counts; 'und' (undetermined) when all are zero."""
    c = F.lower(F.col(text_col))
    scores = {
        lang: sum((_count_word(c, w) for w in ws), F.lit(0))
        for lang, ws in LANG_MARKERS.items()
    }
    best = None
    best_score = None
    for lang, sc in scores.items():
        if best is None:
            best, best_score = F.lit(lang), sc
        else:
            cond = sc > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, sc).otherwise(best_score)
    out = F.when(best_score > 0, best).otherwise(F.lit("und"))
    return df.withColumn(dest, out)


def token_count(df: DataFrame, text_col: str, dest: str = "n_tokens") -> DataFrame:
    """Whitespace+code-aware token count (shared canonical tokenizer)."""
    return df.withColumn(dest, F.size(tokenize_col(F.col(text_col))))


def quality_score(df: DataFrame, text_col: str, dest: str = "quality") -> DataFrame:
    """Composite [0,1] quality heuristic: length band, alpha ratio,
    punctuation density, mean word length band — the standard cheap
    pre-filters of pretraining pipelines (C4/Gopher-style rules)."""
    c = F.col(text_col)
    n = F.length(c).cast("double")
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(c, r"[^!-/:-@\[-`{-~]", "")).cast("double")
    words = F.size(F.split(c, r"\s+")).cast("double")
    mean_wl = n / F.greatest(words, F.lit(1.0))
    len_ok = F.when((n >= 200) & (n <= 100_000), 1.0).otherwise(0.5)
    alpha_ratio = alpha / F.greatest(n, F.lit(1.0))
    punct_ratio = punct / F.greatest(n, F.lit(1.0))
    wl_ok = F.when((mean_wl >= 3) & (mean_wl <= 12), 1.0).otherwise(0.5)
    score = (
        len_ok * 0.25
        + F.least(alpha_ratio * 1.25, F.lit(1.0)) * 0.35
        + (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0))) * 0.2
        + wl_ok * 0.2
    )
    return df.withColumn(dest, F.round(score, 6))


def ngram_model(
    df: DataFrame, text_col: str, n: int = 3
) -> DataFrame:
    """Character n-gram counts over a reference corpus — the training
    half of the KenLM-style quality scorer (pretraining pipelines
    score candidate documents by how typical their character
    statistics are of a trusted corpus; the model here is the
    add-one-smoothed n-gram TYPICALITY distribution, documented in
    ngram_logprob). One explode + groupBy; the model's cardinality is
    bounded by |charset|^n, not by corpus size, so it broadcasts."""
    grams = F.when(
        F.length(F.col(text_col)) >= n,
        F.expr(
            f"transform(sequence(1, length({text_col}) - {n - 1}),"
            f" i -> substring({text_col}, i, {n}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def ngram_logprob(
    df: DataFrame,
    text_col: str,
    model: DataFrame,
    n: int = 3,
    dest: str = "ngram_logprob",
    *,
    id_col: str,
) -> DataFrame:
    """Score each document by its mean character-n-gram log
    probability under `model` (ngram_model output) — the cheap
    perplexity proxy pretraining pipelines use for quality filtering
    when no LM is available. Documented formula (add-one-smoothed
    typicality, NOT a conditional backoff chain — monotone-equivalent
    for filtering and exactly replayable in SQL):

        logP(gram) = ln((count(gram) + 1) / (N + V))
        score(doc) = mean over the doc's n-grams of logP

    with N = total gram occurrences and V = distinct grams in the
    model; unseen grams get ln(1/(N+V)). Docs shorter than n chars
    score NULL. `id_col` is a unique row key. Shape: (id, gram)
    explode -> broadcast model join (bounded by |charset|^n) -> one
    per-id groupBy mean, so the shuffle carries ONLY (id, logprob)
    rows -> left join back onto the full-width docs (every row kept
    exactly once)."""
    stats = model.agg(
        F.sum("c").cast("double").alias("N"),
        F.count(F.lit(1)).cast("double").alias("V"),
    )
    grams = F.when(
        F.length(F.col(text_col)) >= n,
        F.expr(
            f"transform(sequence(1, length({text_col}) - {n - 1}),"
            f" i -> substring({text_col}, i, {n}))"
        ),
    ).otherwise(F.array().cast("array<string>"))

    exploded = df.select(id_col, F.explode(grams).alias("gram"))
    scored = (
        exploded.join(F.broadcast(model), "gram", "left")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__lp",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)).cast("double") + 1.0)
                / (F.col("N") + F.col("V"))
            ),
        )
        .groupBy(id_col)
        .agg(F.avg("__lp").alias(dest))
    )
    return df.join(scored, id_col, "left")


def c4_filters(
    df: DataFrame,
    text_col: str,
    min_words_per_line: int = 3,
    min_lines: int = 3,
    banned_line_words: tuple = ("javascript",),
    banned_doc_words: tuple = ("lorem ipsum",),
) -> DataFrame:
    """The C4 line/document cleaning rules (Raffel et al. 2020 — the
    published heuristics every from-scratch pretraining pipeline
    reimplements), as ONE narrow map over native array lambdas — no
    UDF, no shuffle, scales as a pure scan transform:

    line level (a line survives iff):
      - it ends in terminal punctuation (. ! ? or closing quote)
      - it has >= min_words_per_line whitespace words
      - it contains none of banned_line_words (case-insensitive)
    doc level:
      - c4_has_banned: any banned_doc_word present (lorem ipsum)
      - c4_has_brace: contains '{' (the published code filter)
      - c4_keep: >= min_lines surviving lines AND neither flag

    Adds c4_text (surviving lines rejoined), c4_n_lines,
    c4_n_lines_kept, c4_has_banned, c4_has_brace, c4_keep. The
    filtering itself never drops rows — callers filter on c4_keep so
    the audit trail (what was dropped and why) stays queryable, the
    shape a 100-TB cleaning job needs for its DLQ/metrics."""
    c = F.col(text_col)
    lines = F.split(c, "\n")

    def line_ok(l):
        t = F.trim(l)
        last = F.substring(t, -1, 1)
        cond = last.isin(".", "!", "?", '"', "”")
        cond = cond & (
            F.size(F.split(t, r"\s+")) >= min_words_per_line
        )
        low = F.lower(t)
        for w in banned_line_words:
            cond = cond & ~low.contains(w)
        return cond

    kept = F.filter(lines, line_ok)
    low_doc = F.lower(c)
    has_banned = F.lit(False)
    for w in banned_doc_words:
        has_banned = has_banned | low_doc.contains(w)
    has_brace = c.contains("{")
    return (
        df.withColumn("c4_text", F.array_join(kept, "\n"))
        .withColumn("c4_n_lines", F.size(lines))
        .withColumn("c4_n_lines_kept", F.size(kept))
        .withColumn("c4_has_banned", has_banned)
        .withColumn("c4_has_brace", has_brace)
        .withColumn(
            "c4_keep",
            (F.size(kept) >= min_lines) & ~has_banned & ~has_brace,
        )
    )


# GPT-2-style pretokenizer regex (BPE-ish word/punct/space classes),
# expressible in both Spark (Java regex) and DuckDB (RE2)
BPE_REGEX = r"'[a-z]+|[a-zA-Z]+|[0-9]{1,3}|[^\sa-zA-Z0-9]+|\s+"


def bpe_token_count(df: DataFrame, text_col: str, dest: str = "n_bpe_tokens") -> DataFrame:
    """BPE-ish token count: number of pretokenizer matches (upper bound
    on BPE tokens; the merge table only splits within matches)."""
    return df.withColumn(
        dest,
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), F.lit(0))),
    )


def fingerprint(df: DataFrame, text_col: str, dest: str = "fingerprint") -> DataFrame:
    """Normalization-stable document fingerprint: md5 of the lowercased
    token stream (whitespace/punct/case-insensitive dedup key)."""
    norm = F.array_join(tokenize_col(F.col(text_col)), " ")
    return df.withColumn(dest, F.md5(norm))


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 5, window: int = 4,
                        hash_col=None) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. local-minimum
    selection over rolling k-gram hashes): per doc, the set of window
    minima over consecutive token k-gram hashes — robust partial-overlap
    dedup keys. Returns distinct (id, fp long) rows.

    Pure Catalyst (no Python): k-grams via sequence/slice, hash default
    F.xxhash64 (JVM-side), rolling minimum via a bounded window frame.
    The per-doc window partitions by id — shuffle keyed on id, never a
    global single-partition window, so the op scales with the corpus.
    Docs shorter than `window` k-grams contribute min(all) (one window),
    matching the reference winnowing boundary rule. `hash_col` swaps
    the k-gram hash (e.g. datapipe.phash.phash60 for the DuckDB-portable
    oracle-checked variant).
    """
    from pyspark.sql import Window as W

    if hash_col is None:
        hash_col = F.xxhash64
    toks = tokenize_col(F.col(text_col))
    kgrams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(kgrams).alias("pos", "kgram"),
    ).withColumn("h", hash_col(F.col("kgram")))
    wmin = W.partitionBy("id").orderBy("pos").rowsBetween(-(window - 1), 0)
    wcnt = W.partitionBy("id")
    out = (
        pos.withColumn("m", F.min("h").over(wmin))
        .withColumn("n", F.count("*").over(wcnt))
        # pos is 0-based: the first complete window ends at pos=window-1;
        # when a doc has fewer than `window` k-grams its single window is
        # the whole doc (last position, min over all)
        .filter(F.col("pos") + 1 >= F.least(F.lit(window), F.col("n")))
        .select("id", F.col("m").alias("fp"))
        .distinct()
    )
    return out


def winnow_fingerprints_sql(toks_expr: str, k: int = 5, window: int = 4,
                            hash_sql=None) -> str:
    """DuckDB CTE body mirroring winnow_fingerprints over `documents`
    (doc_id/text): SELECT producing distinct (id, fp)."""
    from .phash import phash60_sql

    if hash_sql is None:
        hash_sql = phash60_sql
    kg = (
        f"list_transform(range(1, len(toks) - {k} + 2), "
        f"i -> array_to_string(list_slice(toks, i, i + {k - 1}), ' '))"
    )
    return f"""
WITH base AS (
  SELECT doc_id AS id, {toks_expr} AS toks FROM documents
),
kg AS (
  SELECT id, {kg} AS kgrams FROM base WHERE len(toks) >= {k}
),
pos AS (
  SELECT id, unnest(range(0, len(kgrams))) AS pos,
         unnest(list_transform(kgrams, s -> {hash_sql('s')})) AS h
  FROM kg
),
sel AS (
  SELECT id,
         min(h) OVER (PARTITION BY id ORDER BY pos
                      ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW) AS m,
         pos,
         count(*) OVER (PARTITION BY id) AS n
  FROM pos
)
SELECT DISTINCT id, m AS fp FROM sel
WHERE pos + 1 >= least({window}, n)
"""


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    chunk_tokens: int = 256,
    overlap: int = 32,
) -> DataFrame:
    """Token-bounded chunking with overlap — the splitting step of an
    LLM training / RAG ingestion pipeline. One output row per chunk:
    (id, chunk_idx, chunk_len, chunk_text). Chunk i covers tokens
    [i·stride, i·stride + chunk_tokens), stride = chunk_tokens −
    overlap; a doc emits ceil-wise starts at 0, stride, 2·stride ≤
    n_tokens−1 (empty docs emit nothing).

    Scale shape: pure Catalyst (tokenize → sequence of starts →
    posexplode → slice + array_join) — a map-only pass, no shuffle,
    parallel in input splits across a 100-TB corpus."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokenize_col(F.col(text_col))
    d = df.select(F.col(id_col).alias("id"), toks.alias("_toks")).filter(
        F.size("_toks") > 0
    )
    starts = F.sequence(
        F.lit(1), F.size("_toks"), F.lit(stride)
    )  # 1-based starts for slice()
    d = d.select("id", "_toks", F.posexplode(starts).alias("chunk_idx", "_s"))
    chunk = F.slice(F.col("_toks"), F.col("_s"), chunk_tokens)
    return d.select(
        "id",
        "chunk_idx",
        F.size(chunk).alias("chunk_len"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def chunk_documents_sql(
    toks_expr: str, chunk_tokens: int = 256, overlap: int = 32
) -> str:
    """DuckDB twin of chunk_documents over the documents table."""
    stride = chunk_tokens - overlap
    return f"""
WITH base AS (
  SELECT doc_id AS id, {toks_expr} AS toks FROM documents
),
nz AS (SELECT id, toks FROM base WHERE len(toks) > 0),
st AS (
  SELECT id, toks,
         unnest(range(0, CAST(ceil(len(toks) / {stride}.0) AS BIGINT)))
           AS chunk_idx
  FROM nz
),
ch AS (
  SELECT id, chunk_idx,
         toks[chunk_idx * {stride} + 1 :
              chunk_idx * {stride} + {chunk_tokens}] AS chunk
  FROM st
)
SELECT id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(len(chunk) AS INT) AS chunk_len,
       array_to_string(chunk, ' ') AS chunk_text
FROM ch
"""


def tfidf_keywords(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Top-k keywords per document by tf·idf (idf = ln(N/df), N =
    rows in the input): (id, rank, term, score). The extraction step
    of a keyword/tagging pipeline.

    Scale shape: one groupBy (id, term) with map-side combine (the
    same key shape as the index build's tf aggregation), a
    terms-sized groupBy for df, a broadcast-sized join of per-term
    idf back onto the tf rows, and a per-doc window for the top-k —
    no all-pairs work anywhere."""
    n_docs = df.count()
    toks = tokenize_col(F.col(text_col))
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(toks).alias("term"))
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
    )
    # tf rows are unique per (id, term) by construction, so plain
    # count == count-distinct-ids without the distinct machinery
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = dfreq.withColumn("idf", F.log(F.lit(float(n_docs)) / F.col("df")))
    scored = tf.join(idf, "term").withColumn(
        "score", F.col("tf") * F.col("idf")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "rank", "term", "score")
    )


def more_like_this(
    df: DataFrame,
    text_col: str,
    source_ids: list[int],
    id_col: str = "doc_id",
    m: int = 5,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """More-like-this: each source doc's top-m tf-idf keywords become
    a disjunctive BM25 query over the corpus; returns (src_id, rank,
    doc_id, score) of the k most similar OTHER docs.

    Scale shape: keyword selection = tfidf_keywords (bounded source
    list → its keyword set broadcasts); scoring joins the tiny
    (src, term, idf) set onto the (doc, term, tf) table — one hash
    join keyed by term plus a per-source window, no all-pairs work."""
    from pyspark.sql import Window

    n_docs = df.count()
    kws = (
        tfidf_keywords(df, text_col, id_col=id_col, k=m)
        .filter(F.col("id").isin([int(s) for s in source_ids]))
        .select(F.col("id").alias("src_id"), "term")
    )
    toks = tokenize_col(F.col(text_col))
    tok = df.select(F.col(id_col).alias("did"), F.explode(toks).alias("term"))
    tf = tok.groupBy("did", "term").agg(F.count("*").alias("tf"))
    dl = tok.groupBy("did").agg(F.count("*").alias("dl"))
    avgdl = dl.agg(F.avg("dl")).collect()[0][0]
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    part = idf * F.col("tf") * (k1 + 1.0) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(float(avgdl)))
    )
    scored = (
        tf.join(F.broadcast(kws), "term")
        .join(dfreq, "term")
        .join(dl, "did")
        .filter(F.col("did") != F.col("src_id"))
        .groupBy("src_id", "did")
        .agg(F.sum(part).alias("score"))
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("score"), F.asc("did"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "rank", F.col("did").alias("doc_id"), "score")
    )


def snippet_col(text_col: Column, terms: Column, width: int = 5) -> Column:
    """Search-hit snippet: the ±width-token window around the earliest
    occurrence of ANY query term in the canonical token stream (NULL
    when no term occurs). Pure Catalyst — array_position/slice over
    the tokenized text, codegen-friendly for highlighting the top-k
    results of a search without a Python pass."""
    toks = tokenize_col(text_col)
    pos = F.array_min(
        F.filter(
            F.transform(terms, lambda t: F.array_position(toks, t)),
            lambda p: p > 0,
        )
    )
    start = F.greatest(pos - width, F.lit(1))
    return F.when(
        pos.isNotNull(),
        F.array_join(F.slice(toks, start, pos + width - start + 1), " "),
    )


def highlight_col(
    text_col: Column,
    terms: Column,
    width: int = 5,
    max_fragments: int = 5,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
) -> Column:
    """OpenSearch-style highlight fragments: up to `max_fragments`
    non-overlapping ±width-token windows around match positions, the
    matched tokens wrapped in pre/post tags (the <em> contract).
    Pure Catalyst — transform-with-index finds match positions,
    aggregate picks greedy non-overlapping fragment anchors, slice +
    transform renders each fragment; codegen end to end, no Python
    per row. Returns array<string> (empty when nothing matches)."""
    toks = tokenize_col(text_col)
    pos = F.filter(
        F.transform(
            toks,
            lambda t, i: F.when(F.array_contains(terms, t), i),
        ),
        lambda p: p.isNotNull(),
    )
    # greedy non-overlapping anchors: accept a position only when it
    # clears the previous fragment's window; cap at max_fragments
    anchors = F.aggregate(
        pos,
        F.expr("CAST(array() AS array<int>)"),
        lambda acc, p: F.when(
            (F.size(acc) < max_fragments)
            & (
                (F.size(acc) == F.lit(0))
                | (p > F.element_at(acc, -1) + 2 * width)
            ),
            F.concat(acc, F.array(p.cast("int"))),
        ).otherwise(acc),
    )
    n = F.size(toks)

    def frag(p):
        start0 = F.greatest(p - width, F.lit(0))
        end0 = F.least(p + width, n - 1)
        window = F.slice(toks, start0 + 1, end0 - start0 + 1)
        return F.array_join(
            F.transform(
                window,
                lambda t: F.when(
                    F.array_contains(terms, t),
                    F.concat(F.lit(pre_tag), t, F.lit(post_tag)),
                ).otherwise(t),
            ),
            " ",
        )

    return F.transform(anchors, frag)


def hash_split(
    df,
    id_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
):
    """Deterministic dataset split (train/eval/test) by a salted
    content-free id hash — the reproducible-split primitive of a
    training-data pipeline: membership depends only on (id, salt),
    so reruns, re-shards, and incremental appends never move a doc
    across splits. Portable: fraction = first 8 md5 hex digits /
    16^8, reproducible bit-for-bit in any engine with md5 (the
    DuckDB oracle mirrors it). Pure Catalyst map-only — no shuffle,
    no RNG, no per-row Python.

    weights: split name -> weight (normalized internally); assignment
    walks cumulative boundaries in dict order. Adds a `split`
    column."""
    if weights is None:
        weights = {"train": 0.9, "eval": 0.1}
    total = float(sum(weights.values()))
    frac = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(16**8))
    )
    acc = 0.0
    expr = None
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = frac < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    expr = (
        F.lit(names[-1])
        if expr is None
        else expr.otherwise(F.lit(names[-1]))
    )
    return df.withColumn("split", expr)


def _bm25_field_scores(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Full-match-set BM25 of `queries` (query_id, query) against one
    text column: (query_id, doc_id, score) for every matching doc.
    Stats (df, dl, avgdl, N) are computed over THIS field only, as a
    per-field Lucene index would."""
    toks = docs.select(
        "doc_id", F.explode(tokenize_col(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    q = queries.select(
        "query_id",
        F.explode(F.array_distinct(tokenize_col(F.col("query")))).alias(
            "term"
        ),
    )
    part = (
        F.log(
            F.lit(1.0)
            + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        q.join(dfreq, "term")
        .join(tf, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("part", part)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("part").alias("score"))
    )


def multi_match(
    docs: DataFrame,
    queries: DataFrame,
    fields: dict[str, float],
    k: int = 10,
    mode: str = "most_fields",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """The reference stack's opensearch-api `multi_match` query:
    one query scored against several text fields, each with its own
    BM25 statistics and boost. mode="most_fields" sums the boosted
    per-field scores (a doc matching in every field wins);
    mode="best_fields" takes the max (Lucene's dis_max with
    tie_breaker=0, the multi_match default). Per-field scoring is the
    same shuffle shape as single-field BM25 run per field; the
    combiner is one outer join on (query, doc) — cost bounded by the
    union of per-field match sets, never |docs| x |fields|.

    docs: (doc_id, <field columns>); queries: (query_id, query);
    fields: {column: boost}. Returns (query_id, rank, doc_id, score).
    """
    if mode not in ("most_fields", "best_fields"):
        raise ValueError(mode)
    from pyspark.sql import Window

    combined = None
    for i, (col, boost) in enumerate(sorted(fields.items())):
        s = _bm25_field_scores(docs, queries, col, k1=k1, b=b).select(
            "query_id",
            "doc_id",
            (F.col("score") * F.lit(float(boost))).alias(f"_s{i}"),
        )
        combined = (
            s
            if combined is None
            else combined.join(s, ["query_id", "doc_id"], "outer")
        )
    parts = [
        F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
        for i in range(len(fields))
    ]
    if mode == "most_fields":
        total = parts[0]
        for p in parts[1:]:
            total = total + p
    else:
        total = F.greatest(*parts) if len(parts) > 1 else parts[0]
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        combined.withColumn("score", total)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def _shingle_arr(text_col: Column, ngram: int) -> Column:
    """Distinct space-joined `ngram`-token shingles of a text column
    (empty array for docs shorter than ngram — guarded, since
    F.sequence auto-reverses when size < ngram and slice then
    throws)."""
    toks = tokenize_col(text_col)
    sh = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (ngram - 1)),
        lambda i: F.array_join(F.slice(toks, i, ngram), " "),
    )
    return F.when(F.size(toks) >= ngram, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 8,
    hashed: bool = True,
) -> DataFrame:
    """Train/eval decontamination — the GPT-3/Pile-style overlap
    filter of a training-data pipeline: a train doc is contaminated
    when it shares ANY `ngram`-token shingle with the eval set.
    Returns (id, n_contaminated) for flagged train docs; anti-join
    the result to clean the train split.

    Scale shape: both sides reduce to DISTINCT shingles before the
    join (the eval side is benchmark-sized, typically broadcastable;
    the train side explodes to shingle rows, one hash join, one
    count). With hashed=True (default) the join key is
    xxhash64(shingle) — 8-byte keys through the shuffle instead of
    ~60-byte strings; a 64-bit collision can only over-flag one doc,
    never miss contamination... it can also merge two distinct
    shingles in the count, so the oracle-checked entry runs
    hashed=False (string keys) and tests assert both modes flag the
    identical doc set."""
    key = (
        (lambda c: F.xxhash64(c)) if hashed else (lambda c: c)
    )
    tr = train.select(
        F.col(id_col).alias("id"),
        F.explode(_shingle_arr(F.col(text_col), ngram)).alias("sh"),
    ).select("id", key(F.col("sh")).alias("k"))
    ev = (
        eval_docs.select(
            F.explode(_shingle_arr(F.col(text_col), ngram)).alias("sh")
        )
        .select(key(F.col("sh")).alias("k"))
        .distinct()
    )
    return (
        tr.join(ev, "k")
        .groupBy("id")
        .agg(F.count("*").alias("n_contaminated"))
    )


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
) -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText
    quality-filter family): token and n-gram duplication counts per
    doc, from which the standard "fraction of duplicate n-grams"
    filters derive. Counts are exact integers (the fractions are
    int/int rationals that can land exactly on rounding boundaries,
    so cross-engine comparison happens on the integers); pure
    Catalyst map-only pass, no shuffle.

    Returns (id, n_tokens, n_distinct_tokens, n_ngrams,
    n_distinct_ngrams, dup_token_frac, dup_ngram_frac)."""
    toks = tokenize_col(F.col(text_col))
    sh = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (ngram - 1)),
        lambda i: F.array_join(F.slice(toks, i, ngram), " "),
    )
    sh = F.when(F.size(toks) >= ngram, sh).otherwise(
        F.array().cast("array<string>")
    )
    out = df.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.size(sh).alias("n_ngrams"),
        F.size(F.array_distinct(sh)).alias("n_distinct_ngrams"),
    )
    return out.select(
        "*",
        F.when(
            F.col("n_tokens") > 0,
            1.0 - F.col("n_distinct_tokens") / F.col("n_tokens"),
        ).otherwise(0.0).alias("dup_token_frac"),
        F.when(
            F.col("n_ngrams") > 0,
            1.0 - F.col("n_distinct_ngrams") / F.col("n_ngrams"),
        ).otherwise(0.0).alias("dup_ngram_frac"),
    )


def sequence_packing(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 2048,
    n_shards: int = 1024,
    eos_tokens: int = 1,
    shard_expr=None,
) -> DataFrame:
    """GPT-style pretraining packing plan: documents concatenate in a
    deterministic order (hash shard, then id) with an EOS separator,
    and the stream cuts into fixed `seq_len` training examples — the
    concatenate-then-chunk scheme pretraining pipelines actually use
    (docs span example boundaries; nothing is padded or dropped).

    Returns one row per doc: (id, shard, n_tokens, start_offset,
    start_example, end_example, n_examples) where offsets/examples are
    shard-local. A writer joins on (shard, example range) to emit the
    packed examples; this op is the PLAN — the token-count window —
    which is the part that needs the engine.

    Scale shape: ONE running-sum window per shard, keyed by
    xxhash(id) % n_shards — bounded partitions (corpus/n_shards docs
    each), no global ordering, no single-partition stage; the
    cross-shard layout is embarrassingly parallel exactly like the
    build's ordinal ranges. Deterministic: (shard, id) is a total
    order. `shard_expr` (Column) overrides the hash shard key —
    e.g. pmod(id, n) when an external system must recompute the
    layout without xxhash."""
    from pyspark.sql import Window
    n_tok = F.size(tokenize_col(F.col(text_col))) + F.lit(eos_tokens)
    base = df.select(
        F.col(id_col).alias("id"),
        (
            shard_expr
            if shard_expr is not None
            else F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
        ).alias("shard"),
        n_tok.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = base.withColumn(
        "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    end_off = F.col("start_offset") + F.col("n_tokens") - 1
    return out.select(
        "id",
        "shard",
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / seq_len).alias("start_example"),
        F.floor(end_off / seq_len).alias("end_example"),
        (
            F.floor(end_off / seq_len)
            - F.floor(F.col("start_offset") / seq_len)
            + 1
        ).cast("int").alias("n_examples"),
    )


def mixture_sample(
    df: DataFrame,
    source_col: str,
    weights: dict,
    id_col: str = "doc_id",
    bucket_m: int = 1_000_000,
    bucket_expr=None,
) -> DataFrame:
    """Deterministic source-mixture resampling — the pretraining-mix
    step that downsamples each corpus source to hit target
    proportions. Given target weights w_s, the largest achievable
    total is T = min_s(n_s / w_s); each source keeps a
    rate_s = w_s * T / n_s fraction, selected by hash bucket
    (pmod(xxhash(id), M) < rate_s * M) so the SAME docs survive on
    every run and on every engine — no RNG, no order dependence.
    Sources absent from `weights` are dropped.

    Scale shape: one per-source count aggregation (source cardinality
    is tiny — a driver-side rate map broadcast back as a literal CASE),
    then a map-only filter; no per-source window, no skewed shuffle.
    Proportions are exact to 1/M (sampling granularity, not a bug).
    `bucket_expr` overrides the xxhash bucket key for external
    recomputation (same pattern as sequence_packing's shard key)."""
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(source_col).alias("s"))
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    total_w = sum(weights.values())
    norm = {s: w / total_w for s, w in weights.items() if s in counts}
    t = min(counts[s] / w for s, w in norm.items() if w > 0)
    rate = F.lit(None).cast("double")
    expr = None
    for s, w in norm.items():
        r = min(1.0, w * t / counts[s])
        cond = F.col(source_col) == s
        expr = F.when(cond, F.lit(r)) if expr is None else expr.when(
            cond, F.lit(r)
        )
    rate = expr.otherwise(F.lit(0.0)) if expr is not None else F.lit(0.0)
    bucket = (
        bucket_expr
        if bucket_expr is not None
        else F.pmod(F.xxhash64(F.col(id_col)), F.lit(bucket_m))
    )
    return df.where(bucket < (rate * bucket_m).cast("long"))
