"""Inverted-index build job: scan -> validate -> tokenize -> posting
blocks -> partitioned index tables. Resumable at work-unit granularity.

Pipeline shape (north_rule):
  1. `tokenize` stage (unit = corpus data file, mirroring the reference
     iceberg-source leader's one-task-per-data-file planning,
     iceberg-source/.../leader/TaskGrouper.java:27-30):
     read pending files -> assert sha256(content) == content_sha256
     (per-row invariant; failures -> quarantine table, the DLQ analog,
     SURVEY.md §2.10) -> vectorized Arrow tokenizer (mapInArrow +
     pyarrow.compute RE2 kernels, no per-row Python, no Python string
     objects) -> RAW (doc_id, term, dl) rows written partitioned by
     unit; manifest COMPLETE row per unit. tf aggregation deliberately
     does NOT happen in Python: the sandbox profile showed object-
     string groupby saturates memory bandwidth (no 8->32-core scaling);
     JVM hash agg scales and combines map-side.
  2. `index` stage: global stats (N, avgdl) + dense doc ordinals;
     JVM groupBy -> persisted tf;
     per-term df/cf (map-side-combined groupBy — no skew risk); then
     posting-block build via repartition(term, salt) + sorted
     mapInArrow where `salt` is a doc-id RANGE bucket assigned only to
     hot terms (df above target): each (term, salt) group covers a
     disjoint sorted doc-id range, so blocks are independently
     encodable with NO second merge pass — this is the explicit
     hot-term skew splitting the reference lacks (SURVEY.md §2.8: AQE
     skew handling covers joins, not groupBy).
     Blocks: <=block_size postings, delta+varbyte doc ids, varbyte
     tf/dl, block-max impact metadata for query-side pruning.

Index layout (parquet; Iceberg jars absent in this sandbox — the
manifest table supplies the same snapshot/resume semantics):
  index_dir/tokens/unit=.../        intermediate, lineage-addressable
  index_dir/postings/bucket=N/      block rows, term-hash partitioned
  index_dir/terms/                  term dictionary: df, cf, max_impact
  index_dir/docs/                   doc_id -> dl
  index_dir/stats.json              N, avgdl, codec params
  index_dir/manifest/               checkpoint/lineage/metrics rows
  index_dir/quarantine/             DLQ rows w/ failure metadata
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from . import manifest as mf
from .codec import to_unsigned, varbyte_encode, varbyte_lengths

K1 = 1.2
B = 0.75

TOKENS_SCHEMA = (
    "unit string, doc_id long, term string, dl int, tf int, "
    "err string, repo string, path string, commit string"
)
BLOCKS_SCHEMA = (
    "term_id long, bucket int, min_doc long, max_doc long, n int, "
    "docs binary, tfs binary, dls binary, max_tf int, block_max double"
)


@dataclass
class BuildConfig:
    k1: float = K1
    b: float = B
    n_buckets: int = 32
    block_size: int = 128
    hot_group_target: int = 50_000  # postings per (term, salt) group
    max_salt_bits: int = 16
    # ordinal-assignment fan-out: docs are ranked within 2^ord_group_bits
    # disjoint doc_id ranges (high bits of the id), so no stage ever
    # funnels the whole corpus through one task. 64 groups ~ 10^6 docs/
    # group at 10^8 docs; raise for larger corpora (cost is one tiny
    # driver-side offsets list of 2^bits entries).
    ord_group_bits: int = 6
    # sideband encode (ROADMAP item 2): the JVM writes the sorted
    # (term_id, salt)-partitioned tf table to parquet, and Python
    # encode tasks read those files DIRECTLY with pyarrow — bypassing
    # the JVM->Python Arrow socket stream for the 10^8-row posting
    # feed. With v2's one-row-per-occurrence tokens this measured
    # within noise; with v3's 3.1x-smaller pre-aggregated feed the
    # socket is the visible bottleneck and sideband wins decisively
    # (index stage 64 s vs 93 s at SF=0.1/local[32]), so it is now the
    # default. The extra materialization is one sorted skinny-int
    # table the size of the postings input, written to index_dir
    # (shared storage on a real cluster; pyarrow.fs reads the URIs);
    # set False to stream over the socket instead. Output is
    # bit-identical either way (asserted in tests).
    sideband_encode: bool = True
    # reverse sideband (ROADMAP r03 item 1): the tokenize UDF writes
    # its aggregated (doc, term, tf) batches to the partitioned tokens
    # table DIRECTLY with pyarrow.parquet and returns only per-unit
    # stat rows through the Arrow socket — the 10^8-row token feed
    # never crosses Python->JVM and never runs through Spark's write
    # path. Dynamic-partition-overwrite resume semantics are preserved
    # by a clear-pending-partitions + hidden-file + rename-on-success
    # commit protocol (see _make_direct_tokenizer). Tokens on disk are
    # identical in layout and content either way (asserted in tests);
    # set False to route the write through the JVM instead.
    direct_tokens_write: bool = True
    # cache the (doc, term, tf) token table across the index stage's
    # two scans (term dictionary + encode feed)? False re-reads the
    # tokens parquet instead — the scale-honest default (a 100-TB
    # token table is never cached; a second columnar scan beats
    # materializing a MEMORY_AND_DISK copy). Interleaved A/B at
    # SF=0.1/local[32]: cached 55.6-105.7 s vs uncached 48.1-57.7 s
    # per index stage, bit-identical postings either way.
    cache_tokens: bool = False
    # analyzer stop filter (the reference stack's analyzer `stop`
    # token filter / OpenSearch stopwords setting): tokens in this set
    # never reach the index — postings, df, dl, and avgdl are all
    # computed over the SURVIVING tokens (length norm over indexed
    # tokens, the Lucene contract). The list is persisted to
    # stats.json and the QUERY side re-applies it: disjunctive topk
    # would be safe without it (stopped terms just miss the
    # dictionary), but must-clause and phrase arity are counted over
    # ANALYZED query tokens, so a stopword inside a bool/phrase query
    # behaves like OpenSearch's stopped analyzer instead of returning
    # zero rows forever. None (default) = no stop list.
    stopwords: tuple[str, ...] | None = None
    # analyzer stem filter (the reference stack's analyzer `stemmer`
    # token filter, language=minimal_english): applied AFTER the stop
    # filter in the build's tokenize pass, so tf/df/dl/avgdl are all
    # computed over stemmed tokens and variants share one dictionary
    # term. The query side mirrors the chain (stop -> stem) by reading
    # this setting back from stats.json — see query._query_analyzer.
    # None (default) = no stemming; "minimal_english" = the s-stemmer
    # in tokenizer.stem_minimal_english_*.
    stemmer: str | None = None
    # fold the positions sidecar into THE SAME tokenize pass (ROADMAP
    # r03 item 4 remainder): the tokenize UDF already holds the flat
    # token stream + per-doc offsets, so recording per-(doc, term)
    # position lists costs one extra lexsort + parquet writer per
    # task, not a second corpus scan (build_positions stays available
    # for retrofitting an existing index). Direct-write path only —
    # the JVM write path has a single fixed output schema.
    positions: bool = False
    # ordinal assignment order: "doc_id" (default — ord order equals
    # doc_id order, so the (score desc, doc_id asc) tie-break matches
    # the oracle exactly) or "dl" (impact-ordered: ascending doc
    # length clusters per-term high-impact postings into early blocks,
    # raising blockmax_dispersion so block-max pruning actually prunes
    # — the docid-reordering trade; tie-breaks at EXACT score ties
    # then follow dl-order, documented divergence).
    ordinal_order: str = "doc_id"


# On-disk tokens-table format version. v3 = one row per DISTINCT
# (doc, term) with an explicit tf column, aggregated inside the
# tokenize UDF (a doc never spans Arrow batches, so per-batch C-side
# counting yields globally unique rows — measured 3.1x fewer rows than
# v2's one-row-per-occurrence at SF=0.1, and the index stage needs no
# groupBy(doc_id, term) shuffle at all). Resuming an index_dir written
# by a different format would silently corrupt BM25 stats (v2 rows
# lack tf; v1 pre-aggregated rows counted as tf=1 under v2 logic), so
# resume refuses on mismatch.
TOKENS_FORMAT_VERSION = 3


@contextmanager
def _scoped_conf(spark: SparkSession, **confs):
    """Set session confs for the duration of a stage's actions and
    restore the previous values after — per-stage Arrow batch sizing
    must not leak into later jobs on the shared session (a query
    DataFrame constructed earlier executes with whatever the session
    holds at action time)."""
    saved = {}
    for k, v in confs.items():
        key = k.replace("__", ".")
        try:
            saved[key] = spark.conf.get(key)
        except Exception:
            saved[key] = None
        spark.conf.set(key, v)
    try:
        yield
    finally:
        for key, old in saved.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def _check_format(index_dir: str, write: bool = False) -> None:
    """Refuse to touch an index_dir whose on-disk tokens format differs
    from this code's version (ADVICE: unversioned resume corrupts tf)."""
    p = os.path.join(index_dir, "format.json")
    if fsio.exists(p):
        v = json.loads(fsio.read_text(p)).get("tokens_format")
        if v != TOKENS_FORMAT_VERSION:
            raise RuntimeError(
                f"index_dir {index_dir} has tokens format v{v}; this build "
                f"writes v{TOKENS_FORMAT_VERSION}. Rebuild into a fresh "
                "directory (resuming across formats corrupts tf stats)."
            )
    elif mf.completed(index_dir, "tokenize"):
        raise RuntimeError(
            f"index_dir {index_dir} has completed tokenize units but no "
            "format stamp (pre-versioning layout); rebuild into a fresh "
            "directory."
        )
    elif write:
        fsio.makedirs(index_dir)
        fsio.write_text(p, json.dumps({"tokens_format": TOKENS_FORMAT_VERSION}))


def corpus_units(corpus_path: str) -> list[str]:
    """One work unit per corpus data file (sorted for determinism)."""
    if fsio.isdir(corpus_path):
        return fsio.listdir(corpus_path, suffix=".parquet")
    return [corpus_path]


def _unit_id(path: str) -> str:
    return os.path.splitext(os.path.basename(path))[0]


_OUT_COLS = ["unit", "doc_id", "term", "dl", "err", "repo", "path", "commit"]


def _sha256_of_string_array(arr) -> list:
    """sha256 hexdigest per row, hashing the Arrow utf8 buffer slices
    directly (no Python string/bytes copies; the loop is per DOC, and
    its body is C hashing)."""
    import hashlib

    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_large_string(arr.type):
        idx = np.int64
    else:
        idx = np.int32
    width = np.dtype(idx).itemsize
    offs = np.frombuffer(
        arr.buffers()[1], dtype=idx, count=len(arr) + 1, offset=arr.offset * width
    )
    mv = memoryview(arr.buffers()[2])
    nulls = arr.is_null().to_numpy(zero_copy_only=False)
    return [
        None if nulls[i] else hashlib.sha256(mv[offs[i] : offs[i + 1]]).hexdigest()
        for i in range(len(arr))
    ]


def _positions_batch(flat, doc_idx, counts, doc_np, unit_ok):
    """(unit, doc_id, term, positions) RecordBatch from one tokenize
    batch's flat token stream — the same grouping the sidecar pass
    produces (positions number the SURVIVING post-stop stream,
    consecutive; terms post-stem), computed here so cfg.positions
    costs no second corpus scan."""
    import pyarrow as pa

    if len(flat) == 0:
        return None
    starts = np.zeros(len(counts), np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    pos = np.arange(len(doc_idx), dtype=np.int64) - starts[doc_idx]
    dic = flat.dictionary_encode()
    codes = dic.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    order = np.lexsort((pos, codes, doc_idx))
    d_s, c_s, p_s = doc_idx[order], codes[order], pos[order]
    boundary = np.empty(len(order), bool)
    boundary[0] = True
    np.not_equal(d_s[1:], d_s[:-1], out=boundary[1:])
    np.logical_or(boundary[1:], c_s[1:] != c_s[:-1], out=boundary[1:])
    group_start = np.flatnonzero(boundary)
    terms = dic.dictionary.take(pa.array(c_s[group_start]))
    out_docs = pa.array(doc_np[d_s[group_start]], type=pa.int64())
    out_units = unit_ok.take(pa.array(d_s[group_start]))
    offsets = np.append(group_start, len(order)).astype(np.int32)
    positions = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(p_s.astype(np.int32))
    )
    return pa.RecordBatch.from_arrays(
        [out_units, out_docs, terms, positions],
        ["unit", "doc_id", "term", "positions"],
    )


def _tokenize_batches_arrow(it, stopwords=None, stemmer=None,
                            on_positions=None):
    """mapInArrow: validate + tokenize in ONE corpus pass, Arrow-native.

    Input batches carry (unit, doc_id, repo, path, commit, content,
    content_sha256). Per row the sha256 invariant is asserted (the
    reference's end-to-end durability contract, SURVEY.md §2.10);
    failures emit a quarantine row (term NULL, err set) instead of
    token rows. Valid docs emit one row per DISTINCT (doc, term) with
    its tf — aggregated HERE, in C (dictionary-encode + integer-key
    np.unique; a doc never spans batches, so rows are globally unique
    and no downstream groupBy(doc_id, term) shuffle is needed; pandas
    OBJECT-string groupby is the thing the sandbox profile showed
    saturating memory bandwidth, and none is used) — plus one sentinel
    row (term NULL, err NULL) carrying the doc identity so empty docs
    still reach the docs table.

    Everything runs on Arrow buffers via pyarrow.compute / numpy; no
    pandas object strings, no per-row Python over tokens.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..tokenizer import tokenize_flat_arrow

    out_schema = pa.schema(
        [
            ("unit", pa.string()),
            ("doc_id", pa.int64()),
            ("term", pa.string()),
            ("dl", pa.int32()),
            ("tf", pa.int32()),
            ("err", pa.string()),
            ("repo", pa.string()),
            ("path", pa.string()),
            ("commit", pa.string()),
        ]
    )
    CHUNK = 4 << 20  # max token rows per emitted RecordBatch

    def _nulls(n):
        return pa.nulls(n, pa.string())

    def _inulls(n):
        return pa.nulls(n, pa.int32())

    for batch in it:
        n = batch.num_rows
        if n == 0:
            continue
        col = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
        content = col["content"]
        sha = pa.array(_sha256_of_string_array(content), type=pa.string())
        ok = pc.and_kleene(
            pc.equal(sha, col["content_sha256"]), content.is_valid()
        )
        ok_np = pc.fill_null(ok, False).to_numpy(zero_copy_only=False)
        good_idx = np.flatnonzero(ok_np)
        bad_idx = np.flatnonzero(~ok_np)

        if len(bad_idx):
            bad_i = pa.array(bad_idx)
            is_null = content.take(bad_i).is_null().to_numpy(zero_copy_only=False)
            err = pa.array(
                np.where(is_null, "content is null", "content sha256 mismatch"),
                type=pa.string(),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    col["unit"].take(bad_i),
                    col["doc_id"].take(bad_i),
                    _nulls(len(bad_idx)),
                    pa.array(np.zeros(len(bad_idx), np.int32)),
                    _inulls(len(bad_idx)),
                    err,
                    col["repo"].take(bad_i),
                    col["path"].take(bad_i),
                    col["commit"].take(bad_i),
                ],
                schema=out_schema,
            )
        if not len(good_idx):
            continue

        good_i = pa.array(good_idx)
        content_ok = content.take(good_i)
        unit_ok = col["unit"].take(good_i)
        doc_ok = col["doc_id"].take(good_i).to_numpy()
        flat, doc_idx, counts = tokenize_flat_arrow(content_ok)
        if stopwords:
            # analyzer stop filter (BuildConfig.stopwords): drop the
            # stopped tokens BEFORE any stats — dl (sentinel), tf and
            # df all see only surviving tokens
            keep = pc.invert(
                pc.is_in(flat, value_set=pa.array(list(stopwords)))
            ).to_numpy(zero_copy_only=False)
            flat = flat.filter(pa.array(keep))
            doc_idx = doc_idx[keep]
            counts = np.bincount(doc_idx, minlength=len(counts)).astype(
                np.int64
            )
        if stemmer:
            # analyzer stem filter (BuildConfig.stemmer): merge
            # variants BEFORE the tf aggregation below — dl is
            # unchanged (stemming never drops a token) but stemmed
            # variants of one doc collapse into a single (doc, term)
            # row with summed tf
            from ..tokenizer import stem_minimal_english_arrow

            flat = stem_minimal_english_arrow(flat)

        if on_positions is not None:
            pb = _positions_batch(flat, doc_idx, counts, doc_ok, unit_ok)
            if pb is not None:
                on_positions(pb)

        # sentinel rows: one per valid doc, with identity + dl
        yield pa.RecordBatch.from_arrays(
            [
                unit_ok,
                pa.array(doc_ok),
                _nulls(len(good_idx)),
                pa.array(counts.astype(np.int32)),
                _inulls(len(good_idx)),
                _nulls(len(good_idx)),
                col["repo"].take(good_i),
                col["path"].take(good_i),
                col["commit"].take(good_i),
            ],
            schema=out_schema,
        )

        # per-doc tf aggregation, all C: dictionary-encode the flat
        # token stream (one string-hash pass), then count identical
        # (doc, code) INT pairs with a sort-based unique. Keys stay
        # grouped by doc and dictionary-ordered within it, so output
        # is deterministic.
        enc = flat.dictionary_encode()
        codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        nd = max(len(enc.dictionary), 1)
        key = doc_idx * nd + codes
        uniq, tf = np.unique(key, return_counts=True)
        u_doc = uniq // nd
        u_code = uniq % nd
        terms_arr = enc.dictionary.take(pa.array(u_code))

        # aggregated (doc, term, tf) rows, chunked to bound batch size
        total = len(uniq)
        for s in range(0, total, CHUNK):
            e = min(s + CHUNK, total)
            sl = u_doc[s:e]
            yield pa.RecordBatch.from_arrays(
                [
                    unit_ok.take(pa.array(sl)),
                    pa.array(doc_ok[sl]),
                    terms_arr.slice(s, e - s),
                    pa.array(counts[sl].astype(np.int32)),
                    pa.array(tf[s:e].astype(np.int32)),
                    _nulls(e - s),
                    _nulls(e - s),
                    _nulls(e - s),
                    _nulls(e - s),
                ],
                schema=out_schema,
            )


TOKENIZE_STATS_SCHEMA = "unit string, n_docs long, rows_out long, nq long"


def _make_direct_tokenizer(tokens_dir: str, stopwords=None, stemmer=None,
                           positions_dir: str | None = None):
    """mapInArrow factory: the same single validate+tokenize corpus
    pass as `_tokenize_batches_arrow`, but each task writes the token
    batches to `tokens/unit=<u>/part-<pid>.parquet` itself with
    pyarrow.parquet (C++ encode, snappy — byte-compatible with the
    JVM-written layout, partition column encoded in the dir name only)
    and yields nothing but per-unit stat rows. The ~10^8-row token
    feed at SF=0.1 never crosses the Python->JVM Arrow socket.

    Commit protocol (the dynamic-partition-overwrite / lease analog —
    reference source coordination holds a lease per work unit and
    re-does the whole unit on expiry,
    core/sourcecoordination/LeaseBasedSourceCoordinator.java:157):
      * the driver clears tokens/unit=<u>/ for every PENDING unit
        before the job; COMPLETE units are never touched, so resume
        safety is unchanged;
      * a task writes `.part-<pid>.parquet.inprogress-<attempt>`
        (dot-prefixed: invisible to Spark/Hadoop file listings) and
        renames to `part-<pid>.parquet` only after its input is
        exhausted — a failed or retried attempt never leaves a
        visible partial file;
      * the final name is keyed by partition id alone and the
        input->output mapping is deterministic, so a retried
        attempt's rename replaces identical content (idempotent).
    """

    def run(it):
        import posixpath

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        from data_prepper_spark import fsio as _fsio

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        att = tc.attemptNumber() if tc is not None else 0
        data_cols = [
            "doc_id", "term", "dl", "tf", "err", "repo", "path", "commit"
        ]
        writers: dict = {}  # (root, unit) -> (ParquetWriter, sink)
        paths: dict = {}  # (root, unit) -> (tmp, final)
        stats: dict = {}  # unit -> [n_docs, rows_out, nq]

        def writer_for(unit, schema, root=tokens_dir):
            key = (root, unit)
            w = writers.get(key)
            if w is None:
                d = posixpath.join(root, f"unit={unit}")
                _fsio.makedirs(d)
                tmp = posixpath.join(
                    d, f".part-{pid:05d}.parquet.inprogress-{att}"
                )
                final = posixpath.join(d, f"part-{pid:05d}.parquet")
                sink = _fsio.open_output_stream(tmp)
                w = (
                    pq.ParquetWriter(sink, schema, compression="snappy"),
                    sink,
                )
                writers[key] = w
                paths[key] = (tmp, final)
            return w[0]

        on_positions = None
        if positions_dir is not None:
            # same single-pass commit protocol, second artifact: the
            # positions sidecar written by the SAME task from the SAME
            # flat token stream (cfg.positions)
            def on_positions(pb):
                u = pb.column(0)
                uniq = pc.unique(u).to_pylist()
                for unit in uniq:
                    sub = (
                        pb
                        if len(uniq) == 1
                        else pb.filter(pc.equal(u, unit))
                    )
                    data = sub.select(["doc_id", "term", "positions"])
                    writer_for(
                        unit, data.schema, root=positions_dir
                    ).write_batch(data, row_group_size=1 << 20)

        try:
            for batch in _tokenize_batches_arrow(
                it, stopwords=stopwords, stemmer=stemmer,
                on_positions=on_positions,
            ):
                u = batch.column(0)
                uniq = pc.unique(u).to_pylist()
                for unit in uniq:
                    sub = (
                        batch
                        if len(uniq) == 1
                        else batch.filter(pc.equal(u, unit))
                    )
                    data = sub.select(data_cols)
                    errs = data.column(4)
                    n = data.num_rows
                    st = stats.setdefault(unit, [0, 0, 0])
                    st[0] += pc.sum(
                        pc.and_(
                            pc.is_null(data.column(1)), pc.is_null(errs)
                        ).cast(pa.int64())
                    ).as_py() or 0
                    st[1] += errs.null_count
                    st[2] += n - errs.null_count
                    writer_for(unit, data.schema).write_batch(
                        data, row_group_size=1 << 20
                    )
        finally:
            for w, sink in writers.values():
                w.close()
                sink.close()
        # commit: reached only when the input was fully consumed
        for tmp, final in paths.values():
            _fsio.move(tmp, final)
        if stats:
            units = sorted(stats)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(units, pa.string()),
                    pa.array([stats[x][0] for x in units], pa.int64()),
                    pa.array([stats[x][1] for x in units], pa.int64()),
                    pa.array([stats[x][2] for x in units], pa.int64()),
                ],
                names=["unit", "n_docs", "rows_out", "nq"],
            )

    return run


QUARANTINE_SCHEMA = (
    "repo string, path string, commit string, plugin_name string, "
    "pipeline_name string, error_message string, unit string"
)


def read_quarantine(spark: SparkSession, index_dir: str) -> DataFrame:
    """Quarantine (DLQ) table; explicit schema so an empty DLQ reads
    as an empty DataFrame instead of failing schema inference."""
    return spark.read.schema(QUARANTINE_SCHEMA).parquet(
        os.path.join(index_dir, "quarantine")
    )


def run_tokenize_stage(
    spark: SparkSession,
    corpus_path: str,
    index_dir: str,
    cfg: BuildConfig,
    max_units: int | None = None,
) -> list[str]:
    """Tokenize pending units; returns unit ids processed this call."""
    _check_format(index_dir, write=True)
    units = corpus_units(corpus_path)
    done = mf.completed(index_dir, "tokenize")
    pending = [u for u in units if _unit_id(u) not in done]
    if max_units is not None:
        pending = pending[:max_units]
    if not pending:
        return []
    started = time.time()
    prev_attempts = mf.attempts(index_dir, "tokenize")

    df = spark.read.parquet(*pending)
    # derive the unit id from the input file (lineage column)
    df = df.withColumn(
        "unit",
        F.regexp_extract(F.input_file_name(), r"([^/]+)\.parquet$", 1),
    )
    # NO repartition here: spark.sql.files.maxPartitionBytes (32 MB) gives
    # the scan enough splits for full-core tokenize parallelism without
    # shuffling gigabytes of raw content, and each task holds rows of a
    # single unit so the partitionBy(unit) write does not fan out.
    # Validation + tokenization happen in ONE pass over the corpus (the
    # UDF asserts the per-row sha256 invariant and emits quarantine rows
    # inline); the quarantine table is then derived from the written
    # tokens with a cheap columnar read.
    src = df.select(
        "unit",
        F.xxhash64("repo", "path", "commit").alias("doc_id"),
        "repo", "path", "commit", "content", "content_sha256",
    )
    # corpus rows are fat (~30 KB content): cap UDF input batches so a
    # worker holds ~32 MB of content, not gigabytes. Scoped: the small
    # batch size must not leak into later jobs on this session.
    tokens_path = os.path.join(index_dir, "tokens")
    direct_stats = None
    if cfg.direct_tokens_write:
        # reverse sideband: Python workers write the token parquet
        # themselves; the overwrite-pending-partitions semantics of the
        # JVM path's dynamic partitionOverwriteMode are reproduced by
        # clearing each PENDING unit's partition up front (completed
        # units are untouched — same resume contract).
        positions_path = (
            os.path.join(index_dir, "positions") if cfg.positions else None
        )
        for u in pending:
            fsio.rmtree(os.path.join(tokens_path, f"unit={_unit_id(u)}"))
            if positions_path:
                fsio.rmtree(
                    os.path.join(positions_path, f"unit={_unit_id(u)}")
                )
        stats_df = src.mapInArrow(
            _make_direct_tokenizer(tokens_path, cfg.stopwords, cfg.stemmer,
                                   positions_dir=positions_path),
            schema=TOKENIZE_STATS_SCHEMA,
        )
        with _scoped_conf(
            spark, spark__sql__execution__arrow__maxRecordsPerBatch="1024"
        ):
            direct_stats = (
                stats_df.groupBy("unit")
                .agg(
                    F.sum("n_docs").alias("n_docs"),
                    F.sum("rows_out").alias("rows_out"),
                    F.sum("nq").alias("nq"),
                )
                .collect()
            )
    else:
        if cfg.positions:
            raise ValueError(
                "BuildConfig.positions requires direct_tokens_write "
                "(the JVM write path has one fixed output schema); "
                "use build_positions() for a separate pass instead"
            )
        _sw, _st = cfg.stopwords, cfg.stemmer

        def _tok(it):
            return _tokenize_batches_arrow(it, stopwords=_sw, stemmer=_st)

        tokens = src.mapInArrow(_tok, schema=TOKENS_SCHEMA)
        with _scoped_conf(
            spark,
            spark__sql__execution__arrow__maxRecordsPerBatch="1024",
            spark__sql__sources__partitionOverwriteMode="dynamic",
        ):
            (
                tokens.write.mode("overwrite")
                .partitionBy("unit")
                .parquet(tokens_path)
            )

    # DLQ: failure-metadata columns mirror the reference's
    # _failure_metadata {pluginId, pluginName, pipelineName, errorMessage}
    # (reference model/event/JacksonEvent.java:66-94)
    written = spark.read.parquet(tokens_path).filter(
        F.col("unit").isin([_unit_id(u) for u in pending])
    )
    quarantine = written.filter(F.col("err").isNotNull()).select(
        "unit", "repo", "path", "commit",
        F.lit("sha256_validator").alias("plugin_name"),
        F.lit("index-build").alias("pipeline_name"),
        F.col("err").alias("error_message"),
    )
    with _scoped_conf(
        spark, spark__sql__sources__partitionOverwriteMode="dynamic"
    ):
        (
            quarantine.write.mode("overwrite")
            .partitionBy("unit")
            .parquet(os.path.join(index_dir, "quarantine"))
        )

    # per-unit metrics: the direct path already collected them from the
    # tokenize tasks (no extra pass over the tokens table); the JVM
    # path derives them from the written output (columnar count read)
    if direct_stats is not None:
        out_stats = direct_stats
    else:
        out_stats = (
            written.groupBy("unit")
            .agg(
                F.sum(F.when(F.col("err").isNull(), 1).otherwise(0)).alias("rows_out"),
                F.sum(
                    F.when(F.col("term").isNull() & F.col("err").isNull(), 1).otherwise(0)
                ).alias("n_docs"),
                F.sum(F.when(F.col("err").isNotNull(), 1).otherwise(0)).alias("nq"),
            )
            .collect()
        )
    rows = []
    for r in out_stats:
        uid = r["unit"]
        nq = int(r["nq"])
        rows.append(
            mf.make_row(
                uid,
                "tokenize",
                rows_in=int(r["n_docs"]) + nq,
                rows_out=int(r["rows_out"]),
                sha256_ok=(nq == 0),
                started_at=started,
                attempt=int(prev_attempts.get(uid, 0)) + 1,
                lineage={"n_docs": int(r["n_docs"]), "quarantined": nq},
            )
        )
    mf.append_rows(index_dir, rows)
    return [_unit_id(u) for u in pending]


def _blocks_pa_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("term_id", pa.int64()),
            ("bucket", pa.int32()),
            ("min_doc", pa.int64()),
            ("max_doc", pa.int64()),
            ("n", pa.int32()),
            ("docs", pa.binary()),
            ("tfs", pa.binary()),
            ("dls", pa.binary()),
            ("max_tf", pa.int32()),
            ("block_max", pa.float64()),
        ]
    )


def _encode_chunk_arrow(tbl, k1: float, b: float, block: int, avgdl: float):
    """Encode posting blocks for a pa.Table of rows ALREADY SORTED by
    (term_id, salt, doc_id). Vectorized across all groups at once:
    group boundaries via numpy neighbor comparison (terms flow as
    fixed-width int64 ids — strings never cross the JVM/Python
    boundary on this path), per-block varbyte via one numpy encode
    pass + byte-offset slicing (no per-group overhead).
    """
    import pyarrow as pa

    n = tbl.num_rows
    # keep native dtypes: astype copies are fault-dominated in this
    # sandbox (see codec.varbyte_lengths); math upcasts element-wise
    term = tbl.column("term_id").to_numpy()
    salt = tbl.column("salt").to_numpy()
    doc = tbl.column("doc_id").to_numpy()
    tf = tbl.column("tf").to_numpy()
    dl = tbl.column("dl").to_numpy()
    bucket = tbl.column("bucket").to_numpy()

    new_group = np.ones(n, dtype=bool)
    if n > 1:
        new_group[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
    gid = np.cumsum(new_group, dtype=np.uint64) - np.uint64(1)
    gstart = np.flatnonzero(new_group)
    pos_in_group = np.arange(n, dtype=np.int64)
    pos_in_group -= gstart[gid]
    # block boundary: every `block` postings within a group
    if block & (block - 1) == 0:
        pos_in_group &= block - 1  # power-of-two fast path, in place
    else:
        pos_in_group %= block
    new_block = new_group | (pos_in_group == 0)
    bstart = np.flatnonzero(new_block)
    bend = np.concatenate([bstart[1:], [n]])

    u = to_unsigned(doc)
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = u[0]
    deltas[1:] = u[1:] - u[:-1]
    deltas[bstart] = u[bstart]  # each block encodes independently

    # BM25 impact with minimal temporaries (in-place after 2 allocs)
    denom = dl * (k1 * b / avgdl)
    denom += k1 * (1.0 - b)
    denom += tf
    impact = tf * (k1 + 1.0)
    impact /= denom
    block_max = np.maximum.reduceat(impact, bstart)
    max_tf = np.maximum.reduceat(tf, bstart)

    def _sliced(values: np.ndarray) -> list[bytes]:
        nbytes = varbyte_lengths(values)
        buf = varbyte_encode(values, lengths=nbytes)
        ends = np.cumsum(nbytes)
        byte_end = ends[bend - 1]
        byte_start = ends[bstart] - nbytes[bstart]
        return [buf[s:e] for s, e in zip(byte_start, byte_end)]

    return pa.RecordBatch.from_arrays(
        [
            pa.array(term[bstart]),
            pa.array(bucket[bstart].astype(np.int32, copy=False)),
            pa.array(doc[bstart]),
            pa.array(doc[bend - 1]),
            pa.array((bend - bstart).astype(np.int32)),
            pa.array(_sliced(deltas), type=pa.binary()),
            pa.array(_sliced(tf.astype(np.uint64)), type=pa.binary()),
            pa.array(_sliced(dl.astype(np.uint64)), type=pa.binary()),
            pa.array(max_tf.astype(np.int32, copy=False)),
            pa.array(block_max),
        ],
        schema=_blocks_pa_schema(),
    )


def _make_block_builder(cfg: BuildConfig, avgdl: float):
    """mapInArrow over partitions sorted by (term, salt, doc_id).

    Arrow batches are accumulated to ~2M rows before encoding (Spark
    feeds small maxRecordsPerBatch batches; amortizing the per-chunk
    boundary logic matters at 100M+ posting scale). A (term, salt)
    group may span chunks; the trailing (possibly incomplete) group of
    each chunk is carried into the next so every group is encoded
    exactly once, whole."""
    k1, b, block = cfg.k1, cfg.b, cfg.block_size
    target_rows = 2 << 20

    def build_blocks(it):
        import pyarrow as pa

        pending: list = []
        npend = 0
        carry = None

        def assemble(tbls):
            nonlocal carry
            parts = ([carry] if carry is not None else []) + tbls
            carry = None
            if not parts:
                return None
            tbl = pa.concat_tables(parts).combine_chunks()
            return tbl if tbl.num_rows else None

        def split_tail(tbl):
            """Hold back the trailing run of the last (term_id, salt)
            group; rows are group-contiguous within the sort order."""
            nonlocal carry
            n = tbl.num_rows
            term = tbl.column("term_id").to_numpy()
            salt = tbl.column("salt").to_numpy()
            tail = (term == term[n - 1]) & (salt == salt[n - 1])
            rev = tail[::-1]
            tail_len = n if rev.all() else int(rev.argmin())
            carry = tbl.slice(n - tail_len)
            head = tbl.slice(0, n - tail_len)
            return head if head.num_rows else None

        for batch in it:
            pending.append(pa.Table.from_batches([batch]))
            npend += batch.num_rows
            if npend >= target_rows:
                tbl = assemble(pending)
                pending, npend = [], 0
                if tbl is not None:
                    head = split_tail(tbl)
                    if head is not None:
                        yield _encode_chunk_arrow(head, k1, b, block, avgdl)
        tbl = assemble(pending)
        if tbl is not None:
            yield _encode_chunk_arrow(tbl, k1, b, block, avgdl)

    return build_blocks


def run_index_stage(
    spark: SparkSession, index_dir: str, cfg: BuildConfig
) -> dict:
    """Build posting blocks + dictionaries from all tokenized units."""
    _check_format(index_dir)
    units_done = sorted(mf.completed(index_dir, "tokenize"))
    lineage_key = json.dumps(units_done)
    m = mf.read_manifest(index_dir)
    if not m.empty:
        prior = m[
            (m["stage"] == "index")
            & (m["status"] == "COMPLETE")
            & (m["partition_id"] == "_index_stage")
        ]
        if not prior.empty and any(
            json.loads(lj).get("units") == units_done
            for lj in prior["lineage_json"]
        ):
            return json.loads(
                fsio.read_text(os.path.join(index_dir, "stats.json"))
            )
    started = time.time()

    tokens = spark.read.parquet(os.path.join(index_dir, "tokens"))
    # sentinel doc rows (term NULL, err NULL); quarantine rows excluded.
    # `ord` is the DENSE doc ordinal (rank of doc_id): postings encode
    # ord deltas, which at N docs average N/df — 1-3 varbyte bytes —
    # instead of the ~9-byte deltas of sparse 64-bit xxhash ids
    # (~2.5x smaller postings, faster decode; standard IR practice).
    # Rank-by-doc_id keeps the (score desc, doc_id asc) tie-break
    # order identical: ord order == doc_id order by construction.
    #
    # The rank is computed WITHOUT a global single-partition window:
    # docs are split into 2^ord_group_bits disjoint ranges by the high
    # bits of doc_id (arithmetic shift — monotone in the signed order,
    # so range k's ordinals all precede range k+1's), ranked within
    # each range in parallel, and shifted by cumulative range counts
    # (a tiny deterministic driver-side list — the lease-store analog
    # of the reference's per-partition progress offsets). No sampling
    # (unlike repartitionByRange), so the mapping is bit-stable across
    # runs and parallelism levels.
    from pyspark.sql import Window as W

    sent = tokens.filter(
        F.col("term").isNull() & F.col("err").isNull()
    ).select("doc_id", "dl", "repo", "path", "commit")
    if cfg.ordinal_order == "dl":
        # impact-ordered ordinals (ROADMAP r03 item 2, the classic
        # docid-reordering trade): rank docs by (dl asc, doc_id asc).
        # BM25 impact is monotone-decreasing in dl for fixed tf, so
        # ascending-dl ordinals cluster each term's high-impact
        # postings into its EARLY blocks — within-term block_max then
        # spreads (high dispersion) and block-max pruning prunes, even
        # on corpora whose hash-random doc order defeats it. Cost:
        # tie-break at exact score ties follows dl-order, not doc_id
        # order (documented; default stays "doc_id").
        #
        # Parallel global rank without a single-partition window: an
        # exact per-dl histogram (distinct dl counts — thousands of
        # rows, deterministic) is collected once; the driver greedily
        # packs dl values into ~2^ord_group_bits balanced bands and
        # computes each band's cumulative offset. Docs are ranked
        # within bands by (dl, doc_id) and shifted — monotone because
        # band boundaries never split a dl value. A single pathological
        # dl shared by most docs bounds the skew of one band (same
        # bound any order-by on that key has).
        base = sent.persist()
        hist = base.groupBy("dl").count().collect()
        pairs = sorted((int(r["dl"]), int(r["count"])) for r in hist)
        n_docs = sum(c for _, c in pairs)
        dl_total = sum(d * c for d, c in pairs)
        avgdl = dl_total / n_docs if n_docs else 0.0
        target = max(1, -(-n_docs // (1 << cfg.ord_group_bits)))
        band_rows, offs = [], [(0, 0)]
        band, in_band, off = 0, 0, 0
        for d, c in pairs:
            if in_band >= target:
                band += 1
                offs.append((band, off))
                in_band = 0
            band_rows.append((d, band))
            in_band += c
            off += c
        band_df = spark.createDataFrame(
            band_rows or [(0, 0)], "dl int, _grp int"
        )
        off_df = spark.createDataFrame(offs, "_grp int, _off long")
        docs = (
            base.join(F.broadcast(band_df), "dl")
            .join(F.broadcast(off_df), "_grp")
            .withColumn(
                "ord",
                (
                    F.row_number().over(
                        W.partitionBy("_grp").orderBy("dl", "doc_id")
                    )
                    + F.col("_off")
                    - 1
                ).cast("long"),
            )
            .select("doc_id", "dl", "repo", "path", "commit", "ord")
        )
    else:
        shift = 64 - cfg.ord_group_bits
        base = sent.withColumn("_grp", F.shiftright("doc_id", shift))
        # ONE scan of the sentinel rows (persisted — they are n_docs
        # skinny rows, tiny next to the token rows sharing the parquet
        # files) yields the per-range counts for the ordinal offsets
        # AND the corpus stats: dl values are ints, so the grouped
        # double sums are exact and avgdl is bit-identical to a direct
        # global average.
        base = base.persist()
        grp_rows = base.groupBy("_grp").agg(
            F.count("*").alias("n"), F.sum("dl").alias("dl_sum")
        ).collect()
        cnts = sorted((r["_grp"], r["n"], r["dl_sum"]) for r in grp_rows)
        offs, acc, dl_total = [], 0, 0
        for g, n, s in cnts:
            offs.append((g, acc))
            acc += n
            dl_total += int(s)
        n_docs = acc
        avgdl = dl_total / n_docs if n_docs else 0.0
        off_df = spark.createDataFrame(offs or [(0, 0)], "_grp long, _off long")
        docs = (
            base.join(F.broadcast(off_df), "_grp")
            .withColumn(
                "ord",
                (
                    F.row_number().over(W.partitionBy("_grp").orderBy("doc_id"))
                    + F.col("_off")
                    - 1
                ).cast("long"),
            )
            .select("doc_id", "dl", "repo", "path", "commit", "ord")
        )
    docs.write.mode("overwrite").parquet(os.path.join(index_dir, "docs"))
    base.unpersist()
    docs = spark.read.parquet(os.path.join(index_dir, "docs"))

    # v3 tokens are already (doc, term, tf)-aggregated inside the
    # tokenize UDF (a doc never spans Arrow batches, so rows are
    # globally unique) — the 10^8-row groupBy(doc_id, term) shuffle
    # that dominated the v2 index stage is gone; `tok` is a straight
    # column selection. Persisted once so the term-dictionary pass and
    # the encode pass don't re-run the parquet scan; MEMORY_AND_DISK
    # behaves like shuffle-file locality on a real cluster (tf is an
    # intra-stage artifact: an index-stage failure re-runs the whole
    # stage per the manifest, so durability on this path buys nothing).
    from pyspark import StorageLevel

    tok = tokens.filter(F.col("term").isNotNull()).select(
        "doc_id", "term", "tf", "dl"
    )
    if cfg.cache_tokens:
        tok = tok.persist(StorageLevel.MEMORY_AND_DISK)
    term_base = tok.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # term_id = xxhash64(term): injectivity is checked BEFORE any
    # postings are keyed by it. On the (p < 1e-6 at 10^6 terms)
    # collision, the colliding terms deterministically re-hash with a
    # second seed column — xxhash64(term, 1) — instead of aborting
    # (ROADMAP r01 item 3); the id expression stays identical across
    # runs, so resume/bit-identity hold.
    ids0 = term_base.select("term", F.xxhash64("term").alias("term_id"))
    dup_ids = ids0.groupBy("term_id").count().filter(F.col("count") > 1)
    colliding = [
        r["term"]
        for r in ids0.join(F.broadcast(dup_ids.select("term_id")), "term_id")
        .select("term")
        .collect()
    ]

    def _term_id_expr(col: str = "term"):
        base = F.xxhash64(col)
        if not colliding:
            return base
        return F.when(
            F.col(col).isin(colliding), F.xxhash64(col, F.lit(1))
        ).otherwise(base)

    term_df = term_base.withColumn("term_id", _term_id_expr()).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if colliding:
        # the escape hatch itself must produce injective ids
        still = (
            term_df.groupBy("term_id").count().filter(F.col("count") > 1).count()
        )
        if still:
            raise RuntimeError(
                f"term_id collision persists after re-salt for {still} ids"
            )

    # hot-term detection: terms whose postings exceed one target group;
    # salt = high bits of the (order-preserved unsigned) doc id, so each
    # (term, salt) group is a disjoint sorted doc-id RANGE -> no merge
    hot = (
        term_df.filter(F.col("df") > cfg.hot_group_target)
        .select(
            "term",
            F.least(
                F.lit(cfg.max_salt_bits),
                F.ceil(F.log2(F.col("df") / F.lit(cfg.hot_group_target))),
            ).cast("int").alias("salt_bits"),
        )
    )
    # salt for hot terms = high bits of the dense ordinal: each
    # (term_id, salt) group is a contiguous, disjoint ord RANGE (the
    # expression is monotone in ord), so groups stay independently
    # encodable. ord_map join: broadcast-sized here; at cluster scale
    # both sides hash-partition on doc_id (no broadcast required).
    ord_map = docs.select("doc_id", "ord")
    tok2 = (
        tok.join(F.broadcast(hot), "term", "left")
        .join(ord_map, "doc_id")
        .withColumn("term_id", _term_id_expr())
        .withColumn(
            "salt",
            # salt = ord DIV ceil(n_docs / 2^salt_bits): same contiguous
            # ord ranges, but no n_docs * 2^salt_bits intermediate, so it
            # cannot overflow int64 at any (n_docs, salt_bits) whose sum
            # of bit-widths exceeds 63 (ord*2^bits DIV n would)
            F.when(
                F.col("salt_bits").isNotNull(),
                F.expr(
                    f"ord DIV (({n_docs} + shiftleft(1L, salt_bits) - 1)"
                    " DIV shiftleft(1L, salt_bits))"
                ),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "bucket", F.pmod(F.col("term_id"), F.lit(cfg.n_buckets)).cast("int")
        )
        .select(
            "term_id", "salt", "bucket",
            F.col("ord").alias("doc_id"),  # postings store dense ords
            "tf", "dl",
        )
    )
    # ONE shuffle: hash-exchange on (term_id, salt), sort runs inside
    # each partition. A (term_id, salt) group never spans partitions,
    # so encode is embarrassingly parallel afterwards. Two feeds into
    # the batch-vectorized encoder:
    #   * sideband (default): the JVM writes the sorted tf table as
    #     parquet (pure-JVM job, columnar-compressed), then one Python
    #     task per file reads it DIRECTLY with pyarrow and encodes —
    #     no JVM->Python Arrow socket for the 10^8-row feed. On a real
    #     cluster the intermediate lives in index_dir (shared storage;
    #     pyarrow reads object-store URIs via pyarrow.fs).
    #   * streamed: classic mapInArrow over the shuffled partitions
    #     (64k Arrow batches, scoped so the big batch size does not
    #     leak into the query path's fat block rows).
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sorted_df = tok2.repartition(n_shuffle, "term_id", "salt").sortWithinPartitions(
        "term_id", "salt", "doc_id"
    )
    if cfg.sideband_encode:
        sorted_dir = os.path.join(index_dir, "tf_sorted")
        spark.sparkContext.setJobDescription("index: write sorted tf sideband")
        sorted_df.write.mode("overwrite").parquet(sorted_dir)
        files = fsio.listdir(sorted_dir, suffix=".parquet")
        fdf = spark.createDataFrame(
            [(p,) for p in files], "path string"
        ).repartition(len(files))
        builder = _make_block_builder(cfg, avgdl)

        def encode_from_files(it):
            import pyarrow.parquet as pq

            from data_prepper_spark import fsio as _fsio

            for batch in it:
                for p in batch.column(0).to_pylist():
                    pf = pq.ParquetFile(_fsio.open_input_file(p))
                    yield from builder(
                        pf.iter_batches(
                            batch_size=1 << 20,
                            columns=[
                                "term_id", "salt", "bucket",
                                "doc_id", "tf", "dl",
                            ],
                        )
                    )

        blocks = fdf.mapInArrow(encode_from_files, schema=BLOCKS_SCHEMA)
    else:
        blocks = sorted_df.mapInArrow(
            _make_block_builder(cfg, avgdl), schema=BLOCKS_SCHEMA
        )
    spark.sparkContext.setJobDescription("index: encode + write postings")
    with _scoped_conf(
        spark, spark__sql__execution__arrow__maxRecordsPerBatch="65536"
    ):
        (
            blocks.repartition(cfg.n_buckets, "bucket")
            .sortWithinPartitions("term_id", "min_doc")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(index_dir, "postings"))
        )
    spark.sparkContext.setJobDescription(None)
    if cfg.sideband_encode:
        fsio.rmtree(sorted_dir)

    # term dictionary with per-term max impact (WAND global upper bound),
    # derived from the written blocks (column-pruned read: no binaries)
    written = spark.read.parquet(os.path.join(index_dir, "postings"))
    max_imp = written.groupBy("term_id").agg(
        F.max("block_max").alias("max_impact"),
        F.first("bucket").alias("bucket"),
    )
    (
        term_df.join(max_imp, "term_id")
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "terms"))
    )
    if cfg.cache_tokens:
        tok.unpersist()
    term_base.unpersist()
    term_df.unpersist()

    # Postings are keyed by term_id = xxhash64(term) so the encode
    # shuffle + JVM->Python transfer move fixed-width ints, not
    # strings. A collision (two terms, one id) would merge posting
    # lists; assert injectivity over the ACTUAL vocabulary from the
    # written dictionary (one cheap columnar job) and abort before any
    # query can read the index (p < 1e-6 at 1e6-term scale; the
    # deterministic re-salt escape hatch is documented in README).
    coll = (
        spark.read.parquet(os.path.join(index_dir, "terms"))
        .groupBy("term_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    if coll:
        raise RuntimeError(
            f"xxhash64 term_id collision for {coll} ids; "
            "rebuild with a salted term hash"
        )

    # prunability statistic for the query side's auto mode: the mean
    # within-term coefficient of variation of block_max (multi-block
    # terms only). Block-max pruning only pays when blocks of a term
    # DIFFER in max impact; a corpus with uniform impacts and
    # hash-random doc order measures ~0.05 here and no bound can prune
    # it (measured: 0.7% of candidate blocks pruned at SF=0.1), while
    # skewed+clustered postings measure >0.5 and prune >90%.
    disp_row = (
        written.groupBy("term_id")
        .agg(
            F.count("*").alias("nb"),
            (F.stddev_samp("block_max") / F.avg("block_max")).alias("cv"),
        )
        .filter(F.col("nb") >= 8)
        .agg(F.avg("cv").alias("d"))
        .collect()[0]
    )
    dispersion = float(disp_row["d"]) if disp_row["d"] is not None else 0.0

    stats = {
        "n_docs": n_docs,
        "avgdl": avgdl,
        "n_buckets": cfg.n_buckets,
        "block_size": cfg.block_size,
        "k1": cfg.k1,
        "b": cfg.b,
        "blockmax_dispersion": round(dispersion, 4),
        "ordinal_order": cfg.ordinal_order,
        # analyzer chain, persisted so the QUERY side can mirror it
        # (ADVICE r03: without this, conjunctive queries containing a
        # build-time stopword computed must/phrase arity over raw
        # tokens and permanently returned zero rows)
        "stopwords": sorted(cfg.stopwords) if cfg.stopwords else [],
        "stemmer": cfg.stemmer,
        "units": units_done,
    }
    fsio.write_text(os.path.join(index_dir, "stats.json"), json.dumps(stats))

    bucket_stats = (
        written.groupBy("bucket")
        .agg(
            F.count("*").alias("blocks"),
            (
                F.sum(F.length("docs"))
                + F.sum(F.length("tfs"))
                + F.sum(F.length("dls"))
            ).alias("nbytes"),
        )
        .collect()
    )
    rows = [
        mf.make_row(
            f"bucket={int(r['bucket'])}",
            "index",
            rows_out=int(r["blocks"]),
            nbytes=int(r["nbytes"]),
            started_at=started,
        )
        for r in bucket_stats
    ]
    rows.append(
        mf.make_row(
            "_index_stage",
            "index",
            rows_in=n_docs,
            started_at=started,
            lineage={"units": units_done},
        )
    )
    mf.append_rows(index_dir, rows)
    return stats


def build_index(
    spark: SparkSession,
    corpus_path: str,
    index_dir: str,
    cfg: BuildConfig | None = None,
    max_units: int | None = None,
) -> dict:
    """Full resumable build. Safe to re-run after interruption: completed
    tokenize units are skipped (manifest anti-join), the index stage is
    skipped when its input unit-set lineage is unchanged."""
    cfg = cfg or BuildConfig()
    fsio.makedirs(index_dir)
    run_tokenize_stage(spark, corpus_path, index_dir, cfg, max_units=max_units)
    if max_units is not None:
        units = corpus_units(corpus_path)
        if len(mf.completed(index_dir, "tokenize")) < len(units):
            return {"partial": True}
    return run_index_stage(spark, index_dir, cfg)


def build_routed_indexes(
    spark: SparkSession,
    corpus_path: str,
    out_dir: str,
    route_col: str = "lang",
    cfg: BuildConfig | None = None,
) -> dict[str, dict]:
    """Multi-sink routing analog (SURVEY.md §2.7 routing + §2.2 dynamic
    index names, reference index/DynamicIndexManager.java): one pass
    partitions the corpus by the routing column — a single
    partitionBy() write, no per-route rescan of the source — then an
    independent resumable index is built per route value, mirroring
    `formatString`-templated per-sink indices. Returns route -> stats.

    At cluster scale the partitioned write is the only full-corpus
    pass; each sub-build reads exactly its own partition directory
    (directory-level pruning, no filter scan)."""
    cfg = cfg or BuildConfig()
    routed = os.path.join(out_dir, "routed_corpus")
    df = spark.read.parquet(corpus_path)
    (
        df.write.mode("overwrite")
        .partitionBy(route_col)
        .parquet(routed)
    )
    stats: dict[str, dict] = {}
    for sub_path in fsio.listdir(routed):
        sub = fsio.basename(sub_path)
        if not sub.startswith(f"{route_col}="):
            continue
        route_val = sub.split("=", 1)[1]
        stats[route_val] = build_index(
            spark,
            sub_path,
            os.path.join(out_dir, f"index_{route_val}"),
            cfg,
        )
    return stats


def reindex(
    spark: SparkSession,
    src_index_dir: str,
    dst_index_dir: str,
    cfg: BuildConfig | None = None,
    doc_filter: str | None = None,
) -> dict:
    """The reference stack's opensearch-api `_reindex` analog: build a
    NEW physical index from an EXISTING index's tokens table. The
    tokenize stage — the corpus scan, sha256 validation and
    tokenization that dominate build cost — is never repeated; only
    the index stage runs, under the new BuildConfig (different
    bucketing, block size, ordinal order or BM25 params).

    `doc_filter` is an optional SQL predicate over the doc identity
    columns (repo, path, commit) — the reindex-with-query form. The
    predicate is evaluated on the per-doc sentinel rows (the only rows
    carrying identity columns) and the surviving doc_ids semi-join the
    token rows — whole docs are kept or dropped atomically. Docs
    tombstoned in the source
    (`_delete_by_query`) are dropped, as a real _reindex drops
    deleted docs; df/avgdl/n_docs are recomputed over survivors.

    Scale shape: one columnar distributed read→write of the skinny
    tokens table (unit partitioning preserved) + the standard index
    stage. Manifest rows mark every copied unit tokenize-COMPLETE
    with lineage naming the source index, so the new index is itself
    resumable and can take further incremental units."""
    cfg = cfg or BuildConfig()
    _check_format(src_index_dir)
    _check_format(dst_index_dir, write=True)
    tokens = spark.read.parquet(os.path.join(src_index_dir, "tokens"))
    if doc_filter:
        keep = (
            tokens.filter(F.col("term").isNull() & F.col("err").isNull())
            .filter(F.expr(doc_filter))
            .select("doc_id")
        )
        tokens = tokens.join(keep, "doc_id", "left_semi")
    ts_dir = os.path.join(src_index_dir, "tombstones")
    if fsio.isdir(ts_dir):
        dead = (
            spark.read.parquet(os.path.join(src_index_dir, "docs"))
            .join(spark.read.parquet(ts_dir).select("ord").distinct(), "ord")
            .select("doc_id")
        )
        tokens = tokens.join(dead, "doc_id", "left_anti")
    (
        tokens.write.mode("overwrite")
        .partitionBy("unit")
        .parquet(os.path.join(dst_index_dir, "tokens"))
    )
    started = time.time()
    per_unit = (
        spark.read.parquet(os.path.join(dst_index_dir, "tokens"))
        .groupBy("unit")
        .agg(
            F.count("*").alias("rows_out"),
            F.sum(
                F.when(
                    F.col("term").isNull() & F.col("err").isNull(), 1
                ).otherwise(0)
            ).alias("n_docs"),
        )
        .collect()
    )
    mf.append_rows(
        dst_index_dir,
        [
            mf.make_row(
                r["unit"],
                "tokenize",
                rows_in=int(r["n_docs"]),
                rows_out=int(r["rows_out"]),
                started_at=started,
                lineage={
                    "reindexed_from": src_index_dir,
                    "doc_filter": doc_filter or "",
                },
            )
            for r in per_unit
        ],
    )
    return run_index_stage(spark, dst_index_dir, cfg)


def load_stats(index_dir: str) -> dict:
    return json.loads(fsio.read_text(os.path.join(index_dir, "stats.json")))


def delta_dirs(index_root: str) -> list[str]:
    """The delta indexes (`delta=*` children) of a delta-tree root, in
    sorted path order; [] when the root is absent."""
    return [
        p for p in fsio.listdir(index_root)
        if fsio.basename(p).startswith("delta=")
    ]
