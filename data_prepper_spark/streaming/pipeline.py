"""Structured-Streaming forms of the reference's stateful semantics
(SURVEY.md §2.9) + incremental index maintenance.

| reference mechanism                          | here |
|----------------------------------------------|------|
| micro-batch read batch_size/read_batch_delay | trigger + maxFilesPerTrigger |
| aggregate group_duration window              | window() agg + watermark |
| remove_duplicates keyed state                | dropDuplicatesWithinWatermark |
| tail/late-data TTL buffering                 | withWatermark allowed lateness |
| kafka durable buffer                         | checkpointLocation |
| CDC/iceberg-changelog incremental index      | foreachBatch incremental build |

The reference's windows are all processing-time
(AggregateProcessor.java:109-126); we expose event-time windows with
real watermarks — strictly stronger semantics.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.expression import dp_expr


def windowed_count(
    events: DataFrame,
    time_col: str,
    keys: list[str],
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    aggregate_when: str | None = None,
) -> DataFrame:
    """Streaming `aggregate` count action: per-key tumbling-window
    counts with late-data handling (the reference's group_duration
    window, but event-time + watermark instead of processing-time)."""
    src = events.withWatermark(time_col, watermark)
    if aggregate_when:
        src = src.filter(dp_expr(aggregate_when))
    return src.groupBy(F.window(time_col, window), *keys).agg(
        F.count("*").alias("count")
    )


def streaming_remove_duplicates(
    events: DataFrame,
    keys: list[str],
    time_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming remove_duplicates action: keyed first-wins dedup with
    bounded state (dropDuplicatesWithinWatermark ~= the reference's
    in-memory AggregateGroup state + group_duration eviction)."""
    return events.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stateful_aggregate_count(
    events: DataFrame,
    keys: list[str],
    timeout_ms: int | None = None,
):
    """Custom stateful operator via applyInPandasWithState — the exact
    shape of the reference's AggregateProcessor: per-key state
    accumulated across micro-batches (AggregateGroupManager), optionally
    concluded by a processing-time timeout (group_duration,
    AggregateProcessor.java:109-126). Emits the running count per key
    on every batch (update mode); on timeout the group is concluded
    and its state dropped (forceConclude analog).
    """
    import pandas as pd

    key_fields = ", ".join(f"{k} string" for k in keys)
    out_schema = f"{key_fields}, count long, concluded boolean"
    state_schema = "count long"

    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            (count,) = state.get
            state.remove()
            yield pd.DataFrame(
                [(*key, count, True)],
                columns=[*keys, "count", "concluded"],
            )
            return
        n = sum(len(pdf) for pdf in pdf_iter)
        count = (state.get[0] if state.exists else 0) + n
        state.update((count,))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            [(*key, count, False)], columns=[*keys, "count", "concluded"]
        )

    return events.groupBy(*[F.col(k).cast("string").alias(k) for k in keys]).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="ProcessingTimeTimeout" if timeout_ms else "NoTimeout",
    )


def incremental_index(
    spark: SparkSession,
    corpus_stream: DataFrame,
    index_root: str,
    checkpoint: str,
    cfg=None,
):
    """Incremental index maintenance via foreachBatch: every micro-batch
    becomes one immutable index delta (tokenize -> posting blocks) under
    index_root/delta=N, committed with the manifest after the batch —
    the streaming analog of the resumable batch build (a real
    deployment compacts deltas; queries read the union).

    Mirrors the reference's iceberg-source CDC path (SURVEY.md §2.8)
    with Spark's exactly-once foreachBatch + checkpointLocation.
    """
    from ..index.build import BuildConfig, build_index

    cfg = cfg or BuildConfig(n_buckets=8, hot_group_target=10_000)

    def handle_batch(batch_df: DataFrame, epoch_id: int):
        if batch_df.isEmpty():
            return
        delta_dir = os.path.join(index_root, f"delta={epoch_id}")
        staging = os.path.join(delta_dir, "_staging_corpus")
        batch_df.write.mode("overwrite").parquet(staging)
        build_index(batch_df.sparkSession, staging, delta_dir, cfg)

    return (
        corpus_stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def maybe_compact(
    spark: SparkSession,
    index_root: str,
    out_dir: str,
    max_deltas: int = 8,
    cfg=None,
    policy: str = "full",
    fan_in: int = 4,
) -> dict | None:
    """Compaction policy hook the streaming driver calls after each
    foreachBatch epoch. No-op (None) while the delta count stays
    within max_deltas (the query fan-in bound); beyond it:

    * policy="full"    — merge EVERY delta into one final index at
      out_dir (the original size-tiered trigger). O(total) write
      amplification per trigger, right for low-churn streams.
    * policy="leveled" — merge only the `fan_in` SMALLEST deltas into
      one new delta inside index_root (classic leveled/tiered LSM
      merge). Each trigger rewrites only the small young runs, so a
      high-churn stream pays O(fan_in·small) per merge instead of
      re-writing the accumulated index; the big compacted runs are
      touched only when enough peers reach their tier. The final
      index stays reachable any time via compact_deltas(out_dir) and
      is bit-identical to a one-shot batch build regardless of the
      merge tree (tokens-level merge; asserted in tests)."""
    from .. import fsio
    from ..index.build import delta_dirs

    # recover a previous merge that crashed mid-publish BEFORE
    # anything else (ADVICE r03: the old code rmtree'd the leftover
    # tmp unconditionally — if the crash hit between victim deletion
    # and publish, that auto-delete silently destroyed the only copy
    # of the merged docs)
    tmp = os.path.join(index_root, "_compacting")
    _recover_compaction(index_root, tmp)
    deltas = delta_dirs(index_root)
    if len(deltas) <= max_deltas:
        return None
    if policy == "full":
        return compact_deltas(spark, index_root, out_dir, cfg)
    if policy != "leveled":
        raise ValueError(f"unknown compaction policy {policy!r}")
    by_size = sorted(deltas, key=lambda d: (fsio.du(d), d))
    victims = by_size[: max(2, fan_in)]
    # crash ordering: merge into a hidden tmp (sources intact), write
    # the COMPLETION MARKER (victims.json — stats.json alone says the
    # merge finished; victims.json says which sources it subsumed),
    # drop the sources, THEN publish the merged run. A crash anywhere
    # is now recoverable: before the marker, tmp is garbage and the
    # sources are authoritative (recovery deletes tmp); after the
    # marker, tmp is authoritative and recovery finishes the job
    # (idempotently deletes any remaining victims, publishes tmp).
    # Docs are never lost and never double-counted.
    fsio.rmtree(tmp)
    stats = compact_deltas(spark, index_root, tmp, cfg, deltas=victims)
    fsio.write_bytes_atomic(
        os.path.join(tmp, "victims.json"),
        json.dumps(sorted(victims)).encode(),
    )
    # sequence from the PRE-deletion listing: if the highest delta=cN
    # is itself a victim, computing seq after the rmtree would reuse
    # its just-deleted name and a concurrent topk_deltas reader that
    # listed before compaction could double-count the merged run under
    # the old name (ADVICE r04). Pre-delete max keeps names monotonic.
    seq = _next_seq(index_root)
    # PIT-aware disposal: a victim pinned by a live point-in-time
    # reader is RETIRED (moved under retired/) instead of deleted —
    # Lucene's incRef'd-segment semantics; close_pit GCs retirees
    for d in victims:
        _dispose_victim(index_root, d)
    fsio.move(tmp, os.path.join(index_root, f"delta=c{seq}"))
    return stats


def _dispose_victim(index_root: str, delta_dir: str) -> None:
    from ..index.pit import retire_victim

    retire_victim(index_root, delta_dir)


def next_delta_seq(index_root: str) -> int:
    """Next free NUMERIC delta sequence: one past the highest existing
    delta number, counting BOTH plain `delta=N` dirs (streaming
    epochs, bulk applies) and compacted `delta=cN` dirs — so a new
    delta can never collide with or clobber an existing one
    regardless of which writer produced it. (_next_seq below is the
    compaction-name counter; it deliberately reads only cN names.)
    PIT-retired deltas (index_root/retired/) keep their names
    reserved: a reused name would let a NEW delta shadow the pinned
    one when a point-in-time token resolves."""
    from .. import fsio

    seq = 0
    for d in _delta_names_everywhere(index_root):
        name = d.split("=", 1)[1]
        num = name[1:] if name.startswith("c") else name
        if num.isdigit():
            seq = max(seq, int(num) + 1)
    return seq


def _delta_names_everywhere(index_root: str) -> list[str]:
    """delta=* basenames both live and PIT-retired — the namespace a
    new delta name must not collide with."""
    from .. import fsio
    from ..index.build import delta_dirs

    return [
        fsio.basename(d)
        for root in (index_root, os.path.join(index_root, "retired"))
        for d in delta_dirs(root)
    ]


def _next_seq(index_root: str) -> int:
    seq = 0
    for d in _delta_names_everywhere(index_root):
        name = d.split("=", 1)[-1]
        if name.startswith("c") and name[1:].isdigit():
            seq = max(seq, int(name[1:]) + 1)
    return seq


def _recover_compaction(index_root: str, tmp: str) -> None:
    """Finish or discard a leftover _compacting dir. Complete merge
    (stats.json + victims.json present): delete any surviving victims
    and publish tmp as the next delta=cN — the merged run is (or may
    be) the only copy of those docs. Incomplete merge (no marker):
    the victim deltas were never touched, so tmp is safely
    discardable."""
    from .. import fsio

    if not fsio.exists(tmp):
        return
    vj = os.path.join(tmp, "victims.json")
    if fsio.exists(os.path.join(tmp, "stats.json")) and fsio.exists(vj):
        # seq BEFORE deleting survivors, same monotonic-name argument
        # as maybe_compact: a surviving highest-cN victim must never
        # donate its name to the merged run
        seq = _next_seq(index_root)
        for v in json.loads(fsio.read_text(vj)):
            if fsio.exists(v):
                _dispose_victim(index_root, v)
        fsio.move(tmp, os.path.join(index_root, f"delta=c{seq}"))
    else:
        fsio.rmtree(tmp)


def compact_deltas(
    spark: SparkSession, index_root: str, out_dir: str, cfg=None,
    deltas: list[str] | None = None,
) -> dict:
    """Merge the delta indexes under index_root (or the explicit
    `deltas` subset — the leveled policy's partial merge) into ONE
    index at out_dir — the compaction job a real deployment runs
    periodically so query fan-in stays O(1) instead of O(#deltas).

    Compaction happens at the TOKENS level: each delta's already-
    tokenized rows are re-written (unit ids prefixed with the delta
    epoch so lineage stays collision-free), manifest rows committed,
    then the normal index stage runs over the union. No content is
    re-tokenized, and because doc ordinals / tf / dl depend only on the
    rows themselves, the compacted index is bit-identical to a one-shot
    batch build over the same corpus (asserted in tests) — the same
    guarantee the resumable batch build gives across interruptions.
    Per-delta tombstones (the _bulk facade's deletes) are EXPUNGED at
    merge, Lucene-style: dead docs' token/position rows never enter
    the build, so the merged stats are the live corpus's.
    """
    import json as _json
    import time as _time

    from pyspark.sql import functions as F

    from .. import fsio
    from ..index import manifest as mf
    from ..index.build import (
        TOKENS_FORMAT_VERSION,
        BuildConfig,
        delta_dirs,
        run_index_stage,
    )

    cfg = cfg or BuildConfig(n_buckets=8, hot_group_target=10_000)
    if deltas is None:
        deltas = delta_dirs(index_root)
    if not deltas:
        raise ValueError(f"no delta=* indexes under {index_root}")
    fsio.makedirs(out_dir)
    fsio.write_text(
        os.path.join(out_dir, "format.json"),
        _json.dumps({"tokens_format": TOKENS_FORMAT_VERSION}),
    )
    started = _time.time()

    def _dead_doc_ids(d: str):
        """Global doc_ids tombstoned in delta d (the _bulk facade's
        delete path), resolved via the skinny docs table — or None."""
        ts = os.path.join(d, "tombstones")
        if not fsio.exists(ts):
            return None
        tomb = spark.read.parquet(ts).select("ord").distinct()
        ident = spark.read.parquet(os.path.join(d, "docs")).select(
            "ord", "doc_id"
        )
        return ident.join(F.broadcast(tomb), "ord").select("doc_id")

    parts = []
    for d in deltas:
        eid = fsio.basename(d).split("=", 1)[1]
        t = spark.read.parquet(os.path.join(d, "tokens"))
        # merge EXPUNGES deletes (Lucene merge semantics): tombstoned
        # docs' token rows never enter the compacted build, so the
        # merged index's stats (n_docs/avgdl/df) are those of the live
        # corpus — the same post-merge stats shift Lucene has
        dead = _dead_doc_ids(d)
        if dead is not None:
            t = t.join(F.broadcast(dead), "doc_id", "left_anti")
        parts.append(
            t.withColumn(
                "unit", F.concat(F.lit(f"d{eid}_"), F.col("unit"))
            )
        )
    tokens = parts[0]
    for p in parts[1:]:
        tokens = tokens.unionByName(p)
    (
        tokens.write.mode("overwrite")
        .partitionBy("unit")
        .parquet(os.path.join(out_dir, "tokens"))
    )
    # carry the positions sidecar through the merge (VERDICT r04 #8):
    # positions key by GLOBAL doc_id, so compaction is a plain union
    # with the same lineage-prefixed unit as the tokens — the merged
    # run answers positional phrase queries identically to a batch
    # build with BuildConfig.positions=True. A mixed tree (some deltas
    # positional, some not) fails loudly: a silent partial sidecar
    # would under-match phrases for the missing deltas' docs.
    with_pos = [
        d for d in deltas if fsio.exists(os.path.join(d, "positions"))
    ]
    if with_pos and len(with_pos) != len(deltas):
        raise ValueError(
            "cannot compact a mixed delta tree: positions sidecar "
            f"missing from {sorted(set(deltas) - set(with_pos))}"
        )
    if with_pos:
        pparts = []
        for d in deltas:
            eid = fsio.basename(d).split("=", 1)[1]
            p = spark.read.parquet(os.path.join(d, "positions"))
            dead = _dead_doc_ids(d)
            if dead is not None:
                p = p.join(F.broadcast(dead), "doc_id", "left_anti")
            unit = (
                F.concat(F.lit(f"d{eid}_"), F.col("unit"))
                if "unit" in p.columns
                else F.lit(f"d{eid}")
            )
            pparts.append(p.withColumn("unit", unit))
        pall = pparts[0]
        for p in pparts[1:]:
            pall = pall.unionByName(p)
        (
            pall.write.mode("overwrite")
            .partitionBy("unit")
            .parquet(os.path.join(out_dir, "positions"))
        )
    written = spark.read.parquet(os.path.join(out_dir, "tokens"))
    per_unit = (
        written.groupBy("unit")
        .agg(
            F.sum(F.when(F.col("err").isNull(), 1).otherwise(0)).alias("rows_out"),
            F.sum(
                F.when(F.col("term").isNull() & F.col("err").isNull(), 1).otherwise(0)
            ).alias("n_docs"),
        )
        .collect()
    )
    mf.append_rows(
        out_dir,
        [
            mf.make_row(
                r["unit"],
                "tokenize",
                rows_in=int(r["n_docs"]),
                rows_out=int(r["rows_out"]),
                started_at=started,
                lineage={"compacted_from": len(deltas)},
            )
            for r in per_unit
        ],
    )
    return run_index_stage(spark, out_dir, cfg)


def streaming_anomaly_detector(
    events: DataFrame,
    key: str,
    value_col: str,
    order_col: str,
    identification_keys: list[str] | None = None,
    sample_size: int = 256,
    output_after: int = 32,
    threshold: float = 3.0,
    verbose: bool = False,
):
    """Streaming form of operators.anomaly.anomaly_detector — the true
    analog of the reference's per-group mutable RCF state
    (AnomalyDetectorProcessor.java:85-100 keeps one forest per
    identification-key hash; here applyInPandasWithState keeps one
    trailing-window deque per group, carried across micro-batches).
    Same math as the batch operator: z against the trailing
    `sample_size` values, grade = min(1, max(0, z/threshold - 1)),
    non-verbose suppresses all but the leading edge of an anomaly run.
    Single scored key (`key`); `value_col`/`order_col` name the output.
    """
    import numpy as np
    import pandas as pd

    id_keys = list(identification_keys or [])
    out_schema = (
        ", ".join(f"{k} string" for k in id_keys)
        + (", " if id_keys else "")
        + f"{order_col} long, {value_col} double, "
        "deviation_from_expected double, grade double"
    )
    state_schema = "vals array<double>, n long, prev_anom boolean"

    def fn(kt, pdf_iter, state):
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values(order_col, kind="mergesort")
        kt = kt if id_keys else ()  # the lit(31) group key is synthetic
        vals, n, prev_anom = (
            (list(state.get[0]), int(state.get[1]), bool(state.get[2]))
            if state.exists
            else ([], 0, False)
        )
        out = []
        for oid, v in zip(
            pdf[order_col].to_numpy(), pdf[key].to_numpy(dtype="float64")
        ):
            if not np.isnan(v):
                win = vals[-sample_size:]
                anom = False
                if n >= output_after and len(win) >= 2:
                    mu = float(np.mean(win))
                    sd = float(np.std(win, ddof=1))
                    if sd > 0:
                        z = abs(v - mu) / sd
                        grade = min(1.0, max(0.0, z / threshold - 1.0))
                        anom = grade > 0
                        if anom and (verbose or not prev_anom):
                            out.append((*kt, int(oid), float(v), v - mu, grade))
                vals.append(float(v))
                if len(vals) > sample_size:
                    vals = vals[-sample_size:]
                n += 1
                prev_anom = anom
        state.update((vals, n, prev_anom))
        cols = [*id_keys, order_col, value_col,
                "deviation_from_expected", "grade"]
        yield pd.DataFrame(out, columns=cols)

    grp = [F.col(k).cast("string").alias(k) for k in id_keys] or [
        F.lit("31").alias("__g")
    ]
    return events.groupBy(*grp).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def streaming_service_map(
    spans: DataFrame,
    trace_id: str = "trace_id",
    span_id: str = "span_id",
    parent_span_id: str = "parent_span_id",
    service: str = "service_name",
    window_duration: str | None = None,
):
    """Streaming form of operators.trace.service_map_edges — the true
    analog of the reference's rotating MapDB span windows
    (service-map-stateful/.../ServiceMapStatefulProcessor.java:45:
    spans accumulate per traceId across TWO rotating windows so a
    child arriving in one window finds a parent stored in the
    previous one). Here applyInPandasWithState keys state by traceId:
    each trace's (span_id -> service) map plus its not-yet-resolved
    children carry across micro-batches, so parent/child pairs SPLIT
    ACROSS BATCHES still produce their edge — the case the batch
    self-join only covers because it sees all data at once. Emits
    (source_service, dest_service) append-only, deduped per trace in
    state (the reference's RELATIONSHIP_STATE set is global; the
    consumer's distinct() completes that). `window_duration` maps the
    two-window rotation to a per-trace processing-time TTL: state
    (incl. unresolved children) drops after that idle period, exactly
    like a span evicted with both windows."""
    import pandas as pd

    out_schema = "source_service string, dest_service string"
    state_schema = (
        "sids array<long>, svcs array<string>, "
        "pids array<long>, pdst array<string>, emitted array<string>"
    )
    ttl_ms = None
    if window_duration is not None:
        num, unit = window_duration.split()
        ttl_ms = int(num) * {
            "second": 1000, "seconds": 1000,
            "minute": 60_000, "minutes": 60_000,
            "hour": 3_600_000, "hours": 3_600_000,
        }[unit]

    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        if state.exists:
            sids, svcs, pids, pdst, emitted = (
                list(state.get[0]), list(state.get[1]),
                list(state.get[2]), list(state.get[3]),
                list(state.get[4]),
            )
        else:
            sids, svcs, pids, pdst, emitted = [], [], [], [], []
        span_svc = dict(zip(sids, svcs))
        for r in pdf.itertuples():
            sid = getattr(r, span_id)
            if sid is not None and not pd.isna(sid):
                span_svc[int(sid)] = str(getattr(r, service))
            pid = getattr(r, parent_span_id)
            if pid is not None and not pd.isna(pid):
                pids.append(int(pid))
                pdst.append(str(getattr(r, service)))
        out, still_p, still_d = [], [], []
        seen = set(emitted)
        for pid, dst in zip(pids, pdst):
            src = span_svc.get(pid)
            if src is None:
                # parent not seen yet — hold for a later micro-batch
                still_p.append(pid)
                still_d.append(dst)
            elif src != dst:
                k = f"{src}\x01{dst}"
                if k not in seen:
                    seen.add(k)
                    emitted.append(k)
                    out.append((src, dst))
        state.update((
            list(span_svc.keys()), list(span_svc.values()),
            still_p, still_d, emitted,
        ))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(out, columns=["source_service", "dest_service"])

    return spans.groupBy(F.col(trace_id)).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            "ProcessingTimeTimeout" if ttl_ms is not None else "NoTimeout"
        ),
    )


def streaming_percolate(
    docs_stream: DataFrame,
    stored_queries: DataFrame,
    dfreq: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Streaming percolation — the alerting shape of the reference's
    pipeline (stored queries continuously matched against an incoming
    document stream; reference opensearch-api percolate + Data
    Prepper's route/alert semantics). Reuses the rarest-term-pruned
    percolator (index.query.percolate_pruned): because each stored
    query registers exactly ONE dictionary term and document tokens
    are distinct, the whole pipeline is a STATELESS broadcast join +
    containment filter — it runs in append mode with no state store,
    no watermark, and exact batch-parity (asserted in tests).

    stored_queries/dfreq are static (batch) DataFrames; docs_stream
    is a readStream. Returns a streaming (doc_id, query_id) frame."""
    from ..index.query import percolate_pruned

    return percolate_pruned(
        stored_queries=stored_queries,
        docs=docs_stream,
        dfreq=dfreq,
        text_col=text_col,
        doc_id_col=doc_id_col,
    )


_BINFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def read_otlp_spool(
    spark: SparkSession, spool_dir: str, signal: str, wire: str = "pb"
) -> DataFrame:
    """readStream over the HTTP/OTLP listener's spool (sources/http.py
    writes one atomic file per request): <spool>/<signal>_pb/*.pb for
    the protobuf wire (binaryFile source), <spool>/<signal>/*.ndjson
    for OTLP/JSON (text source, one compact request-document per
    line). Returns a streaming frame with one `body` column — the
    exact input shape the batch decoders take, so the streaming twin
    is the same operator applied to a readStream (VERDICT r04 #7)."""
    if signal not in ("traces", "logs", "metrics"):
        raise ValueError(f"unknown OTLP signal {signal!r}")
    if wire == "pb":
        return (
            spark.readStream.format("binaryFile")
            .schema(_BINFILE_SCHEMA)
            .option("pathGlobFilter", "*.pb")
            .load(os.path.join(spool_dir, f"{signal}_pb"))
            .select(F.col("content").alias("body"))
        )
    if wire == "json":
        return (
            spark.readStream.format("text")
            .load(os.path.join(spool_dir, signal))
            .select(F.col("value").alias("body"))
        )
    raise ValueError(f"unknown wire {wire!r} (pb | json)")


def streaming_otlp_decode(
    stream_df: DataFrame, signal: str, wire: str = "pb",
    source: str = "body",
) -> DataFrame:
    """OTLP decode on a streaming frame. The decoders are pure narrow
    Catalyst maps (from_json / explode / higher-order functions — no
    aggregation, no state), so the BATCH operators apply to a
    readStream unchanged and run in append mode with exact
    batch-parity (asserted in tests). gRPC transport stays documented
    out of scope; this is the spool -> stream -> decode path the HTTP
    listener feeds."""
    from ..operators import otel, otel_pb

    fns = {
        ("traces", "pb"): otel_pb.otel_traces_pb,
        ("logs", "pb"): otel_pb.otel_logs_pb,
        ("metrics", "pb"): otel_pb.otel_metrics_pb,
        ("traces", "json"): otel.otel_traces,
        ("logs", "json"): otel.otel_logs,
        ("metrics", "json"): otel.otel_metrics,
    }
    try:
        fn = fns[(signal, wire)]
    except KeyError:
        raise ValueError(f"unknown (signal, wire) = {(signal, wire)!r}")
    return fn(stream_df, source=source)


def windowed_metric_stats(
    decoded: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    time_col: str = "time",
) -> DataFrame:
    """Tumbling-window rollup over decoded metric events (OTLP or
    prometheus rows — anything with an ISO-8601 `time`, a `name`, and
    a numeric `value`): per (window, metric, service) point count +
    avg/max value, watermarked for late data. The same expression runs
    on a BATCH frame (watermark is a no-op there), which is how the
    parity tests pin stream == batch."""
    src = decoded.withColumn(
        "__ts", F.to_timestamp(F.col(time_col))
    ).withWatermark("__ts", watermark)
    svc = (
        F.col("serviceName")
        if "serviceName" in decoded.columns
        else F.lit(None).cast("string")
    )
    return (
        src.groupBy(
            F.window("__ts", window).alias("w"),
            F.col("name").alias("name"),
            svc.alias("service"),
        )
        .agg(
            F.count("*").alias("n_points"),
            F.avg("value").alias("avg_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "name", "service", "n_points", "avg_value", "max_value",
        )
    )


def streaming_prometheus_decode(
    spark: SparkSession,
    spool_dir: str,
    out_path: str,
    checkpoint: str,
    mode: str = "remote_write",
    now_iso: str = "1970-01-01T00:00:00Z",
):
    """Prometheus decode as a stream: spool -> readStream ->
    foreachBatch(batch decoder) -> append parquet. Unlike the OTLP
    decoders, the prometheus paths REGROUP payload-wide (cumulative
    histogram/summary series collapse via groupBy + broadcast
    base-set joins), which streaming aggregation can't express
    incrementally — but every request body is a self-contained
    WriteRequest / exposition page, so applying the exact batch
    operator per micro-batch inside foreachBatch is semantically
    lossless: stream output == batch decode of the same spool
    (asserted in tests). remote_write spools raw snappy'd protobuf
    bodies (*.pb, binaryFile source); scrape spools text exposition
    pages (one file per scrape, wholetext)."""
    from ..operators.prometheus import (
        prometheus_remote_write,
        prometheus_scrape,
    )

    if mode == "remote_write":
        src = (
            spark.readStream.format("binaryFile")
            .schema(_BINFILE_SCHEMA)
            .option("pathGlobFilter", "*.pb")
            .load(spool_dir)
            .select(F.col("content").alias("body"))
        )

        def decode(bdf: DataFrame) -> DataFrame:
            return prometheus_remote_write(bdf, "body", now_iso=now_iso)

    elif mode == "scrape":
        src = (
            spark.readStream.format("text")
            .option("wholetext", "true")
            .load(spool_dir)
            .select(F.col("value").alias("body"))
        )

        def decode(bdf: DataFrame) -> DataFrame:
            return prometheus_scrape(bdf, "body", now_iso=now_iso)

    else:
        raise ValueError(f"unknown mode {mode!r} (remote_write | scrape)")

    def handle_batch(batch_df: DataFrame, epoch_id: int):
        if batch_df.isEmpty():
            return
        decode(batch_df).write.mode("append").parquet(out_path)

    return (
        src.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
