"""One benchmark workload, run in this (child) process.

    python3 perfbench/workloads.py <workload> <seed> <seconds> <trace> <work_dir>

run.py starts this as the leader of its own session and owns its
lifetime. The result is written as JSON to <work_dir>/result.json.
Everything the run writes (corpus, indexes, spool, Spark local dir,
event log) lives under <work_dir>, which run.py deletes.

Each workload is a closed loop with one client: the next operation is
sent when the previous one has returned. Operations are timed from the
benchmark's side of the call. Answers are checked after the timed
region, and every wrong answer counts as a failed operation.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.getcwd())  # run from the checkout root

import gen  # noqa: E402
from trace import Tracer, job_metrics, self_times, span_metrics  # noqa: E402

K = 10
SCORE_TOL = 1e-6
DRIVER_MEMORY = "2g"

SERVE_DOCS = 1_600
SERVE_POOL = 80
COLD_EVERY = 10  # every 10th single query is topk_one_cold
BATCH_EVERY = 7  # every 7th stream op is a batch topk pass, the rest single queries
WARM_BATCHES = 2  # untimed batch passes before the stream
BATCH_PROBE = 40  # queries in each traced-run batch probe per mode

INGEST_BASE_DOCS = 400
INGEST_BATCH_DOCS = 200
DELETE_FRAC = 0.05
INGEST_BATCHES = 1
NEW_PROBES, DELETED_PROBES = 3, 2
DELTA_BATCH = 40  # queries in a batched topk_deltas call
# untimed topk_deltas calls after the last compaction, True for a
# single-query call and False for a DELTA_BATCH-query one: the first
# calls over a freshly compacted store ran up to 1.5x slower
DELTA_WARMUP = (True, True, False)
COMPACT_MAX_DELTAS = 1
COMPACT_FAN_IN = 2

LAYERS = (
    "session", "tokenizer", "index.build", "index.manifest", "index.codec",
    "index.query", "sources.bulk_api", "streaming.pipeline", "bench",
)
EMPTY = pd.DataFrame(columns=["query_id", "rank", "doc_id", "score"])


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n) of the highest percentile that still has
    at least ten samples beyond it; None below 11 samples."""
    n = len(values)
    if n < 11:
        return None
    p = 100.0 * (n - 10) / n
    return float(np.percentile(values, p, method="lower")), p, n


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path) for f in files
    )


def same_topk(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Same doc at every rank, scores within SCORE_TOL."""
    g, w = got.sort_values("rank"), want.sort_values("rank")
    if len(g) != len(w):
        return False
    return not len(g) or bool(
        (g["doc_id"].to_numpy(np.int64) == w["doc_id"].to_numpy(np.int64)).all()
        and np.abs(g["score"].to_numpy(float) - w["score"].to_numpy(float)).max()
        < SCORE_TOL
    )


def by_query(df: pd.DataFrame) -> dict[int, pd.DataFrame]:
    return {int(q): g for q, g in df.groupby("query_id")}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def bulk_doc_ids(paths: list[str]) -> list[int]:
    """Engine doc ids of `_bulk` docs (`_index` -> repo, `_id` -> path,
    commit "bulk")."""
    from data_prepper_spark.oracle import corpus_doc_ids

    return corpus_doc_ids(pd.DataFrame(
        {"repo": "bench", "path": paths, "commit": "bulk"}
    )).tolist()


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = Tracer(trace)
        self.spark = None
        self.session = None  # open QuerySession, closed before the Spark stop
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.named: list[tuple[str, float, str, str]] = []
        self.layer: dict[str, float] = {}
        self.op_spans: list[dict] = []  # root span of every timed op
        self.watch: dict[str, list[dict]] = {}  # spans kept for job counts

    def span(self, layer: str, name: str, watch: str | None = None):
        """Span around one call into `layer`; `watch` files it under a
        key whose Spark jobs and tasks are counted in the traced run."""
        cm = self.tracer.span(layer, name)
        if watch is None or not self.tracer.enabled:
            return cm
        return _Watched(cm, self.watch.setdefault(watch, []))

    def op(self, name: str, request: str):
        """Root span of one timed operation; its wall time is the
        workload's wall clock the layers must account for."""
        if not self.tracer.enabled:
            return contextlib.nullcontext()
        return _Watched(self.tracer.span("bench", name, request), self.op_spans)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"WRONG ANSWER: {what}")

    def name(self, metric: str, value: float, unit: str, note: str = "") -> None:
        self.named.append((metric, float(value), unit, note))

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    # -- session -------------------------------------------------------
    def start_session(self) -> None:
        """get_spark plus a first job: the JVM launch, which a process
        does once. Python workers start with the first job that needs
        them."""
        from data_prepper_spark.session import get_spark

        conf = {
            "spark.local.dir": self.dir("spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # keep the JVM's temp files and perf data out of /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.dir('tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer.enabled:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.dir("events")
            conf["spark.eventLog.compress"] = "false"
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["TMPDIR"] = self.dir("tmp")
        t0 = time.perf_counter()
        with self.span("session", "get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{min(4, os.cpu_count() or 1)}]",
                extra_conf=conf,
            )
            self.tracer.bind(self.spark)
            self.spark.range(1).count()
        self.layer["session.start_s"] = time.perf_counter() - t0
        log(f"session started in {self.layer['session.start_s']:.1f}s")

    def close(self) -> None:
        try:
            if self.session is not None:
                self.session.close()
        finally:
            if self.spark is not None:
                self.spark.stop()

    # -- layer calls ---------------------------------------------------
    def build(self, corpus_dir: str, index_dir: str) -> None:
        from data_prepper_spark.index.build import (
            BuildConfig, run_index_stage, run_tokenize_stage,
        )

        cfg = BuildConfig()
        os.makedirs(index_dir, exist_ok=True)
        with self.span("index.build", "run_tokenize_stage", "build.tokenize"):
            run_tokenize_stage(self.spark, corpus_dir, index_dir, cfg)
        with self.span("index.build", "run_index_stage", "build.index"):
            run_index_stage(self.spark, index_dir, cfg)

    def quarantined(self, index_dir: str) -> set:
        from data_prepper_spark.index.build import read_quarantine

        with self.span("index.build", "read_quarantine"):
            q = read_quarantine(self.spark, index_dir).select(
                "repo", "path", "commit"
            ).toPandas()
        return set(map(tuple, q.to_numpy().tolist()))

    def manifest_rows(self, index_dir: str) -> int:
        from data_prepper_spark.index.manifest import read_manifest

        with self.span("index.manifest", "read_manifest"):
            return len(read_manifest(index_dir))

    # -- probes (traced run, after the timed region) -------------------
    def probe_tokenizer(self, contents: list[str]) -> None:
        """The tokenizer kernel over the workload's content on the
        driver: its CPU cost with no Arrow/Python boundary in front."""
        from data_prepper_spark.tokenizer import tokenize_flat_arrow

        arr = pa.array(contents, pa.string())
        tokenize_flat_arrow(arr[:50])
        with self.span("tokenizer", "tokenize_flat_arrow"):
            t0 = time.perf_counter()
            flat, _, _ = tokenize_flat_arrow(arr)
            self.layer["tokenizer.kernel_s"] = time.perf_counter() - t0
        self.layer["tokenizer.tokens"] = len(flat)

    def probe_index(self, index_dirs: list[str]) -> None:
        """Index size counts, and decode_many over every postings
        block."""
        from data_prepper_spark.index.codec import decode_many

        docs, tfs, terms, size = [], [], 0, 0
        for d in index_dirs:
            post = os.path.join(d, "postings")
            size += du(post)
            t = pq.ParquetDataset(post).read(columns=["docs", "tfs"])
            docs += t.column("docs").to_pylist()
            tfs += t.column("tfs").to_pylist()
            terms += pq.ParquetDataset(os.path.join(d, "terms")).read(
                columns=["term_id"]).num_rows
        self.layer["index.postings_bytes"] = size
        self.layer["index.blocks"] = len(docs)
        self.layer["index.terms"] = terms
        with self.span("index.codec", "decode_many"):
            t0 = time.perf_counter()
            v, _ = decode_many(docs, deltas=True)
            w, _ = decode_many(tfs, deltas=False)
            dt = time.perf_counter() - t0
        self.layer["codec.decode_values_per_s"] = (len(v) + len(w)) / dt

    # -- workloads -----------------------------------------------------
    def build_serve(self) -> None:
        """Timed: one cold build of the corpus into an empty directory
        (the first build of the process pays JIT and Python worker
        start, as a one-shot build job does), QuerySession open + warm
        and a first query; then, after an untimed warm-up of each path,
        a stream for `seconds` in which every BATCH_EVERY-th op is a
        batch topk(mode="auto") pass over the query pool and the rest
        are single queries -- query kinds in a fixed cycle, every
        COLD_EVERY-th one topk_one_cold, the rest warm topk_one."""
        from data_prepper_spark.index.query import QuerySession, topk_one_cold
        from data_prepper_spark.oracle import bm25_topk

        t_setup = time.perf_counter()
        pdf, bad = gen.corpus(self.seed, SERVE_DOCS)
        pool = gen.queries(self.seed, SERVE_POOL)
        corpus_dir = self.dir("corpus")
        for i in range(4):  # a part file is the build's resumable unit
            pq.write_table(
                pa.Table.from_pandas(pdf.iloc[i::4].drop(columns=["lang"]),
                                     preserve_index=False),
                os.path.join(corpus_dir, f"part-{i:05d}.parquet"),
            )
        idx = os.path.join(self.work, "idx")
        self.start_session()
        self.e2e["setup_s"] = time.perf_counter() - t_setup

        with self.op("build", "build"):
            t0 = time.perf_counter()
            self.build(corpus_dir, idx)
            t1 = time.perf_counter()
            with self.span("index.query", "QuerySession.warm"):
                self.session = sess = QuerySession(self.spark, idx).warm()
            t2 = time.perf_counter()
            with self.span("index.query", "topk_one"):
                first = sess.topk_one(pool["query"].iloc[0], k=K)
            t3 = time.perf_counter()
        stream = [(0, False, first)]
        batches = []
        log(f"build {t1 - t0:.1f}s, session open {t2 - t1:.1f}s")
        self.layer["query.session_open_s"] = t2 - t1

        # warm-up: every path before the timed stream. Batch passes keep
        # getting faster for several passes (JIT), so warm them twice
        for kind in gen.QUERY_KINDS[:5]:
            sess.topk_one(pool[pool["kind"] == kind]["query"].iloc[0], k=K)
        topk_one_cold(self.spark, idx, pool["query"].iloc[1], k=K)
        pool_df = self.spark.createDataFrame(pool[["query_id", "query"]])
        for _ in range(WARM_BATCHES):
            sess.topk(pool_df, k=K, mode="auto").toPandas()
        log("warm-up done")
        rng = np.random.default_rng([self.seed, 11])
        by_kind = {k: pool.index[pool["kind"] == k].to_numpy()
                   for k in gen.QUERY_KINDS}
        lat = []  # (query_id, cold, ms)
        batch_s = []
        elapsed, i, n_ops = 0.0, 0, 0
        while elapsed < self.seconds or not batch_s:
            n_ops += 1
            if n_ops % BATCH_EVERY == 0:
                with self.op("batch", f"batch{len(batch_s)}"):
                    t = time.perf_counter()
                    with self.span("index.query", "topk"):
                        batch = sess.topk(pool_df, k=K, mode="auto").toPandas()
                    dt = time.perf_counter() - t
                elapsed += dt
                batch_s.append(dt)
                batches.append(batch)
                continue
            # the kind mix and the cold share are the same in every run
            qid = int(rng.choice(by_kind[gen.QUERY_KINDS[i % len(gen.QUERY_KINDS)]]))
            cold = i % COLD_EVERY == COLD_EVERY - 1
            text = pool["query"].iloc[qid]
            fn = "topk_one_cold" if cold else "topk_one"
            with self.op("query", f"q{i}"):
                t = time.perf_counter()
                with self.span("index.query", fn, f"query.{fn}"):
                    if cold:
                        res = topk_one_cold(self.spark, idx, text, k=K,
                                            query_id=qid)
                    else:
                        res = sess.topk_one(text, k=K, query_id=qid)
                dt = time.perf_counter() - t
            elapsed += dt
            lat.append((qid, cold, dt * 1e3))
            stream.append((qid, cold, res))
            i += 1
        log(f"timed stream of {len(lat)} queries, batch passes "
            f"{[round(b, 2) for b in batch_s]}")
        # -- correctness: every answer against the oracle; the build's
        # quarantine must be exactly the injected bad-sha rows
        gold = by_query(bm25_topk(
            pdf[pdf["content_sha256"] != gen.BAD_SHA],
            pool[["query_id", "query"]], k=K,
        ))
        quarantined = self.quarantined(idx)
        self.check(quarantined == set(map(tuple, bad.to_numpy().tolist())),
                   "quarantine != injected bad-sha rows")
        for batch in batches:
            got = by_query(batch)
            for q in range(SERVE_POOL):
                self.check(same_topk(got.get(q, EMPTY), gold.get(q, EMPTY)),
                           f"batch topk, query {q}")
        for qid, cold, res in stream:
            self.check(same_topk(res, gold.get(qid, EMPTY)),
                       f"topk_one{'_cold' if cold else ''}, query {qid}")

        all_ms = [x[2] for x in lat]
        warm_ms = [x[2] for x in lat if not x[1]]
        cold_ms = [x[2] for x in lat if x[1]]
        self.e2e.update({
            "build_files_per_s": len(pdf) / (t1 - t0),
            "searchable_ms": (t3 - t0) * 1e3,
            "query_p50_ms": statistics.median(all_ms),
            "batch_queries_per_s": SERVE_POOL / statistics.median(batch_s),
            "index_bytes_per_corpus_byte":
                du(idx) / int(pdf["content"].str.len().sum()),
        })
        self.name("build_files_per_s", self.e2e["build_files_per_s"], "1/s",
                  f"{len(pdf)} files, cold")
        self.name("searchable_ms", self.e2e["searchable_ms"], "ms",
                  "build + session open + first answer")
        self.name("query_p50_ms", statistics.median(all_ms), "ms",
                  f"mixed stream, n={len(all_ms)}")
        self.name("warm_query_p50_ms", statistics.median(warm_ms), "ms",
                  f"n={len(warm_ms)}")
        self._tail("warm_query_tail_ms", warm_ms)
        if cold_ms:
            self.name("cold_query_p50_ms", statistics.median(cold_ms), "ms",
                      f"n={len(cold_ms)}")
        self._tail("cold_query_tail_ms", cold_ms)
        self.name("batch_queries_per_s", self.e2e["batch_queries_per_s"],
                  "1/s", f"{SERVE_POOL} queries, mode=auto, "
                  f"median of {len(batch_s)} passes")
        log("answers checked")
        if not self.tracer.enabled:
            return
        self.layer["manifest.rows"] = self.manifest_rows(idx)
        self.layer["build.quarantine_rows"] = len(quarantined)
        kinds = pool["kind"].to_numpy()
        for kind in ("hot", "rare", "multi"):
            v = [ms for qid, cold, ms in lat if not cold and kinds[qid] == kind]
            self.layer[f"query.{kind}_p50_ms"] = statistics.median(v) if v else 0.0
        self.probe_tokenizer(pdf["content"].tolist())
        self.probe_index([idx])
        from data_prepper_spark.index.build import load_stats
        from data_prepper_spark.index.query import analyze_query_py

        stats = load_stats(idx)
        with self.span("index.query", "analyze_query_py"):
            t = time.perf_counter()
            for text in pool["query"]:
                analyze_query_py(stats, text)
            self.layer["query.analyze_us"] = (
                (time.perf_counter() - t) / SERVE_POOL * 1e6
            )
        sub = self.spark.createDataFrame(pool[["query_id", "query"]].iloc[:BATCH_PROBE])
        for mode in ("exhaustive", "blockmax"):
            t = time.perf_counter()
            with self.span("index.query", f"topk[{mode}]"):
                res = by_query(sess.topk(sub, k=K, mode=mode).toPandas())
            self.layer[f"query.batch_{mode}_s"] = time.perf_counter() - t
            for q in range(BATCH_PROBE):
                self.check(same_topk(res.get(q, EMPTY), gold.get(q, EMPTY)),
                           f"batch topk mode={mode}, query {q}")

    def ingest_delta(self) -> None:
        """Set-up: a base delta made by one `_bulk` request, and one
        warm-up topk_deltas. Timed, per batch (INGEST_BATCHES): a
        seeded `_bulk` request (new docs + ~5% deletes) through
        parse_bulk and bulk_apply, then one topk_deltas call that must
        find new docs by their marker token and must not find deleted
        ones; then the leveled compaction hook. Then, after an untimed
        warm-up, single-query and DELTA_BATCH-query topk_deltas calls in
        turn over the store for `seconds`."""
        from data_prepper_spark.index.query import topk_deltas

        root, spool = self.dir("store"), self.dir("spool")
        docs: dict[str, str] = {}  # id -> content of every doc ever sent
        live: list[str] = []
        deleted: set[str] = set()
        pool = gen.queries(self.seed, SERVE_POOL)

        def send(batch: int, n_new: int) -> tuple[pd.DataFrame, list[str]]:
            body, new, dels = gen.bulk_batch(
                self.seed, batch, n_new, live, DELETE_FRAC
            )
            self._bulk(body, batch, spool, root)
            docs.update(zip(new["id"], new["content"]))
            live.extend(new["id"])
            for d in dels:
                live.remove(d)
            deleted.update(dels)
            return new, dels

        def query(queries: list[tuple[int, str]]) -> pd.DataFrame:
            q = self.spark.createDataFrame(queries, "query_id long, query string")
            with self.span("index.query", "topk_deltas", "query.deltas"):
                return topk_deltas(self.spark, root, q, k=K).toPandas()

        t_setup = time.perf_counter()
        self.start_session()
        send(0, INGEST_BASE_DOCS)
        query([(0, pool["query"].iloc[0])])
        self.e2e["setup_s"] = time.perf_counter() - t_setup
        log("base delta and warm-up query done")

        rng = np.random.default_rng([self.seed, 13])
        # per snapshot of the store: (present ids, [(queries, answer)])
        views: list[tuple[set, list]] = []
        probes = []  # (answer, new-doc ids, deleted ids) of each visibility call
        apply_s, visible_ms, merge_s = [], [], []
        rewritten = max_live = n_new = 0
        for batch in range(1, INGEST_BATCHES + 1):
            with self.op("ingest", f"b{batch}"):
                t0 = time.perf_counter()
                new, dels = send(batch, INGEST_BATCH_DOCS)
                t1 = time.perf_counter()
                picks = sorted(rng.choice(len(new), NEW_PROBES, replace=False))
                probes_new = [new["id"].iloc[j] for j in picks]
                probes_del = dels[:DELETED_PROBES]
                # a marker token is in exactly one doc
                vis = [(1000 + n, docs[i].split(" ", 1)[0])
                       for n, i in enumerate(probes_new + probes_del)]
                res = query(vis)
                t2 = time.perf_counter()
            views.append((self._present(root), [(vis, res)]))
            probes.append((res, probes_new, probes_del))
            with self.op("compact", f"b{batch}"):
                t3 = time.perf_counter()
                max_live = max(max_live, len(self._deltas(root)))
                merged = self._compact(root)
                t4 = time.perf_counter()
            apply_s.append(t1 - t0)
            visible_ms.append((t2 - t0) * 1e3)
            if merged is not None:
                merge_s.append(t4 - t3)
                rewritten += merged
            n_new += len(new)
            log(f"batch {batch}: apply {t1 - t0:.1f}s, visible query "
                f"{t2 - t1:.1f}s, compact {t4 - t3:.1f}s")

        answers = []
        views.append((self._present(root), answers))

        def ask(single: bool) -> float:
            ids = ([int(rng.integers(SERVE_POOL))] if single else
                   rng.choice(SERVE_POOL, DELTA_BATCH, replace=False).tolist())
            q = [(int(i), pool["query"].iloc[i]) for i in ids]
            t = time.perf_counter()
            answers.append((q, query(q)))
            return time.perf_counter() - t

        for single in DELTA_WARMUP:
            ask(single)
        query_ms, qps = [], []
        elapsed = 0.0
        while elapsed < self.seconds or not qps:
            single = len(query_ms) <= len(qps)  # in turn, single first
            with self.op("delta_query" if single else "delta_batch",
                         f"q{len(query_ms) + len(qps)}"):
                dt = ask(single)
            if single:
                query_ms.append(dt * 1e3)
            else:
                qps.append(DELTA_BATCH / dt)
            elapsed += dt
        log(f"delta queries {[round(x) for x in query_ms]} ms, batch calls "
            f"{[round(x, 1) for x in qps]} queries/s")

        # -- correctness: each new-doc marker finds exactly its doc, each
        # deleted-doc marker finds nothing, every answer is the oracle's
        for res, probes_new, probes_del in probes:
            got = by_query(res)
            for n, want in enumerate(bulk_doc_ids(probes_new)):
                r = got.get(1000 + n, EMPTY)
                self.check(len(r) == 1 and int(r["doc_id"].iloc[0]) == want,
                           f"new doc {probes_new[n]} not visible: {r.to_dict('list')}")
            for n, d in enumerate(probes_del):
                r = got.get(1000 + len(probes_new) + n, EMPTY)
                self.check(len(r) == 0, f"deleted doc {d} still visible")
        for present, answers in views:
            want = self._oracle(
                sorted({q for queries, _ in answers for q in queries}),
                docs, present, deleted,
            )
            for queries, res in answers:
                got = by_query(res)
                for qid, text in queries:
                    self.check(
                        same_topk(got.get(qid, EMPTY), want.get(qid, EMPTY)),
                        f"topk_deltas {text!r}: {got.get(qid, EMPTY).to_dict('list')}"
                        f" != {want.get(qid, EMPTY).to_dict('list')}")

        ingested = sum(len(c) for c in docs.values())
        write_s = sum(apply_s) + sum(merge_s)
        self.e2e.update({
            "build_files_per_s": n_new / write_s,
            "searchable_ms": statistics.median(visible_ms),
            "query_p50_ms": statistics.median(query_ms),
            "batch_queries_per_s": statistics.median(qps),
            "index_bytes_per_corpus_byte": du(root) / ingested,
        })
        self.name("ingest_docs_per_s", n_new / write_s, "1/s",
                  f"{INGEST_BATCHES} batches, apply + compaction")
        self.name("ingest_visible_p50_ms", self.e2e["searchable_ms"], "ms",
                  f"n={len(visible_ms)}")
        self.name("delta_query_p50_ms", self.e2e["query_p50_ms"], "ms",
                  f"n={len(query_ms)}, single-query calls")
        self.name("delta_batch_queries_per_s", self.e2e["batch_queries_per_s"],
                  "1/s", f"{DELTA_BATCH} queries per call, n={len(qps)}")
        self.layer["bulk_api.apply_s"] = statistics.median(apply_s)
        self.layer["compact.merge_s"] = statistics.median(merge_s) if merge_s else 0.0
        self.layer["compact.bytes_rewritten_per_ingested_byte"] = rewritten / ingested
        self.layer["compact.max_live_deltas"] = max_live
        if self.tracer.enabled:
            deltas = self._deltas(root)
            self.layer["manifest.rows"] = sum(self.manifest_rows(d) for d in deltas)
            self.probe_tokenizer(list(docs.values()))
            self.probe_index(deltas)

    # -- ingest helpers --------------------------------------------------
    def _bulk(self, body: bytes, batch: int, spool: str, root: str) -> None:
        """Accept one `_bulk` request the way the HTTP listener does --
        parse it, spool the accepted ops atomically under bulk/ -- and
        apply it. No listener is started."""
        from data_prepper_spark.sources.bulk_api import bulk_apply, parse_bulk

        with self.span("sources.bulk_api", "parse_bulk"):
            _, ops, errors = parse_bulk(body)
        if errors:
            raise RuntimeError(f"_bulk batch {batch} reported item errors")
        os.makedirs(os.path.join(spool, "bulk"), exist_ok=True)
        tmp = os.path.join(spool, f"{batch:06d}.tmp")
        with open(tmp, "w") as f:
            f.writelines(json.dumps(o, separators=(",", ":")) + "\n" for o in ops)
        os.replace(tmp, os.path.join(spool, "bulk", f"{batch:06d}.ndjson"))
        with self.span("sources.bulk_api", "bulk_apply", "bulk_api.apply"):
            bulk_apply(self.spark, spool, root)

    @staticmethod
    def _deltas(root: str) -> list[str]:
        return sorted(os.path.join(root, d) for d in os.listdir(root)
                      if d.startswith("delta="))

    def _compact(self, root: str) -> int | None:
        """The leveled compaction hook; returns the bytes of the deltas
        it merged, or None when the delta count was within bound."""
        from data_prepper_spark.streaming.pipeline import maybe_compact

        sizes = {d: du(d) for d in self._deltas(root)}
        with self.span("streaming.pipeline", "maybe_compact"):
            out = maybe_compact(
                self.spark, root, os.path.join(self.work, "compacted"),
                max_deltas=COMPACT_MAX_DELTAS, policy="leveled",
                fan_in=COMPACT_FAN_IN,
            )
        if out is None:
            return None
        return sum(sizes[d] for d in set(sizes) - set(self._deltas(root)))

    def _present(self, root: str) -> set[str]:
        """Ids of the docs the live deltas hold -- tombstoned ones too,
        until a merge expunges them: the BM25 statistics' corpus."""
        return {
            p for d in self._deltas(root)
            for p in pq.ParquetDataset(os.path.join(d, "docs")).read(
                columns=["path"]).column("path").to_pylist()
        }

    def _oracle(self, queries, docs, present, deleted) -> dict:
        """BM25 over the present docs, deleted ones dropped from the
        ranking (Lucene delete semantics)."""
        from data_prepper_spark.oracle import bm25_topk

        ids = sorted(present)
        corpus = pd.DataFrame({"repo": "bench", "path": ids, "commit": "bulk",
                               "content": [docs[i] for i in ids]})
        dead = set(bulk_doc_ids(sorted(present & deleted)))
        gold = bm25_topk(corpus, pd.DataFrame(queries, columns=["query_id", "query"]),
                         k=K + len(dead))
        gold = gold[~gold["doc_id"].isin(dead)].sort_values(["query_id", "rank"])
        gold["rank"] = gold.groupby("query_id").cumcount() + 1
        return by_query(gold[gold["rank"] <= K])

    # -- traced-run reduction ------------------------------------------
    def _tail(self, metric: str, values: list[float]) -> None:
        t = tail(values)
        if t is not None:
            self.name(metric, t[0], "ms", f"p{t[1]:.1f}, n={t[2]}")

    def finish_trace(self, jobs: dict) -> None:
        """Per-layer self time over the timed ops, their share of the
        ops' wall clock, and Spark job/task counts per watched call."""
        spans = self.tracer.spans
        wall = sum(s["end"] - s["start"] for s in self.op_spans)
        selfs: dict[str, float] = {}
        for op in self.op_spans:
            for layer, v in self_times(spans, op["id"]).items():
                selfs[layer] = selfs.get(layer, 0.0) + v
        for layer in LAYERS:
            self.layer[f"layer.{layer}.self_s"] = selfs.get(layer, 0.0)
        self.layer["trace.coverage"] = 1.0 - selfs.get("bench", 0.0) / wall
        self.layer["trace.spans"] = len(spans)
        self.layer["trace.cost_share"] = self.tracer.cost_s / wall
        # the traced run's own end-to-end latencies: set against the
        # untraced run's they give the whole tracing overhead, event
        # log included
        self.layer["trace.query_p50_ms"] = self.e2e["query_p50_ms"]
        self.layer["trace.searchable_ms"] = self.e2e["searchable_ms"]

        def mean(key: str, field: str) -> float:
            sps = self.watch.get(key, [])
            return (sum(span_metrics(spans, jobs, s).get(field, 0) for s in sps)
                    / len(sps)) if sps else 0.0

        def med_s(key: str) -> float:
            sps = self.watch.get(key, [])
            return statistics.median(s["end"] - s["start"] for s in sps) if sps else 0.0

        self.layer["build.tokenize_stage_s"] = med_s("build.tokenize")
        self.layer["build.index_stage_s"] = med_s("build.index")
        self.layer["build.tokenize_task_s"] = mean("build.tokenize", "executor_run_s")
        for f in ("shuffle_write_bytes", "spill_bytes", "tasks",
                  "executor_cpu_s", "executor_run_s", "gc_s"):
            self.layer[f"build.{f}"] = mean("build.tokenize", f) + mean("build.index", f)
        self.layer["query.warm_jobs_per_query"] = mean("query.topk_one", "jobs")
        self.layer["query.warm_tasks_per_query"] = mean("query.topk_one", "tasks")
        self.layer["query.cold_jobs_per_query"] = mean("query.topk_one_cold", "jobs")
        self.layer["query.cold_input_bytes_per_query"] = mean(
            "query.topk_one_cold", "input_bytes")
        self.layer["bulk_api.jobs_per_apply"] = mean("bulk_api.apply", "jobs")
        self.layer["query.deltas_jobs_per_query"] = mean("query.deltas", "jobs")


class _Watched:
    """Context manager that files the finished span in `sink`."""

    def __init__(self, cm, sink: list):
        self.cm, self.sink = cm, sink

    def __enter__(self):
        self.rec = self.cm.__enter__()
        return self.rec

    def __exit__(self, *exc):
        out = self.cm.__exit__(*exc)
        self.sink.append(self.rec)
        return out


def main(argv: list[str]) -> int:
    workload, seed, seconds, trace, work = argv
    run = Run(workload, int(seed), float(seconds), trace == "1", work)
    try:
        {"build_serve": run.build_serve, "ingest_delta": run.ingest_delta}[workload]()
    finally:
        run.close()
        log("session closed")
    out = {"attempted": run.attempted, "failed": run.failed,
           "e2e": run.e2e, "named": run.named}
    if run.tracer.enabled:
        run.finish_trace(job_metrics(os.path.join(work, "events")))
        run.tracer.write(os.path.join(work, "spans.jsonl"))
        out["layer"] = run.layer
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
