"""OpenSearch `_bulk` API facade.

The reference ships events INTO an OpenSearch cluster through the
`_bulk` endpoint (opensearch sink: BulkRetryStrategy / AccumulatingBulkRequest
around action+document NDJSON pairs); downstream, users and tools
(Logstash, Beats, the reference's own opensearch sink) speak the same
wire shape. This module is the ACCEPTING side of that contract so a
pipeline pointed at OpenSearch can point here instead:

- `parse_bulk` implements the NDJSON action-line grammar
  (index / create / delete / update with partial `doc` bodies +
  doc_as_upsert; scripted updates are reported per-item as
  unsupported, never a request-level failure) and produces both the
  per-item response the caller gets back and the flat op rows the
  engine ingests.
- `HttpSource` (sources/http.py) routes POST /_bulk and
  /{index}/_bulk through it, answers the standard
  `{took, errors, items:[...]}` body, and spools accepted ops
  atomically under `bulk/` — same spool contract as the log path.
- `bulk_apply` (the Spark side) turns spooled ops into engine state:
  indexed docs become ONE immutable index delta under
  index_root/delta=N (the streaming incremental_index layout —
  queries see them via topk_deltas / compact_deltas), deletes become
  per-delta tombstones resolved with one broadcast identity join per
  delta. Actions apply in bulk order: deletes run after the batch's
  own delta is built, so index-then-delete within one request ends
  deleted, exactly the sequential `_bulk` semantics.

Doc -> corpus mapping: `_index` -> repo, `_id` -> path (commit is the
constant "bulk"); the indexed text is the doc's `content` field when
present, else the compact JSON of the whole doc — so schemaless events
remain searchable. content_sha256 is computed engine-side at index
time (the build's per-row invariant).
"""

from __future__ import annotations

import json
import os


def parse_bulk(body: bytes, default_index: str | None = None):
    """Parse a `_bulk` NDJSON payload.

    Returns (items, ops, errors):
      items  — per-action response dicts in request order, the
               `items` array of the bulk response
      ops    — accepted operations as flat dicts
               {op, index, id, content, doc_json} ready to spool
      errors — True when any item carries an error (the response's
               top-level `errors` flag; the request itself still
               succeeds, matching OpenSearch per-item semantics)
    """
    try:
        lines = body.decode("utf-8").splitlines()
    except UnicodeDecodeError:
        raise ValueError("bulk body is not UTF-8")
    items, ops = [], []
    errors = False
    i, n = 0, len(lines)
    seq = 0
    while i < n:
        raw = lines[i].strip()
        i += 1
        if not raw:
            continue
        try:
            action = json.loads(raw)
            ((op, meta),) = action.items()
            if not isinstance(meta, dict):
                raise ValueError("action metadata must be an object")
        except (ValueError, AttributeError):
            raise ValueError(f"Malformed action line: {raw[:80]!r}")
        index = meta.get("_index", default_index)
        if op in ("index", "create"):
            if i >= n:
                raise ValueError("action line without a document line")
            try:
                doc = json.loads(lines[i])
            except ValueError:
                raise ValueError("Malformed document line")
            i += 1
            if index is None:
                items.append({op: {"status": 400, "error": {
                    "type": "illegal_argument_exception",
                    "reason": "no _index and no default index",
                }}})
                errors = True
                continue
            seq += 1
            doc_id = meta.get("_id", f"_auto_{seq}")
            content = doc.get("content")
            if not isinstance(content, str):
                content = json.dumps(doc, separators=(",", ":"))
            ops.append({
                "op": "index",
                "index": str(index),
                "id": str(doc_id),
                "content": content,
                "doc_json": json.dumps(doc, separators=(",", ":")),
            })
            items.append({op: {
                "_index": str(index), "_id": str(doc_id),
                "status": 201, "result": "created",
            }})
        elif op == "delete":
            if index is None or "_id" not in meta:
                items.append({op: {"status": 400, "error": {
                    "type": "illegal_argument_exception",
                    "reason": "delete needs _index and _id",
                }}})
                errors = True
                continue
            ops.append({
                "op": "delete",
                "index": str(index),
                "id": str(meta["_id"]),
                "content": "",
                "doc_json": "",
            })
            items.append({op: {
                "_index": str(index), "_id": str(meta["_id"]),
                "status": 200, "result": "deleted",
            }})
        elif op == "update":
            # partial-doc update (delete + reindex of the merged
            # source at apply time; `doc_as_upsert` seeds missing
            # docs). Scripted updates stay per-item unsupported.
            if i >= n:
                raise ValueError("update action without a document line")
            try:
                body_doc = json.loads(lines[i])
            except ValueError:
                raise ValueError("Malformed document line")
            i += 1
            if index is None or "_id" not in meta:
                items.append({op: {"status": 400, "error": {
                    "type": "illegal_argument_exception",
                    "reason": "update needs _index and _id",
                }}})
                errors = True
                continue
            if "script" in body_doc or "doc" not in body_doc:
                items.append({op: {"status": 400, "error": {
                    "type": "illegal_argument_exception",
                    "reason": "update supports partial `doc` bodies "
                    "(scripted updates are not supported)",
                }}})
                errors = True
                continue
            ops.append({
                "op": "update",
                "index": str(index),
                "id": str(meta["_id"]),
                "content": "",
                "doc_json": json.dumps({
                    "doc": body_doc["doc"],
                    "doc_as_upsert": bool(
                        body_doc.get("doc_as_upsert", False)
                    ),
                }, separators=(",", ":")),
            })
            items.append({op: {
                "_index": str(index), "_id": str(meta["_id"]),
                "status": 200, "result": "updated",
            }})
        else:
            raise ValueError(f"Unknown bulk action '{op}'")
    return items, ops, errors


def bulk_apply(spark, spool_dir: str, index_root: str, cfg=None) -> dict:
    """Apply every spooled `_bulk` op under <spool_dir>/bulk to the
    delta-index store at index_root, then retire the consumed spool
    files (rename to .applied so a re-run is idempotent).

    Indexed docs across all pending requests build ONE delta
    (index_root/delta=N via the batch builder — tokenize, posting
    blocks, manifest); deletes then resolve to per-delta tombstones
    with one broadcast join per delta against its skinny docs table.
    Returns {"indexed": n, "deleted": n, "delta_dir": path|None}.

    Scale shape: the build is the normal distributed index build over
    the spooled batch; delete resolution reads only (ord, repo, path)
    columns per delta and appends tombstone-set-sized parquet — no
    postings rewrite. The O(#deltas) fan-in is the same one
    compact_deltas exists to reclaim.
    """
    from pyspark.sql import functions as F

    from .. import fsio
    from ..index.build import BuildConfig, build_index, delta_dirs
    from ..streaming.pipeline import next_delta_seq

    bulk_dir = os.path.join(spool_dir, "bulk")
    files = sorted(
        os.path.join(bulk_dir, f)
        for f in os.listdir(bulk_dir)
        if f.endswith(".ndjson")
    ) if os.path.isdir(bulk_dir) else []
    if not files:
        return {"indexed": 0, "deleted": 0, "delta_dir": None}
    ops = spark.read.schema(
        "op string, index string, id string, content string, "
        "doc_json string"
    ).json(files)

    docs = ops.filter(F.col("op") == "index").select(
        F.col("index").alias("repo"),
        F.col("id").alias("path"),
        F.lit("bulk").alias("commit"),
        F.col("content"),
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        F.col("doc_json"),
    )
    # last-write-wins WITHIN the batch (two index actions for the same
    # _id in one apply keep the later op-file's row; across applies a
    # re-indexed doc lives in two deltas and both contribute — the
    # documented delta-union semantics compaction resolves)
    docs = docs.dropDuplicates(["repo", "path", "commit"])

    # -- update actions: delete + reindex of the recursively merged
    # source. Updates resolve against the PRE-REQUEST store state
    # (prior live version = latest non-tombstoned delta row for the
    # _id; the per-delta staged corpus carries doc_json as the
    # _source analog — older deltas without it fall back to
    # {"content": ...}); missing prior + doc_as_upsert seeds from the
    # partial. The per-id fan-in is request-bounded, so collects here
    # are <= #update actions.
    deltas_before = delta_dirs(index_root)
    upd_rows = ops.filter(F.col("op") == "update").select(
        "index", "id", "doc_json"
    ).collect()
    n_updated = n_upd_noop = 0
    upd_keys_df = None
    if upd_rows:
        partials: dict = {}
        for r in upd_rows:  # file order = bulk order; last wins
            partials[(r["index"], r["id"])] = json.loads(r["doc_json"])
        keys_df = spark.createDataFrame(
            [(ix, did) for ix, did in partials],
            "repo string, path string",
        )
        prior: dict = {}
        for d in deltas_before:  # ascending: later deltas overwrite
            ident = spark.read.parquet(os.path.join(d, "docs")).select(
                "ord", "repo", "path", "commit"
            )
            tpath = os.path.join(d, "tombstones")
            if fsio.isdir(tpath):
                ident = ident.join(
                    spark.read.parquet(tpath).select("ord"),
                    "ord", "left_anti",
                )
            staged = spark.read.parquet(
                os.path.join(d, "_staging_corpus")
            )
            cols = ["repo", "path", "content"] + (
                ["doc_json"] if "doc_json" in staged.columns else []
            )
            hit = staged.select(*cols).join(
                ident.select("repo", "path", "commit"),
                ["repo", "path"],
            ).join(F.broadcast(keys_df), ["repo", "path"])
            for r in hit.collect():
                prior[(r["repo"], r["path"])] = r
        merged_rows = []
        for key, pc in partials.items():
            p = prior.get(key)
            if p is None:
                if not pc.get("doc_as_upsert"):
                    n_upd_noop += 1
                    continue
                src: dict = {}
            else:
                pj = p.asDict().get("doc_json")
                src = json.loads(pj) if pj else {"content": p["content"]}
            merged = _deep_merge(src, pc["doc"])
            content = merged.get("content")
            if not isinstance(content, str):
                content = json.dumps(merged, separators=(",", ":"))
            merged_rows.append((
                key[0], key[1], "bulk", content,
                json.dumps(merged, separators=(",", ":")),
            ))
            n_updated += 1
        if merged_rows:
            mdf = spark.createDataFrame(
                merged_rows,
                "repo string, path string, commit string, "
                "content string, doc_json string",
            ).withColumn(
                "content_sha256", F.sha2(F.col("content"), 256)
            ).select(
                "repo", "path", "commit", "content",
                "content_sha256", "doc_json",
            )
            # updated versions replace any same-id index action in
            # this request (update resolves later in bulk order)
            docs = mdf.unionByName(
                docs.join(
                    mdf.select("repo", "path"),
                    ["repo", "path"], "left_anti",
                )
            )
            upd_keys_df = mdf.select("repo", "path").distinct()
    n_indexed = docs.count()
    delta_dir = None
    if n_indexed:
        seq = next_delta_seq(index_root)
        delta_dir = os.path.join(index_root, f"delta={seq}")
        staging = os.path.join(delta_dir, "_staging_corpus")
        docs.write.mode("overwrite").parquet(staging)
        build_index(
            spark, staging, delta_dir,
            cfg or BuildConfig(n_buckets=8, hot_group_target=10_000),
        )

    # tombstone the PRIOR versions of updated ids — only on the
    # pre-request deltas (the new delta holds the updated version and
    # must stay live)
    if upd_keys_df is not None:
        for d in deltas_before:
            ident = spark.read.parquet(os.path.join(d, "docs")).select(
                "ord", "repo", "path"
            )
            hit = ident.join(F.broadcast(upd_keys_df), ["repo", "path"])
            if hit.take(1):
                hit.select("ord").write.mode("append").parquet(
                    os.path.join(d, "tombstones")
                )

    dels = ops.filter(F.col("op") == "delete").select(
        F.col("index").alias("repo"), F.col("id").alias("path")
    ).distinct()
    n_deleted = 0
    if dels.take(1):
        for d in delta_dirs(index_root):
            ident = spark.read.parquet(os.path.join(d, "docs")).select(
                "ord", "repo", "path"
            )
            hit = ident.join(F.broadcast(dels), ["repo", "path"]).select(
                "ord"
            )
            cnt = hit.count()
            if cnt:
                hit.write.mode("append").parquet(
                    os.path.join(d, "tombstones")
                )
                n_deleted += cnt
    for f in files:
        os.replace(f, f + ".applied")
    return {
        "indexed": int(n_indexed),
        "deleted": int(n_deleted),
        "updated": int(n_updated),
        "update_noops": int(n_upd_noop),
        "delta_dir": delta_dir,
    }


def _deep_merge(dst: dict, src: dict) -> dict:
    """OpenSearch partial-doc merge: objects merge recursively,
    everything else (scalars, arrays) replaces."""
    out = dict(dst)
    for k, v in src.items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = _deep_merge(out[k], v)
        else:
            out[k] = v
    return out


def update_by_query(
    spark, index_root: str, query: str, transform, cfg=None
) -> dict:
    """`_update_by_query` over a delta-tree store: every doc matching
    the disjunctive free-text query — across EVERY delta — is
    re-indexed as its transformed version in ONE new delta and the
    original is tombstoned in place: Lucene's update mechanism
    (update = delete + reindex a new version), with the
    (repo, path, commit) identity — the _id — preserved so queries
    resolve to exactly one live version.

    `transform(df) -> df` maps the matched corpus rows (the deltas'
    staged-corpus columns) to their updated form; content_sha256 is
    recomputed engine-side afterwards (the build's per-row invariant)
    so a transform cannot smuggle a stale hash.

    Ordering: the new delta is built BEFORE the originals are
    tombstoned — a crash in between leaves both versions visible
    (a duplicate, never data loss), and a re-run converges because
    the match set anti-joins tombstones.

    Scale shape: per delta, one bucket-pruned ids-only postings match
    + one identity join against the skinny docs table; the rebuild
    covers ONLY matched docs; tombstone appends are
    matched-set-sized. No unmatched posting is ever rewritten —
    updating 1% of a 10^12-doc tree builds a 10^10-doc delta and
    writes 10^10 skinny tombstone rows, zero other bytes.
    """
    from pyspark.sql import functions as F

    from ..index.build import BuildConfig, build_index, delta_dirs
    from ..index.query import _match_set, load_stats, query_terms
    from ..streaming.pipeline import next_delta_seq

    deltas = delta_dirs(index_root)
    if not deltas:
        raise ValueError(f"no delta=* indexes under {index_root}")
    seq = next_delta_seq(index_root)
    q = spark.createDataFrame([(0, query)], "query_id long, query string")
    matched_rows = None
    tomb = []
    for d in deltas:
        stats = load_stats(d)
        qt = query_terms(spark, d, q, stats["n_docs"], stats=stats).select(
            "query_id", "term_id", "idf", "bucket"
        )
        m = _match_set(spark, d, qt).select("ord").distinct()
        ident = spark.read.parquet(os.path.join(d, "docs")).select(
            "ord", "repo", "path", "commit"
        )
        hit = m.join(ident, "ord")
        staged = spark.read.parquet(os.path.join(d, "_staging_corpus"))
        rows = staged.join(
            hit.select("repo", "path", "commit"),
            ["repo", "path", "commit"],
        )
        matched_rows = (
            rows if matched_rows is None else matched_rows.unionByName(rows)
        )
        tomb.append((d, m))
    out = transform(matched_rows)
    out = out.withColumn("content_sha256", F.sha2(F.col("content"), 256))
    out = out.persist()
    n = out.count()
    if n == 0:
        out.unpersist()
        return {"updated": 0, "delta_dir": None}
    delta_dir = os.path.join(index_root, f"delta={seq}")
    staging = os.path.join(delta_dir, "_staging_corpus")
    out.write.mode("overwrite").parquet(staging)
    build_index(
        spark, staging, delta_dir,
        cfg or BuildConfig(n_buckets=8, hot_group_target=10_000),
    )
    for d, m in tomb:
        if m.take(1):
            m.write.mode("append").parquet(os.path.join(d, "tombstones"))
    out.unpersist()
    return {"updated": int(n), "delta_dir": delta_dir}
