"""Point-in-time (PIT) search over the delta tree.

OpenSearch's `_search/point_in_time` API pins the set of segments a
search sees, so pagination and repeated queries run against a frozen
view while writes continue (the reference stack's users lean on PITs
for deep paging and consistent exports; cf. the public OpenSearch PIT
docs — independent Spark-first implementation).

Here the analog of a segment set is the delta tree
(`index_root/delta=*` — streaming epochs, `_bulk` applies, compacted
`delta=cN` runs) plus each delta's appended tombstone part-files. A
PIT token pins BOTH:

- the delta directory names live at open time (later deltas — new
  ingests — are invisible to the PIT), and
- the per-delta tombstone part-file list (later deletes append new
  part files; the PIT keeps reading only the pinned ones, so docs
  deleted after open stay VISIBLE to the PIT — OpenSearch's
  frozen-view contract).

Tokens are tiny JSON files under `index_root/pits/` — file-level
state, no server process, any session on any machine can resolve
them (the same stateless-cursor philosophy as the scroll API, but
with real isolation: scroll replays the live view, a PIT replays the
opened view).

Compaction integration: `streaming.pipeline.maybe_compact` retires
(moves to `index_root/retired/`) instead of deleting any victim delta
a live PIT references; `close_pit` garbage-collects retired deltas no
longer referenced. A PIT opened before a *non*-PIT-aware deletion
fails loudly at resolve time rather than silently returning partial
results.

Scale shape: open/close are pure metadata (one listing + one small
JSON write — no data copied, exactly like Lucene incRef on segment
readers). A query is a `query.QuerySession` over the pinned segment
list — the same reader `topk_deltas` opens over the live tree — so it
costs what a `topk_deltas` call over the pinned subset costs.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from .. import fsio


def _pits_dir(index_root: str) -> str:
    return os.path.join(index_root, "pits")


def _retired_dir(index_root: str) -> str:
    return os.path.join(index_root, "retired")


def open_pit(index_root: str) -> str:
    """Pin the current delta tree; returns the PIT id. O(metadata)."""
    from .build import delta_dirs
    from .query import tombstone_files

    deltas = delta_dirs(index_root)
    if not deltas:
        raise ValueError(f"no delta=* indexes under {index_root}")
    pd_ = _pits_dir(index_root)
    seq = 0
    if fsio.exists(pd_):
        for p in fsio.listdir(pd_):
            name = fsio.basename(p)
            if name.startswith("pit_") and name.endswith(".json"):
                seq = max(seq, int(name[4:-5]) + 1)
    pit_id = f"pit_{seq}"
    fsio.makedirs(pd_)
    token = {
        "id": pit_id,
        "deltas": [fsio.basename(d) for d in deltas],
        "tombstones": {
            fsio.basename(d): [
                fsio.basename(f) for f in tombstone_files(d)
            ]
            for d in deltas
        },
    }
    fsio.write_bytes_atomic(
        os.path.join(pd_, f"{pit_id}.json"),
        json.dumps(token, sort_keys=True).encode(),
    )
    return pit_id


def live_pits(index_root: str) -> list[dict]:
    pd_ = _pits_dir(index_root)
    if not fsio.exists(pd_):
        return []
    out = []
    for p in sorted(fsio.listdir(pd_)):
        if fsio.basename(p).endswith(".json"):
            out.append(json.loads(fsio.read_text(p)))
    return out


def pinned_delta_names(index_root: str) -> set[str]:
    """Union of delta names referenced by any live PIT — what
    compaction must retire instead of delete."""
    names: set[str] = set()
    for tok in live_pits(index_root):
        names.update(tok["deltas"])
    return names


def resolve_pit(index_root: str, pit_id: str) -> dict:
    """Load the token and resolve each pinned delta to its current
    path (original, or retired/ after a compaction). Raises if a
    pinned delta is gone — a frozen view must never silently shrink."""
    path = os.path.join(_pits_dir(index_root), f"{pit_id}.json")
    if not fsio.exists(path):
        raise ValueError(f"unknown or closed PIT {pit_id!r}")
    tok = json.loads(fsio.read_text(path))
    resolved = []
    for name in tok["deltas"]:
        live = os.path.join(index_root, name)
        retired = os.path.join(_retired_dir(index_root), name)
        if fsio.exists(live):
            resolved.append(live)
        elif fsio.exists(retired):
            resolved.append(retired)
        else:
            raise ValueError(
                f"PIT {pit_id!r} pins {name} which no longer exists "
                "(deleted by a non-PIT-aware writer?)"
            )
    tok["resolved"] = resolved
    return tok


def close_pit(index_root: str, pit_id: str) -> None:
    """Drop the token, then garbage-collect retired deltas no other
    live PIT still references (Lucene decRef semantics)."""
    path = os.path.join(_pits_dir(index_root), f"{pit_id}.json")
    if not fsio.exists(path):
        raise ValueError(f"unknown or closed PIT {pit_id!r}")
    fsio.remove(path)
    still = pinned_delta_names(index_root)
    rd = _retired_dir(index_root)
    if fsio.exists(rd):
        for p in fsio.listdir(rd):
            if fsio.basename(p.rstrip("/")) not in still:
                fsio.rmtree(p)


def retire_victim(index_root: str, delta_dir: str) -> None:
    """Compaction's disposal hook: move the victim under retired/ if
    a live PIT pins it, else delete it."""
    name = fsio.basename(delta_dir.rstrip("/"))
    if name in pinned_delta_names(index_root):
        rd = _retired_dir(index_root)
        fsio.makedirs(rd)
        fsio.move(delta_dir, os.path.join(rd, name))
    else:
        fsio.rmtree(delta_dir)


def topk_pit(
    spark: SparkSession,
    index_root: str,
    pit_id: str,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Top-k BM25 over the PIT's frozen view: `query.topk_deltas` over
    the pinned deltas, each with its pinned tombstone part files.
    Rank-identical to what `topk_deltas` returned at open time,
    regardless of later ingests, deletes, or compactions (asserted in
    tests)."""
    from .query import topk_deltas

    tok = resolve_pit(index_root, pit_id)
    tfiles = {
        d: [
            os.path.join(d, "tombstones", f)
            for f in tok["tombstones"][fsio.basename(d)]
        ]
        for d in tok["resolved"]
    }
    return topk_deltas(
        spark, index_root, queries, k=k,
        deltas=tok["resolved"], tombstone_files=tfiles,
    )
