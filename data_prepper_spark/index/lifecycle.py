"""Index lifecycle executor — the ISM rollover/retention shape.

The reference stack's users run OpenSearch ISM policies over their
log index families (Data Prepper's opensearch sink creates the
index-management scaffolding; the server then rolls hot indexes,
snapshots cooled ones, deletes aged ones). This module recasts that
loop for a batch engine, driven by whatever scheduler invokes it
(each `apply_lifecycle` call is one ISM evaluation cycle):

1. ROLLOVER — the alias's write generation rolls when it meets
   max_docs / max_size_bytes (index/rollover.py; the new generation
   dir comes from `new_index_template`).
2. SNAPSHOT — generations at least `snapshot_after` rollovers behind
   the write pointer snapshot into `snapshot_repo` (incremental —
   index/snapshot.py references unchanged parquet), once each
   (snapshot name = generation basename).
3. RETENTION — with `retain_generations=N`, the oldest generations
   beyond N are dropped from the alias and deleted from disk —
   REFUSED for any generation that has no completed snapshot while a
   snapshot_repo is configured (retention must never destroy the
   only copy).

Ageing is measured in ROLLOVER DISTANCE (generations behind the
write pointer), not wall-clock: a deterministic batch engine has no
clock identity, and rollover distance is the property the conditions
actually care about (ISM's min_index_age exists to approximate it).

Everything is registry/metadata work plus the snapshot byte copy;
the function returns an action log so orchestrators can audit what
each cycle did.
"""

from __future__ import annotations

import os

from .. import fsio
from .aliases import _load, _store
from .build import delta_dirs
from .rollover import rollover, write_target
from .snapshot import MANIFEST_NAME, snapshot_index


def _gens(entry) -> list[str]:
    idx = entry["index"]
    return idx if isinstance(idx, list) else [idx]


def _snapshot_name(gen_dir: str) -> str:
    return fsio.basename(gen_dir.rstrip("/"))


def _has_snapshot(repo: str, gen_dir: str) -> bool:
    return fsio.exists(
        os.path.join(repo, _snapshot_name(gen_dir), MANIFEST_NAME)
    )


def apply_lifecycle(
    registry_path: str,
    alias: str,
    base_dir: str,
    rollover_max_docs: int | None = None,
    rollover_max_size_bytes: int | None = None,
    new_index_template: str = "{alias}-gen{n}",
    snapshot_repo: str | None = None,
    snapshot_after: int = 1,
    retain_generations: int | None = None,
    force_merge: bool = False,
    spark=None,
) -> list[dict]:
    """One lifecycle cycle for `alias`; returns the action log
    (each entry {"action", ...detail}). Safe to call repeatedly —
    every step is idempotent for an unchanged index family."""
    log: list[dict] = []
    if rollover_max_docs is not None or (
        rollover_max_size_bytes is not None
    ):
        entry = _load(registry_path)[alias]
        gens_now = _gens(entry)
        # first free generation number — len(gens) alone collides
        # once retention has dropped old generations, and a name whose
        # snapshot survives retention must never be reused: the new
        # generation would match the stale snapshot, never be
        # snapshotted, and retention would delete its only copy
        n = len(gens_now)
        while True:
            new_dir = os.path.join(
                base_dir, new_index_template.format(alias=alias, n=n)
            )
            if (
                new_dir not in gens_now
                and not fsio.exists(new_dir)
                and not (
                    snapshot_repo is not None
                    and _has_snapshot(snapshot_repo, new_dir)
                )
            ):
                break
            n += 1
        st = rollover(
            registry_path, alias, new_dir,
            max_docs=rollover_max_docs,
            max_size_bytes=rollover_max_size_bytes,
        )
        if st["rolled_over"]:
            log.append({
                "action": "rollover",
                "old_index": st["old_index"],
                "new_index": st["new_index"],
            })
    entry = _load(registry_path)[alias]
    gens = _gens(entry)
    write = write_target(registry_path, alias)
    widx = gens.index(write)
    if force_merge:
        # the ISM force_merge action for DELTA-TREE generations
        # (streaming/bulk ingest leaves a delta tree; cooled
        # generations merge to one index so query fan-in is O(1) and
        # snapshots reference one immutable file set). Ordering:
        # merge fully -> atomic registry swap -> delete the tree; a
        # crash before the swap leaves the sources authoritative, a
        # crash after leaves only an orphan dir. Refused while a
        # live PIT pins the tree (frozen views must not break).
        if spark is None:
            raise ValueError("force_merge needs spark")
        from ..streaming.pipeline import compact_deltas
        from .pit import live_pits

        for i, g in enumerate(list(gens)):
            if i == widx:
                continue
            is_delta_root = not fsio.exists(
                os.path.join(g, "stats.json")
            ) and bool(delta_dirs(g))
            if not is_delta_root:
                continue
            if live_pits(g):
                raise RuntimeError(
                    f"force_merge refuses {g}: live point-in-time "
                    "readers pin its deltas"
                )
            merged = g.rstrip("/") + "__merged"
            fsio.rmtree(merged)
            compact_deltas(spark, g, merged)
            reg = _load(registry_path)
            e2 = reg[alias]
            glist = _gens(e2)
            e2["index"] = [
                merged if x == g else x for x in glist
            ]
            if e2.get("write_index") == g:
                e2["write_index"] = merged
            reg[alias] = e2
            _store(registry_path, reg)
            fsio.rmtree(g)
            log.append({
                "action": "force_merge", "index": g,
                "merged": merged,
            })
        entry = _load(registry_path)[alias]
        gens = _gens(entry)
        write = write_target(registry_path, alias)
        widx = gens.index(write)
    if snapshot_repo is not None:
        for i, g in enumerate(gens):
            behind = widx - i
            if behind >= snapshot_after and not _has_snapshot(
                snapshot_repo, g
            ):
                man = snapshot_index(
                    g, snapshot_repo, _snapshot_name(g), spark=spark
                )
                log.append({
                    "action": "snapshot",
                    "index": g,
                    "name": man["name"],
                    "bytes_copied": man["bytes_copied"],
                    "bytes_reused": man["bytes_reused"],
                })
    if retain_generations is not None and len(gens) > retain_generations:
        drop = gens[: len(gens) - retain_generations]
        if write in drop:
            raise ValueError(
                "retention would drop the write generation — raise "
                "retain_generations or roll over first"
            )
        for g in drop:
            if snapshot_repo is not None and not _has_snapshot(
                snapshot_repo, g
            ):
                raise RuntimeError(
                    f"retention refuses to delete {g}: no completed "
                    "snapshot in the configured repository"
                )
        reg = _load(registry_path)
        reg[alias]["index"] = [g for g in gens if g not in drop]
        _store(registry_path, reg)
        for g in drop:
            fsio.rmtree(g)
            log.append({"action": "delete", "index": g})
    return log
