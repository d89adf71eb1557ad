"""Index rollover — the `POST /<alias>/_rollover` analog.

The reference's opensearch sink manages time/size-partitioned index
families server-side (IndexManager's date-pattern + ISM rollover:
writes go to the newest generation, searches span the family via the
alias). Here the same lifecycle runs on the alias registry
(index/aliases.py): a rollover alias carries {"index": [generations],
"write_index": newest}; `rollover()` evaluates the conditions against
the CURRENT write generation and, when met, atomically appends the
next generation and moves the write pointer. Ingest code asks
`write_target()` where to build/bulk-apply; `search_alias`'s
multi-index path (query.topk_multi — per-index idf, global merge)
already spans the generations.

Conditions (the OpenSearch set that is meaningful for a batch
engine):
  max_docs        — live docs in the write generation (stats.json for
                    a built index, summed per-delta stats for a delta
                    tree — both metadata reads)
  max_size_bytes  — bytes under the write generation (one fsio.du)
max_age is documented out: a deterministic batch engine has no
wall-clock identity to hang it on; drive time-based rollover from the
orchestrator's schedule instead.

Everything is metadata: condition checks read tiny JSON + one du; the
registry mutation is the aliases module's atomic write-temp + rename.
"""

from __future__ import annotations

import json
import os

from .. import fsio
from .aliases import _load, _store
from .build import delta_dirs


def _count_docs(index_dir: str) -> int:
    """Docs in one generation: a built index's stats.json, or the sum
    of per-delta stats for a delta-tree root; 0 for a not-yet-built
    target (a fresh write generation)."""
    sp = os.path.join(index_dir, "stats.json")
    if fsio.exists(sp):
        return int(json.loads(fsio.read_text(sp))["n_docs"])
    if not fsio.exists(index_dir):
        return 0
    total = 0
    seen = False
    for p in delta_dirs(index_dir):
        dsp = os.path.join(p, "stats.json")
        if fsio.exists(dsp):
            seen = True
            total += int(json.loads(fsio.read_text(dsp))["n_docs"])
    if not seen and fsio.listdir(index_dir):
        raise ValueError(
            f"{index_dir} holds neither an index nor a delta tree"
        )
    return total


def write_target(registry_path: str, alias: str) -> str:
    """The generation ingest should build/bulk-apply into."""
    entry = _load(registry_path).get(alias)
    if entry is None:
        raise ValueError(f"unknown alias {alias!r}")
    if "write_index" in entry:
        return entry["write_index"]
    idx = entry["index"]
    return idx[-1] if isinstance(idx, list) else idx


def rollover(
    registry_path: str,
    alias: str,
    new_index_dir: str,
    max_docs: int | None = None,
    max_size_bytes: int | None = None,
    dry_run: bool = False,
) -> dict:
    """Evaluate conditions against the alias's write generation; when
    ANY is met (the OpenSearch contract), append `new_index_dir` as
    the next generation and move the write pointer — atomically, via
    the registry store. Returns the OpenSearch-shaped status:
    {"old_index", "new_index", "rolled_over", "dry_run",
    "conditions": {name: bool}}."""
    if max_docs is None and max_size_bytes is None:
        raise ValueError("rollover needs at least one condition")
    reg = _load(registry_path)
    entry = reg.get(alias)
    if entry is None:
        raise ValueError(f"unknown alias {alias!r}")
    if entry.get("filter") is not None:
        raise NotImplementedError("rollover of a filtered alias")
    old = write_target(registry_path, alias)
    conds = {}
    if max_docs is not None:
        conds[f"[max_docs: {max_docs}]"] = _count_docs(old) >= max_docs
    if max_size_bytes is not None:
        size = fsio.du(old) if fsio.exists(old) else 0
        conds[f"[max_size_bytes: {max_size_bytes}]"] = (
            size >= max_size_bytes
        )
    met = any(conds.values())
    out = {
        "old_index": old,
        "new_index": new_index_dir,
        "rolled_over": False,
        "dry_run": dry_run,
        "conditions": conds,
    }
    if not met or dry_run:
        return out
    gens = entry["index"]
    gens = gens if isinstance(gens, list) else [gens]
    if new_index_dir in gens:
        raise ValueError(
            f"{new_index_dir} is already a generation of {alias!r}"
        )
    entry["index"] = gens + [new_index_dir]
    entry["write_index"] = new_index_dir
    reg[alias] = entry
    _store(registry_path, reg)
    out["rolled_over"] = True
    return out
