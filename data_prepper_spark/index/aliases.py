"""Index aliases — the OpenSearch `_aliases` API analog.

The reference's users point sinks at index NAMES and query through
aliases (filtered aliases are the standard multi-tenancy device: one
physical index, per-tenant aliases each carrying a `filter` clause;
see the reference's opensearch sink index handling,
data-prepper-plugins/opensearch .../index/IndexManager.java — index
naming/rollover is resolved server-side, clients talk to aliases).
Here an alias registry is one JSON file mapping alias name ->
{"index": <index_dir> | [index_dirs], "filter": optional DSL
clause}. Registry mutations are atomic (write-temp + rename), so a
reader never sees a torn file.

- single-index alias + filter: `search_alias` wraps the body's query
  in bool{must: [original], filter: [alias filter]} and routes to the
  standard compiler — the filter composes with ANY supported query
  kind, exactly OpenSearch's semantics (alias filters don't score).
- multi-index alias (no filter): match/term bodies route through
  query.topk_multi (per-index stats, global merge); anything else is
  a loud NotImplementedError.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


def _load(registry_path: str) -> dict:
    if not os.path.exists(registry_path):
        return {}
    with open(registry_path) as f:
        return json.load(f)


def _store(registry_path: str, reg: dict) -> None:
    tmp = registry_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(reg, f, indent=1, sort_keys=True)
    os.replace(tmp, registry_path)


def put_alias(
    registry_path: str,
    name: str,
    index,
    filter: dict | None = None,
) -> None:
    """`POST _aliases {add: ...}` analog. `index` is one index_dir or
    a list; `filter` an optional DSL clause dict."""
    reg = _load(registry_path)
    entry = {"index": index}
    if filter is not None:
        if isinstance(index, list):
            raise NotImplementedError(
                "filtered multi-index aliases (filter + index list)"
            )
        entry["filter"] = filter
    reg[name] = entry
    _store(registry_path, reg)


def update_aliases(registry_path: str, actions: list[dict]) -> None:
    """`POST _aliases {"actions": [...]}` — the batch form, and the
    reason the API exists: ALL actions commit in ONE atomic registry
    store, so a reader never observes the half-moved state of an
    alias swap ({remove: old, add: new} is the standard zero-downtime
    cutover). Each action is {"add": {"alias", "index", optional
    "filter", optional "write_index" (a rollover alias's write
    generation — index/rollover.py)}} or {"remove": {"alias":
    name}}; any other add key raises NotImplementedError, and any
    invalid action aborts the whole batch (nothing is applied)."""
    reg = _load(registry_path)
    for act in actions:
        ((kind, spec),) = act.items()
        if kind == "add":
            unknown = set(spec) - {"alias", "index", "filter", "write_index"}
            if unknown:
                raise NotImplementedError(
                    f"alias add keys {sorted(unknown)}"
                )
            entry = {"index": spec["index"]}
            if spec.get("filter") is not None:
                if isinstance(spec["index"], list):
                    raise NotImplementedError(
                        "filtered multi-index aliases"
                    )
                entry["filter"] = spec["filter"]
            if "write_index" in spec:
                entry["write_index"] = spec["write_index"]
            reg[spec["alias"]] = entry
        elif kind == "remove":
            if spec["alias"] not in reg:
                raise ValueError(
                    f"unknown alias {spec['alias']!r} in remove"
                )
            del reg[spec["alias"]]
        else:
            raise NotImplementedError(f"alias action '{kind}'")
    _store(registry_path, reg)


def delete_alias(registry_path: str, name: str) -> None:
    reg = _load(registry_path)
    if name in reg:
        del reg[name]
        _store(registry_path, reg)


def get_aliases(registry_path: str) -> dict:
    """`GET _aliases` analog: the full registry dict."""
    return _load(registry_path)


def search_alias(
    spark: SparkSession,
    registry_path: str,
    name: str,
    body: dict,
    corpus_path: str | None = None,
    query_id: int = 0,
):
    """`GET <alias>/_search` analog. Filtered single-index aliases
    compose the alias filter with the body's query (unscored bool
    filter leaf — OpenSearch contract); multi-index aliases merge
    per-index top-k via topk_multi (match/term bodies only; the
    per-index-stats merge is only defined for the scoring paths)."""
    from . import query as q
    from .dsl import DSLResult, search

    reg = _load(registry_path)
    if name not in reg:
        raise KeyError(f"alias '{name}' not in registry {registry_path}")
    entry = reg[name]
    idx = entry["index"]
    if isinstance(idx, list):
        node = body.get("query", {})
        ((kind, spec),) = node.items() if node else (("match_all", {}),)
        if kind not in ("match", "term"):
            raise NotImplementedError(
                f"multi-index alias search for query kind '{kind}' "
                "(match/term only)"
            )
        ((_f, v),) = spec.items()
        text = v.get("query", v.get("value")) if isinstance(v, dict) else v
        from pyspark.sql import functions as F  # noqa: F401

        queries = spark.createDataFrame(
            [(query_id, str(text))], "query_id long, query string"
        )
        hits = q.topk_multi(
            spark, idx, queries, k=int(body.get("size", 10))
        )
        return DSLResult(hits, {})
    if "filter" in entry:
        node = body.get("query", {"match_all": {}})
        body = {
            **body,
            "query": {"bool": {
                "must": [node],
                "filter": [entry["filter"]],
            }},
        }
    return search(
        spark, idx, body, corpus_path=corpus_path, query_id=query_id
    )
