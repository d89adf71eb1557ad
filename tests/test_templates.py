"""Index templates (index/templates.py): composable-template
resolution (highest priority wins, no cross-template merging, name
tie-break) + BuildConfig application, verified end-to-end by
building an index whose analyzer chain comes from a template."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from data_prepper_spark.index.build import BuildConfig, build_index
from data_prepper_spark.index.templates import (
    config_for_index,
    delete_template,
    get_template,
    put_template,
    resolve_settings,
)


def test_resolution_rules(tmp_path):
    reg = str(tmp_path / "templates.json")
    put_template(reg, "logs-base", ["logs-*"], {"n_buckets": 8},
                 priority=10)
    put_template(reg, "logs-hot", ["logs-hot-*"],
                 {"n_buckets": 64, "block_size": 256}, priority=50)
    put_template(reg, "catchall", ["*"], {"n_buckets": 4}, priority=0)

    # highest priority wins, NO merging across templates
    assert resolve_settings(reg, "logs-hot-2024") == {
        "n_buckets": 64, "block_size": 256,
    }
    assert resolve_settings(reg, "logs-app") == {"n_buckets": 8}
    assert resolve_settings(reg, "metrics") == {"n_buckets": 4}

    # name tie-break at equal priority is deterministic
    put_template(reg, "a-tpl", ["tie-*"], {"n_buckets": 2}, priority=5)
    put_template(reg, "b-tpl", ["tie-*"], {"n_buckets": 3}, priority=5)
    assert resolve_settings(reg, "tie-x") == {"n_buckets": 2}

    assert get_template(reg, "logs-base")["priority"] == 10
    delete_template(reg, "catchall")
    with pytest.raises(ValueError, match="unknown index template"):
        get_template(reg, "catchall")
    with pytest.raises(ValueError, match="unknown template settings"):
        put_template(reg, "bad", ["x-*"], {"replicas": 2})
    with pytest.raises(ValueError, match="index_patterns"):
        put_template(reg, "bad", [], {"n_buckets": 2})


def test_config_application_and_build(spark, tmp_path):
    """config_for_index overlays the winning settings on a base and
    a real build honors them: stats.json carries the template's
    analyzer chain, stopwords never reach the dictionary."""
    reg = str(tmp_path / "templates.json")
    put_template(
        reg, "code", ["code-*"],
        {"stopwords": ["the", "of"], "stemmer": "minimal_english",
         "n_buckets": 4},
        priority=1,
    )
    cfg = config_for_index(reg, "code-main",
                           base=BuildConfig(block_size=64))
    assert cfg.stopwords == ("the", "of")
    assert cfg.stemmer == "minimal_english"
    assert cfg.n_buckets == 4
    assert cfg.block_size == 64  # base survives where unset
    # no match -> pure base
    assert config_for_index(reg, "other").n_buckets == \
        BuildConfig().n_buckets

    docs = pd.DataFrame({
        "repo": ["r"] * 3,
        "path": ["a", "b", "c"],
        "commit": ["c0"] * 3,
        "lang": ["en"] * 3,
        "content": [
            "the quick tables of values",
            "the lazy tables sleep",
            "quick value sorting",
        ],
    })
    import hashlib

    docs["content_sha256"] = [
        hashlib.sha256(t.encode()).hexdigest() for t in docs.content
    ]
    cpath = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(docs).coalesce(1).write.parquet(cpath)
    idx = str(tmp_path / "idx")
    build_index(spark, cpath, idx, cfg)
    stats = json.loads(open(os.path.join(idx, "stats.json")).read())
    assert sorted(stats["stopwords"]) == ["of", "the"]
    assert stats["stemmer"] == "minimal_english"
    terms = {
        r.term
        for r in spark.read.parquet(os.path.join(idx, "terms"))
        .collect()
    }
    assert "the" not in terms and "of" not in terms
    assert "table" in terms  # stemmed plural shares one term
    assert "tables" not in terms


def test_lifecycle_cycles(tmp_path):
    """Lifecycle executor: rollover on max_docs, snapshot generations
    snapshot_after rollovers behind (incremental, once each),
    retention deletes oldest beyond N only when snapshotted; write
    generation protected; cycles are idempotent."""
    import shutil

    from data_prepper_spark.index.aliases import get_aliases, put_alias
    from data_prepper_spark.index.lifecycle import apply_lifecycle
    from data_prepper_spark.index.rollover import write_target

    base = str(tmp_path / "fam")
    repo = str(tmp_path / "snaprepo")
    reg = str(tmp_path / "aliases.json")

    def make_gen(name, n_docs):
        d = os.path.join(base, name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "stats.json"), "w") as f:
            json.dump({"n_docs": n_docs, "avgdl": 1.0}, f)
        pd.DataFrame({"x": list(range(n_docs))}).to_parquet(
            os.path.join(d, "part-data.parquet")
        )
        return d

    g0 = make_gen("logs-gen0", 10)
    put_alias(reg, "logs", [g0])

    def cycle():
        return apply_lifecycle(
            reg, "logs", base,
            rollover_max_docs=5,
            snapshot_repo=repo,
            snapshot_after=1,
            retain_generations=2,
        )

    # cycle 1: g0 full -> rollover to gen1; nothing behind yet to
    # snapshot (the new write gen is 0 behind, g0 is 1 behind ->
    # snapshotted)
    log = cycle()
    acts = [e["action"] for e in log]
    assert acts == ["rollover", "snapshot"]
    assert write_target(reg, "logs").endswith("logs-gen1")
    assert os.path.exists(
        os.path.join(repo, "logs-gen0", "SNAPSHOT.json")
    )

    # cycle 2: gen1 empty -> no rollover; g0 already snapshotted ->
    # idempotent no-op
    assert cycle() == []

    # fill gen1 (the rollover registered it but never materialized
    # it — ingest does that) -> cycle rolls to gen2, snapshots gen1,
    # then retention drops g0
    make_gen("logs-gen1", 7)
    log = cycle()
    acts = [e["action"] for e in log]
    assert acts == ["rollover", "snapshot", "delete"]
    assert log[2]["index"] == g0
    assert not os.path.exists(g0)
    gens = get_aliases(reg)["logs"]["index"]
    assert len(gens) == 2 and gens[0].endswith("logs-gen1")

    # retention never destroys an unsnapshotted generation: wipe the
    # repo and force retention pressure
    shutil.rmtree(repo)
    make_gen("logs-gen2", 9)
    with pytest.raises(RuntimeError, match="refuses to delete"):
        apply_lifecycle(
            reg, "logs", base,
            rollover_max_docs=5,
            snapshot_repo=repo,
            snapshot_after=99,  # suppress snapshotting this cycle
            retain_generations=2,
        )


def test_update_aliases_atomic_batch(tmp_path):
    """_aliases batch: the add+remove swap commits atomically; an
    invalid action aborts the WHOLE batch (nothing applied)."""
    from data_prepper_spark.index.aliases import (
        get_aliases,
        put_alias,
        update_aliases,
    )

    reg = str(tmp_path / "aliases.json")
    put_alias(reg, "live", "/idx/old")
    update_aliases(reg, [
        {"remove": {"alias": "live"}},
        {"add": {"alias": "live", "index": "/idx/new"}},
        {"add": {"alias": "old-ro", "index": "/idx/old",
                 "filter": {"term": {"lang": "en"}}}},
    ])
    got = get_aliases(reg)
    assert got["live"]["index"] == "/idx/new"
    assert got["old-ro"]["filter"] == {"term": {"lang": "en"}}

    # a bad action anywhere aborts everything
    with pytest.raises(ValueError, match="unknown alias"):
        update_aliases(reg, [
            {"remove": {"alias": "live"}},
            {"remove": {"alias": "never-existed"}},
        ])
    assert "live" in get_aliases(reg)  # the first remove did NOT land
    with pytest.raises(NotImplementedError, match="alias action"):
        update_aliases(reg, [{"rename": {"alias": "x"}}])


def test_update_aliases_add_keeps_write_index(tmp_path):
    """A batch add keeps a rollover alias's write_index; any other
    unknown add key fails loudly instead of being dropped."""
    from data_prepper_spark.index.aliases import (
        get_aliases,
        put_alias,
        update_aliases,
    )
    from data_prepper_spark.index.rollover import write_target

    reg = str(tmp_path / "aliases.json")
    put_alias(reg, "logs", ["/idx/gen0"])
    update_aliases(reg, [
        {"remove": {"alias": "logs"}},
        {"add": {"alias": "logs", "index": ["/idx/gen0", "/idx/gen1"],
                 "write_index": "/idx/gen0"}},
    ])
    assert get_aliases(reg)["logs"]["write_index"] == "/idx/gen0"
    assert write_target(reg, "logs") == "/idx/gen0"

    with pytest.raises(NotImplementedError, match="is_hidden"):
        update_aliases(reg, [
            {"remove": {"alias": "logs"}},
            {"add": {"alias": "logs", "index": "/idx/gen1",
                     "is_hidden": True}},
        ])
    assert write_target(reg, "logs") == "/idx/gen0"  # batch aborted
