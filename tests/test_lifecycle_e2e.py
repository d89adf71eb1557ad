"""Capstone lifecycle narrative — the composed story an operator
runs: index template -> template-driven build -> alias ->
rollover -> multi-generation search -> snapshot -> retention ->
restore. Every step uses the real modules on real (small) indexes."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from data_prepper_spark.index.aliases import get_aliases, put_alias
from data_prepper_spark.index.build import build_index
from data_prepper_spark.index.lifecycle import apply_lifecycle
from data_prepper_spark.index.query import cat_indices, topk_multi
from data_prepper_spark.index.rollover import rollover, write_target
from data_prepper_spark.index.snapshot import restore_index
from data_prepper_spark.index.templates import (
    config_for_index,
    put_template,
)


@pytest.fixture(scope="module")
def halves(corpus_pdf, tmp_path_factory, spark):
    d = tmp_path_factory.mktemp("lifec")
    pdf = corpus_pdf.reset_index(drop=True)
    a = pdf.iloc[: len(pdf) // 2]
    b = pdf.iloc[len(pdf) // 2:]
    pa, pb = str(d / "a.parquet"), str(d / "b.parquet")
    a.to_parquet(pa)
    b.to_parquet(pb)
    return str(d), pa, pb, a, b


def test_full_lifecycle_story(spark, halves, tmp_path):
    base, pa, pb, a, b = halves
    treg = str(tmp_path / "templates.json")
    areg = str(tmp_path / "aliases.json")
    repo = str(tmp_path / "snaprepo")

    # 1. template-driven build of generation 0 (first half)
    put_template(
        treg, "code", ["code-*"],
        {"stopwords": ["the", "a"], "n_buckets": 8},
        priority=1,
    )
    gen0 = os.path.join(str(tmp_path), "code-gen0")
    cfg = config_for_index(treg, "code-gen0")
    assert cfg.stopwords == ("the", "a") and cfg.n_buckets == 8
    build_index(spark, pa, gen0, cfg)
    stats0 = json.loads(open(os.path.join(gen0, "stats.json")).read())
    assert sorted(stats0["stopwords"]) == ["a", "the"]

    # 2. alias + rollover once gen0 is full
    put_alias(areg, "code", [gen0])
    st = rollover(areg, "code",
                  os.path.join(str(tmp_path), "code-gen1"),
                  max_docs=len(a))
    assert st["rolled_over"]
    gen1 = write_target(areg, "code")

    # 3. ingest the second half into the new write generation
    build_index(spark, pb, gen1, config_for_index(treg, "code-gen1"))

    # 4. search spans the generations (per-index idf, global merge)
    gens = get_aliases(areg)["code"]["index"]
    q = spark.createDataFrame(
        [(0, "class")], "query_id long, query string"
    )
    hits = topk_multi(spark, gens, q, k=20).collect()
    assert hits
    seen = {r["_index"] for r in hits}
    assert len(seen) == 2  # both generations contribute

    # 5. _cat over the family agrees with the per-half doc counts
    cat = {
        r["index"]: r.n_docs
        for r in cat_indices(spark, gens).collect()
    }
    assert cat[os.path.basename(gen0)] == len(a)
    assert cat[os.path.basename(gen1)] == len(b)

    # 6. lifecycle cycle: snapshot gen0 (1 rollover behind), then a
    #    second cycle with retention drops it (snapshot exists)
    log = apply_lifecycle(
        areg, "code", str(tmp_path),
        snapshot_repo=repo, snapshot_after=1,
    )
    assert [e["action"] for e in log] == ["snapshot"]
    log = apply_lifecycle(
        areg, "code", str(tmp_path),
        snapshot_repo=repo, snapshot_after=1,
        retain_generations=1,
    )
    assert [e["action"] for e in log] == ["delete"]
    assert not os.path.exists(gen0)
    assert get_aliases(areg)["code"]["index"] == [gen1]

    # 7. the dropped generation restores from its snapshot and
    #    answers queries again
    restored = str(tmp_path / "gen0_restored")
    restore_index(repo, os.path.basename(gen0), restored)
    hits2 = topk_multi(spark, [restored, gen1], q, k=20).collect()
    assert sorted(
        (r.query_id, r.rank, r.doc_id) for r in hits2
    ) == sorted((r.query_id, r.rank, r.doc_id) for r in hits)


def test_force_merge_delta_generation(spark, tmp_path):
    """lifecycle force_merge: a cooled delta-tree generation (bulk
    ingest) compacts to ONE index, the alias swaps atomically, and
    the merged generation answers the same query; a live PIT on the
    tree blocks the merge."""
    import json as _json

    from data_prepper_spark.index.pit import close_pit, open_pit
    from data_prepper_spark.index.query import topk, topk_deltas
    from data_prepper_spark.sources.bulk_api import bulk_apply

    root = str(tmp_path / "gen-delta")

    def _apply(tag, lines):
        spool = str(tmp_path / f"sp_{tag}" / "bulk")
        os.makedirs(spool, exist_ok=True)
        with open(os.path.join(spool, "0.ndjson"), "w") as f:
            for ln in lines:
                f.write(_json.dumps(ln) + "\n")
        bulk_apply(spark, str(tmp_path / f"sp_{tag}"), root)

    _apply("a", [
        {"op": "index", "index": "logs", "id": "1",
         "content": "alpha bravo charlie", "doc_json": None},
    ])
    _apply("b", [
        {"op": "index", "index": "logs", "id": "2",
         "content": "alpha delta echo", "doc_json": None},
    ])
    areg = str(tmp_path / "aliases.json")
    gen1 = str(tmp_path / "gen-live")
    os.makedirs(gen1)
    put_alias(areg, "logs", [root, gen1])
    # write pointer on gen1 so the delta root is "cooled"
    from data_prepper_spark.index.aliases import _load, _store

    reg = _load(areg)
    reg["logs"]["write_index"] = gen1
    _store(areg, reg)

    q = spark.createDataFrame(
        [(0, "alpha")], "query_id long, query string"
    )
    before = sorted(
        (r.rank, r.doc_id, round(r.score, 9))
        for r in topk_deltas(spark, root, q, k=10).collect()
    )

    # a live PIT blocks the merge
    pit = open_pit(root)
    with pytest.raises(RuntimeError, match="point-in-time"):
        apply_lifecycle(areg, "logs", str(tmp_path),
                        force_merge=True, spark=spark)
    close_pit(root, pit)

    log = apply_lifecycle(areg, "logs", str(tmp_path),
                          force_merge=True, spark=spark)
    assert [e["action"] for e in log] == ["force_merge"]
    merged = log[0]["merged"]
    assert not os.path.exists(root)
    assert get_aliases(areg)["logs"]["index"] == [merged, gen1]
    after = sorted(
        (r.rank, r.doc_id, round(r.score, 9))
        for r in topk(spark, merged, q, k=10).collect()
    )
    assert after == before and len(after) == 2
    # idempotent: nothing left to merge
    assert apply_lifecycle(areg, "logs", str(tmp_path),
                           force_merge=True, spark=spark) == []


def test_lifecycle_never_reuses_a_snapshotted_generation_name(tmp_path):
    """Retention deletes old generation dirs but keeps their snapshots.
    A later rollover must not recreate a deleted name: the new
    generation would match the stale snapshot, never be snapshotted,
    and retention would delete its only copy. Four fill+cycle rounds
    with retain_generations=2 reach the first deleted name."""
    base = str(tmp_path / "fam")
    repo = str(tmp_path / "snaprepo")
    reg = str(tmp_path / "aliases.json")

    def fill(gen_dir, n_docs):
        os.makedirs(gen_dir, exist_ok=True)
        with open(os.path.join(gen_dir, "stats.json"), "w") as f:
            json.dump({"n_docs": n_docs, "avgdl": 1.0}, f)
        pd.DataFrame({"x": list(range(n_docs))}).to_parquet(
            os.path.join(gen_dir, "part-data.parquet")
        )

    fill(os.path.join(base, "logs-gen0"), 10)
    fill(os.path.join(base, "logs-gen1"), 11)
    put_alias(reg, "logs", [os.path.join(base, "logs-gen0"),
                            os.path.join(base, "logs-gen1")])
    used = {"logs-gen0", "logs-gen1"}
    docs = {"logs-gen0": 10, "logs-gen1": 11}
    for cycle in range(4):
        apply_lifecycle(
            reg, "logs", base,
            rollover_max_docs=5,
            snapshot_repo=repo,
            snapshot_after=1,
            retain_generations=2,
        )
        name = os.path.basename(write_target(reg, "logs"))
        assert name not in used, f"cycle {cycle} reused {name}"
        used.add(name)
        docs[name] = 20 + cycle
        fill(write_target(reg, "logs"), docs[name])
    # every snapshot in the repo holds the generation of its own name
    for name in sorted(os.listdir(repo)):
        out = str(tmp_path / "restored" / name)
        restore_index(repo, name, out)
        with open(os.path.join(out, "stats.json")) as f:
            assert json.load(f)["n_docs"] == docs[name], name
