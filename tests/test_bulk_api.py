"""OpenSearch `_bulk` API facade (sources/bulk_api.py + the listener
route in sources/http.py): the accepting side of the wire contract
the reference's opensearch sink speaks (BulkRetryStrategy /
AccumulatingBulkRequest NDJSON action+document pairs), applied to the
delta-index store with per-delta tombstone deletes and merge-time
expunge."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from data_prepper_spark.sources.bulk_api import bulk_apply, parse_bulk
from data_prepper_spark.sources.http import HttpSource


def _post(port: int, path: str, body: bytes):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=body,
        headers={"Content-Type": "application/x-ndjson"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=10) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


def _nd(*lines) -> bytes:
    return ("\n".join(json.dumps(x) for x in lines) + "\n").encode()


def test_parse_bulk_grammar():
    items, ops, errors = parse_bulk(
        _nd(
            {"index": {"_index": "logs", "_id": "a"}},
            {"content": "alpha beta"},
            {"create": {"_index": "logs", "_id": "b"}},
            {"message": "no content field"},
            {"delete": {"_index": "logs", "_id": "a"}},
            {"update": {"_index": "logs", "_id": "b"}},
            {"doc": {"x": 1}},
            {"update": {"_index": "logs", "_id": "c"}},
            {"script": {"source": "ctx._source.x++"}},  # 400
            {"delete": {"_index": "logs"}},  # missing _id -> item error
        )
    )
    assert [next(iter(i)) for i in items] == [
        "index", "create", "delete", "update", "update", "delete",
    ]
    assert items[0]["index"]["status"] == 201
    assert items[2]["delete"]["result"] == "deleted"
    assert items[3]["update"]["status"] == 200
    assert items[3]["update"]["result"] == "updated"
    assert items[4]["update"]["status"] == 400  # scripted
    assert items[5]["delete"]["status"] == 400
    assert errors is True
    assert [o["op"] for o in ops] == ["index", "index", "delete", "update"]
    import json as _json

    assert _json.loads(ops[3]["doc_json"]) == {
        "doc": {"x": 1}, "doc_as_upsert": False,
    }
    # schemaless doc indexes its compact JSON
    assert ops[1]["content"] == '{"message":"no content field"}'
    # default index + auto id
    items2, ops2, _ = parse_bulk(
        _nd({"index": {}}, {"content": "x"}), default_index="dflt"
    )
    assert ops2[0]["index"] == "dflt" and ops2[0]["id"].startswith("_auto_")
    with pytest.raises(ValueError):
        parse_bulk(b'{"index": {}}\nnot json\n')
    with pytest.raises(ValueError):
        parse_bulk(_nd({"frobnicate": {}}))


def test_bulk_endpoint_and_delta_lifecycle(spark, tmp_path):
    """POST /_bulk -> spool -> bulk_apply builds a delta; queries see
    the docs via topk_deltas; a bulk delete tombstones them out; and
    compaction EXPUNGES the dead docs (still-gone after merge, stats
    of the live corpus only)."""
    from data_prepper_spark.index.query import topk, topk_deltas
    from data_prepper_spark.streaming.pipeline import compact_deltas

    root = str(tmp_path / "idxroot")
    with HttpSource(str(tmp_path / "spool")) as src:
        code, resp = _post(
            src.port, "/_bulk",
            _nd(
                {"index": {"_index": "logs", "_id": "1"}},
                {"content": "spark shuffle spill"},
                {"index": {"_index": "logs", "_id": "2"}},
                {"content": "grok pattern timeout"},
            ),
        )
        assert code == 200 and resp["errors"] is False
        assert [i["index"]["status"] for i in resp["items"]] == [201, 201]
        # per-index default path form
        code, resp = _post(
            src.port, "/logs/_bulk",
            _nd({"index": {"_id": "3"}}, {"content": "spark executor lost"}),
        )
        assert code == 200 and resp["items"][0]["index"]["_index"] == "logs"

        st = bulk_apply(spark, src.spool_dir, root)
        assert st["indexed"] == 3 and st["deleted"] == 0

        q = spark.createDataFrame(
            [(0, "spark")], "query_id long, query string"
        )
        hits = topk_deltas(spark, root, q, k=10).collect()
        assert len(hits) == 2  # docs 1 and 3 contain "spark"

        # second bulk: one more doc + delete doc 1
        code, resp = _post(
            src.port, "/_bulk",
            _nd(
                {"index": {"_index": "logs", "_id": "4"}},
                {"content": "spark catalyst codegen"},
                {"delete": {"_index": "logs", "_id": "1"}},
            ),
        )
        assert code == 200 and resp["errors"] is False
        st = bulk_apply(spark, src.spool_dir, root)
        assert st["indexed"] == 1 and st["deleted"] == 1
        # idempotent re-apply: spool files were retired
        st2 = bulk_apply(spark, src.spool_dir, root)
        assert st2["indexed"] == 0 and st2["deleted"] == 0

        hits = topk_deltas(spark, root, q, k=10).collect()
        ids = set()
        for r in hits:
            ids.add(r.doc_id)
        assert len(hits) == 2  # docs 3 and 4; doc 1 tombstoned

        # compaction expunges: the merged single index must not
        # resurrect doc 1, and its stats are the live corpus's
        out = str(tmp_path / "compacted")
        compact_deltas(spark, root, out)
        chits = topk(spark, out, q, k=10).collect()
        assert len(chits) == 2
        import json as _json

        stats = _json.loads(open(f"{out}/stats.json").read())
        assert stats["n_docs"] == 3  # 4 indexed - 1 deleted


def _spool_and_apply(spark, tmp_path, root, tag, lines, cfg=None):
    import os

    spool = str(tmp_path / f"spool_{tag}" / "bulk")
    os.makedirs(spool, exist_ok=True)
    with open(os.path.join(spool, "0.ndjson"), "w") as f:
        for ln in lines:
            f.write(json.dumps(ln) + "\n")
    return bulk_apply(spark, str(tmp_path / f"spool_{tag}"), root, cfg=cfg)


def test_second_bulk_apply_gets_a_fresh_delta(spark, tmp_path):
    """Regression: delta naming must count plain delta=N dirs — a
    second apply with index ops must NOT reuse (and clobber)
    delta=0."""
    import os

    from data_prepper_spark.index.query import topk_deltas

    root = str(tmp_path / "root")
    r1 = _spool_and_apply(spark, tmp_path, root, "a", [
        {"op": "index", "index": "logs", "id": "1",
         "content": "alpha bravo", "doc_json": None},
    ])
    r2 = _spool_and_apply(spark, tmp_path, root, "b", [
        {"op": "index", "index": "logs", "id": "2",
         "content": "charlie delta", "doc_json": None},
    ])
    assert r1["delta_dir"] != r2["delta_dir"]
    assert sorted(
        d for d in os.listdir(root) if d.startswith("delta=")
    ) == ["delta=0", "delta=1"]
    q = spark.createDataFrame(
        [(0, "alpha"), (1, "charlie")], "query_id long, query string"
    )
    hits = topk_deltas(spark, root, q, k=5).collect()
    assert {r["query_id"] for r in hits} == {0, 1}  # both docs live


def test_mixed_analyzer_deltas_fail_loudly(spark, tmp_path):
    """bulk_apply takes a BuildConfig per call, so two deltas under one
    root can carry different analyzers. Scoring them with the first
    delta's analyzer would silently under-match the other; a delta
    query must refuse the mix and name the delta and the field."""
    from data_prepper_spark.index.build import BuildConfig
    from data_prepper_spark.index.query import topk_deltas

    root = str(tmp_path / "root")
    _spool_and_apply(spark, tmp_path, root, "a", [
        {"op": "index", "index": "logs", "id": "1",
         "content": "alpha columns", "doc_json": None},
    ])
    _spool_and_apply(spark, tmp_path, root, "b", [
        {"op": "index", "index": "logs", "id": "2",
         "content": "bravo columns", "doc_json": None},
    ], cfg=BuildConfig(
        n_buckets=8, hot_group_target=10_000, stemmer="minimal_english",
    ))
    q = spark.createDataFrame([(0, "columns")], "query_id long, query string")
    with pytest.raises(ValueError, match=r"delta=1 stemmer='minimal_english'"):
        topk_deltas(spark, root, q, k=5).collect()


def test_update_by_query(spark, tmp_path):
    """_update_by_query over the delta tree: matched docs re-index as
    transformed versions in ONE new delta, originals tombstone in
    place, _id preserved; unmatched docs untouched; sha256 recomputed
    engine-side."""
    import os

    import pyspark.sql.functions as F

    from data_prepper_spark.index.query import topk_deltas
    from data_prepper_spark.sources.bulk_api import update_by_query

    root = str(tmp_path / "uroot")
    _spool_and_apply(spark, tmp_path, root, "u1", [
        {"op": "index", "index": "logs", "id": "1",
         "content": "alpha bravo common", "doc_json": None},
        {"op": "index", "index": "logs", "id": "2",
         "content": "charlie delta common", "doc_json": None},
    ])
    _spool_and_apply(spark, tmp_path, root, "u2", [
        {"op": "index", "index": "logs", "id": "3",
         "content": "alpha echo common", "doc_json": None},
    ])

    res = update_by_query(
        spark, root, "alpha",
        lambda df: df.withColumn(
            "content", F.regexp_replace("content", "alpha", "omega")
        ),
    )
    assert res["updated"] == 2
    assert os.path.basename(res["delta_dir"]) == "delta=2"

    def ids(q):
        qs = spark.createDataFrame(
            [(0, q)], "query_id long, query string"
        )
        return sorted(
            r["path"] for r in topk_deltas(spark, root, qs, k=10)
            .join(
                _all_docs(spark, root), ["doc_id"]
            ).select("path").collect()
        )

    def _all_docs(spark, root):
        parts = None
        for d in sorted(os.listdir(root)):
            if not d.startswith("delta="):
                continue
            dd = spark.read.parquet(
                os.path.join(root, d, "docs")
            ).select("doc_id", "path")
            parts = dd if parts is None else parts.unionByName(dd)
        return parts.dropDuplicates(["doc_id"])

    assert ids("omega") == ["1", "3"]      # updated versions live
    assert ids("alpha") == []              # originals tombstoned
    assert ids("charlie") == ["2"]         # unmatched doc untouched
    # _id (path) preserved, content_sha256 recomputed
    new_rows = spark.read.parquet(
        os.path.join(res["delta_dir"], "_staging_corpus")
    ).collect()
    import hashlib
    for r in new_rows:
        assert "omega" in r["content"]
        assert r["content_sha256"] == hashlib.sha256(
            r["content"].encode()
        ).hexdigest()
    # idempotent-converging: re-running the same update matches 0 docs
    res2 = update_by_query(
        spark, root, "alpha",
        lambda df: df.withColumn(
            "content", F.regexp_replace("content", "alpha", "omega")
        ),
    )
    assert res2["updated"] == 0


def test_bulk_update_lifecycle(spark, tmp_path):
    """update actions: partial-doc merge against the prior live
    version (delete + reindex), doc_as_upsert seeding, missing-doc
    no-ops, update-beats-index within one request, and searchability
    of the merged content."""
    from data_prepper_spark.index.query import topk_deltas

    root = str(tmp_path / "idxroot")
    with HttpSource(str(tmp_path / "spool")) as src:
        code, resp = _post(
            src.port, "/_bulk",
            _nd(
                {"index": {"_index": "logs", "_id": "1"}},
                {"content": "alpha beta", "sev": "info",
                 "ctx": {"pod": "a", "zone": "z1"}},
                {"index": {"_index": "logs", "_id": "2"}},
                {"content": "gamma delta"},
            ),
        )
        assert code == 200 and resp["errors"] is False
        st = bulk_apply(spark, src.spool_dir, root)
        assert st["indexed"] == 2 and st["updated"] == 0

        # partial update: content replaced, nested ctx merged
        code, resp = _post(
            src.port, "/_bulk",
            _nd(
                {"update": {"_index": "logs", "_id": "1"}},
                {"doc": {"content": "alpha epsilon",
                         "ctx": {"zone": "z2"}}},
                {"update": {"_index": "logs", "_id": "missing"}},
                {"doc": {"content": "never lands"}},
                {"update": {"_index": "logs", "_id": "up"}},
                {"doc": {"content": "upserted zeta"},
                 "doc_as_upsert": True},
            ),
        )
        assert code == 200 and resp["errors"] is False
        st = bulk_apply(spark, src.spool_dir, root)
        assert st["updated"] == 2 and st["update_noops"] == 1

        from data_prepper_spark.xxh64 import doc_id_of

        def did(i):
            return doc_id_of("logs", i, "bulk")

        def hits_for(word):
            q = spark.createDataFrame(
                [(0, word)], "query_id long, query string"
            )
            return {
                r.doc_id for r in topk_deltas(spark, root, q, k=10).collect()
            }

        assert hits_for("epsilon") == {did("1")}
        assert hits_for("beta") == set()      # old version tombstoned
        assert hits_for("alpha") == {did("1")}  # exactly one live version
        assert hits_for("zeta") == {did("up")}  # upsert landed
        assert hits_for("never") == set()     # missing-doc no-op

        # merged _source survives: next partial update sees z2 + pod
        code, resp = _post(
            src.port, "/_bulk",
            _nd(
                {"update": {"_index": "logs", "_id": "1"}},
                {"doc": {"note": "third"}},
            ),
        )
        st = bulk_apply(spark, src.spool_dir, root)
        assert st["updated"] == 1
        import glob
        import os as _os

        staged = sorted(glob.glob(_os.path.join(root, "delta=*")))[-1]
        import pandas as pd

        sdf = pd.read_parquet(_os.path.join(staged, "_staging_corpus"))
        src_doc = json.loads(sdf[sdf.path == "1"].iloc[0].doc_json)
        assert src_doc["ctx"] == {"pod": "a", "zone": "z2"}
        assert src_doc["note"] == "third"
        assert src_doc["content"] == "alpha epsilon"

        # update-beats-index for the same _id in ONE request
        code, resp = _post(
            src.port, "/_bulk",
            _nd(
                {"index": {"_index": "logs", "_id": "9"}},
                {"content": "omega one"},
                {"update": {"_index": "logs", "_id": "9"}},
                {"doc": {"content": "omega two"}, "doc_as_upsert": True},
            ),
        )
        st = bulk_apply(spark, src.spool_dir, root)
        assert hits_for("two") == {did("9")} and hits_for("one") == set()
