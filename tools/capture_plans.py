"""Regenerate PLANS.md: .explain("formatted") evidence for headline
queries, filtered to the load-bearing lines (scans with PushedFilters /
pruned ReadSchema, exchanges, broadcast joins, partition filters).

Usage: python tools/capture_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from data_prepper_spark.session import get_spark  # noqa: E402

NAMES = [
    "tpch_q1",
    "revenue_by_nation",
    "bm25_topk",
    "cosine_topk_bruteforce",
    # scale-audited dedup family: every plan must show hash joins on
    # band/bucket keys — no CartesianProduct / BroadcastNestedLoopJoin
    "embedding_dup_pairs",
    "minhash_dedup",
    "winnow_fingerprint_dups",
    "trace_group_fill",
    # ANN family: assignment must be a map-only pass over the scan
    # side (no shuffle before the bounded candidate join)
    "ann_lsh",
    "ann_ivf",
    # round-4 additions: hash aggregations + broadcast dims only —
    # no nested-loop joins, no single-partition windows
    "prometheus_remote_write_decode",
    "paragraph_dedup_scrub",
    "sequence_packing_plan",
    "top_hits_engine",
    "sloppy_phrase_engine",
    # round-5: BM25F — the contract is ONE postings scan for all
    # fields (tests/test_bm25f.py::test_single_postings_scan asserts
    # it on the executed plan), fields/weights broadcast
    "bm25f_engine",
    "dsl_nested_bool_search",
    # round-5 continuation: join-field relations must be equi-joins
    # (one groupBy on the parent key, no nested loops); span family
    # stays one positional scan; t_test is one grouped pass of
    # conditional sums; geo_line's rank must be WindowGroupLimit;
    # filtered knn pushes the predicate into the vector scan
    "join_field_search",
    "dsl_span_or_not",
    "dsl_rate_ttest",
    "dsl_geo_line",
    "dsl_knn_filtered",
    # session-6: the n-gram scorer must be scan -> BROADCAST model
    # join -> one hash aggregate (no sort-merge on the gram key);
    # C4 cleaning must stay a single narrow map (no exchange)
    "ngram_logprob_score",
    "c4_quality_filter",
]

KEEP = re.compile(
    r"PushedFilters|ReadSchema|PartitionFilters|BroadcastHashJoin|"
    r"SortMergeJoin|Exchange|WholeStageCodegen \(|ArrowEvalPython|"
    r"MapInArrow|HashAggregate|CartesianProduct|BroadcastNestedLoop|"
    r"Window|Scan parquet"
)

HEADER = """# PLANS — .explain(\"formatted\") evidence for headline queries

Captured from live plans (tools/capture_plans.py; regenerate any
time). Load-bearing properties:

- filters + projections reach the parquet scan (PushedFilters /
  pruned ReadSchema) — nothing reads columns it doesn't use
- small sides broadcast (BroadcastHashJoin); no SortMergeJoin in
  the dimension joins
- index queries scan ONLY the postings partitions their terms hash
  to: PartitionFilters / bucket IN (...) (directory-level pruning)
- the dedup/LSH family shows hash joins on band/bucket keys — NO
  CartesianProduct and no nested-loop join over unbounded sides.
  Every BroadcastNestedLoopJoin(Cross) below is a deliberate
  bounded-side cross: bm25_topk (and the blockmax/boolean index
  paths) broadcast the ONE-ROW corpus-stats aggregate, and the
  cosine/knn baselines broadcast the (tiny, fixed) query-vector side
  into the scan — the scan side never shuffles. dsl_knn_filtered
  additionally proves the knn `filter` lands IN the vector scan
  (PushedFilters: EqualTo(label,1) / GreaterThanOrEqual(label,2));
  join_field_search is BroadcastHashJoin + HashAggregate only; and
  dsl_geo_line's rank shows WindowGroupLimit above the exchange
"""


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    lines = [
        ln
        for ln in buf.getvalue().splitlines()
        if KEEP.search(ln)
    ]
    return "\n".join(ln.strip()[:110] for ln in lines)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="plans", master="local[8]")
    qs = entrymod.queries()
    out = [HEADER, "```"]
    for name in NAMES:
        out.append(f"\n==== {name} ====")
        out.append(plan_of(qs[name](spark, sf_dir)))

    # the physical-index query path (build once at sf0.001, explain topk)
    import shutil
    import tempfile

    from data_prepper_spark.corpus import ensure_fixtures
    from data_prepper_spark.index.build import build_index
    from data_prepper_spark.index.query import topk

    d = ensure_fixtures(0.001, base_dir=os.path.join(REPO, "fixtures"))
    idx = os.path.join(tempfile.gettempdir(), "plans_idx")
    shutil.rmtree(idx, ignore_errors=True)
    build_index(spark, f"{d}/corpus.parquet", idx)
    q = spark.read.parquet(f"{d}/queries.parquet").limit(5)
    out.append("\n==== index_topk_blockmax ====")
    out.append(plan_of(topk(spark, idx, q, k=10, mode="blockmax")))

    # search-API family: all must show the same bucket-pruned postings
    # scan + broadcast query side; faceting on the doc-values path must
    # NOT touch the corpus scan at all
    from data_prepper_spark.index.query import (
        attach_doc_values,
        boolean_search,
        expanded_search,
        faceted_search,
    )

    # boolean_search runs each row as a booltree.py bool tree: one
    # bucket-pruned postings scan decodes every leaf, then hash joins
    # on ord do the must/should/must_not set algebra
    bq = spark.createDataFrame(
        [(0, "data query", "spark", "slow")],
        "query_id long, must string, should string, must_not string",
    )
    out.append("\n==== index_boolean_search ====")
    out.append(plan_of(boolean_search(spark, idx, bq, k=10)))
    pq = spark.createDataFrame([(0, "da")], "query_id long, pattern string")
    out.append("\n==== index_prefix_expansion ====")
    out.append(plan_of(expanded_search(spark, idx, pq, match="prefix", k=10)))
    attach_doc_values(spark, idx, f"{d}/corpus.parquet", cols=("lang",))
    fq = spark.createDataFrame([(0, "data")], "query_id long, query string")
    out.append("\n==== index_faceted_docvalues ====")
    out.append(
        plan_of(faceted_search(spark, idx, f"{d}/corpus.parquet", fq))
    )

    # explain/termvectors: tokens scans must show the pushed IN filters
    from data_prepper_spark.index.query import (
        explain_score,
        percolate,
        term_vectors,
    )

    out.append("\n==== index_explain_score ====")
    out.append(plan_of(explain_score(spark, idx, q.limit(2), k=5)))
    docs_ids = [
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/docs").limit(3).collect()
    ]
    out.append("\n==== index_term_vectors ====")
    out.append(plan_of(term_vectors(spark, idx, docs_ids)))
    # percolate: one hash join on term, grouped count — no cross join
    sq = spark.createDataFrame(
        [(0, "data query"), (1, "spark")], "query_id long, query string"
    )
    docs_df = spark.read.parquet(f"{d}/corpus.parquet").select(
        "path", "content"
    ).withColumnRenamed("path", "doc_id").limit(100)
    out.append("\n==== percolate ====")
    out.append(
        plan_of(percolate(sq, docs_df, text_col="content", doc_id_col="doc_id"))
    )
    # multi_match: two per-field pipelines + one outer join combiner
    from data_prepper_spark.datapipe.textstats import multi_match
    from data_prepper_spark.tokenizer import tokenize_col

    import pyspark.sql.functions as F

    mdocs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.array_join(F.slice(tokenize_col(F.col("text")), 1, 10), " ").alias(
            "title"
        ),
        F.col("text").alias("body"),
    )
    out.append("\n==== multi_match_most_fields ====")
    out.append(plan_of(multi_match(mdocs, sq, {"title": 2.0, "body": 1.0})))
    # positional phrase: term-IN pushdown into the positions scan,
    # no corpus access anywhere in the plan
    from data_prepper_spark.index.positions import (
        build_positions,
        phrase_topk_positional,
    )

    build_positions(spark, f"{d}/corpus.parquet", idx)
    import pandas as _pd

    from data_prepper_spark.tokenizer import tokenize_series as _ts

    _toks = _ts(
        _pd.read_parquet(f"{d}/corpus.parquet").head(1).content
    ).iloc[0]
    php = spark.createDataFrame(
        [(0, " ".join(_toks[5:7]))], "query_id long, phrase string"
    )
    out.append("\n==== index_phrase_positional ====")
    out.append(plan_of(phrase_topk_positional(spark, idx, php, k=10)))
    # collapse: two bounded-key windows over the scored match set
    from data_prepper_spark.index.query import collapse_search

    out.append("\n==== index_collapse ====")
    out.append(
        plan_of(
            collapse_search(spark, idx, f"{d}/corpus.parquet", fq, field="lang")
        )
    )
    # pruned percolate: ONE broadcast join, no aggregation at all
    from data_prepper_spark.index.query import percolate_pruned

    dfreq_df = spark.read.parquet(f"{idx}/terms").select("term", "df")
    out.append("\n==== percolate_pruned ====")
    out.append(
        plan_of(
            percolate_pruned(
                sq, docs_df, dfreq_df, text_col="content", doc_id_col="doc_id"
            )
        )
    )
    # anomaly detector: ONE hash exchange on the identification keys,
    # window functions stacked on it, no Python
    from data_prepper_spark.operators.anomaly import anomaly_detector

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out.append("\n==== anomaly_detector ====")
    out.append(
        plan_of(
            anomaly_detector(
                ev, ["value"], identification_keys=["user_id"],
                order_by=["event_id"], sample_size=64, output_after=16,
                threshold=2.5,
            )
        )
    )
    out.append("```\n")

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
