"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry demonstrates one operator family from
SURVEY.md §2 (or a datapipe extension) over the driver's testdata
tables and has an ANSI-SQL oracle in ``oracle_sql()`` that DuckDB runs
on the same parquet. Column names and value discipline are aligned:
  * monetary/decimal-natured aggregates go through an exact
    decimal(18,4) sum then one cast to double -> bit-identical values;
  * transcendental scores (BM25, cosine) are rounded to 6 decimals;
  * timestamps are compared as formatted strings (UTC both sides).
Every entry has an oracle (112/112): hash-based operators (minhash,
simhash, winnowing, hash_split) run DuckDB-portable md5-derived
hashes; LSH ANN and the multimodal fake decode embed their
deterministic constants in both engines; iterative ops (dedup
clustering) are oracled with recursive CTEs. The production
(xxhash64 / numpy-siphash) twins of the portable variants are
asserted in tests/ and measured in bench.py. The *_engine entries
(bm25_indexed, phrase, boolean, prefix, fuzzy, simple_query_string,
faceted, significant_terms, range, search_after, delete_by_query,
index_stats) run through the physical index, sharing ONE cached
build per sweep (_docs_index).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # module-level: pandas_udf resolves PEP-563
# string annotations of decorated functions from these globals

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_prepper_spark.tokenizer import tokenize_col, tokenize_sql

SF001 = "/root/testdata/sf0.001"

K1, B = 1.2, 0.75
BM25_QUERY_TERMS = ["spark", "data", "merge", "query", "slow init"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dsum(col: str):
    """Exact decimal sum surfaced as double (bit-identical to DuckDB's
    CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE))."""
    return F.sum(F.col(col).cast("decimal(18,4)")).cast("double")


def _dsum_expr(col_expr):
    return F.sum(col_expr.cast("decimal(18,4)")).cast("double")


# --------------------------------------------------------------------
# flagship: BM25 top-10 over `documents` expressed as pure DataFrame ops
# --------------------------------------------------------------------


def bm25_topk_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize_col(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    q = spark.createDataFrame(
        [(t,) for t in BM25_QUERY_TERMS], "query string"
    ).select(
        "query", F.explode(F.array_distinct(tokenize_col(F.col("query")))).alias("term")
    )
    scored = (
        q.join(dfreq, "term")
        .join(tf, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "part",
            F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * F.col("tf")
            * (K1 + 1.0)
            / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))),
        )
    )
    tot = scored.groupBy(F.col("query"), F.col("doc_id")).agg(
        F.sum("part").alias("score")
    )
    w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        tot.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query",
            "rank",
            "doc_id",
            F.round(F.col("score"), 6).alias("score_r"),
        )
    )


def _bm25_indexed_sql(where: str = "") -> str:
    """Oracle for the physical-index path: same BM25 math keyed by
    query_id, tie-break (score desc, doc_id asc). `where` narrows the
    corpus (the PIT oracle scores over the frozen subset ONLY —
    corpus stats included)."""
    terms_values = ", ".join(
        f"(CAST({i} AS BIGINT), '{t}')" for i, t in enumerate(BM25_QUERY_TERMS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents {where}
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qraw(query_id, query) AS (VALUES {terms_values}),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term FROM qraw),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1) / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
tot AS (SELECT query_id, doc_id, sum(part) AS score FROM scored GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM tot
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""


def _bm25_sql() -> str:
    terms_values = ", ".join(f"('{t}')" for t in BM25_QUERY_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qraw(query) AS (VALUES {terms_values}),
q AS (SELECT DISTINCT query, unnest({tokenize_sql('query')}) AS term FROM qraw),
scored AS (
  SELECT q.query, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1) / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
tot AS (SELECT query, doc_id, sum(part) AS score FROM scored GROUP BY 1, 2),
ranked AS (
  SELECT query, doc_id, score,
         row_number() OVER (PARTITION BY query ORDER BY score DESC, doc_id) AS rank
  FROM tot
)
SELECT query, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""


# --------------------------------------------------------------------
# TPC-H-style relational parity
# --------------------------------------------------------------------


def tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            _dsum_expr(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def topk_orders_per_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey",
                F.round("o_totalprice", 4).alias("price_r"))
    )


def tpch_q6(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01"))
            & (F.col("l_shipdate") < F.lit("1995-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dsum_expr(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue"
            ),
            F.count("*").alias("n_rows"),
        )
    )


def tpch_q3(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
    )
    agg = joined.groupBy("l_orderkey", "o_orderpriority").agg(
        _dsum_expr(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        )
    )
    return (
        agg.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "o_orderpriority", "revenue")
    )


def revenue_by_nation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(_dsum("o_totalprice").alias("revenue"), F.count("*").alias("n_orders"))
    )


# --------------------------------------------------------------------
# processor-parity entries (SURVEY.md §2.4-2.7)
# --------------------------------------------------------------------


def translate_event_type(spark, sf_dir):
    from data_prepper_spark.operators.enrich import translate

    ev = _t(spark, sf_dir, "events")
    mapped = translate(
        ev,
        "event_type",
        "label",
        {"click": "interaction", "view": "interaction", "purchase": "conversion",
         "signup": "conversion"},
        default="other",
    )
    return mapped.groupBy("label").agg(F.count("*").alias("n"))


def translate_ranges(spark, sf_dir):
    """translate with inclusive numeric range keys + comma-list keys
    (reference MappingsParser.parseIndividualKeys / Range.between)."""
    from data_prepper_spark.operators.enrich import translate

    e = _t(spark, sf_dir, "events")
    out = translate(
        e, "value", "band",
        {"0-49": "low", "50-149": "mid", "150-1000000": "high"},
        default="other",
    )
    out = translate(
        out, "event_type", "label",
        {"click,view": "interaction", "purchase": "conversion"},
        default="other",
    )
    return out.groupBy("band", "label").agg(F.count("*").alias("n"))


def grok_extract_props(spark, sf_dir):
    from data_prepper_spark.operators.parse import grok

    ev = _t(spark, sf_dir, "events")
    g = grok(ev, "props", '"k": %{INT:kval}')
    return (
        g.withColumn("kv", F.col("kval").cast("long"))
        .groupBy((F.col("kv") % 10).alias("k_mod"))
        .agg(F.count("*").alias("n"), _dsum("value").alias("sum_value"))
    )


def key_value_parse(spark, sf_dir):
    from data_prepper_spark.operators.parse import key_value

    c = _t(spark, sf_dir, "customer").withColumn(
        "kv_str",
        F.concat(
            F.lit("seg="), F.col("c_mktsegment"), F.lit("&nat="),
            F.col("c_nationkey").cast("string"),
        ),
    )
    parsed = key_value(c, "kv_str", dest="kv")
    return parsed.select(
        "c_custkey",
        F.element_at(F.col("kv"), "seg").alias("seg"),
        F.element_at(F.col("kv"), "nat").cast("int").alias("nat"),
    )


def typeof_dynamic(spark, sf_dir):
    """Runtime typeof over dynamic JSON payloads (GenericTypeOfOperator
    / DataPrepperExpression.g4:93-95) via per-row VARIANT schema."""
    from data_prepper_spark.operators.expression import dp_typeof

    e = _t(spark, sf_dir, "events").withColumn(
        "j",
        F.element_at(
            F.array(
                F.lit('{"v": 7}'),
                F.lit('{"v": "s"}'),
                F.lit('{"v": 1.5}'),
                F.lit('{"v": [1, 2]}'),
                F.lit('{"v": {"w": 1}}'),
                F.lit('{"v": 5000000000}'),
            ),
            (F.col("event_id") % 6 + 1).cast("int"),
        ),
    )
    return (
        e.withColumn("t", dp_typeof("j", "/v"))
        .groupBy("t")
        .agg(F.count("*").alias("n"))
    )


def csv_auto_columns(spark, sf_dir):
    """csv auto column1..N naming (CsvProcessor.java:181-183) and
    header-from-event mode (column_names_source_key)."""
    from data_prepper_spark.operators.parse import csv_parse

    c = _t(spark, sf_dir, "customer").withColumn(
        "line",
        F.concat_ws(
            ",", F.col("c_custkey").cast("string"), F.col("c_mktsegment"),
            F.col("c_nationkey").cast("string"),
        ),
    ).withColumn("hdr", F.lit("k,seg,nat"))
    auto = csv_parse(c, "line", n_columns=3, dest="auto")
    both = csv_parse(auto, "line", header_source="hdr", dest="named")
    return both.select(
        "c_custkey",
        F.col("auto.column2").alias("col2"),
        F.element_at(F.col("named"), "nat").alias("nat_from_header"),
    )


def date_output_format(spark, sf_dir):
    """date with output_format + epoch patterns
    (DateProcessorConfig.java:61-68 output_format)."""
    from data_prepper_spark.operators.parse import date_parse

    e = _t(spark, sf_dir, "events").withColumn(
        "ts_str", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    )
    out = date_parse(
        e, "ts_str", ["dd/MMM/yyyy", "yyyy-MM-dd HH:mm:ss"],
        dest="day", output_format="yyyy/MM/dd",
    )
    return out.groupBy("day").agg(F.count("*").alias("n"))


def flatten_map_to_list(spark, sf_dir):
    """Recursive flatten of nested structs (FlattenProcessor.java:28
    recursive mode) + map_to_list (MapToListProcessor.java:33)."""
    from data_prepper_spark.operators.mutate import flatten, map_to_list

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.struct(
            F.struct(
                F.col("c_name").alias("b"), F.col("c_nationkey").alias("c")
            ).alias("a"),
            F.col("c_mktsegment").alias("d"),
        ).alias("nested"),
        F.create_map(
            F.lit("seg"), F.col("c_mktsegment"),
            F.lit("name"), F.col("c_name"),
        ).alias("m"),
    )
    flat = flatten(c, "nested", recursive=True)
    lst = map_to_list(flat, "m", "kv")
    return lst.select(
        "c_custkey",
        F.col("`a.b`").alias("a_b"),
        F.col("`a.c`").cast("int").alias("a_c"),
        F.col("d"),
        F.expr("kv[0].key").alias("k0"),
        F.expr("kv[1].value").alias("v1"),
    )


def avro_roundtrip(spark, sf_dir):
    """Avro input codec (AvroInputCodec.java:41): customer rows written
    to two deflate/null OCF files by the in-repo writer, read back
    distributed (binaryFile + mapInPandas decode)."""
    import tempfile

    from data_prepper_spark.codecs import read_avro, write_avro

    pdf = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment", "c_nationkey")
        .toPandas()
        .sort_values("c_custkey")
    )
    schema = {
        "type": "record",
        "name": "customer",
        "fields": [
            {"name": "c_custkey", "type": "long"},
            {"name": "c_name", "type": "string"},
            {"name": "c_mktsegment", "type": "string"},
            {"name": "c_nationkey", "type": ["null", "int"]},
        ],
    }
    rows = pdf.to_dict("records")
    for r in rows:
        r["c_custkey"] = int(r["c_custkey"])
        r["c_nationkey"] = int(r["c_nationkey"])
    d = tempfile.mkdtemp(prefix="dps_avro_")
    half = len(rows) // 2
    write_avro(rows[:half], schema, f"{d}/a.avro", codec="deflate")
    write_avro(rows[half:], schema, f"{d}/b.avro", codec="null")
    return read_avro(spark, d).withColumnRenamed("c_nationkey", "nat")


def multiline_assembly(spark, sf_dir):
    """multiline input codec (MultilineInputCodec.java:50): records
    opened by a start pattern, continuation lines appended; assembled
    with a per-file window (pure Catalyst)."""
    import tempfile

    from data_prepper_spark.codecs import read_multiline

    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id", "event_type")
        .toPandas()
        .sort_values("event_id")
    )
    lines = []
    for eid, etype in zip(ev["event_id"], ev["event_type"]):
        lines.append(f"EVT {eid} start")
        lines.append(f"  type={etype}")
        if eid % 3 == 0:
            lines.append("  extra detail")
    d = tempfile.mkdtemp(prefix="dps_ml_")
    with open(f"{d}/log.txt", "w") as f:
        f.write("\n".join(lines) + "\n")
    recs = read_multiline(spark, f"{d}/log.txt", start_pattern=r"^EVT ")
    return recs.select(
        F.regexp_extract("record", r"^EVT (\d+) start", 1)
        .cast("long")
        .alias("eid"),
        F.regexp_extract("record", r"type=(\w+)", 1).alias("etype"),
        F.size(F.split("record", "\n")).alias("n_lines"),
    )


def parse_ion_props(spark, sf_dir):
    """parse_ion (ParseIonProcessor.java:30): Ion text with annotations,
    bare symbols and typed nulls downconverted to JSON, then native
    from_json."""
    from data_prepper_spark.operators.parse import parse_ion

    e = _t(spark, sf_dir, "events").withColumn(
        "ion",
        F.concat(
            F.lit("evt::{etype: "), F.col("event_type"),
            F.lit(", eid: "), F.col("event_id").cast("string"),
            F.lit(", ts: 2024-01-02T10:00:00Z, miss: null.int, flag: true}"),
        ),
    )
    out = parse_ion(e, "ion", "etype string, eid bigint, ts string, miss bigint, flag boolean")
    return out.select(
        F.col("parsed.eid").alias("eid"),
        F.col("parsed.etype").alias("etype"),
        F.col("parsed.ts").alias("ts"),
        F.col("parsed.miss").alias("miss"),
        F.col("parsed.flag").alias("flag"),
    )


def event_json_roundtrip(spark, sf_dir):
    """event_json codec round-trip (EventJsonInputCodec.java:39 /
    EventJsonOutputCodec): events -> envelope -> events."""
    import tempfile

    from data_prepper_spark.codecs import read_event_json, write_event_json

    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    d = tempfile.mkdtemp(prefix="dps_ej_") + "/env"
    write_event_json(e, d)
    back = read_event_json(
        spark, d, "event_id bigint, event_type string, user_id bigint"
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"), F.min("event_id").alias("min_id")
    )


def grok_apache_log(spark, sf_dir):
    """COMMONAPACHELOG one-liner (nested grok pattern library,
    reference grok-patterns/patterns + GrokProcessor.java:63) parses
    the apache_log_generator output; oracle reproduces the generator's
    arithmetic directly."""
    from data_prepper_spark.operators.parse import grok
    from data_prepper_spark.pipeline import apache_log_generator

    logs = apache_log_generator(spark, 1000)
    g = grok(logs, "log", "%{COMMONAPACHELOG}")
    return g.groupBy("verb", "response").agg(
        F.count("*").alias("n"),
        F.min("clientip").alias("min_ip"),
        F.sum(F.col("bytes").cast("bigint")).alias("sum_bytes"),
    )


def logstash_converted_pipeline(spark, sf_dir):
    """A Logstash `.conf` converted to the pipeline YAML surface
    (data_prepper_spark/logstash.py, mirroring the reference's
    LogstashConfigConverter.java:32 + mapping resources) and EXECUTED:
    file-input (json codec) over the events table dumped as ndjson,
    grok INT extraction from props, a mutate block that splits into
    rename_keys / uppercase_string / substitute_string / add_entries /
    convert_type in the reference's canonical order. The oracle
    recomputes every transform from the raw events table."""
    import os
    import tempfile

    from data_prepper_spark.logstash import convert
    from data_prepper_spark.pipeline import build_pipelines

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "props"
    )
    tmp = tempfile.mkdtemp(prefix="dps_lsconv_")
    nd = os.path.join(tmp, "events_ndjson")
    ev.coalesce(1).write.mode("overwrite").json(nd)
    conf = f"""
input {{ file {{ path => "{nd}" codec => json }} }}
filter {{
  grok {{ match => {{ "props" => '"k": %{{INT:kval}}' }} }}
  mutate {{
    rename => {{ "event_type" => "etype" }}
    uppercase => ["etype"]
    gsub => ["props", "\\"", ""]
    add_field => {{ "src" => "logstash" }}
    convert => {{ "kval" => "long" }}
  }}
}}
output {{ stdout {{ }} }}
"""
    res = build_pipelines(spark, convert(conf), execute_sinks=False)
    out = res["logstash-converted-pipeline"].output
    return out.groupBy("etype", "src").agg(
        F.count("*").alias("n"),
        F.sum("kval").alias("sum_kval"),
        F.min("props").alias("min_props"),
    )


def grok_haproxy_log(spark, sf_dir):
    """HAPROXYTCP from the bundled ecosystem pattern sets
    (load_builtin_pattern_sets — the public Logstash-ecosystem files
    the reference's grok plugin consumes via patterns_directories,
    GrokProcessorConfig.java): log lines are constructed
    deterministically from `events`, parsed with %{HAPROXYTCP}, and
    the oracle reproduces the construction arithmetic directly — any
    capture misalignment shifts values and fails the hash. The pid is
    kept >=1: SYSLOGPROG captures it as POSINT, like real pids."""
    from data_prepper_spark.operators.parse import (
        grok,
        load_builtin_pattern_sets,
    )

    load_builtin_pattern_sets("haproxy")
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 17 == 0)
    lines = ev.select(
        F.format_string(
            "Feb  6 12:14:14 lb haproxy[%d]: 10.0.%d.%d:%d "
            "[06/Feb/2009:12:14:14.655] fnt bck/srv%d 0/0/%d %d -- "
            "1/1/1/1/0 0/0",
            (F.col("event_id") % 30000 + 1).cast("int"),
            (F.col("user_id") % 250).cast("int"),
            (F.col("event_id") % 250).cast("int"),
            (F.col("event_id") % 50000 + 10000).cast("int"),
            (F.col("user_id") % 8).cast("int"),
            (F.col("event_id") % 9000).cast("int"),
            (F.col("event_id") % 100000).cast("int"),
        ).alias("log")
    )
    g = grok(lines, "log", "%{HAPROXYTCP}")
    return g.groupBy("server_name").agg(
        F.count("*").alias("n"),
        F.sum(F.col("bytes_read").cast("bigint")).alias("sum_bytes"),
        F.max(F.col("client_port").cast("bigint")).alias("max_port"),
        F.min("client_ip").alias("min_ip"),
    )


def key_value_grouped(spark, sf_dir):
    """key_value with value_grouping: quoted values keep embedded field
    delimiters (reference KeyValueProcessor.parseWithValueGrouping,
    KeyValueProcessorTests.getKeyValueGroupingTestdata)."""
    from data_prepper_spark.operators.parse import key_value

    c = _t(spark, sf_dir, "customer").withColumn(
        "line",
        F.concat(
            F.lit("seg="), F.col("c_mktsegment"),
            F.lit('&msg="v& '), F.col("c_name"), F.lit('"'),
            F.lit("&nat="), F.col("c_nationkey").cast("string"),
        ),
    )
    out = key_value(
        c, "line", field_split="&", value_split="=",
        value_grouping=True, string_literal_character='"',
    )
    return out.select(
        "c_custkey",
        F.col("parsed")["seg"].alias("seg"),
        F.col("parsed")["msg"].alias("msg"),
        F.col("parsed")["nat"].alias("nat"),
    )


def date_histogram_daily(spark, sf_dir):
    from data_prepper_spark.operators.parse import date_parse

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts_str", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    )
    parsed = date_parse(ev, "ts_str", ["yyyy-MM-dd HH:mm:ss"], dest="parsed_ts")
    return (
        parsed.groupBy(F.date_format("parsed_ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("n"), _dsum("value").alias("sum_value"))
    )


def route_events(spark, sf_dir):
    from data_prepper_spark.operators.route import apply_routes

    ev = _t(spark, sf_dir, "events")
    routes = apply_routes(
        ev,
        {
            "errors": '/event_type == "error"',
            "big_values": "/value > 150.0",
        },
    )
    parts = [
        df.select(F.lit(name).alias("route"), "event_id")
        for name, df in routes.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("route").agg(
        F.count("*").alias("n"), F.min("event_id").alias("min_id")
    )


def split_event_tokens(spark, sf_dir):
    from data_prepper_spark.operators.mutate import split_event

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ex = split_event(docs, "text", r"\s+")
    return (
        ex.filter(F.col("text") != "")
        .groupBy(F.col("text").alias("token"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 200)
    )


def string_mutations(spark, sf_dir):
    from data_prepper_spark.operators.mutate import (
        substitute_string,
        trim_string,
        uppercase_string,
    )

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 50)
    c = substitute_string(c, "c_name", "#", "-")
    c = uppercase_string(c, ["c_name", "c_mktsegment"])
    c = trim_string(c, ["c_name"])
    return c.select("c_custkey", "c_name", "c_mktsegment")


def obfuscate_hash(spark, sf_dir):
    from data_prepper_spark.operators.mutate import obfuscate

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 20)
    c = c.withColumn("acct_masked", F.lit("***"))
    c = obfuscate(c, "c_name", action="hash", salt="pepper", bits=256)
    return c.select("c_custkey", "c_name", "acct_masked")


def dp_expression_filter(spark, sf_dir):
    from data_prepper_spark.operators import dp_expr

    ev = _t(spark, sf_dir, "events")
    cond = dp_expr(
        '/value > 100.0 and /event_type != "error" and /event_type in {"click", "view", "purchase"}'
    )
    return ev.filter(cond).groupBy("event_type").agg(
        F.count("*").alias("n"), _dsum("value").alias("sum_value")
    )


def dp_expression_functions(spark, sf_dir):
    """Expression-language scalar functions as projections
    (data-prepper-expression *ExpressionFunction.java family)."""
    from data_prepper_spark.operators import dp_expr

    ev = _t(spark, sf_dir, "events")
    return ev.filter(dp_expr('/event_type != "error" or /value >= 10.0')).select(
        "event_id",
        dp_expr("length(/event_type)").alias("etype_len"),
        dp_expr('substringBefore(/props, ":")').alias("props_head"),
        dp_expr('formatDateTime(/ts, "yyyy-MM")').alias("month"),
        dp_expr('contains(/event_type, "ck")').alias("has_ck"),
        dp_expr('startsWith(/props, "{")').alias("is_json"),
    )


def range_lookup_value_bands(spark, sf_dir):
    from data_prepper_spark.operators.enrich import range_lookup

    ev = _t(spark, sf_dir, "events")
    ranges = spark.createDataFrame(
        [(0.0, 50.0, "low"), (50.0, 150.0, "mid"), (150.0, 1e9, "high")],
        "lo double, hi double, band string",
    )
    joined = range_lookup(ev, "value", ranges, "lo", "hi", ["band"])
    return joined.groupBy("band").agg(F.count("*").alias("n"))


def rollup_revenue(spark, sf_dir):
    """Hierarchical totals via rollup (nation -> segment) — a
    relational extension beyond the reference's keyed-state-only
    aggregations (SURVEY.md §2.5 notes grouping sets are absent
    there)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        j.rollup("n_name", "c_mktsegment")
        .agg(_dsum("o_totalprice").alias("revenue"), F.count("*").alias("n_orders"))
    )


def substring_expression_family(spark, sf_dir):
    """substringBefore/After[Last] expression functions
    (AbstractSubstringExpressionFunction.java + 4 subclasses) over a
    2-separator composite key."""
    from data_prepper_spark.operators import dp_expr

    # every third row uses '|' as the separator, so the '.' delimiter is
    # ABSENT there — exercising the reference's indexOf==-1 -> full
    # source contract (AbstractSubstringExpressionFunction subclasses)
    c = _t(spark, sf_dir, "customer").withColumn(
        "sep",
        F.when(F.col("c_custkey") % 3 == 0, F.lit("|")).otherwise(F.lit(".")),
    ).withColumn(
        "s",
        F.concat(
            F.col("c_mktsegment"), F.col("sep"), F.col("c_name"),
            F.col("sep"), F.col("c_custkey").cast("string"),
        ),
    )
    return c.select(
        "c_custkey",
        dp_expr('substringBefore(/s, ".")').alias("seg"),
        dp_expr('substringAfter(/s, ".")').alias("name_key"),
        dp_expr('substringBeforeLast(/s, ".")').alias("seg_name"),
        dp_expr('substringAfterLast(/s, ".")').alias("key"),
    )


def csv_parse_roundtrip(spark, sf_dir):
    """csv processor: string field -> typed columns (CsvProcessor.java:44).
    The CSV line is synthesized from `customer` so the oracle can state
    the expected parse result exactly."""
    from data_prepper_spark.operators.parse import csv_parse

    c = _t(spark, sf_dir, "customer").withColumn(
        "line",
        F.concat_ws(
            ",",
            F.col("c_custkey").cast("string"),
            F.col("c_mktsegment"),
            F.col("c_nationkey").cast("string"),
        ),
    )
    p = csv_parse(c, "line", "k long, seg string, nat int")
    return p.select(
        F.col("parsed.k").alias("k"),
        F.col("parsed.seg").alias("seg"),
        F.col("parsed.nat").alias("nat"),
    )


def parse_json_props(spark, sf_dir):
    """parse_json: JSON string field -> struct (ParseJsonProcessor.java:30)."""
    from data_prepper_spark.operators.parse import parse_json

    ev = _t(spark, sf_dir, "events")
    p = parse_json(ev, "props", "k long")
    return (
        p.groupBy(F.pmod(F.col("parsed.k"), F.lit(7)).alias("k_mod"))
        .agg(F.count("*").alias("n"))
    )


def convert_type_try_cast(spark, sf_dir):
    """convert_type with tags_on_failure (ConvertEntryTypeProcessor):
    malformed values null out and tag the row instead of failing the
    task (the reference's tag-and-keep contract)."""
    from data_prepper_spark.operators.mutate import convert_type

    ev = _t(spark, sf_dir, "events").withColumn(
        "raw",
        F.when(
            F.col("event_id") % 5 == 0, F.concat(F.lit("x"), F.col("value"))
        ).otherwise(F.col("value").cast("string")),
    )
    out = convert_type(ev, "raw", "double", tags_on_failure=["cast_fail"])
    return out.select(
        "event_id",
        F.round("raw", 4).alias("converted_r"),
        F.array_join("_tags", ",").alias("tags"),
    )


def wrap_flatten_roundtrip(spark, sf_dir):
    """wrap_entries (struct nesting) then flatten back
    (WrapEntriesProcessor.java:31, FlattenProcessor.java:28)."""
    from data_prepper_spark.operators.mutate import flatten, wrap_entries

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_nationkey"
    )
    w = wrap_entries(c, ["c_name", "c_mktsegment"], "meta")
    out = flatten(w, "meta", prefix="m_")
    return out.select("c_custkey", "c_nationkey", "m_c_name", "m_c_mktsegment")


def dissect_log_line(spark, sf_dir):
    """dissect positional tokenization (DissectProcessor.java:33) over a
    log line synthesized from `events`."""
    from data_prepper_spark.operators.parse import dissect

    ev = _t(spark, sf_dir, "events").withColumn(
        "line",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(" - "),
            F.col("event_type"),
            F.lit(" ["),
            F.date_format("ts", "yyyy-MM-dd"),
            F.lit("] "),
            F.col("props"),
        ),
    )
    d = dissect(ev, "line", "%{user} - %{etype} [%{day}] %{rest}")
    return (
        d.groupBy("etype", "day")
        .agg(F.count("*").alias("n"), F.min("user").alias("min_user"))
    )


def detect_format_sniff(spark, sf_dir):
    """detect_format sniffing (DetectFormatProcessor.java:24) over mixed
    payload shapes synthesized from `events`."""
    from data_prepper_spark.operators.parse import detect_format

    ev = _t(spark, sf_dir, "events").withColumn(
        "payload",
        F.when(F.col("event_id") % 4 == 0, F.col("props"))
        .when(F.col("event_id") % 4 == 1, F.lit("a=1&b=2"))
        .when(F.col("event_id") % 4 == 2, F.lit("a,b,c"))
        .otherwise(F.lit("plain text payload")),
    )
    return (
        detect_format(ev, "payload")
        .groupBy("detected_format")
        .agg(F.count("*").alias("n"))
    )


def parse_xml_fields(spark, sf_dir):
    """parse_xml via native from_xml (ParseXmlProcessor.java:24) over
    XML synthesized from `events` columns."""
    from data_prepper_spark.operators.parse import parse_xml

    ev = _t(spark, sf_dir, "events").withColumn(
        "xml",
        F.concat(
            F.lit("<e><t>"), F.col("event_type"), F.lit("</t><u>"),
            F.col("user_id").cast("string"), F.lit("</u></e>"),
        ),
    )
    p = parse_xml(ev, "xml", "t string, u long")
    return p.groupBy(F.col("parsed.t").alias("t")).agg(
        F.count("*").alias("n"), F.sum("parsed.u").alias("u_sum")
    )


def decompress_roundtrip(spark, sf_dir):
    """decompress (DecompressProcessor.java:32): deflate+base64
    payloads built from documents.text heads, recovered by the
    operator; the oracle recomputes the heads directly."""
    from pyspark.sql.functions import pandas_udf

    from data_prepper_spark.operators.codec_ops import decompress

    def _deflate(s):
        import base64
        import zlib

        return s.map(
            lambda v: base64.b64encode(zlib.compress(v.encode())).decode()
        )

    comp = pandas_udf(_deflate, "string")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 60).alias("head")
    )
    z = docs.withColumn("payload", comp(F.col("head")))
    out = decompress(z, "payload", dest="recovered")
    return out.select("doc_id", "recovered")


# UA fixture strings with the exact (browser, version, os, device) the
# minimal grammar yields (leftmost-match contract: an Android Chrome UA
# reports os=Linux because "Linux" precedes "Android" in the UA)
_UA_FIXTURE = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/119.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 16_5 like Mac OS X) "
    "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.5 "
    "Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Linux; Android 13; Pixel 7) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/119.0.6045.163 Mobile Safari/537.36",
]
_UA_EXPECT = [
    ("Chrome", "Windows NT 10.0", "desktop"),
    ("Firefox", "Linux", "desktop"),
    ("Safari", "iPhone OS 16.5", "mobile"),
    ("Chrome", "Linux", "mobile"),
]


def user_agent_parse(spark, sf_dir):
    """user_agent parsing (UserAgentProcessor.java:30) over a
    deterministic UA fixture keyed by event_id."""
    from data_prepper_spark.operators.codec_ops import user_agent

    ev = _t(spark, sf_dir, "events").withColumn(
        "ua",
        F.element_at(
            F.array(*[F.lit(u) for u in _UA_FIXTURE]),
            (F.col("event_id") % 4 + 1).cast("int"),
        ),
    )
    p = user_agent(ev, "ua")
    return p.groupBy(
        F.col("user_agent.browser").alias("browser"),
        F.col("user_agent.os").alias("os"),
        F.col("user_agent.device").alias("device"),
    ).agg(F.count("*").alias("n"))


def key_value_dup_list(spark, sf_dir):
    """key_value duplicate-key LIST promotion
    (KeyValueProcessor.java:43): repeated keys collect every value, in
    appearance order, as map<string,array<string>> — surfaced as
    (event_id, key, values-joined) rows for the oracle."""
    from data_prepper_spark.operators.parse import key_value_list

    ev = _t(spark, sf_dir, "events").withColumn(
        "kv",
        F.concat(
            F.lit("type="), F.col("event_type"),
            F.lit("&u="), F.col("user_id").cast("string"),
            F.lit("&type=T"), (F.col("event_id") % 3).cast("string"),
        ),
    )
    p = key_value_list(ev, "kv", dest="m")
    e = p.select("event_id", F.explode("m").alias("key", "vals"))
    return e.select(
        "event_id", "key", F.array_join("vals", "|").alias("vals")
    )


# French month names indexed by month number, for the locale fixture
_FR_MONTHS = [
    "janvier", "février", "mars", "avril", "mai", "juin", "juillet",
    "août", "septembre", "octobre", "novembre", "décembre",
]


def date_locale_parse(spark, sf_dir):
    """date with locale="fr" (DateProcessorConfig.java:61-68): parses
    '5 janvier 2024'-style strings synthesized from events.ts."""
    from data_prepper_spark.operators.parse import date_parse

    ev = _t(spark, sf_dir, "events").withColumn(
        "s",
        F.concat(
            F.date_format("ts", "d"), F.lit(" "),
            F.element_at(
                F.array(*[F.lit(m) for m in _FR_MONTHS]), F.month("ts")
            ),
            F.lit(" "), F.date_format("ts", "yyyy"),
        ),
    )
    out = date_parse(
        ev, "s", ["d MMMM yyyy"], locale="fr", output_format="yyyy-MM-dd"
    )
    return out.groupBy(F.col("@timestamp").alias("day")).agg(
        F.count("*").alias("n")
    )


def truncate_text(spark, sf_dir):
    """truncate to a char budget (TruncateProcessor.java:32)."""
    from data_prepper_spark.operators.mutate import truncate

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = truncate(docs, "text", start_at=0, length=40)
    return out.select("doc_id", F.col("text").alias("head40"))


def list_map_filter_chain(spark, sf_dir):
    """list_to_map + filter_list over per-user event-type count lists
    (ListToMapProcessor.java:29, FilterListProcessor.java:35)."""
    from data_prepper_spark.operators.mutate import filter_list, list_to_map

    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    lists = per.groupBy("user_id").agg(
        F.collect_list(F.struct("event_type", "n")).alias("type_counts")
    )
    m = list_to_map(lists, "type_counts", "event_type", "n", "type_map")
    fl = filter_list(m, "type_counts", "big_types", lambda x: x["n"] >= 3)
    return fl.select(
        "user_id",
        F.element_at(F.col("type_map"), "click").alias("n_click"),
        F.size("big_types").alias("n_big_types"),
    )


def write_json_struct(spark, sf_dir):
    """write_json: serialize a subtree to a JSON string
    (WriteJsonProcessor.java:27)."""
    from data_prepper_spark.operators.mutate import wrap_entries, write_json

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_nationkey")
    w = wrap_entries(c, ["c_mktsegment", "c_nationkey"], "payload")
    out = write_json(w, "payload", "js")
    return out.select("c_custkey", "js")


def add_copy_rename_chain(spark, sf_dir):
    """add_entries (format + value_expression) -> copy_values ->
    rename_keys -> delete_entries -> select_entries, chained as one
    narrow pipeline (mutate-event-processors/*)."""
    from data_prepper_spark.operators.mutate import (
        add_entries,
        copy_values,
        delete_entries,
        rename_keys,
        select_entries,
    )

    ev = _t(spark, sf_dir, "events")
    ev = add_entries(
        ev,
        [
            {"key": "label", "format": "${/event_type}:${/user_id}"},
            {"key": "value_x2", "value_expression": "/value * 2.0"},
        ],
    )
    ev = copy_values(ev, [("event_id", "eid_copy")])
    ev = rename_keys(ev, {"eid_copy": "eid"})
    ev = delete_entries(ev, ["props", "ts"])
    ev = select_entries(ev, ["eid", "label", "value_x2"])
    return ev.select(
        "eid", "label", F.round("value_x2", 4).alias("value_x2_r")
    )


# --------------------------------------------------------------------
# aggregate-processor actions (SURVEY.md §2.5)
# --------------------------------------------------------------------


def aggregate_count_action(spark, sf_dir):
    from data_prepper_spark.operators.aggregate import aggregate_count

    ev = _t(spark, sf_dir, "events")
    return aggregate_count(ev, ["event_type"], count_key="n")


def aggregate_count_otel(spark, sf_dir):
    """count action with otel_metrics output shape
    (CountAggregateAction.java:52-54,171-176: Sum metric with
    name/unit/isMonotonic/value + group window bounds)."""
    from data_prepper_spark.operators.aggregate import aggregate_count

    e = _t(spark, sf_dir, "events")
    out = aggregate_count(
        e, ["event_type"], output_format="otel_metrics",
        event_time_col="ts",
    )
    return out.select(
        "name", "unit", "isMonotonic", "value", "kind",
        F.col("attributes.event_type").alias("etype"),
        "startTime", "time",
    )


def aggregate_histogram_action(spark, sf_dir):
    from data_prepper_spark.operators.aggregate import aggregate_histogram

    li = _t(spark, sf_dir, "lineitem")
    return aggregate_histogram(
        li, ["l_returnflag"], "l_quantity", [10.0, 20.0, 30.0, 40.0]
    ).select(
        "l_returnflag", "bucket", "bucket_count",
        F.round("min_value", 4).alias("min_r"),
        F.round("max_value", 4).alias("max_r"),
    )


def aggregate_append_action(spark, sf_dir):
    from data_prepper_spark.operators.aggregate import aggregate_append

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") <= 5)
    out = aggregate_append(ev, ["user_id"], "event_type")
    return out.select(
        "user_id", F.array_join("event_type_list", ",").alias("types")
    )


def remove_duplicates_action(spark, sf_dir):
    from data_prepper_spark.operators.aggregate import remove_duplicates

    ev = _t(spark, sf_dir, "events")
    out = remove_duplicates(ev, ["user_id", "event_type"], order_by="event_id")
    return out.select("user_id", "event_type", "event_id")


def percent_sampler_action(spark, sf_dir):
    # deterministic arithmetic-hash sampling (portable to the oracle,
    # unlike xxhash64): keep ~30%
    ev = _t(spark, sf_dir, "events")
    h = F.pmod(F.col("event_id") * 1103515245 + 12345, F.lit(10_000))
    return ev.filter(h < 3000).select("event_id", "event_type")


def tail_sampler_action(spark, sf_dir):
    # keep all events of users with any error; sample others ~20%
    ev = _t(spark, sf_dir, "events")
    err = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("e")
    )
    samp = F.pmod(F.col("user_id") * 2654435761 + 1, F.lit(10_000)) < 2000
    keep = err.filter((F.col("e") == 1) | samp).select("user_id")
    return (
        ev.join(F.broadcast(keep), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )


def put_all_action(spark, sf_dir):
    from data_prepper_spark.operators.aggregate import aggregate_put_all

    ev = _t(spark, sf_dir, "events")
    out = aggregate_put_all(ev, ["user_id"], ["value", "event_type"])
    return out.select(
        "user_id", F.round("value", 4).alias("max_value"),
        F.col("event_type").alias("max_type"),
    )


# --------------------------------------------------------------------
# trace operators (SURVEY.md §2.6) on spans synthesized from events
# --------------------------------------------------------------------


def _spans(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.col("user_id").alias("trace_id"),
        F.col("event_id").alias("span_id"),
        F.lag("event_id").over(w).alias("parent_span_id"),
        F.col("event_type").alias("service_name"),
    )


def service_map_edges_q(spark, sf_dir):
    from data_prepper_spark.operators.trace import service_map_edges

    return service_map_edges(_spans(spark, sf_dir))


def trace_group_fill_q(spark, sf_dir):
    from data_prepper_spark.operators.trace import fill_trace_group

    spans = _spans(spark, sf_dir).withColumnRenamed("service_name", "name")
    out = fill_trace_group(spans)
    return out.select("span_id", "trace_group")


def sessionization(spark, sf_dir):
    """Gap-based sessions (30 min) per user — windowed lag + cumsum."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    ses = F.sum(
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.withColumn("session_id", ses)
        .groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


def anomaly_detector_grades(spark, sf_dir):
    """anomaly_detector processor (reference
    AnomalyDetectorProcessor.java:38 / RandomCutForestMode.java:37,
    mechanism-equivalent trailing-window scorer — see
    operators/anomaly.py): per-user anomalies in `value`, non-verbose
    (leading edge of each run only). The oracle reproduces the
    trailing mean/stddev window, the grade formula, the warmup and
    the run-suppression lag exactly."""
    from data_prepper_spark.operators.anomaly import anomaly_detector

    ev = _t(spark, sf_dir, "events")
    out = anomaly_detector(
        ev, ["value"], identification_keys=["user_id"],
        order_by=["event_id"], sample_size=64, output_after=16,
        threshold=2.5, verbose=False,
    )
    return out.select(
        "user_id",
        "event_id",
        # deviations are exact rationals m/(100*n) (2-decimal inputs,
        # trailing-mean window of n<=64 rows): a 6-decimal rounding
        # can land exactly ON a half boundary (engines' 1e-13 float
        # noise then flips it), while an 8-decimal tie would need
        # 2*10^6*m/n odd, i.e. 128 | n — impossible at n<=64. Round
        # to 8 in BOTH engines.
        F.round(F.col("deviation_from_expected")[0], 8).alias("deviation"),
        F.round("grade", 6).alias("grade_r"),
    )


# --------------------------------------------------------------------
# datapipe: dedup / similarity / text stats
# --------------------------------------------------------------------


def inverted_index_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize_col(F.col("text"))).alias("term")
    )
    return (
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
        .filter(F.col("df") >= 5)
    )


def exact_dedup_fingerprint(spark, sf_dir):
    from data_prepper_spark.datapipe.textstats import fingerprint

    docs = _t(spark, sf_dir, "documents").withColumn(
        "prefix", F.array_join(F.slice(tokenize_col(F.col("text")), 1, 3), " ")
    )
    fp = fingerprint(docs, "prefix", dest="fp")
    return (
        fp.groupBy("fp")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("canonical"))
        .filter(F.col("n") > 1)
    )


def token_jaccard_pairs(spark, sf_dir):
    from data_prepper_spark.datapipe.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # hot-shingle guard ON (the skew path that keeps the self-join
    # bounded at scale); the oracle mirrors the same df cap
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=1, threshold=0.8, max_shingle_df=250
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard_r")
    )


def cosine_topk_bruteforce(spark, sf_dir):
    from data_prepper_spark.datapipe.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out = cosine_topk(emb, q, k=10)
    return out.select(
        "query_id", "rank", "vec_id", F.round("cosine", 6).alias("cosine_r")
    )


def embedding_dup_pairs_q(spark, sf_dir):
    """Banded-LSH near-dup path (no CartesianProduct in the plan):
    nbits=2 x bands=40 at this loose threshold gives per-pair miss
    probability ~6e-9, and the seeded hyperplanes are deterministic, so
    the exact-verified output equals the all-pairs oracle."""
    from data_prepper_spark.datapipe.dedup import embedding_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.35, nbits=2, bands=40
    )
    return pairs.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine_r")
    )


def lang_id_markers(spark, sf_dir):
    from data_prepper_spark.datapipe.textstats import lang_id

    docs = _t(spark, sf_dir, "documents")
    return lang_id(docs, "text").groupBy("lang_pred").agg(
        F.count("*").alias("n")
    )


def quality_token_stats(spark, sf_dir):
    from data_prepper_spark.datapipe.textstats import quality_score, token_count

    docs = _t(spark, sf_dir, "documents")
    out = token_count(quality_score(docs, "text"), "text")
    return out.select("doc_id", "quality", "n_tokens")


def bpe_token_counts(spark, sf_dir):
    from data_prepper_spark.datapipe.textstats import bpe_token_count

    docs = _t(spark, sf_dir, "documents")
    return bpe_token_count(docs, "text").select("doc_id", "n_bpe_tokens")


PHRASE_QUERIES = ["merge group", "filter sort", "data customer vector"]


def phrase_search_engine(spark, sf_dir):
    """Exact-phrase search through the physical index
    (index/query.py::phrase_search): conjunctive candidate retrieval
    from the postings, adjacency verified by ONE instr() over the
    candidates' tokenized text, BM25-ranked. Oracle recomputes
    verification + scoring from the raw documents table. Same
    re-rank-by-original-id trick as bm25_indexed_engine (the engine
    tie-breaks on its internal ordinal)."""
    from data_prepper_spark.index.query import phrase_search

    cpath, idx = _docs_index(spark, sf_dir)
    ph = spark.createDataFrame(
        [(i, p) for i, p in enumerate(PHRASE_QUERIES)],
        "query_id long, phrase string",
    )
    return _rerank_engine_results(phrase_search(spark, idx, cpath, ph, k=50))


_DOCS_INDEX_CACHE: dict[str, tuple[str, str]] = {}
_BM25F_INDEX_CACHE: dict[str, str] = {}
_MM_CORPUS_CACHE: dict[str, str] = {}


def _bm25f_index(spark: SparkSession, sf_dir: str) -> str:
    """Fielded (BM25F) index over `documents`: body = text, title =
    the first 10 tokens (deterministic; a token retokenizes to
    itself). Built once per sf_dir per process via the NORMAL build —
    one corpus row per (doc, field)."""
    import os
    import tempfile

    from data_prepper_spark.index.bm25f import build_fielded_index
    from data_prepper_spark.index.build import BuildConfig

    hit = _BM25F_INDEX_CACHE.get(sf_dir)
    if hit is not None:
        return hit
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc"),
        F.col("text").alias("body"),
        F.array_join(
            F.slice(tokenize_col(F.col("text")), 1, 10), " "
        ).alias("title"),
    )
    idx = os.path.join(tempfile.mkdtemp(prefix="dps_bm25f_"), "index")
    build_fielded_index(
        spark, docs, idx, key_col="doc",
        field_cols={"body": "body", "title": "title"},
        cfg=BuildConfig(n_buckets=8, hot_group_target=5000),
    )
    _BM25F_INDEX_CACHE[sf_dir] = idx
    return idx


def bm25f_engine(spark, sf_dir):
    """BM25F weighted-field top-k over ONE physical index / ONE
    postings scan (index/bm25f.py — per-field length normalization,
    weighted tf folded BEFORE saturation, combined idf from the same
    decode). Fields: body = text (w=1), title = first 10 tokens (w=2).
    The oracle recomputes the full BM25F pipeline per field from the
    raw table. Re-ranked by original numeric doc id like the other
    *_engine entries (the engine tie-breaks on the string key)."""
    from data_prepper_spark.index.bm25f import bm25f_topk

    idx = _bm25f_index(spark, sf_dir)
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    res = bm25f_topk(
        spark, idx, q, weights={"title": 2.0, "body": 1.0}, k=50
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(F.col("doc_key").cast("long"))
    )
    return (
        res.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "rank",
            F.col("doc_key").cast("long").alias("doc_id"),
            F.round("score", 6).alias("score_r"),
        )
    )


def _mm_corpus(spark: SparkSession, sf_dir: str) -> str:
    """Cached parquet of `documents` reshaped to field columns
    (doc_id, title = first 10 tokens, body = full text) — the corpus
    the DSL `multi_match` route reads its fields from."""
    import os
    import tempfile

    hit = _MM_CORPUS_CACHE.get(sf_dir)
    if hit is not None:
        return hit
    p = os.path.join(tempfile.mkdtemp(prefix="dps_mmcorpus_"), "docs.parquet")
    _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(
            F.slice(tokenize_col(F.col("text")), 1, 10), " "
        ).alias("title"),
        F.col("text").alias("body"),
    ).write.mode("overwrite").parquet(p)
    _MM_CORPUS_CACHE[sf_dir] = p
    return p


def dsl_multi_match(spark, sf_dir):
    """`multi_match` through the Query-DSL front end (index/dsl.py ->
    textstats.multi_match): type=best_fields (the OpenSearch default —
    Lucene dis_max tie_breaker=0, per-doc MAX of the boosted per-field
    BM25 scores; fields title^2 + body, each with field-local
    df/dl/avgdl). The oracle reproduces both per-field pipelines and
    the max-combine. Complements `multi_match_fields` (direct
    executor, most_fields sum) — this entry proves the DSL routing +
    the best_fields algebra.
    Reference parity: the `multi_match` bodies users send through the
    reference's opensearch sink-side `_search`."""
    from data_prepper_spark.index.dsl import search as dsl_search

    cpath = _mm_corpus(spark, sf_dir)
    _, idx = _docs_index(spark, sf_dir)
    parts = [
        dsl_search(
            spark, idx,
            {"query": {"multi_match": {
                "query": t,
                "fields": ["body", "title^2"],
                "type": "best_fields",
            }}, "size": 10},
            corpus_path=cpath, query_id=i,
        ).hits
        for i, t in enumerate(BM25_QUERY_TERMS)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "query_id", "rank", "doc_id", F.round("score", 6).alias("score_r")
    )


def dsl_combined_fields(spark, sf_dir):
    """`combined_fields` through the Query-DSL front end (index/dsl.py
    -> index/bm25f.py): term-centric BM25F over the fielded physical
    index — weighted per-field tf folded BEFORE saturation, ONE
    combined idf per term, one bucket-pruned postings scan. Identical
    ranking contract to `bm25f_engine` (direct executor); this entry
    proves the DSL clause routing end-to-end under the same full
    BM25F recompute oracle. Re-ranked by original numeric doc id like
    the other *_engine entries."""
    from data_prepper_spark.index.dsl import search as dsl_search

    idx = _bm25f_index(spark, sf_dir)
    parts = [
        dsl_search(
            spark, idx,
            {"query": {"combined_fields": {
                "query": t,
                "fields": ["title^2", "body"],
            }}, "size": 50},
            query_id=i,
        ).hits
        for i, t in enumerate(BM25_QUERY_TERMS)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(F.col("doc_key").cast("long"))
    )
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "rank",
            F.col("doc_key").cast("long").alias("doc_id"),
            F.round("score", 6).alias("score_r"),
        )
    )


def _docs_index(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per sf_dir per process) a physical index over the
    `documents` table shaped as the engine's corpus; returns
    (corpus_path, index_dir). Shared by every *_search_engine entry so
    a full entry sweep pays for ONE index build, not one per entry.
    The build is deterministic (bit-identical across runs), so
    sharing cannot couple entries."""
    import os
    import tempfile

    from data_prepper_spark.index.build import BuildConfig, build_index

    hit = _DOCS_INDEX_CACHE.get(sf_dir)
    if hit is not None:
        return hit
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.select(
        F.lit("docs").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.lit("c0").alias("commit"),
        F.col("lang"),
        F.col("n_chars"),
        F.col("source"),
        F.col("text").alias("content"),
        F.sha2(F.col("text"), 256).alias("content_sha256"),
    )
    tmp = tempfile.mkdtemp(prefix="dps_docsidx_")
    cpath = os.path.join(tmp, "corpus.parquet")
    corpus.coalesce(2).write.mode("overwrite").parquet(cpath)
    idx = os.path.join(tmp, "index")
    build_index(spark, cpath, idx, BuildConfig(n_buckets=8, hot_group_target=5000))
    _DOCS_INDEX_CACHE[sf_dir] = (cpath, idx)
    return cpath, idx


PREFIX_QUERIES = ["s", "qu", "gro", "da"]
FUZZY_QUERIES = ["spork", "dava", "querry", "hash", "zzzzz"]


def _rerank_engine_results(res: DataFrame) -> DataFrame:
    """Re-rank engine output by the original numeric doc_id (the
    engine tie-breaks on its internal ordinal, which orders by the
    STRING path) so ties match the doc_id-ordered oracle."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(F.col("path").cast("long"))
    )
    return (
        res.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "rank",
            F.col("path").cast("long").alias("doc_id"),
            F.round("score", 6).alias("score_r"),
        )
    )


def prefix_search_engine(spark, sf_dir):
    """Prefix query with scoring_boolean rewrite
    (index/query.py::expanded_search, match="prefix") — the reference
    stack's opensearch-api `prefix` query: patterns expand against
    the term DICTIONARY (df-descending, capped at max_expansions=50),
    expanded terms score as a disjunctive BM25 bag. The oracle
    reproduces expansion (same cap + tie-break) and scoring."""
    from data_prepper_spark.index.query import expanded_search

    _, idx = _docs_index(spark, sf_dir)
    q = spark.createDataFrame(
        [(i, p) for i, p in enumerate(PREFIX_QUERIES)],
        "query_id long, pattern string",
    )
    return _rerank_engine_results(
        expanded_search(spark, idx, q, match="prefix", k=50)
    )


def fuzzy_search_engine(spark, sf_dir):
    """Fuzzy query (fuzziness=1) with scoring_boolean rewrite
    (expanded_search, match="fuzzy"): dictionary terms within edit
    distance 1 of the pattern (±1 length band prefilter), then the
    same disjunctive BM25 bag; unknown patterns return zero rows.
    Oracle mirrors DuckDB's levenshtein."""
    from data_prepper_spark.index.query import expanded_search

    _, idx = _docs_index(spark, sf_dir)
    q = spark.createDataFrame(
        [(i, p) for i, p in enumerate(FUZZY_QUERIES)],
        "query_id long, pattern string",
    )
    return _rerank_engine_results(
        expanded_search(spark, idx, q, match="fuzzy", k=50)
    )


WILDCARD_QUERIES = ["sp*k", "d?ta", "*ery", "qu*r?", "z*z"]


def wildcard_search_engine(spark, sf_dir):
    """Wildcard query (opensearch-api `wildcard`, scoring_boolean
    rewrite; index/query.py::expanded_search match="wildcard"):
    Lucene `*`/`?` patterns expand against the term dictionary via
    SQL LIKE, capped at max_expansions by df; the expanded bag scores
    as disjunctive BM25. Oracle translates the same patterns to LIKE
    and reproduces expansion + scoring."""
    from data_prepper_spark.index.query import expanded_search

    _, idx = _docs_index(spark, sf_dir)
    q = spark.createDataFrame(
        [(i, p) for i, p in enumerate(WILDCARD_QUERIES)],
        "query_id long, pattern string",
    )
    return _rerank_engine_results(
        expanded_search(spark, idx, q, match="wildcard", k=50)
    )


REGEXP_QUERIES = ["sp.*k", "da[tr]a", "qu.r(y|ies)", "[0-9]+", "z.*z.*z"]


def regexp_search_engine(spark, sf_dir):
    """Regexp query (opensearch-api `regexp`, Lucene RegexpQuery:
    pattern ANCHORED to the whole term; index/query.py::
    expanded_search match="regexp"): patterns expand against the term
    dictionary — the literal prefix is the blocking equi-join key
    pushed into the parquet scan, the anchored rlike re-checks as a
    residual — then the expanded bag scores as disjunctive BM25,
    capped at max_expansions by df. The oracle recomputes expansion
    with DuckDB's anchored regexp_full_match and the same scoring.
    Reference parity: the `regexp` query users send through the
    reference's opensearch sink-side `_search`."""
    from data_prepper_spark.index.query import expanded_search

    _, idx = _docs_index(spark, sf_dir)
    q = spark.createDataFrame(
        [(i, p) for i, p in enumerate(REGEXP_QUERIES)],
        "query_id long, pattern string",
    )
    return _rerank_engine_results(
        expanded_search(spark, idx, q, match="regexp", k=50)
    )


_BOOL_SQL_TEMPLATE = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qraw(query_id, role, clause) AS (VALUES {{values}}),
q AS (SELECT DISTINCT query_id, role, unnest({tokenize_sql('clause')}) AS term
      FROM qraw),
nmust AS (SELECT query_id, count(*) AS n_must FROM q WHERE role = 0 GROUP BY 1),
scored AS (
  SELECT q.query_id, q.role, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
agg AS (
  SELECT query_id, doc_id,
         sum(CASE WHEN role <= 1 THEN part ELSE 0 END) AS score,
         sum(CASE WHEN role = 0 THEN 1 ELSE 0 END) AS must_hit,
         sum(CASE WHEN role = 1 THEN 1 ELSE 0 END) AS should_hit,
         max(CASE WHEN role = 2 THEN 1 ELSE 0 END) AS excl
  FROM scored GROUP BY 1, 2
),
m AS (
  SELECT a.query_id, a.doc_id, a.score
  FROM agg a LEFT JOIN nmust n USING (query_id)
  WHERE a.excl = 0
    AND a.must_hit = coalesce(n.n_must, 0)
    AND (coalesce(n.n_must, 0) > 0 OR a.should_hit > 0)
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM m
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""


SQS_QUERIES = [
    "+data +query spark",
    "spark -slow",
    "batch scan",
    "+zzznotaterm data",
    "-merge filter sort",
]


def _parse_sqs(q: str) -> tuple[str, str, str]:
    """Reference parse of the simple_query_string operators (+must,
    -must_not, bare should) — mirrors the Catalyst split in
    index/query.py::simple_query_string exactly; used only to build
    the DuckDB oracle."""
    must, should, must_not = [], [], []
    for tok in q.split():
        if tok.startswith("+") and len(tok) > 1:
            must.append(tok[1:])
        elif tok.startswith("-") and len(tok) > 1:
            must_not.append(tok[1:])
        else:
            should.append(tok)
    return " ".join(must), " ".join(should), " ".join(must_not)


def simple_query_string_engine(spark, sf_dir):
    """simple_query_string (+term / -term / bare) parsed pure-Catalyst
    and executed as a bool query over the physical index
    (index/query.py::simple_query_string). The oracle applies the
    identical operator split in Python and runs the shared bool-query
    SQL template."""
    from data_prepper_spark.index.query import simple_query_string

    _, idx = _docs_index(spark, sf_dir)
    q = spark.createDataFrame(
        [(i, s) for i, s in enumerate(SQS_QUERIES)],
        "query_id long, query string",
    )
    return _rerank_engine_results(simple_query_string(spark, idx, q, k=50))


BOOL_QUERIES = [
    # (must, should, must_not)
    ("data query", "spark", ""),
    ("", "merge filter sort", "data"),
    ("spark", "slow init", "merge"),
    ("data zzznotaterm", "spark", ""),  # unknown must term -> zero rows
]


def boolean_search_engine(spark, sf_dir):
    """Boolean (must/should/must_not) query through the physical
    index (index/query.py::boolean_search) — the reference stack's
    opensearch-api `bool` query. Each row runs as a bool tree
    (index/booltree.py); the oracle recomputes Lucene bool
    semantics (conjunctive must, minimum_should_match=1 when no
    must, exclusion, unknown-must-term -> empty) plus BM25 scoring
    from the raw table. Same re-rank-by-original-id trick as the
    phrase entry (the engine tie-breaks on its internal ordinal)."""
    from data_prepper_spark.index.query import boolean_search

    _, idx = _docs_index(spark, sf_dir)
    q = spark.createDataFrame(
        [(i, m, s, n) for i, (m, s, n) in enumerate(BOOL_QUERIES)],
        "query_id long, must string, should string, must_not string",
    )
    return _rerank_engine_results(boolean_search(spark, idx, q, k=50))


def dsl_bool_search(spark, sf_dir):
    """OpenSearch Query-DSL front end (index/dsl.py): literal
    `_search` bodies — `bool` with must/should/must_not sub-clauses —
    compile onto the SAME executors, so this entry must land on the
    boolean_search oracle bit-for-bit. One body per BOOL_QUERIES row,
    routed through dsl.search."""
    from data_prepper_spark.index.dsl import search as dsl_search

    _, idx = _docs_index(spark, sf_dir)
    parts = []
    for i, (must, should, must_not) in enumerate(BOOL_QUERIES):
        body = {
            "query": {
                "bool": {
                    "must": [
                        {"match": {"text": t}} for t in must.split()
                    ],
                    "should": [
                        {"term": {"text": t}} for t in should.split()
                    ],
                    "must_not": [
                        {"term": {"text": t}} for t in must_not.split()
                    ],
                }
            },
            "size": 50,
        }
        parts.append(dsl_search(spark, idx, body, query_id=i).hits)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _rerank_engine_results(out)


# _search bodies for the NESTED bool compiler (index/booltree.py):
# bool-in-bool two deep, a numeric `range` filter leaf on a doc-values
# field, an unscored `term` filter on the lang sidecar, and an
# explicit minimum_should_match. Leaf numbering for the oracle: 0='data query',
# 1='spark', 2='merge', 3='spark', 4='data', 5='merge', 6='filter',
# 7='sort' (parse order, phrase-free).
NESTED_BOOL_BODIES = [
    {  # must(match) + range FILTER (unscored) + should(nested bool)
        "query": {"bool": {
            "must": [{"match": {"text": "data query"}}],
            "filter": [{"range": {"n_chars": {"gte": 100, "lt": 400}}}],
            "should": [{"bool": {
                "must": [{"match": {"text": "spark"}}],
                "must_not": [{"term": {"text": "merge"}}],
            }}],
        }},
        "size": 50,
    },
    {  # should-only with explicit minimum_should_match=2
        "query": {"bool": {
            "should": [
                {"match": {"text": "spark"}},
                {"match": {"text": "data"}},
                {"match": {"text": "merge"}},
            ],
            "minimum_should_match": 2,
        }},
        "size": 50,
    },
    {  # nested should-bool under must + unscored term filter on the
       # lang doc-values sidecar (the engine's keyword-field mapping)
        "query": {"bool": {
            "must": [{"bool": {"should": [
                {"match": {"text": "filter"}},
                {"match": {"text": "sort"}},
            ]}}],
            "filter": [{"term": {"lang": "en"}}],
        }},
        "size": 50,
    },
]


def dsl_nested_bool_search(spark, sf_dir):
    """Arbitrarily NESTED `bool` _search bodies through the Query-DSL
    front end (index/dsl.py -> index/booltree.py): bool-in-bool,
    unscored `filter` leaves (`range` on n_chars, `term` on the lang
    doc-values sidecar), and `minimum_should_match` — exact Lucene
    semantics (filter contributes no score; a nested bool's score sums
    its matching scoring descendants; msm counts distinct should
    clauses). All text leaves in a tree share ONE bucket-pruned
    postings scan (booltree.py::_leaf_scores). The oracle recomputes
    per-leaf BM25 from the raw table and replays the identical set
    algebra per body. Same re-rank-by-original-id trick as the other
    *_engine entries."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    parts = [
        dsl_search(spark, idx, body, corpus_path=cpath, query_id=i).hits
        for i, body in enumerate(NESTED_BOOL_BODIES)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _rerank_engine_results(out)


def dsl_knn_search(spark, sf_dir):
    """OpenSearch k-NN plugin clause through the Query-DSL front end
    (index/dsl.py `knn` kind): `{"knn": {"embedding": {"vector": [...],
    "k": 10}}}` routes to the exact brute-force cosine executor
    (datapipe/similarity.py::cosine_topk — broadcast query side, the
    vector scan never shuffles). Query vectors are the first three
    stored embeddings, collected driver-side (request-sized, like a
    real client sending the body). The oracle recomputes cosine top-k
    in DuckDB; results must equal cosine_topk_bruteforce's — the DSL
    adds routing, not semantics. knn has no index_dir dependency, so
    an empty index path is passed."""
    from data_prepper_spark.index.dsl import search as dsl_search

    epath = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(epath)
    qrows = (
        emb.filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    parts = [
        dsl_search(
            spark,
            "",
            {
                "query": {"knn": {"embedding": {
                    "vector": [float(x) for x in r["embedding"]],
                    "k": 10,
                }}},
            },
            query_id=int(r["vec_id"]),
            vectors_path=epath,
        ).hits
        for r in qrows
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "query_id", "rank", "vec_id", F.round("cosine", 6).alias("cosine_r")
    )


def dsl_knn_filtered(spark, sf_dir):
    """Filtered k-NN (the OpenSearch k-NN plugin's efficient
    filtering): the `filter` clause applies BEFORE the vector search
    — k results all satisfy it, never a post-filter returning < k —
    as a native predicate on the vector table (pushes into the
    parquet scan). Query 0 filters term label=1, query 1 range
    label>=2; oracle restricts the cosine recompute identically."""
    from data_prepper_spark.index.dsl import search as dsl_search

    epath = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(epath)
    qrows = (
        emb.filter(F.col("vec_id") < 2)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    flts = [
        {"term": {"label": 1}},
        {"range": {"label": {"gte": 2}}},
    ]
    parts = [
        dsl_search(
            spark, "",
            {"query": {"knn": {"embedding": {
                "vector": [float(x) for x in r["embedding"]],
                "k": 10,
                "filter": flts[int(r["vec_id"])],
            }}}},
            query_id=int(r["vec_id"]),
            vectors_path=epath,
        ).hits
        for r in qrows
    ]
    return parts[0].unionByName(parts[1]).select(
        "query_id", "rank", "vec_id",
        F.round("cosine", 6).alias("cosine_r"),
    )


def dsl_source_page(spark, sf_dir):
    """`_source` retrieval (includes filtering): the top-10 match
    page widened with the stored row as ONE JSON column (identity
    equi-join, page-sized cost; include patterns are fnmatch on
    stored column names). The oracle rebuilds the exact JSON string
    (sorted keys) over the same BM25 top-10."""
    from data_prepper_spark.index.dsl import search as dsl_search

    cpath, idx = _docs_index(spark, sf_dir)
    res = dsl_search(spark, idx, {
        "query": {"match": {"content": "data merge"}},
        "size": 10,
        "_source": ["lang", "n_chars"],
    }, corpus_path=cpath)
    return res.hits.select(
        "query_id", "rank",
        F.col("path").cast("long").alias("doc_id"),
        F.col("_source").alias("source_json"),
    )


def dsl_highlight_page(spark, sf_dir):
    """Tagged highlight fragments (datapipe/textstats.py::
    highlight_col — transform-with-index match positions, greedy
    non-overlapping anchors via one aggregate, tagged render; all
    codegen): top-10 'data' hits with their FIRST fragment (the
    window around the earliest match — exactly SQL-replayable; the
    greedy multi-fragment selection is pytest-replayed in
    test_highlight_fragments). Also checks the fragment count stays
    within number_of_fragments."""
    from data_prepper_spark.index.dsl import search as dsl_search

    cpath, idx = _docs_index(spark, sf_dir)
    res = dsl_search(spark, idx, {
        "query": {"match": {"content": "data"}},
        "size": 10,
        "highlight": {
            "fields": {"content": {"number_of_fragments": 3}},
            "pre_tags": ["[H]"], "post_tags": ["[/H]"],
        },
    }, corpus_path=cpath)
    return res.hits.select(
        "query_id", "rank",
        F.col("path").cast("long").alias("doc_id"),
        F.element_at("highlight", 1).alias("frag1"),
        (F.size("highlight") <= 3).alias("within_cap"),
    )


def ppl_pipeline(spark, sf_dir):
    """PPL — the OpenSearch SQL plugin's piped query language
    (index/ppl.py): each command compiles to a declarative DataFrame
    transformation, so Catalyst owns pushdown/pruning/partial aggs.
    Pipeline A: where + stats (avg/count/distinct_count) by lang +
    sort; pipeline B: `top 2 source by lang` (count groupBy + rank
    window); pipeline C: span() histogram buckets; pipeline D:
    index-backed `where match(content, ...)` (the match set comes
    from the inverted index as a semi-join — no text scan). Long
    format (scope, key, val); the oracle replays every pipeline in
    SQL over the same derived columns."""
    from data_prepper_spark.index.ppl import ppl_query
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars", "source"))
    a = ppl_query(
        spark, idx,
        "source=docs | where n_chars > 200 "
        "| stats avg(n_chars) as avg_chars, count() as c, "
        "distinct_count(source) as ds by lang",
    )
    arows = None
    for metric in ("avg_chars", "c", "ds"):
        part = a.select(
            F.lit(metric).alias("scope"),
            F.col("lang").alias("key"),
            F.round(F.col(metric).cast("double"), 6).alias("val"),
        )
        arows = part if arows is None else arows.unionByName(part)
    b = ppl_query(spark, idx, "source=docs | top 2 source by lang")
    brows = b.select(
        F.lit("top").alias("scope"),
        F.concat_ws("|", "lang", "source").alias("key"),
        F.col("count").cast("double").alias("val"),
    )
    c = ppl_query(
        spark, idx,
        "source=docs | stats count() as c by span(n_chars, 200)",
    ).select(
        F.lit("span").alias("scope"),
        F.col("span").cast("long").cast("string").alias("key"),
        F.col("c").cast("double").alias("val"),
    )
    d = ppl_query(
        spark, idx,
        "source=docs | where match(content, 'data merge') "
        "| stats count() as c",
    ).select(
        F.lit("match").alias("scope"),
        F.lit("").alias("key"),
        F.col("c").cast("double").alias("val"),
    )
    # pipeline E: patterns (log-template skeleton) + fillnull; the
    # skeleton of 'srcN' under pattern [a-z] is the digit suffix
    e = ppl_query(
        spark, idx,
        "source=docs | patterns source new_field=pf pattern='[a-z]' "
        "| eval g = if(n_chars > 300, null, n_chars) "
        "| fillnull with -1 in g "
        "| stats count() as c, sum(g) as sg by pf",
    )
    erows = None
    for metric in ("c", "sg"):
        part = e.select(
            F.lit("pat_" + metric).alias("scope"),
            F.col("pf").alias("key"),
            F.col(metric).cast("double").alias("val"),
        )
        erows = part if erows is None else erows.unionByName(part)
    # pipeline F: trendline sma/wma per row (order = sort path), NULL
    # until the 3-row window fills
    f = ppl_query(
        spark, idx,
        "source=docs | where lang = 'en' | sort path "
        "| trendline sma(3, n_chars) as t3, wma(3, n_chars) as w3 "
        "| fields path, t3, w3",
    )
    frows = None
    for metric in ("t3", "w3"):
        part = f.select(
            F.lit(metric).alias("scope"),
            F.col("path").alias("key"),
            F.round(F.col(metric), 6).alias("val"),
        )
        frows = part if frows is None else frows.unionByName(part)
    # pipeline G: flatten (struct subfields promoted) + expand (one
    # row per array element; empty arrays drop)
    g = ppl_query(
        spark, idx,
        "source=docs "
        "| eval st = named_struct('half', n_chars div 2) "
        "| flatten st "
        "| eval arr = filter(sequence(1, 3), x -> x <= int(n_chars) % 3) "
        "| expand arr as k "
        "| stats count() as rows_out, sum(half) as sh, sum(k) as sk",
    ).select(
        F.lit("expand").alias("scope"),
        F.lit("").alias("key"),
        (F.col("rows_out") + F.col("sh") + F.col("sk"))
        .cast("double").alias("val"),
    )
    # pipeline H: kmeans (deterministic seeds = 3 smallest distinct
    # values, 1 Lloyd iteration; integer inputs make the means exact
    # doubles, so the oracle's replay is bit-identical)
    h = ppl_query(
        spark, idx,
        "source=docs | kmeans centroids=3 iterations=1 fields=n_chars "
        "| stats count() as c, sum(n_chars) as s by ClusterID",
    )
    hrows = None
    for metric in ("c", "s"):
        part = h.select(
            F.lit("km_" + metric).alias("scope"),
            F.col("ClusterID").cast("string").alias("key"),
            F.col(metric).cast("double").alias("val"),
        )
        hrows = part if hrows is None else hrows.unionByName(part)
    # pipeline I: ad (per-category trailing z-grade, verbose keeps
    # every anomalous row; the oracle replays the window algebra)
    irows = ppl_query(
        spark, idx,
        "source=docs | ad field=n_chars category_field=lang "
        "time_field=path sample_size=8 output_after=2 threshold=1.0 "
        "verbose=true | fields path, grade",
    ).select(
        F.lit("ad").alias("scope"),
        F.col("path").alias("key"),
        F.round(F.col("grade"), 6).alias("val"),
    )
    return (
        arows.unionByName(brows).unionByName(c).unionByName(d)
        .unionByName(erows).unionByName(frows).unionByName(g)
        .unionByName(hrows).unionByName(irows)
    )


def sql_api_query(spark, sf_dir):
    """OpenSearch SQL plugin facade (index/ppl.py::sql_query): the
    statement executes with Spark SQL over the live doc view
    (identity + dv sidecar, tombstones filtered). The oracle is the
    LITERAL same statement in DuckDB over the documents table —
    shared ANSI dialect, zero translation."""
    from data_prepper_spark.index.ppl import sql_query
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars", "source"))
    return sql_query(
        spark, idx,
        "SELECT lang, count(*) AS c, max(n_chars) AS mx, "
        "round(avg(n_chars), 6) AS avg_chars "
        "FROM docs WHERE n_chars > 150 GROUP BY lang "
        "HAVING count(*) > 3",
    ).select(
        "lang", F.col("c").cast("long").alias("c"),
        F.col("mx").cast("long").alias("mx"), "avg_chars",
    )


GEO_SHAPE_POLY = [
    [-120.0, -40.0], [0.0, -55.0], [130.0, -30.0], [90.0, 45.0],
    [-60.0, 50.0], [-120.0, -40.0],
]


def dsl_geo_shape(spark, sf_dir):
    """geo_shape query over point doc-values (index/booltree.py —
    the literal query shape's edges unroll into one native-Column
    ray-casting parity expression, no UDF): query 0 a pentagon
    intersects, query 1 the same shape disjoint, query 2 an
    envelope. The oracle replays the identical edge-by-edge parity
    test in SQL."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    dpath = _net_corpus(spark, sf_dir, cpath)
    attach_doc_values(
        spark, idx, dpath,
        cols=("lang", "n_chars", "loc_lat", "loc_lon"),
    )
    bodies = [
        ({"type": "polygon", "coordinates": [GEO_SHAPE_POLY]},
         "intersects"),
        ({"type": "polygon", "coordinates": [GEO_SHAPE_POLY]},
         "disjoint"),
        ({"type": "envelope", "coordinates": [[-60, 40], [80, -20]]},
         "intersects"),
    ]
    out = None
    for i, (shape, rel) in enumerate(bodies):
        hits = dsl_search(spark, idx, {
            "query": {"geo_shape": {"loc": {
                "shape": shape, "relation": rel,
            }}},
            "size": 1_000_000,
        }).hits.select(
            F.lit(i).cast("long").alias("query_id"),
            F.col("path").cast("long").alias("doc_id"),
        )
        out = hits if out is None else out.unionByName(hits)
    return out


def dsl_ip_prefix(spark, sf_dir):
    """`ip_prefix` aggregation (index/aggs.py::ip_prefix_facet):
    buckets the match set by the /prefix_length network of an IPv4
    doc-values field — all native bit math (dotted-quad -> int32,
    mask, re-render), one grouped pass. Two aggs under one body share
    the materialized match set: /12 plain keys and /20 with
    append_prefix_length (keys carry '/20'), each echoing
    prefix_length + netmask per bucket like OpenSearch. Oracle
    rebuilds the deterministic ip column from n_chars and replays the
    mask arithmetic in SQL."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    dpath = _net_corpus(spark, sf_dir, cpath)
    attach_doc_values(
        spark, idx, dpath,
        cols=("lang", "n_chars", "ip", "mtime", "loc_lat", "loc_lon"),
    )
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "size": 0,
            "aggs": {
                "p12": {"ip_prefix": {
                    "field": "ip", "prefix_length": 12,
                }},
                "p20": {"ip_prefix": {
                    "field": "ip", "prefix_length": 20,
                    "append_prefix_length": True,
                }},
            },
        },
        corpus_path=cpath,
    )
    parts = [
        res.aggregations[a].select(
            F.lit(a).alias("agg"), "query_id", "key",
            F.col("prefix_length").cast("long").alias("prefix_length"),
            "netmask", "doc_count",
        )
        for a in ("p12", "p20")
    ]
    return parts[0].unionByName(parts[1])


def scroll_export(spark, sf_dir):
    """OpenSearch scroll API analog (index/dsl.py::scroll): pages the
    FULL match set of a query in _doc (ordinal) order with a
    STATELESS continuation token (base64 body + last-ordinal cursor —
    no pinned server context; immutable segments make the cursor a
    point-in-time read). Pages until exhaustion with size=37 (odd, so
    the last page is partial) and returns the union tagged with the
    page count; the oracle recomputes the match set and
    ceil(n/37) — proving the loop served every doc exactly once in
    exactly the right number of pages. Page-boundary mechanics
    (disjointness, ord monotonicity, short-page termination) are
    pytest-verified (test_dsl.py::test_scroll_api)."""
    from data_prepper_spark.index.dsl import scroll

    cpath, idx = _docs_index(spark, sf_dir)
    pages = []
    page, sid = scroll(
        spark, idx,
        {"query": {"match": {"text": "data merge"}}, "size": 37},
        corpus_path=cpath,
    )
    guard = 0
    while True:
        rows = page.select(
            "query_id", F.col("path").cast("long").alias("doc_id")
        )
        if rows.limit(1).count() > 0:
            pages.append(rows)
        if sid is None:
            break
        guard += 1
        if guard > 1000:
            raise RuntimeError("scroll did not terminate")
        page, sid = scroll(spark, idx, scroll_id=sid, corpus_path=cpath)
    out = pages[0]
    for p in pages[1:]:
        out = out.unionByName(p)
    return out.withColumn("n_pages", F.lit(len(pages)).cast("long"))


HYBRID_TEXTS = ["spark", "data", "merge"]


def dsl_hybrid_search(spark, sf_dir):
    """OpenSearch `hybrid` query (the neural-search plugin's
    lexical + k-NN combination) through the Query-DSL front end
    (index/dsl.py::_hybrid_hits): each body pairs a BM25 `match`
    sub-query with an exact-kNN cosine sub-query over the embeddings
    table (vec_id == the stored _id — the k-NN-plugin same-index
    mapping), normalizes each sub-result list per query with min_max
    (plugin constants: single-result lists pin to 1.0, exact-zero
    normalized scores floor at 0.001), and combines per-doc by the
    weighted arithmetic mean over PRESENT sub-scores (weights
    0.7/0.3; a doc missing from one list contributes neither
    numerator nor denominator for it). pagination_depth and the knn k
    cover the whole corpus, so the normalization windows see the full
    match lists and the oracle replays them without boundary-tie
    ambiguity. Output re-ranked by (score, numeric doc id) like the
    other *_engine entries."""
    from data_prepper_spark.index.dsl import search as dsl_search

    cpath, idx = _docs_index(spark, sf_dir)
    epath = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(epath)
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 3).collect()
    }
    parts = []
    for i, text in enumerate(HYBRID_TEXTS):
        body = {
            "query": {"hybrid": {
                "queries": [
                    {"match": {"text": text}},
                    {"knn": {"embedding": {"vector": qvecs[i], "k": 500}}},
                ],
                "pagination_depth": 1000,
                "combination": {
                    "technique": "arithmetic_mean",
                    "parameters": {"weights": [0.7, 0.3]},
                },
            }},
            "size": 50,
        }
        parts.append(
            dsl_search(
                spark, idx, body, corpus_path=cpath, query_id=i,
                vectors_path=epath,
            ).hits
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _rerank_engine_results(out)


def dsl_filters_missing_aggs(spark, sf_dir):
    """`filters` (named buckets via the tree compiler, zero-count
    buckets emitted) and `missing` aggregations under one match body —
    all four aggregation rows share ONE materialized match set
    (index/dsl.py). Oracle recomputes the disjunctive match set and
    each bucket count from the raw table."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"text": "data merge"}},
            "aggs": {
                "by": {"filters": {"filters": {
                    "en": {"term": {"lang": "en"}},
                    "short": {"range": {"n_chars": {"lt": 300}}},
                    "none": {"term": {"lang": "zz-none"}},
                }}},
                "nolang": {"missing": {"field": "lang"}},
            },
        },
        corpus_path=cpath,
    )
    by = res.aggregations["by"].select(
        F.lit("filters").alias("agg"), "bucket", "doc_count"
    )
    miss = res.aggregations["nolang"].select(
        F.lit("missing").alias("agg"),
        F.lit("nolang").alias("bucket"),
        "doc_count",
    )
    return by.unionByName(miss)


def dsl_phrase_prefix_engine(spark, sf_dir):
    """match_phrase_prefix (search-as-you-type) through the DSL front
    end (index/query.py::phrase_prefix_search): 'merge gro' — fixed
    token 'merge' followed by any token starting with 'gro', the
    prefix expanded against the term dictionary in term order capped
    at max_expansions=10. Candidates from ONE bucket-pruned postings
    scan (parity-tagged query_id channel), adjacency verified by one
    instr over the analyzed token stream. The oracle replays the
    expansion cap, the conjunctive/disjunctive candidate filter, the
    adjacency instr, and the BM25 sum."""
    from data_prepper_spark.index.dsl import search as dsl_search

    cpath, idx = _docs_index(spark, sf_dir)
    body = {
        "query": {"match_phrase_prefix": {"text": {
            "query": "merge gro", "max_expansions": 10}}},
        "size": 10**6,
    }
    hits = dsl_search(spark, idx, body, corpus_path=cpath).hits
    return _rerank_engine_results(hits)


# scoring-construct bodies (round 5): per-clause boost, node boost,
# DisjunctionMax with tie_breaker, constant_score over a range filter.
# Leaf numbering for the oracle: 0='data query', 1='spark',
# 2='spark', 3='merge'. size=10**6 because constant_score scores are
# ALL ties — the oracle's doc_id tie-break needs the full match set
# before the re-rank trims to 10.
BOOST_BODIES = [
    {
        "query": {"bool": {
            "must": [{"match": {"text": {
                "query": "data query", "boost": 2.0}}}],
            "should": [{"bool": {
                "must": [{"match": {"text": "spark"}}],
                "boost": 0.5,
            }}],
        }},
        "size": 10**6,
    },
    {
        "query": {"dis_max": {
            "queries": [
                {"match": {"text": "spark"}},
                {"match": {"text": "merge"}},
            ],
            "tie_breaker": 0.3,
        }},
        "size": 10**6,
    },
    {
        "query": {"constant_score": {
            "filter": {"range": {"n_chars": {"gte": 150, "lt": 450}}},
            "boost": 2.0,
        }},
        "size": 10**6,
    },
]


def dsl_boost_dismax(spark, sf_dir):
    """Lucene scoring constructs through the Query-DSL front end
    (index/dsl.py -> index/booltree.py): per-clause `boost`
    (multiplies the leaf's BM25 contribution), `boost` on a nested
    bool (multiplies the subtree's summed score), `dis_max` (best
    child + tie_breaker * the other matching children), and
    `constant_score` (every filter match scores exactly boost). The
    oracle replays each body's score algebra over per-leaf BM25
    recomputed from the raw table. Same re-rank-by-original-id trick
    as the other *_engine entries."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    parts = [
        dsl_search(spark, idx, body, corpus_path=cpath, query_id=i).hits
        for i, body in enumerate(BOOST_BODIES)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _rerank_engine_results(out)


EXPLAIN_TREE_Q = {"bool": {
    "must": [{"match": {"text": {"query": "data query", "boost": 2.0}}}],
    "should": [{"dis_max": {
        "queries": [{"match": {"text": "spark"}},
                    {"match": {"text": "merge"}}],
        "tie_breaker": 0.3,
    }}],
    "filter": [{"range": {"n_chars": {"gte": 150}}}],
}}


def dsl_explain_tree(spark, sf_dir):
    """explain=true for tree-compiled queries (index/booltree.py::
    bool_tree_explain, round 5): per-(hit, leaf) score attribution
    for a nested bool with a boosted must leaf, a dis_max should
    (winner keeps its full leaf score, the loser is scaled by
    tie_breaker), and an unscored range filter leaf (contribution
    exactly 0.0). Contributions sum to each hit's search score. The
    oracle recomputes per-leaf BM25 from the raw table and replays
    the same attribution algebra; hits fixed by the usual
    re-rank-by-original-id trick."""
    from data_prepper_spark.index.booltree import (
        bool_tree_explain,
        bool_tree_search,
    )
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    res = bool_tree_search(spark, idx, EXPLAIN_TREE_Q, k=50).select(
        "query_id", "doc_id", "score", "path"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(F.col("path").cast("long"))
    )
    hits = (
        res.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("doc_id", "path")
    )
    rows = hits.collect()  # the 10-hit explain page
    exp = bool_tree_explain(
        spark, idx, EXPLAIN_TREE_Q, [r["doc_id"] for r in rows]
    )
    ident = spark.createDataFrame(
        [(r["doc_id"], int(r["path"])) for r in rows],
        "doc_id long, orig_id long",
    )
    return exp.join(F.broadcast(ident), "doc_id").select(
        "query_id",
        F.col("orig_id").alias("doc_id"),
        "leaf",
        F.round("contribution", 6).alias("contribution_r"),
    )


_TAGS_CORPUS_CACHE: dict = {}


def _tags_corpus(spark, sf_dir, cpath):
    """Derived corpus with a multi-valued keyword column `tags`
    (lang + source + a size band — deterministic) and a per-doc
    `required_matches`, for the array-doc-values entries."""
    import tempfile

    hit = _TAGS_CORPUS_CACHE.get(sf_dir)
    if hit is not None:
        return hit
    dpath = tempfile.mkdtemp(prefix="dps_tags_") + "/corpus.parquet"
    (
        spark.read.parquet(cpath)
        .withColumn(
            "tags",
            F.array(
                "lang",
                F.concat(F.lit("src_"), F.col("source")),
                F.concat(
                    F.lit("band"),
                    (F.col("n_chars") / 100).cast("long").cast("string"),
                ),
            ),
        )
        .withColumn(
            "required_matches", (F.col("n_chars") % 2 + 1).cast("long")
        )
        .coalesce(2).write.mode("overwrite").parquet(dpath)
    )
    _TAGS_CORPUS_CACHE[sf_dir] = dpath
    return dpath


def dsl_misc_queries(spark, sf_dir):
    """distance_feature + pinned + script + wrapper queries through
    the Query-DSL front end (index/booltree.py, round 5): q0 boosts a
    match by numeric proximity (score = BM25 + boost*pivot/(pivot+
    |n_chars-origin|)), q1 pins three ids ahead of the organic
    matches (pin i scores PIN_BASE - i), q2 is a painless-lite filter
    over doc-values (modulo + equality, non-scoring), q3 wraps q0's
    query in the base64 `wrapper` envelope and must reproduce q0's
    rows exactly. Oracle replays each algebra over the raw table."""
    import base64 as _b64
    import json as _json
    import os as _os

    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    pin_paths = ["3", "7", "11"]
    pin_map = {
        r["path"]: r["doc_id"]
        for r in spark.read.parquet(_os.path.join(idx, "docs"))
        .filter(F.col("path").isin(pin_paths))
        .select("path", "doc_id").collect()
    }
    pin_ids = [pin_map[p] for p in pin_paths if p in pin_map]
    q0 = {"bool": {
        "must": [{"match": {"text": "data query"}}],
        "should": [{"distance_feature": {
            "field": "n_chars", "origin": 300, "pivot": 50,
            "boost": 2.0,
        }}],
    }}
    bodies = [
        {"query": q0, "size": 50},
        {"query": {"pinned": {"ids": pin_ids,
                              "organic": {"match": {"text":
                                                    "data query"}}}},
         "size": 50},
        {"query": {"script": {"script": {
            "source": "doc['n_chars'].value % 7 == 0",
        }}}, "size": 10**9},
        {"query": {"wrapper": {"query": _b64.b64encode(
            _json.dumps(q0).encode()
        ).decode()}}, "size": 50},
    ]
    parts = [
        dsl_search(spark, idx, b, corpus_path=cpath, query_id=i).hits
        for i, b in enumerate(bodies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _rerank_engine_results(out)


_GEO_CORPUS_CACHE: dict = {}
_NET_CORPUS_CACHE: dict = {}


def _net_corpus(spark, sf_dir, cpath):
    """Derived corpus with deterministic ip / mtime / loc_lat /
    loc_lon columns (all pure functions of n_chars so oracles can
    rebuild them exactly in SQL)."""
    import tempfile

    hit = _NET_CORPUS_CACHE.get(sf_dir)
    if hit is not None:
        return hit
    dpath = tempfile.mkdtemp(prefix="dps_netc_") + "/corpus.parquet"
    nc = F.col("n_chars")
    (
        spark.read.parquet(cpath)
        .withColumn(
            "ip",
            F.concat_ws(
                ".",
                F.lit("10"),
                (nc % 200).cast("string"),
                ((nc * 3) % 250).cast("string"),
                ((nc * 7) % 256).cast("string"),
            ),
        )
        .withColumn(
            "mtime",
            F.timestamp_seconds(F.lit(1451606400) + nc * 3600),
        )
        .withColumn(
            "loc_lat", (nc % 120 - 60 + F.lit(0.25)).cast("double")
        )
        .withColumn(
            "loc_lon", ((nc * 7) % 340 - 170 + F.lit(0.5)).cast("double")
        )
        .withColumn(
            "team",
            F.when(
                nc % 3 == 0,
                F.concat(F.lit("t"), (nc % 2).cast("string")),
            ),
        )
        .withColumn("chunks", F.filter(
            F.array(
                F.struct(F.lit("head").alias("kind"),
                         (nc % 100).cast("long").alias("len")),
                F.struct(F.lit("body").alias("kind"),
                         (nc % 350).cast("long").alias("len")),
                F.when(
                    nc % 3 == 0,
                    F.struct(F.lit("xtra").alias("kind"),
                             (nc % 400).cast("long").alias("len")),
                ),
            ),
            lambda x: x.isNotNull(),
        ))
        .coalesce(2).write.mode("overwrite").parquet(dpath)
    )
    _NET_CORPUS_CACHE[sf_dir] = dpath
    return dpath


def _geo_corpus(spark, sf_dir, cpath):
    """Derived corpus with deterministic loc_lat/loc_lon (same
    formula as dsl_geo_queries so oracles can rebuild them exactly)."""
    import tempfile

    hit = _GEO_CORPUS_CACHE.get(sf_dir)
    if hit is not None:
        return hit
    dpath = tempfile.mkdtemp(prefix="dps_geoc_") + "/corpus.parquet"
    (
        spark.read.parquet(cpath)
        .withColumn(
            "loc_lat",
            (F.col("n_chars") % 120 - 60 + F.lit(0.25)).cast("double"),
        )
        .withColumn(
            "loc_lon",
            ((F.col("n_chars") * 7) % 340 - 170 + F.lit(0.5)).cast(
                "double"
            ),
        )
        .coalesce(2).write.mode("overwrite").parquet(dpath)
    )
    _GEO_CORPUS_CACHE[sf_dir] = dpath
    return dpath


def dsl_geo_aggs(spark, sf_dir):
    """geo_centroid + geo_bounds + geotile_grid aggregations
    (index/dsl.py, round 5) under one match query sharing ONE
    materialized match set: centroid = coordinate means, bounds =
    min/max box, geotile_grid = Web-Mercator z/x/y keys computed in
    native Columns. Output is one long (part, key, value) frame so
    all three aggs hash under a single oracle, which rebuilds the
    coordinates and replays the tile math in SQL."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    dpath = _geo_corpus(spark, sf_dir, cpath)
    attach_doc_values(
        spark, idx, dpath,
        cols=("lang", "n_chars", "loc_lat", "loc_lon"),
    )
    res = dsl_search(
        spark, idx,
        {"query": {"match": {"text": "data merge"}}, "size": 0,
         "aggs": {
             "cent": {"geo_centroid": {"field": "loc"}},
             "bnds": {"geo_bounds": {"field": "loc"}},
             "grid": {"geotile_grid": {"field": "loc",
                                       "precision": 4,
                                       "size": 10000}},
         }},
        corpus_path=cpath,
    )
    cent = res.aggregations["cent"]
    bnds = res.aggregations["bnds"]
    grid = res.aggregations["grid"]
    long_rows = (
        cent.select(
            "query_id", F.lit("geo_centroid").alias("part"),
            F.lit("lat").alias("key"),
            F.round("lat", 6).alias("value_r"),
        )
        .unionByName(cent.select(
            "query_id", F.lit("geo_centroid").alias("part"),
            F.lit("lon").alias("key"),
            F.round("lon", 6).alias("value_r"),
        ))
        .unionByName(cent.select(
            "query_id", F.lit("geo_centroid").alias("part"),
            F.lit("count").alias("key"),
            F.col("count").cast("double").alias("value_r"),
        ))
        .unionByName(bnds.select(
            "query_id", F.lit("geo_bounds").alias("part"),
            F.lit("top").alias("key"),
            F.round("top", 6).alias("value_r"),
        ))
        .unionByName(bnds.select(
            "query_id", F.lit("geo_bounds").alias("part"),
            F.lit("bottom").alias("key"),
            F.round("bottom", 6).alias("value_r"),
        ))
        .unionByName(bnds.select(
            "query_id", F.lit("geo_bounds").alias("part"),
            F.lit("left").alias("key"),
            F.round("left", 6).alias("value_r"),
        ))
        .unionByName(bnds.select(
            "query_id", F.lit("geo_bounds").alias("part"),
            F.lit("right").alias("key"),
            F.round("right", 6).alias("value_r"),
        ))
        .unionByName(grid.select(
            "query_id", F.lit("geotile_grid").alias("part"),
            F.col("key"),
            F.col("doc_count").cast("double").alias("value_r"),
        ))
    )
    return long_rows


def dsl_terms_set(spark, sf_dir):
    """`terms_set` query over a multi-valued keyword field
    (index/booltree.py array doc-values, round 5): doc matches when
    >= N of the supplied terms appear in its `tags` array, N read
    per doc from the `required_matches` sidecar column and clamped
    to >= 1 (Lucene CoveringQuery). Non-scoring filter, whole match
    set returned; the oracle replays the covering count with DuckDB
    list functions."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    dpath = _tags_corpus(spark, sf_dir, cpath)
    attach_doc_values(
        spark, idx, dpath,
        cols=("lang", "n_chars", "tags", "required_matches"),
    )
    body = {"query": {"terms_set": {"tags": {
        "terms": ["en", "band1", "src_src3"],
        "minimum_should_match_field": "required_matches",
    }}}, "size": 10**9}
    hits = dsl_search(spark, idx, body, corpus_path=cpath).hits
    return hits.select(
        "query_id", F.col("path").cast("long").alias("doc_id")
    )


def array_terms_agg(spark, sf_dir):
    """terms aggregation over a multi-valued keyword field
    (query._facet_counts array explode, round 5): one bucket per
    DISTINCT element per matching doc (Lucene SORTED_SET doc-values
    dedup), buckets ordered (doc_count desc, value asc). match_all
    scope so the oracle is a plain unnest + count."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    dpath = _tags_corpus(spark, sf_dir, cpath)
    attach_doc_values(
        spark, idx, dpath,
        cols=("lang", "n_chars", "tags", "required_matches"),
    )
    res = dsl_search(
        spark, idx,
        {"query": {"match_all": {}}, "size": 0,
         "aggs": {"by_tag": {"terms": {"field": "tags",
                                       "size": 100000}}}},
        corpus_path=cpath,
    )
    return res.aggregations["by_tag"].select(
        "query_id", "bucket_rank", "facet", "doc_count"
    )


RESCORE_BODY = {
    "query": {"bool": {
        "must": [{"match": {"text": "data query"}}],
        "should": [{"match": {"text": "spark"}}],
    }},
    "size": 10**6,
    "rescore": {
        "window_size": 10**6,
        "query": {
            "rescore_query": {"match": {"text": "merge"}},
            "query_weight": 0.8,
            "rescore_query_weight": 1.5,
        },
    },
}


def dsl_rescore(spark, sf_dir):
    """`rescore` through the Query-DSL front end (index/dsl.py):
    the main bool query ranks, then every doc inside window_size is
    re-scored as query_weight * original + rescore_query_weight *
    score(rescore tree) — Lucene QueryRescorer score_mode=total, the
    shape the reference stack's opensearch sink users send for
    two-phase ranking. The oracle replays the algebra over per-leaf
    BM25 recomputed from the raw table. Full window here so the
    driver-checked semantics don't depend on rank-boundary
    tie-breaks (the small-window gate is pytest-covered against an
    independent reference)."""
    from data_prepper_spark.index.dsl import search as dsl_search

    cpath, idx = _docs_index(spark, sf_dir)
    hits = dsl_search(spark, idx, RESCORE_BODY, corpus_path=cpath).hits
    return _rerank_engine_results(hits)


# query_string bodies (round 5, index/querystring.py): Lucene
# search-bar mini-syntax parsed into the SAME bool trees the nested
# compiler executes. Leaf vocabulary matches BOOST_BODIES so the
# oracle reuses the per-leaf BM25 CTE shape. q0 exercises explicit
# AND/OR + parens + conjunctive '-' exclusion; q1 OR over a group
# with a doc-values term filter (lang:en — non-scoring); q2 the
# classic flat +required / bare-optional / -prohibited form.
QS_QUERIES = [
    'data AND (query OR merge) -spark',
    'merge OR (data AND lang:en)',
    '+data query -merge',
]


def dsl_query_string(spark, sf_dir):
    """`query_string` through the Query-DSL front end
    (index/dsl.py -> index/querystring.py -> index/booltree.py):
    the Kibana-search-bar syntax — AND/OR/NOT, parentheses, +/-
    prefixes, field:value on doc-values fields — parsed into a bool
    tree and executed by the same compiler as nested bool (one
    bucket-pruned postings scan for all text leaves). Mirrors
    org.opensearch.index.query.QueryStringQueryBuilder as passed
    through verbatim by the reference's opensearch sink consumers.
    The oracle replays each parsed tree's set algebra and score sums
    over per-leaf BM25 recomputed from the raw table."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    parts = [
        dsl_search(
            spark, idx,
            {"query": {"query_string": {
                "query": qs, "default_field": "text"}},
             "size": 10**6},
            corpus_path=cpath, query_id=i,
        ).hits
        for i, qs in enumerate(QS_QUERIES)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _rerank_engine_results(out)


# multi-term query_string syntax (round 5, querystring.py +
# booltree.py expansion leaves): trailing-* prefixes, ? wildcards,
# ~ fuzzy (edit distance 1), ^N boosts, [a TO b] doc-values ranges.
# q0 = prefix conjunct plain term; q1 = boosted wildcard OR fuzzy
# (disjunctive sum); q2 = flat adjacency — optional plain term +
# optional unscored range, prohibited prefix.
QS_MULTITERM = [
    'da* AND merge',
    'm?rge^2 OR spork~',
    'data -qu* n_chars:[150 TO 450]',
]


def dsl_query_string_multiterm(spark, sf_dir):
    """`query_string` multi-term mini-syntax (index/querystring.py ->
    index/booltree.py expansion leaves): trailing-* prefix terms,
    ?-wildcards, ~ fuzzy (edit distance 1), ^N boosts, and [a TO b]
    ranges on doc-values fields — parsed into the same bool trees and
    executed through ONE shared bucket-pruned postings scan. The
    multi-term leaves expand against the term DICTIONARY (Lucene
    scoring_boolean rewrite: df-descending, max_expansions=50 cap)
    via one blocked equi-join per mode — never a nested-loop join —
    and the expanded terms score as a disjunctive BM25 bag. Mirrors
    org.opensearch.index.query.QueryStringQueryBuilder's
    wildcard/fuzzy/boost/range syntax as passed through by the
    reference's opensearch consumers. The oracle reproduces the
    expansion (same cap + tie-break), BM25 bags, boost algebra, and
    range filter from the raw table."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    parts = [
        dsl_search(
            spark, idx,
            {"query": {"query_string": {
                "query": qs, "default_field": "text"}},
             "size": 10**6},
            corpus_path=cpath, query_id=i,
        ).hits
        for i, qs in enumerate(QS_MULTITERM)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _rerank_engine_results(out)


# score-shaping bodies (round 5, booltree.py): BoostingQuery
# demotion and FunctionScoreQuery's weight / field_value_factor /
# filter / score_mode / boost_mode algebra. Leaf numbering for the
# oracle: 0='data query', 1='spark', 2='merge', 3='spark'.
FSCORE_BODIES = [
    {
        "query": {"boosting": {
            "positive": {"match": {"text": "data query"}},
            "negative": {"match": {"text": "spark"}},
            "negative_boost": 0.4,
        }},
        "size": 10**6,
    },
    {
        "query": {"function_score": {
            "query": {"match": {"text": "merge"}},
            "functions": [
                {"filter": {"range": {"n_chars": {"gte": 300}}},
                 "weight": 2.0},
                {"field_value_factor": {
                    "field": "n_chars", "factor": 0.01,
                    "modifier": "log1p"}},
            ],
            "score_mode": "sum",
            "boost_mode": "multiply",
        }},
        "size": 10**6,
    },
    {
        "query": {"function_score": {
            "query": {"match": {"text": "spark"}},
            "field_value_factor": {
                "field": "n_chars", "factor": 0.005,
                "modifier": "sqrt"},
            "boost_mode": "sum",
        }},
        "size": 10**6,
    },
    {
        "query": {"function_score": {
            "query": {"match": {"text": "data"}},
            "functions": [
                {"gauss": {"n_chars": {
                    "origin": 400, "scale": 200,
                    "offset": 10, "decay": 0.5,
                }}},
            ],
            "boost_mode": "multiply",
            "min_score": 0.25,
        }},
        "size": 10**6,
    },
]


def dsl_score_functions(spark, sf_dir):
    """`boosting` and `function_score` through the Query-DSL front
    end (index/booltree.py): b0 demotes (never excludes) docs
    matching the negative clause by negative_boost (Lucene
    BoostingQuery); b1 folds two functions — a filter-gated constant
    weight and a log1p field_value_factor over the n_chars doc-values
    column — with score_mode=sum then multiplies into the BM25 query
    score; b2 the single-function shorthand with boost_mode=sum; b3
    a gauss DECAY over n_chars (Lucene DecayFunction math) with
    min_score excluding low finals.
    Function values come from the vocabulary-thin doc-values sidecar
    (ord-equi-join) — the corpus is never rescanned, so the plan is
    match-set-sized at any corpus scale. The oracle replays the exact
    algebra over per-leaf BM25 + the raw n_chars column."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    parts = [
        dsl_search(spark, idx, body, corpus_path=cpath, query_id=i).hits
        for i, body in enumerate(FSCORE_BODIES)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _rerank_engine_results(out)


def dsl_match_all_aggs(spark, sf_dir):
    """`match_all` + `aggs` (ADVICE r04 high): corpus-wide buckets —
    the match set is EVERY live doc (query.py::match_all_ords), built
    once per body and shared by both aggregations (a `terms` over lang
    and a `range` over n_chars). Previously this compiled to an
    empty-string text query and silently returned zero buckets; now it
    routes through the same facet executors as query-scoped aggs. The
    oracle recomputes both aggregations over the whole table."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match_all": {}},
            "aggs": {
                "langs": {"terms": {"field": "lang", "size": 10}},
                "sizes": {"range": {"field": "n_chars", "ranges": [
                    {"to": 200}, {"from": 200, "to": 400}, {"from": 400},
                ]}},
            },
        },
        corpus_path=cpath,
    )
    langs = res.aggregations["langs"].select(
        F.lit("langs").alias("agg"),
        F.col("facet").alias("bucket"),
        "doc_count",
    )
    sizes = res.aggregations["sizes"].select(
        F.lit("sizes").alias("agg"),
        F.col("bucket"),
        "doc_count",
    )
    return langs.unionByName(sizes)


def dsl_range_histogram(spark, sf_dir):
    """Top-level `range` query (no bool wrapper — the common
    filter-only _search body, sugar for bool/filter with one leaf;
    index/dsl.py routes it through the tree compiler) with
    `histogram` and `stats` aggregations over the SAME materialized
    match set (index/query.py::histogram_facet — floor(v/interval)*
    interval bucket keys, sparse form — and the stats projection of
    stats_facets). The oracle recomputes filter + bucketing + moments
    straight off the documents table."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"range": {"n_chars": {"gte": 150, "lt": 450}}},
            "aggs": {
                "hist": {"histogram": {"field": "n_chars", "interval": 100}},
                "chars": {"stats": {"field": "n_chars"}},
            },
        },
        corpus_path=cpath,
    )
    hist = res.aggregations["hist"].select(
        F.lit("hist").alias("agg"),
        F.col("key").cast("long").cast("string").alias("bucket"),
        F.col("doc_count").cast("double").alias("val"),
    )
    st = res.aggregations["chars"]
    stats_rows = None
    for col, label in [
        ("n", "n"), ("min_v", "min"), ("max_v", "max"),
        ("sum_v", "sum"), ("avg_v", "avg"),
    ]:
        row = st.select(
            F.lit("stats").alias("agg"),
            F.lit(label).alias("bucket"),
            F.round(F.col(col).cast("double"), 6).alias("val"),
        )
        stats_rows = row if stats_rows is None else stats_rows.unionByName(row)
    return hist.unionByName(stats_rows)


def dsl_terms_subagg(spark, sf_dir):
    """Terms aggregation with nested METRIC sub-aggregations — the
    dashboard `_search` body (terms buckets each carrying avg/sum/max
    of a stored field). index/dsl.py folds every nested metric into
    the ONE grouped aggregation that counts the buckets
    (index/query.py::terms_metric_facet), so three sub-aggs cost one
    exchange, not three scans. The oracle recomputes match + buckets
    + metrics straight off the documents table."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "aggs": {
                "by_lang": {
                    "terms": {"field": "lang", "size": 10},
                    "aggs": {
                        "avg_chars": {"avg": {"field": "n_chars"}},
                        "sum_chars": {"sum": {"field": "n_chars"}},
                        "max_chars": {"max": {"field": "n_chars"}},
                    },
                },
            },
        },
        corpus_path=cpath,
    )
    return res.aggregations["by_lang"].select(
        "query_id",
        "bucket_rank",
        "facet",
        "doc_count",
        F.round(F.col("avg_chars"), 6).alias("avg_chars"),
        F.col("sum_chars").cast("long").alias("sum_chars"),
        F.col("max_chars").cast("long").alias("max_chars"),
    )


def dsl_composite_aggs(spark, sf_dir):
    """OpenSearch `composite` aggregation — the scalable bucket-EXPORT
    aggregation (terms tops out at top-N; composite walks ALL key
    combinations across requests): (lang, n_chars-bucket) composite
    keys of the match set in key order, resumed from an exclusive
    `after` key, with an avg metric sub-agg folded into the same
    grouped pass (index/aggs.py::composite_aggregate). Physical shape:
    one groupBy + TakeOrderedAndProject; the after-key is a key-range
    predicate applied BEFORE the order+limit — deep pages prune, they
    never skip offset rows. The oracle recomputes match + bucketing +
    the composite tuple comparison off the documents table."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars", "source"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "aggs": {
                "comp": {
                    "composite": {
                        "size": 6,
                        "sources": [
                            {"lang": {"terms": {"field": "lang"}}},
                            {"bucket": {"histogram": {
                                "field": "n_chars", "interval": 200,
                            }}},
                        ],
                        "after": {"lang": "en", "bucket": 0.0},
                    },
                    "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}},
                },
            },
        },
        corpus_path=cpath,
    )
    return res.aggregations["comp"].select(
        "query_id",
        "lang",
        F.col("bucket").cast("long").alias("bucket"),
        "doc_count",
        F.round(F.col("avg_chars"), 6).alias("avg_chars"),
    )


def dsl_nested_terms(spark, sf_dir):
    """Two-level nested `terms` buckets (lang -> source) with a leaf
    avg metric — the drill-down dashboard body. index/aggs.py::
    nested_terms_facet computes BOTH levels and the metric in ONE
    grouped aggregation on (query_id, lang, source); parent totals
    and both rank orders (doc_count desc, key asc per level) are
    window functions over that single exchange. The oracle recomputes
    match + both levels with the same window algebra."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars", "source"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "aggs": {
                "by_lang": {
                    "terms": {"field": "lang", "size": 4},
                    "aggs": {
                        "by_src": {
                            "terms": {"field": "source", "size": 3},
                            "aggs": {
                                "avg_chars": {"avg": {"field": "n_chars"}},
                            },
                        },
                    },
                },
            },
        },
        corpus_path=cpath,
    )
    return res.aggregations["by_lang"].select(
        "query_id", "parent_rank", "parent_facet", "parent_count",
        "child_rank", "child_facet", "child_count",
        F.round(F.col("avg_chars"), 6).alias("avg_chars"),
    )


def dsl_pipeline_aggs(spark, sf_dir):
    """Pipeline aggregations: histogram buckets carrying a folded avg
    metric plus `cumulative_sum` (running doc_count) and `derivative`
    (bucket-over-bucket avg delta) computed as window algebra over the
    bucket frame, and sibling `avg_bucket` / `max_bucket` pipelines
    re-aggregating the parent's buckets (index/aggs.py::
    bucket_pipeline / sibling_bucket_metric — zero extra scans; the
    windows run over an aggregation-sized frame, not documents).
    Long-format output (agg, key, val); the first bucket has no
    derivative (the OpenSearch contract) so its row is omitted. The
    oracle recomputes everything with DuckDB window functions."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars", "source"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "aggs": {
                "hist": {
                    "histogram": {"field": "n_chars", "interval": 200},
                    "aggs": {
                        "avg_chars": {"avg": {"field": "n_chars"}},
                        "cum": {"cumulative_sum": {
                            "buckets_path": "_count",
                        }},
                        "deriv": {"derivative": {
                            "buckets_path": "avg_chars",
                        }},
                    },
                },
                "avg_count": {"avg_bucket": {
                    "buckets_path": "hist>_count",
                }},
                "max_avg": {"max_bucket": {
                    "buckets_path": "hist>avg_chars",
                }},
            },
        },
        corpus_path=cpath,
    )
    hist = res.aggregations["hist"]
    key = F.col("key").cast("long").cast("string")
    parts = [
        hist.select(
            F.lit("count").alias("agg"), key.alias("key"),
            F.col("doc_count").cast("double").alias("val"),
        ),
        hist.select(
            F.lit("avg").alias("agg"), key.alias("key"),
            F.round(F.col("avg_chars"), 6).alias("val"),
        ),
        hist.select(
            F.lit("cum").alias("agg"), key.alias("key"),
            F.col("cum").cast("double").alias("val"),
        ),
        hist.filter(F.col("deriv").isNotNull()).select(
            F.lit("deriv").alias("agg"), key.alias("key"),
            F.round(F.col("deriv"), 6).alias("val"),
        ),
        res.aggregations["avg_count"].select(
            F.lit("avg_bucket").alias("agg"), F.lit("*").alias("key"),
            F.round(F.col("value"), 6).alias("val"),
        ),
        res.aggregations["max_avg"].select(
            F.lit("max_bucket").alias("agg"), F.lit("*").alias("key"),
            F.round(F.col("value"), 6).alias("val"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dsl_adjacency_matrix(spark, sf_dir):
    """`adjacency_matrix` aggregation (index/dsl.py): named filter
    buckets PLUS their pairwise intersections over one shared match
    set — the co-occurrence-dashboard body. Each named filter compiles
    through the bool-tree compiler once; singles and pairs are counted
    joins; empty buckets are omitted (the OpenSearch contract). Pair
    labels are 'a&b' with names in sorted order. The oracle recomputes
    the match set and every set intersection in DuckDB."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "aggs": {
                "adj": {"adjacency_matrix": {"filters": {
                    "en": {"term": {"lang": "en"}},
                    "small": {"range": {"n_chars": {"lt": 300}}},
                    "zh": {"term": {"lang": "zh"}},
                }}},
            },
        },
        corpus_path=cpath,
    )
    return res.aggregations["adj"].select("query_id", "key", "doc_count")


def dsl_metric_aggs_family(spark, sf_dir):
    """The round-5 metric/bucket agg family in one body (index/
    dsl.py): `weighted_avg` (sum(v*w)/sum(w) over doc-values),
    `percentile_ranks` (EXACT percentage of match-set values <= each
    requested value — no t-digest approximation), `rare_terms` (the
    long tail: buckets with doc_count <= max_doc_count, the inverse
    of terms' head), and `multi_terms` (composite-key top buckets,
    count desc then keys asc). All four share ONE materialized match
    set; each is a single grouped aggregation over the doc-values
    sidecar join. Long format (agg, key, val); the oracle recomputes
    every number from the tokenized match set in DuckDB."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars", "source"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "aggs": {
                "wavg": {"weighted_avg": {
                    "value": {"field": "n_chars"},
                    "weight": {"field": "n_chars"},
                }},
                "ranks": {"percentile_ranks": {
                    "field": "n_chars", "values": [150, 300, 450],
                }},
                "rare": {"rare_terms": {
                    "field": "source", "max_doc_count": 5,
                }},
                "multi": {"multi_terms": {
                    "terms": [{"field": "lang"}, {"field": "source"}],
                    "size": 8,
                }},
            },
        },
        corpus_path=cpath,
    )
    parts = [
        res.aggregations["wavg"].select(
            F.lit("wavg").alias("agg"), F.lit("*").alias("key"),
            F.round(F.col("value"), 6).alias("val"),
        ),
        res.aggregations["ranks"].select(
            F.lit("rank").alias("agg"),
            F.col("key").cast("long").cast("string").alias("key"),
            F.round(F.col("value"), 6).alias("val"),
        ),
        res.aggregations["rare"].select(
            F.lit("rare").alias("agg"), F.col("key"),
            F.col("doc_count").cast("double").alias("val"),
        ),
        res.aggregations["multi"].select(
            F.lit("multi").alias("agg"),
            F.concat_ws(
                "|",
                F.col("bucket_rank").cast("string"),
                "lang", "source",
            ).alias("key"),
            F.col("doc_count").cast("double").alias("val"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dsl_bucket_scripts(spark, sf_dir):
    """bucket_script / bucket_selector / serial_diff / moving_fn
    pipeline aggregations over a histogram frame (index/aggs.py::
    bucket_pipeline + script_expr): a painless-lite params script
    derives a per-bucket ratio column, serial_diff takes a lag-2
    count difference, moving_fn averages the 3 buckets before each
    one, and bucket_selector then DROPS buckets with <= 2 docs —
    window algebra runs over the FULL frame before the selector
    filters it (the OpenSearch evaluation order). Long format; null
    window edges omitted; the oracle replays the same window algebra
    with DuckDB window functions."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "aggs": {
                "hist": {
                    "histogram": {"field": "n_chars", "interval": 100},
                    "aggs": {
                        "sum_chars": {"sum": {"field": "n_chars"}},
                        "ratio": {"bucket_script": {
                            "buckets_path": {
                                "s": "sum_chars", "n": "_count",
                            },
                            "script": "params.s / params.n",
                        }},
                        "sdiff": {"serial_diff": {
                            "buckets_path": "_count", "lag": 2,
                        }},
                        "mavg": {"moving_fn": {
                            "buckets_path": "_count",
                            "window": 3,
                            "script":
                                "MovingFunctions.unweightedAvg(values)",
                        }},
                        "keep": {"bucket_selector": {
                            "buckets_path": {"n": "_count"},
                            "script": "params.n > 2",
                        }},
                    },
                },
            },
        },
        corpus_path=cpath,
    )
    hist = res.aggregations["hist"]
    key = F.col("key").cast("long").cast("string")
    parts = [
        hist.select(
            F.lit("count").alias("agg"), key.alias("key"),
            F.col("doc_count").cast("double").alias("val"),
        ),
        hist.select(
            F.lit("ratio").alias("agg"), key.alias("key"),
            F.round(F.col("ratio"), 6).alias("val"),
        ),
        hist.filter(F.col("sdiff").isNotNull()).select(
            F.lit("sdiff").alias("agg"), key.alias("key"),
            F.col("sdiff").cast("double").alias("val"),
        ),
        hist.filter(F.col("mavg").isNotNull()).select(
            F.lit("mavg").alias("agg"), key.alias("key"),
            F.round(F.col("mavg"), 6).alias("val"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dsl_stats_aggs_family(spark, sf_dir):
    """string_stats + median_absolute_deviation + boxplot
    aggregations (index/aggs.py, round-5 continuation) under one
    match query sharing ONE materialized match set. string_stats
    computes length stats plus the Shannon entropy (base 2) of the
    character distribution across every `source` value — the
    OpenSearch definition — via one exploded-character grouped agg;
    MAD and boxplot are EXACT percentile forms (linear interpolation,
    DuckDB quantile_cont parity; percentile_approx is the documented
    100-TB swap). Long format (agg, key, val); the oracle recomputes
    every number from the tokenized match set in DuckDB."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars", "source"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "size": 0,
            "aggs": {
                "sstats": {"string_stats": {"field": "source"}},
                "mad": {"median_absolute_deviation": {
                    "field": "n_chars",
                }},
                "box": {"boxplot": {"field": "n_chars"}},
            },
        },
        corpus_path=cpath,
    )
    ss = res.aggregations["sstats"]
    mad = res.aggregations["mad"]
    box = res.aggregations["box"]
    parts = [
        ss.select(
            F.lit("sstats").alias("agg"), F.lit("count").alias("key"),
            F.col("count").cast("double").alias("val"),
        ),
        ss.select(
            F.lit("sstats").alias("agg"), F.lit("min_length").alias("key"),
            F.col("min_length").cast("double").alias("val"),
        ),
        ss.select(
            F.lit("sstats").alias("agg"), F.lit("max_length").alias("key"),
            F.col("max_length").cast("double").alias("val"),
        ),
        ss.select(
            F.lit("sstats").alias("agg"), F.lit("avg_length").alias("key"),
            F.round(F.col("avg_length"), 6).alias("val"),
        ),
        ss.select(
            F.lit("sstats").alias("agg"), F.lit("entropy").alias("key"),
            F.round(F.col("entropy"), 6).alias("val"),
        ),
        mad.select(
            F.lit("mad").alias("agg"), F.lit("*").alias("key"),
            F.round(F.col("mad"), 6).alias("val"),
        ),
    ]
    for c in ("min_v", "q1", "q2", "q3", "max_v"):
        parts.append(box.select(
            F.lit("box").alias("agg"), F.lit(c).alias("key"),
            F.round(F.col(c), 6).alias("val"),
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dsl_matrix_scripted(spark, sf_dir):
    """matrix_stats + scripted_metric aggregations (index/aggs.py,
    round-5 continuation). matrix_stats runs over the deterministic
    loc_lat/loc_lon doc-values pair: ONE grouped aggregation
    accumulates the raw power sums (Σx..Σx⁴ per field, Σxy per pair)
    and every moment — mean, population variance, skewness, kurtosis
    (plain m4/m2², not excess), covariance, correlation — derives
    algebraically from those sums, so the oracle reproduces each
    number from the same sums in SQL. scripted_metric is the
    distributed-safe subset: a painless-lite map expression over
    doc['n_chars'].value + params compiled to ONE native Column,
    algebraic reduce (init/combine = Spark's partial aggregation —
    the only shape that distributes). Long format (agg, key, val)."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    dpath = _geo_corpus(spark, sf_dir, cpath)
    attach_doc_values(
        spark, idx, dpath,
        cols=("lang", "n_chars", "loc_lat", "loc_lon"),
    )
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "size": 0,
            "aggs": {
                "mx": {"matrix_stats": {
                    "fields": ["loc_lat", "loc_lon"],
                }},
                "sq": {"scripted_metric": {
                    "map_script": (
                        "doc['n_chars'].value * doc['n_chars'].value"
                        " + params.c"
                    ),
                    "params": {"c": 7},
                    "reduce": "sum",
                }},
            },
        },
        corpus_path=cpath,
    )
    mx = res.aggregations["mx"]
    sq = res.aggregations["sq"]
    out = mx.select(
        F.lit("matrix").alias("agg"),
        F.concat_ws("|", "field_a", "field_b", "stat").alias("key"),
        F.round(F.col("value"), 6).alias("val"),
    ).unionByName(sq.select(
        F.lit("scripted").alias("agg"), F.lit("*").alias("key"),
        F.round(F.col("value"), 6).alias("val"),
    ))
    return out


def dsl_range_aggs_family(spark, sf_dir):
    """date_range + ip_range + geo_distance bucket aggregations
    (index/aggs.py round-5 continuation) under one match query
    sharing ONE materialized match set and ONE generic range
    executor (_spec_ranges_facet: per-range membership flags as one
    array column, explode + single grouped count, zero-doc buckets
    emitted via a broadcast-literal left join — overlapping ranges
    land docs in every containing bucket, the OpenSearch contract).
    date bounds parse as UTC ISO; IPv4 converts to a 32-bit int in
    native Columns incl. a CIDR mask bucket; geo rings use the same
    haversine as the geo_distance query leaf with km units. Long
    format (agg, key, val); the oracle rebuilds ip/mtime/loc from
    n_chars and replays every bound in SQL."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    dpath = _net_corpus(spark, sf_dir, cpath)
    attach_doc_values(
        spark, idx, dpath,
        cols=("lang", "n_chars", "ip", "mtime", "loc_lat", "loc_lon"),
    )
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "size": 0,
            "aggs": {
                "dr": {"date_range": {
                    "field": "mtime",
                    "ranges": [
                        {"to": "2016-02-01"},
                        {"from": "2016-02-01", "to": "2016-03-01"},
                        {"from": "2016-03-01"},
                    ],
                }},
                "ipr": {"ip_range": {
                    "field": "ip",
                    "ranges": [
                        {"to": "10.100.0.0"},
                        {"from": "10.100.0.0"},
                        {"mask": "10.64.0.0/10"},
                    ],
                }},
                "gd": {"geo_distance": {
                    "field": "loc",
                    "origin": {"lat": 10.25, "lon": 20.5},
                    "unit": "km",
                    "ranges": [
                        {"to": 3000},
                        {"from": 3000, "to": 8000},
                        {"from": 8000},
                    ],
                }},
            },
        },
        corpus_path=cpath,
    )
    parts = []
    for aname in ("dr", "ipr", "gd"):
        parts.append(res.aggregations[aname].select(
            F.lit(aname).alias("agg"),
            F.concat_ws(
                "|", F.col("bucket_rank").cast("string"), "key"
            ).alias("key"),
            F.col("doc_count").cast("double").alias("val"),
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dsl_geohash_autohist(spark, sf_dir):
    """geohash_grid + auto_date_histogram aggregations (index/
    aggs.py round-5 continuation) under one match query. geohash keys
    are 5·precision interleaved bits (longitude first) computed with
    constant-folded native shift/and terms and a literal base-32
    array — no UDF; auto_date_histogram picks the smallest ladder
    interval whose exact bucket count floor(max/i)-floor(min/i)+1
    fits `buckets` (1-row driver gate), then runs one fixed-width
    histogram. Long format (agg, key, val); the oracle replays the
    bit interleave and the ladder CASE in generated SQL."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    dpath = _net_corpus(spark, sf_dir, cpath)
    attach_doc_values(
        spark, idx, dpath,
        cols=("lang", "n_chars", "ip", "mtime", "loc_lat", "loc_lon"),
    )
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "size": 0,
            "aggs": {
                "gh": {"geohash_grid": {"field": "loc",
                                        "precision": 4,
                                        "size": 10000}},
                "auto": {"auto_date_histogram": {
                    "field": "mtime", "buckets": 8,
                }},
            },
        },
        corpus_path=cpath,
    )
    gh = res.aggregations["gh"].select(
        F.lit("gh").alias("agg"),
        F.concat_ws(
            "|", F.col("bucket_rank").cast("string"), "key"
        ).alias("key"),
        F.col("doc_count").cast("double").alias("val"),
    )
    auto = res.aggregations["auto"].select(
        F.lit("auto").alias("agg"),
        F.concat_ws(
            "|",
            F.col("interval_s").cast("string"),
            F.col("key").cast("string"),
        ).alias("key"),
        F.col("doc_count").cast("double").alias("val"),
    )
    return gh.unionByName(auto)


def dsl_sampler_aggs(spark, sf_dir):
    """sampler + diversified_sampler bucket aggregations (index/
    dsl.py round-5 continuation): sub-aggs (terms, avg, value_count)
    run over the top-shard_size BM25-scored docs; ties break on the
    stored identity key so the oracle replays the cut exactly (the
    2-term query keeps per-doc scores bit-identical across engines —
    <= 2 partials, no reassociation). diversified_sampler first caps
    docs per lang (row_number over value-cardinality partitions),
    then cuts. Long format (agg, key, val); the DuckDB oracle
    recomputes BM25, replays both cuts with the same tie-break
    (path = CAST(doc_id AS VARCHAR) in this corpus), and
    re-aggregates."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars", "source"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "size": 0,
            "aggs": {
                "smp": {
                    "sampler": {"shard_size": 40},
                    "aggs": {
                        "langs": {"terms": {"field": "lang", "size": 10}},
                        "mean": {"avg": {"field": "n_chars"}},
                    },
                },
                "div": {
                    "diversified_sampler": {
                        "shard_size": 25, "field": "lang",
                        "max_docs_per_value": 8,
                    },
                    "aggs": {
                        "mean": {"avg": {"field": "n_chars"}},
                        "cnt": {"value_count": {"field": "n_chars"}},
                    },
                },
            },
        },
        corpus_path=cpath,
    )
    parts = [
        res.aggregations["smp.langs"].select(
            F.lit("smp_langs").alias("agg"),
            F.concat_ws(
                "|", F.col("bucket_rank").cast("string"), "facet"
            ).alias("key"),
            F.col("doc_count").cast("double").alias("val"),
        ),
        res.aggregations["smp.mean"].select(
            F.lit("smp_mean").alias("agg"), F.lit("*").alias("key"),
            F.round(F.col("avg_v"), 6).alias("val"),
        ),
        res.aggregations["div.mean"].select(
            F.lit("div_mean").alias("agg"), F.lit("*").alias("key"),
            F.round(F.col("avg_v"), 6).alias("val"),
        ),
        res.aggregations["div.cnt"].select(
            F.lit("div_cnt").alias("agg"), F.lit("*").alias("key"),
            F.col("n").cast("double").alias("val"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dsl_body_knobs(spark, sf_dir):
    """Search-body envelope knobs (round-5 continuation):
    `track_total_hits` (exact full-match-set cardinality on
    DSLResult.total — never the size-cut page, relation 'eq'),
    top-level `min_score` (score-suffix cutoff applied to the final
    hit page), and `indices_boost` (query.topk_multi boosts= — a
    per-index multiplier applied BEFORE the k-bounded global merge,
    here over the per-lang routed sub-indexes with en doubled and zh
    halved). Long format (agg, key, val); the oracle recomputes the
    match-set count, the BM25 score cutoff, and the boosted per-index
    merge in SQL."""
    import os as _os

    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import topk_multi

    cpath, idx = _docs_index(spark, sf_dir)
    res = dsl_search(
        spark, idx,
        {"query": {"match": {"content": "data merge"}},
         "size": 500, "min_score": 1.0, "track_total_hits": True},
        corpus_path=cpath,
    )
    total = res.total.select(
        F.lit("total").alias("agg"), F.lit("*").alias("key"),
        F.col("total_hits").cast("double").alias("val"),
    )
    kept = res.hits.agg(F.count("*").alias("n")).select(
        F.lit("minscore").alias("agg"), F.lit("*").alias("key"),
        F.col("n").cast("double").alias("val"),
    )
    dirs = _routed_dirs(spark, sf_dir)
    q = spark.createDataFrame(
        [(0, "data merge")], "query_id long, query string"
    )
    # fetch 50, re-rank by original doc_id, cut to 10 — the same
    # tie-stability device bm25_indexed_engine documents
    mres = topk_multi(
        spark, dirs, q, k=50,
        boosts={"index_en": 2.0, "index_zh": 0.5},
    )
    docs = None
    for d in dirs:
        dd = (
            spark.read.parquet(_os.path.join(d, "docs"))
            .select("doc_id", "path")
            .withColumn("_index", F.lit(_os.path.basename(d)))
        )
        docs = dd if docs is None else docs.unionByName(dd)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(F.col("path").cast("long"))
    )
    multi = (
        mres.join(docs, ["doc_id", "_index"])
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select(
            F.lit("multi").alias("agg"),
            F.concat_ws(
                "|", F.col("rnk").cast("string"), "_index",
                F.col("path"),
            ).alias("key"),
            F.round("score", 6).alias("val"),
        )
    )
    return total.unionByName(kept).unionByName(multi)


def dsl_nested_docs(spark, sf_dir):
    """nested query + nested/reverse_nested aggregations (round-5
    continuation) over an array<struct> doc-values column — the
    Spark-native analog of Lucene's hidden sub-documents. The query
    requires kind='xtra' AND len>=200 to co-occur on ONE element
    (F.exists with a compiled per-element predicate — zero UDFs, zero
    explodes on the query path); the aggregation explodes the match
    set's elements ONCE, bucketing element kinds with both the
    element count and the reverse_nested DISTINCT-PARENT count from
    the same grouped pass, plus an element-level avg. Long format
    (agg, key, val); the oracle rebuilds the elements from n_chars
    arithmetic and replays every count in SQL."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    dpath = _net_corpus(spark, sf_dir, cpath)
    attach_doc_values(
        spark, idx, dpath, cols=("lang", "n_chars", "chunks"),
    )
    nq = dsl_search(
        spark, idx,
        {"query": {"nested": {
            "path": "chunks",
            "query": {"bool": {"must": [
                {"term": {"chunks.kind": "xtra"}},
                {"range": {"chunks.len": {"gte": 200}}},
            ]}},
        }}, "size": 0, "track_total_hits": True},
        corpus_path=cpath,
    )
    agg = dsl_search(
        spark, idx,
        {"query": {"match": {"content": "data merge"}}, "size": 0,
         "aggs": {"ch": {
             "nested": {"path": "chunks"},
             "aggs": {
                 "kinds": {"terms": {"field": "chunks.kind"},
                           "aggs": {"parents": {"reverse_nested": {}}}},
                 "mean_len": {"avg": {"field": "chunks.len"}},
             },
         }}},
        corpus_path=cpath,
    )
    kinds = agg.aggregations["ch.kinds"]
    parts = [
        nq.total.select(
            F.lit("nq").alias("agg"), F.lit("*").alias("key"),
            F.col("total_hits").cast("double").alias("val"),
        ),
        kinds.select(
            F.lit("kinds").alias("agg"),
            F.concat_ws(
                "|", F.col("bucket_rank").cast("string"), "key"
            ).alias("key"),
            F.col("doc_count").cast("double").alias("val"),
        ),
        kinds.select(
            F.lit("parents").alias("agg"), F.col("key").alias("key"),
            F.col("parent_count").cast("double").alias("val"),
        ),
        agg.aggregations["ch.mean_len"].select(
            F.lit("mean").alias("agg"), F.lit("*").alias("key"),
            F.round(F.col("value"), 6).alias("val"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dsl_pipeline_aggs2(spark, sf_dir):
    """Round-5-continuation pipeline aggregations: `normalize`
    (percent_of_sum + rescale_0_1 — unbounded window over the
    bucket-sized frame) and `moving_percentiles` (exact percentile
    over the window ending just before each bucket) as parent pipes
    on a histogram, plus `extended_stats_bucket` (population
    variance/std from exact power sums) and `percentiles_bucket`
    (exact) as sibling pipes re-aggregating the same frame. Long
    format (agg, key, val); the oracle replays the window algebra
    with DuckDB window functions."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "size": 0,
            "aggs": {
                "hist": {
                    "histogram": {"field": "n_chars", "interval": 100},
                    "aggs": {
                        "pct": {"normalize": {
                            "buckets_path": "_count",
                            "method": "percent_of_sum",
                        }},
                        "r01": {"normalize": {
                            "buckets_path": "_count",
                            "method": "rescale_0_1",
                        }},
                        "mp": {"moving_percentiles": {
                            "buckets_path": "_count", "window": 3,
                            "percent": 50.0,
                        }},
                    },
                },
                "xs": {"extended_stats_bucket": {
                    "buckets_path": "hist>_count",
                }},
                "pb": {"percentiles_bucket": {
                    "buckets_path": "hist>_count",
                    "percents": [25, 50, 75],
                }},
            },
        },
        corpus_path=cpath,
    )
    hist = res.aggregations["hist"]
    key = F.col("key").cast("long").cast("string")
    parts = [
        hist.select(
            F.lit("count").alias("agg"), key.alias("key"),
            F.col("doc_count").cast("double").alias("val"),
        ),
        hist.select(
            F.lit("pct").alias("agg"), key.alias("key"),
            F.round(F.col("pct"), 6).alias("val"),
        ),
        hist.select(
            F.lit("r01").alias("agg"), key.alias("key"),
            F.round(F.col("r01"), 6).alias("val"),
        ),
        hist.filter(F.col("mp").isNotNull()).select(
            F.lit("mp").alias("agg"), key.alias("key"),
            F.round(F.col("mp"), 6).alias("val"),
        ),
    ]
    xs = res.aggregations["xs"]
    for c, nm in (("n", "n"), ("min_v", "min"), ("max_v", "max"),
                  ("sum_v", "sum"), ("avg_v", "avg"),
                  ("variance", "variance"), ("std_dev", "std_dev")):
        parts.append(xs.select(
            F.lit("xs").alias("agg"), F.lit(nm).alias("key"),
            F.round(F.col(c).cast("double"), 6).alias("val"),
        ))
    parts.append(res.aggregations["pb"].select(
        F.lit("pb").alias("agg"),
        F.col("percent").cast("long").cast("string").alias("key"),
        F.round(F.col("value"), 6).alias("val"),
    ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dsl_runtime_fields(spark, sf_dir):
    """runtime_mappings (round-5 continuation): a per-query derived
    field (chars_h = n_chars / 100, painless-lite with params,
    emit() wrapper) compiled onto the doc-values sidecar as ONE
    native expression — used as a top-level range filter
    (track_total_hits counts the match set), and as the field of
    stats / histogram / exact-percentiles aggregations under a match
    query. Nothing is written; the derived column exists only inside
    the compiled plan (the OpenSearch runtime-field contract). Long
    format (agg, key, val); the oracle recomputes the expression and
    every aggregate in SQL."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    rt = {
        "chars_h": {
            "type": "double",
            "script": {
                "source": "emit(doc['n_chars'].value / params.d)",
                "params": {"d": 100.0},
            },
        },
    }
    nq = dsl_search(
        spark, idx,
        {"query": {"range": {"chars_h": {"gte": 2.0, "lt": 4.5}}},
         "runtime_mappings": rt, "size": 0, "track_total_hits": True},
        corpus_path=cpath,
    )
    res = dsl_search(
        spark, idx,
        {"query": {"match": {"content": "data merge"}},
         "runtime_mappings": rt, "size": 0,
         "aggs": {
             "st": {"stats": {"field": "chars_h"}},
             "h": {"histogram": {"field": "chars_h", "interval": 0.5}},
             "p": {"percentiles": {"field": "chars_h",
                                   "percents": [50.0]}},
         }},
        corpus_path=cpath,
    )
    st = res.aggregations["st"]
    parts = [
        nq.total.select(
            F.lit("range").alias("agg"), F.lit("*").alias("key"),
            F.col("total_hits").cast("double").alias("val"),
        ),
    ]
    for c, nm in (("n", "n"), ("min_v", "min"), ("max_v", "max"),
                  ("sum_v", "sum"), ("avg_v", "avg")):
        parts.append(st.select(
            F.lit("st").alias("agg"), F.lit(nm).alias("key"),
            F.round(F.col(c).cast("double"), 6).alias("val"),
        ))
    parts.append(res.aggregations["h"].select(
        F.lit("h").alias("agg"),
        F.col("key").cast("string").alias("key"),
        F.col("doc_count").cast("double").alias("val"),
    ))
    parts.append(res.aggregations["p"].select(
        F.lit("p50").alias("agg"), F.lit("*").alias("key"),
        F.round(F.col("p50"), 6).alias("val"),
    ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dsl_script_fields_lookup(spark, sf_dir):
    """script_fields (per-hit derived values through the
    runtime-field painless-lite compiler, joined onto the k-bounded
    hit page) + the terms-lookup rewrite (values fetched from another
    indexed doc by stored _id — the driver-side GET OpenSearch itself
    performs — then compiled as a literal terms leaf). Long format
    (agg, key, val): top-10 'data merge' hits re-ranked by original
    doc_id carry half-n_chars script values; the lookup query counts
    docs sharing doc 7's lang. The oracle recomputes BM25, the
    derived value, and the lookup join in SQL."""
    import os as _os

    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    res = dsl_search(
        spark, idx,
        {"query": {"match": {"content": "data merge"}}, "size": 50,
         "script_fields": {"half": {"script": {
             "source": "emit(doc['n_chars'].value / 2)",
         }}}},
        corpus_path=cpath,
    )
    docs = spark.read.parquet(_os.path.join(idx, "docs")).select(
        "doc_id", "path"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(F.col("path").cast("long"))
    )
    sf = (
        res.hits.join(docs, "doc_id")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select(
            F.lit("sf").alias("agg"),
            F.concat_ws(
                "|", F.col("rnk").cast("string"), F.col("path")
            ).alias("key"),
            F.col("half").alias("val"),
        )
    )
    lk_id = docs.where(F.col("path") == "7").collect()[0]["doc_id"]
    lres = dsl_search(
        spark, idx,
        {"query": {"terms": {"lang": {
            "index": idx, "id": int(lk_id), "path": "lang",
        }}}, "size": 0, "track_total_hits": True},
        corpus_path=cpath,
    )
    lk = lres.total.select(
        F.lit("lk").alias("agg"), F.lit("*").alias("key"),
        F.col("total_hits").cast("double").alias("val"),
    )
    return sf.unionByName(lk)


def dsl_cumulative_cardinality(spark, sf_dir):
    """Per-bucket cardinality + cumulative_cardinality under a
    histogram (round-5 continuation): the running distinct count is
    EXACT via the first-seen-bucket trick — min(bucket) per value,
    count the debuts per bucket, one running-sum window over the
    bucket frame (never a per-bucket re-scan of earlier buckets; at
    scale the debut frame is value-cardinality-sized). Long format
    (agg, key, val); the oracle replays the debut counting in SQL."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    res = dsl_search(
        spark, idx,
        {"query": {"match": {"content": "data merge"}}, "size": 0,
         "aggs": {"hist": {
             "histogram": {"field": "n_chars", "interval": 100},
             "aggs": {
                 "langs": {"cardinality": {"field": "lang"}},
                 "cum": {"cumulative_cardinality": {
                     "buckets_path": "langs",
                 }},
             },
         }}},
        corpus_path=cpath,
    )
    hist = res.aggregations["hist"]
    key = F.col("key").cast("long").cast("string")
    parts = [
        hist.select(
            F.lit("count").alias("agg"), key.alias("key"),
            F.col("doc_count").cast("double").alias("val"),
        ),
        hist.select(
            F.lit("langs").alias("agg"), key.alias("key"),
            F.col("langs").cast("double").alias("val"),
        ),
        hist.select(
            F.lit("cum").alias("agg"), key.alias("key"),
            F.col("cum").cast("double").alias("val"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def update_by_query_roundtrip(spark, sf_dir):
    """_update_by_query over a delta tree (sources/bulk_api.py): the
    documents corpus splits into two deltas (doc_id parity), every
    doc matching token 'data' re-indexes as a regexp-transformed new
    version ('data' -> 'datum') in ONE new delta while the originals
    tombstone in place (_id preserved; content_sha256 recomputed
    engine-side). Long format (agg, key, val): the updated count plus
    post-update live-match counts for both tokens via topk_deltas
    (which anti-joins per-delta tombstones). The oracle replays the
    token match, the regexp transform, and the post-update
    re-tokenization in SQL."""
    import os as _os
    import tempfile as _tf

    from data_prepper_spark.index.build import BuildConfig, build_index
    from data_prepper_spark.index.query import topk_deltas
    from data_prepper_spark.sources.bulk_api import update_by_query

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.select(
        F.lit("docs").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.lit("c0").alias("commit"),
        F.col("text").alias("content"),
        F.sha2(F.col("text"), 256).alias("content_sha256"),
        (F.col("doc_id") % 2).alias("__half"),
    )
    root = _tf.mkdtemp(prefix="dps_ubq_")
    cfg = BuildConfig(n_buckets=4, hot_group_target=5000)
    for half in (0, 1):
        delta = _os.path.join(root, f"delta={half}")
        staging = _os.path.join(delta, "_staging_corpus")
        corpus.where(F.col("__half") == half).drop("__half").write.mode(
            "overwrite"
        ).parquet(staging)
        build_index(spark, staging, delta, cfg)
    res = update_by_query(
        spark, root, "data",
        lambda df: df.withColumn(
            "content", F.regexp_replace("content", "data", "datum")
        ),
        cfg=cfg,
    )

    def _live(tok):
        qs = spark.createDataFrame(
            [(0, tok)], "query_id long, query string"
        )
        return topk_deltas(spark, root, qs, k=100000).count()

    rows = [
        ("updated", "*", float(res["updated"])),
        ("old_hits", "*", float(_live("data"))),
        ("new_hits", "*", float(_live("datum"))),
    ]
    return spark.createDataFrame(rows, "agg string, key string, val double")


def dsl_collapse_inner_hits(spark, sf_dir):
    """collapse + inner_hits (round-5 continuation): each collapsed
    group on the returned page carries its own top-2 hits from the
    SAME per-group window top_hits_facet runs, semi-joined to the
    k-bounded page. Long format keyed on (lang, hit_rank) with
    rounded scores — rank-within-ties is identity-free so duplicate
    docs cannot flip the hash. The oracle recomputes BM25, the
    per-group ranking, and the group sizes in SQL."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    res = dsl_search(
        spark, idx,
        {"query": {"match": {"content": "data merge"}},
         "collapse": {"field": "lang", "inner_hits": {"size": 2}}},
        corpus_path=cpath,
    )
    page = res.hits.select(
        F.lit("page").alias("agg"), F.col("lang").alias("key"),
        F.round("score", 6).alias("val"),
    )
    ih = res.inner_hits.select(
        F.lit("ih").alias("agg"),
        F.concat_ws(
            "|", "lang", F.col("hit_rank").cast("string")
        ).alias("key"),
        F.round("score", 6).alias("val"),
    )
    cnt = res.inner_hits.select(
        F.lit("cnt").alias("agg"), F.col("lang").alias("key"),
        F.col("doc_count").cast("double").alias("val"),
    ).distinct()
    return page.unionByName(ih).unionByName(cnt)


def dsl_variable_width_hist(spark, sf_dir):
    """variable_width_histogram, the deterministic equal-frequency
    variant (index/aggs.py): OpenSearch's streaming clustering is
    shard-order-dependent and unreproducible by an external oracle,
    so this engine documents exact quantile boundaries +
    strict-below assignment instead — same dashboard shape
    (value-adaptive bucket widths, per-bucket min/max/avg/count),
    replayable contract. Long format (agg, key=bucket|stat, val); the
    oracle recomputes the boundaries with quantile_cont and replays
    the assignment in SQL."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    res = dsl_search(
        spark, idx,
        {"query": {"match": {"content": "data merge"}}, "size": 0,
         "aggs": {"vw": {"variable_width_histogram": {
             "field": "n_chars", "buckets": 4,
         }}}},
        corpus_path=cpath,
    )
    vw = res.aggregations["vw"]
    parts = []
    for c, nm in (("min_v", "min"), ("max_v", "max"),
                  ("avg_v", "avg"), ("doc_count", "count")):
        parts.append(vw.select(
            F.lit("vw").alias("agg"),
            F.concat_ws(
                "|", F.col("bucket").cast("string"), F.lit(nm)
            ).alias("key"),
            F.round(F.col(c).cast("double"), 6).alias("val"),
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dsl_agg_knobs(spark, sf_dir):
    """Aggregation knobs (round-5 continuation): histogram `offset`
    (every boundary shifted — floor((v-off)/step)*step+off), terms
    `missing` (docs without the field bucket under the given value;
    without it they are skipped, the OpenSearch default), and keyed
    overlapping numeric `range` buckets routed through the same
    generic [from, to) executor the date/ip/geo ranges use. Long
    format (agg, key, val); the oracle rebuilds the nullable `team`
    column from n_chars and replays every count in SQL."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    dpath = _net_corpus(spark, sf_dir, cpath)
    attach_doc_values(
        spark, idx, dpath, cols=("lang", "n_chars", "team"),
    )
    res = dsl_search(
        spark, idx,
        {"query": {"match": {"content": "data merge"}}, "size": 0,
         "aggs": {
             "h": {"histogram": {"field": "n_chars", "interval": 100,
                                 "offset": 50}},
             "tm": {"terms": {"field": "team", "missing": "none",
                              "size": 10}},
             "r": {"range": {"field": "n_chars", "ranges": [
                 {"to": 300, "key": "small"},
                 {"from": 200, "key": "big"},
                 {"from": 250, "to": 260, "key": "mid"},
             ]}},
         }},
        corpus_path=cpath,
    )
    parts = [
        res.aggregations["h"].select(
            F.lit("h").alias("agg"),
            F.col("key").cast("long").cast("string").alias("key"),
            F.col("doc_count").cast("double").alias("val"),
        ),
        res.aggregations["tm"].select(
            F.lit("tm").alias("agg"), F.col("facet").alias("key"),
            F.col("doc_count").cast("double").alias("val"),
        ),
        res.aggregations["r"].select(
            F.lit("r").alias("agg"), F.col("key"),
            F.col("doc_count").cast("double").alias("val"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dsl_script_score(spark, sf_dir):
    """script_score + rank_feature queries (index/booltree.py):
    query_id 0 re-scores a match query's hits with a painless-lite
    script (_score * saturation(doc['n_chars'].value, 300)) compiled
    to a native Column expression — one left join against the
    doc-values sidecar, no Python UDF; query_id 1 boosts the same
    match query with a `should` rank_feature clause (score + 0.5 *
    saturation(n_chars, 300)). Both re-ranked by (score, original
    doc_id) for oracle-stable ties; the oracle recomputes BM25 and
    the feature algebra in DuckDB."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    bodies = [
        {
            "query": {"script_score": {
                "query": {"match": {"text": "data merge"}},
                "script": {
                    "source": (
                        "_score * saturation(doc['n_chars'].value,"
                        " params.k)"
                    ),
                    "params": {"k": 300},
                },
            }},
            "size": 50,
        },
        {
            "query": {"bool": {
                "must": [{"match": {"text": "data merge"}}],
                "should": [{"rank_feature": {
                    "field": "n_chars",
                    "saturation": {"pivot": 300},
                    "boost": 0.5,
                }}],
            }},
            "size": 50,
        },
    ]
    parts = [
        dsl_search(spark, idx, b, corpus_path=cpath, query_id=i).hits
        for i, b in enumerate(bodies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _rerank_engine_results(out)


ANALYZE_TEXTS = [
    "getUserName snake_case_id HTTPServer2 calls",
    "def build_index(spark, corpus_path): return 42",
    "MixedCase the and of tokens",
]


def analyze_api(spark, sf_dir):
    """_analyze API facade (index/dsl.py::analyze): the index's
    persisted analyzer chain over ad-hoc text — the debugging surface
    an OpenSearch user hits first when a query doesn't match. The
    docs index uses the identity chain, so the oracle is the DuckDB
    tokenizer twin with lockstep-unnested positions; stop/stem chains
    are covered by tests/test_dsl.py::test_analyze_api."""
    from data_prepper_spark.index.dsl import analyze

    _, idx = _docs_index(spark, sf_dir)
    return analyze(spark, idx, {"text": ANALYZE_TEXTS})


_ROUTED_IDX_CACHE: dict[str, list] = {}


def _routed_dirs(spark, sf_dir) -> list:
    """Per-lang routed sub-indexes over the documents corpus (built
    once per sf_dir per process; deterministic, so sharing cannot
    couple entries). Shared by multi_index_search and
    dsl_body_knobs."""
    import os as _os
    import tempfile as _tf

    from data_prepper_spark.index.build import (
        BuildConfig,
        build_routed_indexes,
    )

    cpath, _ = _docs_index(spark, sf_dir)
    dirs = _ROUTED_IDX_CACHE.get(sf_dir)
    if dirs is None:
        out = _tf.mkdtemp(prefix="dps_routed_")
        stats = build_routed_indexes(
            spark, cpath, out, route_col="lang",
            cfg=BuildConfig(n_buckets=4, hot_group_target=5000),
        )
        dirs = [_os.path.join(out, f"index_{la}") for la in sorted(stats)]
        _ROUTED_IDX_CACHE[sf_dir] = dirs
    return dirs


def multi_index_search(spark, sf_dir):
    """Multi-index search (query.topk_multi — the GET
    idx1,idx2/_search surface over build.build_routed_indexes's
    per-route sub-indexes): the documents corpus routes into per-lang
    physical indexes in ONE partitionBy pass, each index scores the
    query batch with its OWN corpus statistics (per-index idf, the
    OpenSearch per-index scoring reality — scores are NOT globally
    renormalized), per-index top-k candidates merge through one
    aggregation-sized global rank window, `_index` carries
    provenance. Ties re-ranked by original doc_id (same device as
    bm25_indexed_engine). The oracle recomputes per-lang BM25 stats
    and the same merge in DuckDB."""
    import os as _os
    import tempfile as _tf

    from data_prepper_spark.index.build import (
        BuildConfig,
        build_routed_indexes,
    )
    from data_prepper_spark.index.query import topk_multi

    cpath, _ = _docs_index(spark, sf_dir)
    dirs = _ROUTED_IDX_CACHE.get(sf_dir)
    if dirs is None:
        out = _tf.mkdtemp(prefix="dps_routed_")
        stats = build_routed_indexes(
            spark, cpath, out, route_col="lang",
            cfg=BuildConfig(n_buckets=4, hot_group_target=5000),
        )
        dirs = [_os.path.join(out, f"index_{la}") for la in sorted(stats)]
        _ROUTED_IDX_CACHE[sf_dir] = dirs
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    res = topk_multi(spark, dirs, q, k=50)
    docs = None
    for d in dirs:
        dd = (
            spark.read.parquet(_os.path.join(d, "docs"))
            .select("doc_id", "path")
            .withColumn("_index", F.lit(_os.path.basename(d)))
        )
        docs = dd if docs is None else docs.unionByName(dd)
    j = res.join(docs, ["doc_id", "_index"])
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"),
        F.asc(F.col("path").cast("long")),
        F.asc("_index"),
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id", "rank",
            F.col("path").cast("long").alias("doc_id"),
            F.round("score", 6).alias("score_r"),
            "_index",
        )
    )


PHRASE_SUGGEST_INPUTS = ["quary merg", "slom querry", "sline dat"]


def phrase_suggester(spark, sf_dir):
    """Phrase suggester (query.phrase_suggest — OpenSearch
    `suggest.phrase` analog): per-token dictionary candidates from
    the term suggester (distance asc, df desc, term asc, top 3; ONE
    equi-join round trip for all distinct tokens), combined into
    whole phrases bounded by max_errors, ranked by the df-unigram
    log-likelihood ln(df+1) - 2*distance per token (no input token
    is a dictionary term here, so the normalizer is 1 and the oracle
    is exact). The oracle replays candidates + combination + ranking
    in DuckDB with its levenshtein."""
    from data_prepper_spark.index.query import phrase_suggest

    _, idx = _docs_index(spark, sf_dir)
    inputs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(PHRASE_SUGGEST_INPUTS)],
        "input_id long, text string",
    )
    res = phrase_suggest(spark, idx, inputs, size=3)
    return res.select(
        "input_id", "suggest_rank", "suggestion",
        F.round("score", 6).alias("score_r"),
    )


def dsl_top_metrics(spark, sf_dir):
    """top_metrics aggregation (index/dsl.py): the sort-field values
    of the top-sorted docs in the match set — one doc-values join +
    one rank window over the match set. Output carries only
    (metric_rank, sort_value) so internal-ordinal tie-breaks cannot
    leak (equal sort values produce identical rows either way)."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "aggs": {"tm": {"top_metrics": {
                "metrics": [{"field": "n_chars"}],
                "sort": {"n_chars": "desc"},
                "size": 5,
            }}},
        },
        corpus_path=cpath,
    )
    return res.aggregations["tm"].select(
        "query_id", "metric_rank", "sort_value"
    )


def dsl_geo_queries(spark, sf_dir):
    """geo_distance + geo_bounding_box filter leaves (index/
    booltree.py::_geo_frame): haversine great-circle distance and a
    dateline-crossing box, both native Column expressions over
    *_lat/*_lon doc-values (no UDF — the arc formula stays in
    whole-stage codegen), composed UNSCORED with a scored match
    clause. Coordinates derive deterministically from n_chars so the
    DuckDB oracle rebuilds them exactly; query 0 filters by distance,
    query 1 by a box that wraps the dateline."""
    import os as _os
    import tempfile as _tf

    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    cp2 = _os.path.join(_tf.mkdtemp(prefix="dps_geo_"), "c.parquet")
    (
        spark.read.parquet(cpath)
        .withColumn(
            "loc_lat",
            (F.col("n_chars") % 120 - 60 + F.lit(0.25)).cast("double"),
        )
        .withColumn(
            "loc_lon",
            ((F.col("n_chars") * 7) % 340 - 170 + F.lit(0.5)).cast(
                "double"
            ),
        )
        .write.mode("overwrite").parquet(cp2)
    )
    attach_doc_values(
        spark, idx, cp2, cols=("lang", "n_chars", "loc_lat", "loc_lon")
    )
    bodies = [
        {"query": {"bool": {
            "must": [{"match": {"text": "data merge"}}],
            "filter": [{"geo_distance": {
                "distance": "3000km",
                "loc": {"lat": 10.0, "lon": 20.0},
            }}],
        }}, "size": 50},
        {"query": {"bool": {
            "must": [{"match": {"text": "data merge"}}],
            "filter": [{"geo_bounding_box": {"loc": {
                "top_left": {"lat": 60, "lon": 150},
                "bottom_right": {"lat": -60, "lon": -100},
            }}}],
        }}, "size": 50},
    ]
    parts = [
        dsl_search(spark, idx, b, corpus_path=cp2, query_id=i).hits
        for i, b in enumerate(bodies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _rerank_engine_results(out)


def dsl_sort_page(spark, sf_dir):
    """Field-sorted deep page (the OpenSearch `sort` + `from` body):
    the match set is materialized once, joined against the doc-values
    sidecar, and paged by (n_chars desc, ordinal) with ABSOLUTE ranks
    (index/dsl.py -> index/query.py::sort_by_field_search). The
    engine tie-breaks equal n_chars on its internal xxhash64 ordinal;
    the oracle tie-breaks on the original doc_id — so (same device as
    bm25_indexed_engine) fetch the top 50, re-rank by (n_chars desc,
    original doc_id), and emit ranks 6..15. Membership of ranks 6..15
    is independent of the internal order unless one n_chars tie group
    spans ranks 15..50 (13+ equal-length docs — not present in the
    synthetic table). Engine-side `from` paging itself is covered by
    tests/test_dsl.py::test_sort_and_from_pagination."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "sort": [{"n_chars": {"order": "desc"}}],
            "size": 50,
        },
        corpus_path=cpath,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_chars"), F.asc(F.col("path").cast("long"))
    )
    return (
        res.hits.withColumn("rank2", F.row_number().over(w))
        .filter((F.col("rank2") > 5) & (F.col("rank2") <= 15))
        .select(
            "query_id",
            F.col("rank2").alias("rank"),
            F.col("path").cast("long").alias("doc_id"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
    )


def faceted_search_engine(spark, sf_dir):
    """Terms aggregation alongside a query (opensearch-api `aggs`):
    per-query facet buckets by `lang` over the FULL disjunctive match
    set from the physical index (index/query.py::faceted_search).
    The oracle recomputes match + bucket ordering (doc_count desc,
    value asc) from the raw table."""
    from data_prepper_spark.index.query import attach_doc_values, faceted_search

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    return faceted_search(spark, idx, cpath, q, facet_col="lang")


def range_facets_engine(spark, sf_dir):
    """Range aggregation alongside a query (opensearch-api `range`
    agg): doc counts of the FULL match set bucketed by n_chars bands
    with OpenSearch bucket labels ("*-200", "200-400", ...), via the
    doc-values sidecar (index/query.py::range_facets). Oracle
    recomputes match + CASE bucketing."""
    from data_prepper_spark.index.query import attach_doc_values, range_facets

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    return range_facets(
        spark, idx, cpath, q, field="n_chars", bounds=[200, 400, 800]
    )


def significant_terms_engine(spark, sf_dir):
    """Significant-terms aggregation (opensearch-api default JLH
    heuristic) per query over the disjunctive match set, computed
    index-side from the index's own tokens + terms tables
    (index/query.py::significant_terms). Oracle recomputes
    foreground/background frequencies and the JLH score from the raw
    table."""
    from data_prepper_spark.index.query import significant_terms

    _, idx = _docs_index(spark, sf_dir)
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    out = significant_terms(spark, idx, q, size=10, min_doc_count=3)
    return out.select(
        "query_id",
        "bucket_rank",
        "term",
        "fg_count",
        F.round("score", 6).alias("score_r"),
    )


def search_after_page2(spark, sf_dir):
    """Deep pagination (opensearch-api search_after,
    index/query.py::topk_after): page 1's last hit becomes a
    stateless (score, doc) cursor and page 2 is the next 10 strictly
    after it. The cursor is taken at the LAST rank <=10 that closes
    its score-tie group, so the page boundary is identical under the
    engine's ordinal tie-break and the oracle's doc_id tie-break
    (scores are bit-identical across engines on this corpus: <=2
    partials per doc, IEEE-commutative); the oracle derives the same
    boundary with a lead() window."""
    from data_prepper_spark.index.query import topk, topk_after

    _, idx = _docs_index(spark, sf_dir)
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    p1 = (
        topk(spark, idx, q, k=11)
        .toPandas()
        .sort_values(["query_id", "rank"])
    )
    cursors = []
    for qid, grp in p1.groupby("query_id"):
        scores = grp["score"].to_numpy()
        ranks = grp["rank"].to_numpy()
        r = max(
            int(ranks[i])
            for i in range(len(grp))
            if ranks[i] <= 10
            and (i + 1 >= len(grp) or scores[i] != scores[i + 1])
        )
        row = grp[grp["rank"] == r].iloc[0]
        cursors.append(
            (int(qid), BM25_QUERY_TERMS[int(qid)], float(row["score"]),
             int(row["doc_id"]))
        )
    cur = spark.createDataFrame(
        cursors,
        "query_id long, query string, after_score double, after_doc long",
    )
    p2 = topk_after(spark, idx, cur, k=50)
    ident = spark.read.parquet(f"{idx}/docs").select("doc_id", "path")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(F.col("path").cast("long"))
    )
    return (
        p2.join(ident, "doc_id")
        .withColumn("prank", F.row_number().over(w))
        .filter(F.col("prank") <= 10)
        .select(
            "query_id",
            F.col("prank").alias("rank"),
            F.col("path").cast("long").alias("doc_id"),
            F.round("score", 6).alias("score_r"),
        )
    )


DELETE_QUERY = "customer"


def delete_by_query_engine(spark, sf_dir):
    """_delete_by_query + Lucene delete semantics: docs matching the
    delete query are tombstoned (postings/stats untouched), then the
    standard BM25 top-10 runs over the survivors — remaining docs
    keep their PRE-delete scores (index/query.py::delete_by_query +
    the tombstone anti-join in topk). The oracle scores with
    full-corpus statistics and excludes the deleted docs. Runs on a
    throwaway copy of the shared entry index (tombstones mutate)."""
    import shutil
    import tempfile

    from data_prepper_spark.index.query import delete_by_query, topk_with_docs

    _, idx = _docs_index(spark, sf_dir)
    idx2 = tempfile.mkdtemp(prefix="dps_delq_") + "/index"
    shutil.copytree(idx, idx2)
    delete_by_query(spark, idx2, DELETE_QUERY)
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    return _rerank_engine_results(topk_with_docs(spark, idx2, q, k=50))


def index_stats_report(spark, sf_dir):
    """The _stats / _cat/indices analog: one-row index statistics
    (docs, vocabulary size, total postings, total tokens, avgdl)
    from the index's own tables (index/query.py::index_stats); the
    oracle recomputes every number from the raw documents table."""
    from data_prepper_spark.index.query import index_stats

    _, idx = _docs_index(spark, sf_dir)
    out = index_stats(spark, idx)
    return out.select(
        "n_docs",
        "n_terms",
        "total_postings",
        "total_tokens",
        F.round("avgdl", 6).alias("avgdl_r"),
    )


def doc_chunking(spark, sf_dir):
    """Token-bounded chunking with overlap — the splitting step of an
    LLM ingestion pipeline (textstats.py::chunk_documents). Pure
    Catalyst map-only pass (tokenize -> start grid -> posexplode ->
    slice); the oracle reproduces the identical chunk grid and texts
    (compared via md5)."""
    from data_prepper_spark.datapipe.textstats import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    out = chunk_documents(docs, "text", chunk_tokens=64, overlap=16)
    return out.select(
        "id", "chunk_idx", "chunk_len", F.md5("chunk_text").alias("chunk_md5")
    )


def tfidf_keywords(spark, sf_dir):
    """Top-5 keywords per document by tf-idf (idf = ln(N/df)) —
    textstats.py::tfidf_keywords; one (id, term) groupBy with
    map-side combine + a terms-sized df agg, same shuffle shape as
    the index build's tf aggregation."""
    from data_prepper_spark.datapipe.textstats import (
        tfidf_keywords as _tfidf,
    )

    docs = _t(spark, sf_dir, "documents")
    out = _tfidf(docs, "text", k=5)
    return out.select(
        "id", "rank", "term", F.round("score", 6).alias("score_r")
    )


def search_snippets(spark, sf_dir):
    """Highlighting: the top-10 BM25 results per query with the
    ±5-token snippet around the earliest query-term hit
    (textstats.py::snippet_col, pure Catalyst). The oracle reproduces
    ranking AND the snippet window byte-for-byte."""
    from data_prepper_spark.datapipe.textstats import snippet_col

    docs = _t(spark, sf_dir, "documents")
    top = bm25_topk_df(spark, sf_dir)
    qterms = F.array_distinct(tokenize_col(F.col("query")))
    return (
        top.join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "query",
            "rank",
            "doc_id",
            snippet_col(F.col("text"), qterms).alias("snippet"),
        )
    )


def more_like_this_docs(spark, sf_dir):
    """More-like-this (reference/OpenSearch MLT query): each source
    doc's top-5 tf-idf keywords become a disjunctive BM25 query over
    the corpus (textstats.py::more_like_this); the oracle recomputes
    keyword selection AND scoring from the raw table."""
    from data_prepper_spark.datapipe.textstats import more_like_this

    docs = _t(spark, sf_dir, "documents")
    out = more_like_this(docs, "text", source_ids=[0, 1, 2], m=5, k=10)
    return out.select(
        "src_id", "rank", "doc_id", F.round("score", 6).alias("score_r")
    )


def winnow_fingerprint_dups(spark, sf_dir):
    """Docs sharing >= 5 winnowing fingerprints (partial-overlap dedup).

    Pure-Catalyst winnowing with the DuckDB-portable hash, plus the
    hot-fingerprint df cap (anti-join on fps shared by > 100 docs) that
    bounds the self-join at scale — the same skew guard as
    ngram_jaccard_pairs. The oracle mirrors hash, selection, and cap."""
    from data_prepper_spark.datapipe.phash import phash60
    from data_prepper_spark.datapipe.textstats import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fps = winnow_fingerprints(docs, "doc_id", "text", hash_col=phash60).cache()
    hot = fps.groupBy("fp").count().filter(F.col("count") > 100)
    fps2 = fps.join(F.broadcast(hot.select("fp")), "fp", "left_anti")
    return (
        fps2.alias("l")
        .join(fps2.alias("r"), "fp")
        .filter(F.col("l.id") < F.col("r.id"))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 5)
    )


def minhash_dedup(spark, sf_dir):
    """MinHash+LSH near-dup pairs, portable-hash variant (oracle-
    provable); the numpy/siphash fast path is exercised in tests."""
    from data_prepper_spark.datapipe.dedup import minhash_lsh_pairs_portable

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_lsh_pairs_portable(
        docs, "doc_id", "text", num_perm=16, bands=4, shingle=3, threshold=0.5
    )


SUGGEST_INPUTS = ["spork", "qeury", "custmer", "zzzzzzzz"]
COMPLETE_INPUTS = ["s", "qu", "cust", "zzz"]


def term_suggester(spark, sf_dir):
    """Did-you-mean (opensearch-api term suggester,
    index/query.py::suggest mode="term"): dictionary corrections
    within edit distance 2 ranked (distance, df desc, term) — the
    DirectSpellChecker ordering. Oracle mirrors DuckDB levenshtein
    over the same dictionary."""
    from data_prepper_spark.index.query import suggest

    _, idx = _docs_index(spark, sf_dir)
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(SUGGEST_INPUTS)],
        "input_id long, text string",
    )
    return suggest(spark, idx, q, mode="term", size=3).select(
        "input_id", "suggest_rank", "suggestion",
        F.col("df").cast("long").alias("df"),
        F.col("distance").cast("long").alias("distance"),
    )


def completion_suggester(spark, sf_dir):
    """Prefix completion (opensearch-api completion suggester,
    suggest mode="completion"): dictionary terms by (df desc, term)
    under each prefix."""
    from data_prepper_spark.index.query import suggest

    _, idx = _docs_index(spark, sf_dir)
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(COMPLETE_INPUTS)],
        "input_id long, text string",
    )
    return suggest(spark, idx, q, mode="completion", size=5).select(
        "input_id", "suggest_rank", "suggestion",
        F.col("df").cast("long").alias("df"),
    )


def phrase_positional_engine(spark, sf_dir):
    """Positional phrase search (match_phrase with stored positions;
    index/positions.py): the opt-in positions sidecar answers phrase
    queries with NO corpus I/O — position-list intersection ranks hits
    by phrase frequency. Oracle counts occurrences by token-slice
    equality over the raw table and reproduces the (freq desc,
    doc_id asc) ranking."""
    from data_prepper_spark import fsio
    from data_prepper_spark.index.positions import (
        build_positions,
        phrase_topk_positional,
    )

    cpath, idx = _docs_index(spark, sf_dir)
    if not fsio.isdir(f"{idx}/positions"):
        build_positions(spark, cpath, idx)
    ph = spark.createDataFrame(
        [(i, p) for i, p in enumerate(PHRASE_QUERIES)],
        "query_id long, phrase string",
    )
    out = phrase_topk_positional(
        spark, idx, ph, k=10, tie_expr=F.col("path").cast("long")
    )
    return out.select(
        "query_id",
        "rank",
        F.col("path").cast("long").alias("doc_id"),
        "phrase_freq",
    )


def dsl_span_near(spark, sf_dir):
    """Lucene span queries over the positions sidecar
    (index/positions.py::span_near_topk, routed from the DSL's
    span_near/span_term/span_first clauses): one position picked per
    span_term clause, match iff some pick's width (interleaving
    positions) <= slop, ordered when in_order. Hits rank
    tightest-span-first. Query 0 is ordered (data .. merge, slop 6),
    query 1 unordered ({merge, data} within slop 3). The oracle
    recomputes minimal widths from raw token positions with
    generate_subscripts."""
    from data_prepper_spark import fsio
    from data_prepper_spark.index.positions import build_positions, span_near_topk

    cpath, idx = _docs_index(spark, sf_dir)
    if not fsio.isdir(f"{idx}/positions"):
        build_positions(spark, cpath, idx)
    tie = F.col("path").cast("long")
    a = span_near_topk(
        spark, idx, ["data", "merge"], slop=6, in_order=True,
        k=1_000_000, query_id=0, tie_expr=tie,
    )
    b = span_near_topk(
        spark, idx, ["merge", "data"], slop=3, in_order=False,
        k=1_000_000, query_id=1, tie_expr=tie,
    )
    return a.unionByName(b).select(
        "query_id", "rank",
        F.col("path").cast("long").alias("doc_id"),
        "min_width",
    )


def dsl_span_or_not(spark, sf_dir):
    """span_or + span_not over the positions sidecar
    (index/positions.py::span_near_topk exclude/alternative plumbing,
    routed from the DSL's span_or/span_not clauses —
    SpanOrQuery/SpanNotQuery semantics, cf. reference passthrough of
    OpenSearch span bodies). Query 0: span_or alternatives {data|hash}
    then merge, ordered slop 6 (positions of the alternatives merged
    into one clause slot). Query 1: include (data..merge, slop 6,
    ordered) excluding spans with 'join' inside [first, last]. Query
    2: same include, exclude 'scan' within [first-1, last+2]
    (pre/post). Query 4: span_multi — prefix 'dat' expanded against
    the term dictionary (df-capped top_terms rewrite,
    query.expand_pattern_terms) into span_or alternatives before
    merge. Query 3: span_containing — the same include's spans
    KEPT only when a 'join' position lies inside [first, last]
    (SpanContainingQuery; span_within yields the identical doc set).
    For 2-clause ORDERED includes the executor's per-start greedy
    chains are exactly the width-minimal picks and exclusion windows
    only grow with the second position, so the oracle's greedy-chain
    SQL is the true span semantics (containment too: Lucene checks
    the spans its big iterator produces — the same minimal chains)."""
    from data_prepper_spark import fsio
    from data_prepper_spark.index.positions import build_positions, span_near_topk

    cpath, idx = _docs_index(spark, sf_dir)
    if not fsio.isdir(f"{idx}/positions"):
        build_positions(spark, cpath, idx)
    tie = F.col("path").cast("long")
    a = span_near_topk(
        spark, idx, [["data", "hash"], "merge"], slop=6, in_order=True,
        k=1_000_000, query_id=0, tie_expr=tie,
    )
    b = span_near_topk(
        spark, idx, ["data", "merge"], slop=6, in_order=True,
        k=1_000_000, query_id=1, tie_expr=tie,
        exclude=["join"],
    )
    c = span_near_topk(
        spark, idx, ["data", "merge"], slop=6, in_order=True,
        k=1_000_000, query_id=2, tie_expr=tie,
        exclude=["scan"], excl_pre=1, excl_post=2,
    )
    d = span_near_topk(
        spark, idx, ["data", "merge"], slop=6, in_order=True,
        k=1_000_000, query_id=3, tie_expr=tie,
        require=["join"],
    )
    from data_prepper_spark.index.query import expand_pattern_terms

    alts = expand_pattern_terms(spark, idx, "dat", "prefix", 50)
    e = span_near_topk(
        spark, idx, [alts, "merge"], slop=6, in_order=True,
        k=1_000_000, query_id=4, tie_expr=tie,
    )
    return (
        a.unionByName(b).unionByName(c).unionByName(d).unionByName(e)
    ).select(
        "query_id", "rank",
        F.col("path").cast("long").alias("doc_id"),
        "min_width",
    )


def _join_dv_index(spark, sf_dir):
    """Shared by the join_field_* entries: the cached documents index
    with the deterministic parent/child relation (doc_id%5==0 ->
    'question' parent, others children of the block parent) attached
    as join_name/join_parent doc-values. Re-attaches on every call —
    the established attach-before-use entry contract."""
    from data_prepper_spark import fsio
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    did = F.col("path").cast("long")
    aug = spark.read.parquet(cpath).withColumn(
        "join_name",
        F.when(did % 5 == 0, F.lit("question")).otherwise(F.lit("answer")),
    ).withColumn(
        "join_parent",
        F.when(did % 5 == 0, F.lit(None).cast("string")).otherwise(
            (did - did % 5).cast("string")
        ),
    )
    apath = cpath.replace("corpus.parquet", "corpus_join.parquet")
    if not fsio.isdir(apath):
        aug.write.mode("overwrite").parquet(apath)
    attach_doc_values(
        spark, idx, apath,
        cols=("lang", "n_chars", "source", "join_name", "join_parent"),
    )
    return cpath, idx


def join_field_search(spark, sf_dir):
    """Parent/child join-field queries (index/joinfield.py — the
    OpenSearch `join` field type modeled as doc-values columns
    join_name/join_parent; all relation resolution is equi-joins).
    Deterministic relation over the documents corpus: doc_id%5==0 ->
    parent 'question' (_id = its path), others children of the block
    parent. Query 0: has_child (children matching 'data merge',
    min_children=2) -> parent docs + child counts. Query 1:
    has_parent (parents matching 'hash') -> their children. Query 2:
    parent_id for one block. score_mode='none' keeps ranks
    order-free, so the output is the exact SET contract (no rank
    column); score aggregation is pytest-verified against the numpy
    BM25 oracle (test_join_field_queries)."""
    from data_prepper_spark.index.dsl import search as dsl_search

    cpath, idx = _join_dv_index(spark, sf_dir)
    q0 = dsl_search(spark, idx, {
        "query": {"has_child": {
            "type": "answer", "min_children": 2,
            "query": {"match": {"content": "data merge"}},
        }},
        "size": 1_000_000,
    }, corpus_path=cpath).hits.select(
        F.lit(0).cast("long").alias("query_id"),
        F.col("path").cast("long").alias("doc_id"),
        F.col("n_children").cast("long").alias("n_children"),
    )
    q1 = dsl_search(spark, idx, {
        "query": {"has_parent": {
            "parent_type": "question",
            "query": {"match": {"content": "hash"}},
        }},
        "size": 1_000_000,
    }, corpus_path=cpath).hits.select(
        F.lit(1).cast("long").alias("query_id"),
        F.col("path").cast("long").alias("doc_id"),
        F.lit(0).cast("long").alias("n_children"),
    )
    q2 = dsl_search(spark, idx, {
        "query": {"parent_id": {"type": "answer", "id": "10"}},
        "size": 1_000_000,
    }).hits.select(
        F.lit(2).cast("long").alias("query_id"),
        F.col("path").cast("long").alias("doc_id"),
        F.lit(0).cast("long").alias("n_children"),
    )
    return q0.unionByName(q1).unionByName(q2)


def join_field_aggs(spark, sf_dir):
    """children / parent pivot aggregations (index/joinfield.py::
    pivot_relation routed from the DSL aggs — OpenSearch
    ChildrenAggregator/ParentAggregator): under the match 'data
    merge', `children` pivots to the matched docs' answer-children
    (doc_count + per-lang terms sub-buckets over the pivoted set) and
    `parent` pivots matched answers to their DISTINCT parents. Long
    format (scope, facet, doc_count); the oracle replays the pivot
    with the same doc_id%5 relation in SQL."""
    from data_prepper_spark.index.dsl import search as dsl_search

    cpath, idx = _join_dv_index(spark, sf_dir)
    res = dsl_search(spark, idx, {
        "query": {"match": {"content": "data merge"}},
        "aggs": {
            "kids": {
                "children": {"type": "answer"},
                "aggs": {
                    "by_lang": {"terms": {"field": "lang", "size": 100}},
                },
            },
            "qs": {"parent": {"type": "answer"}},
        },
    }, corpus_path=cpath)
    a = res.aggregations["kids"].select(
        F.lit("children_total").alias("scope"),
        F.lit("").alias("facet"),
        F.col("doc_count").cast("long").alias("doc_count"),
    )
    b = res.aggregations["kids.by_lang"].select(
        F.lit("children_by_lang").alias("scope"),
        F.col("facet").cast("string").alias("facet"),
        F.col("doc_count").cast("long").alias("doc_count"),
    )
    c = res.aggregations["qs"].select(
        F.lit("parents_total").alias("scope"),
        F.lit("").alias("facet"),
        F.col("doc_count").cast("long").alias("doc_count"),
    )
    return a.unionByName(b).unionByName(c)


def dsl_rate_ttest(spark, sf_dir):
    """t_test metric aggregation (Welch heteroscedastic + pooled
    homoscedastic over n_chars between lang groups; aggs.t_test_agg —
    one attributed pass, conditional algebraic power sums) and `rate`
    under a daily date_histogram (sum(n_chars)/24 and doc_count/24
    per day, unit=hour via ChronoUnit ratios) under the match 'data
    merge'. Long format (agg, key, val) rounded to 6; the p-value
    column (pure-Python incomplete beta, no DuckDB analog) is
    pytest-verified against textbook critical values instead
    (test_t_test_rate_aggs)."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    dpath = _net_corpus(spark, sf_dir, cpath)
    attach_doc_values(
        spark, idx, dpath, cols=("lang", "n_chars", "mtime")
    )
    res = dsl_search(spark, idx, {
        "query": {"match": {"content": "data merge"}},
        "size": 0,
        "aggs": {
            "tw": {"t_test": {
                "a": {"field": "n_chars",
                      "filter": {"term": {"lang": "en"}}},
                "b": {"field": "n_chars",
                      "filter": {"term": {"lang": "de"}}},
                "type": "heteroscedastic",
            }},
            "tp": {"t_test": {
                "a": {"field": "n_chars",
                      "filter": {"term": {"lang": "en"}}},
                "b": {"field": "n_chars",
                      "filter": {"term": {"lang": "de"}}},
                "type": "homoscedastic",
            }},
            "h": {
                "date_histogram": {"field": "mtime",
                                   "calendar_interval": "day"},
                "aggs": {
                    "sr": {"rate": {"field": "n_chars",
                                    "unit": "hour"}},
                    "cr": {"rate": {"unit": "hour"}},
                },
            },
        },
    }, corpus_path=cpath)
    out = None
    for nm in ("tw", "tp"):
        t = res.aggregations[nm].select(
            F.lit(nm).alias("agg"),
            F.lit("t").alias("key"),
            F.round(F.col("t_stat"), 6).alias("val"),
        ).unionByName(res.aggregations[nm].select(
            F.lit(nm).alias("agg"),
            F.lit("df").alias("key"),
            F.round(F.col("df"), 6).alias("val"),
        ))
        out = t if out is None else out.unionByName(t)
    h = res.aggregations["h"]
    for col in ("sr", "cr"):
        r = h.select(
            F.lit(f"rate_{col}").alias("agg"),
            F.col("key").cast("string").alias("key"),
            F.round(F.col(col), 6).alias("val"),
        )
        out = out.unionByName(r)
    return out


def bulk_update_roundtrip(spark, sf_dir):
    """`_bulk` update actions end-to-end (sources/bulk_api.py —
    partial-doc merge against the prior live version, delete +
    reindex, doc_as_upsert): ingest a documents sample via the live
    listener, then POST updates appending ' zzupdated' to every
    doc_id%40==0 doc plus one upsert of a brand-new id; return each
    LIVE doc's tokenized length across the delta tree (tombstones
    honored). The oracle recomputes the post-update token counts
    straight off the parquet table — updated docs +1 token, others
    unchanged, the upsert present — so merge + tombstone + rebuild
    is value-checked."""
    import json as _json
    import os as _os
    import tempfile
    import urllib.request

    from data_prepper_spark import fsio
    from data_prepper_spark.sources.bulk_api import bulk_apply
    from data_prepper_spark.sources.http import HttpSource

    sample = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 20 == 0)
        .select("doc_id", "text")
        .collect()
    )
    spool = tempfile.mkdtemp(prefix="bulkup_spool_")
    root = tempfile.mkdtemp(prefix="bulkup_idxroot_")

    def post(port, lines):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/_bulk",
            data=("\n".join(lines) + "\n").encode(),
            headers={"Content-Type": "application/x-ndjson"},
            method="POST",
        )
        resp = _json.loads(urllib.request.urlopen(req, timeout=30).read())
        assert resp["errors"] is False
        return resp

    with HttpSource(spool) as src:
        for i in range(0, len(sample), 100):
            lines = []
            for r in sample[i : i + 100]:
                lines.append(_json.dumps(
                    {"index": {"_index": "docs", "_id": str(r.doc_id)}}
                ))
                lines.append(_json.dumps({"content": r.text}))
            post(src.port, lines)
        bulk_apply(spark, spool, root)
        lines = []
        for r in sample:
            if r.doc_id % 40 == 0:
                lines.append(_json.dumps(
                    {"update": {"_index": "docs", "_id": str(r.doc_id)}}
                ))
                lines.append(_json.dumps(
                    {"doc": {"content": r.text + " zzupdated"}}
                ))
        lines.append(_json.dumps(
            {"update": {"_index": "docs", "_id": "99999991"}}
        ))
        lines.append(_json.dumps({
            "doc": {"content": "fresh upsert doc zz"},
            "doc_as_upsert": True,
        }))
        post(src.port, lines)
        bulk_apply(spark, spool, root)

    out = None
    for d in sorted(
        p for p in fsio.listdir(root)
        if _os.path.basename(p.rstrip("/")).startswith("delta=")
    ):
        docs = spark.read.parquet(_os.path.join(d, "docs")).select(
            "ord", "path", "dl"
        )
        tpath = _os.path.join(d, "tombstones")
        if fsio.isdir(tpath):
            docs = docs.join(
                spark.read.parquet(tpath).select("ord"),
                "ord", "left_anti",
            )
        part = docs.select(
            F.col("path").cast("long").alias("doc_id"),
            F.col("dl").cast("long").alias("dl"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def dsl_geo_line(spark, sf_dir):
    """geo_line aggregation: the match set's points as a sort-ordered
    track truncated to `size` (WindowGroupLimit rank — every map
    partition holds <= size rows pre-merge, never a match-set
    collect). Points/sort come from the deterministic derived columns
    (_net_corpus: loc_lat/loc_lon/mtime are pure functions of
    n_chars), tie-break (sort, lat, lon) is oracle-replayable —
    residual ties are identical rows, so any permutation hashes
    equal."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    dpath = _net_corpus(spark, sf_dir, cpath)
    attach_doc_values(
        spark, idx, dpath,
        cols=("lang", "n_chars", "mtime", "loc_lat", "loc_lon"),
    )
    res = dsl_search(spark, idx, {
        "query": {"match": {"content": "data merge"}},
        "size": 0,
        "aggs": {"track": {"geo_line": {
            "point": {"field": "loc"},
            "sort": {"field": "mtime"},
            "size": 40,
        }}},
    }, corpus_path=cpath)
    return res.aggregations["track"].select(
        F.col("seq").cast("long").alias("seq"),
        F.round("lon", 6).alias("lon"),
        F.round("lat", 6).alias("lat"),
        F.col("sort_value").cast("string").alias("sort_value"),
    )


def dsl_global_agg(spark, sf_dir):
    """`global` aggregation: sub-aggregations over the WHOLE live
    corpus alongside query-scoped ones in the same body (index/dsl.py
    compiles the global bucket as a match_all sub-body through the
    identical executors). Long-format output tags each bucket row
    with its scope; the oracle recomputes the corpus-wide and
    match-scoped lang buckets independently."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars", "source"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "aggs": {
                "scoped": {"terms": {"field": "lang", "size": 10}},
                "all": {
                    "global": {},
                    "aggs": {
                        "by_lang": {"terms": {"field": "lang", "size": 10}},
                    },
                },
            },
        },
        corpus_path=cpath,
    )
    scoped = res.aggregations["scoped"].select(
        F.lit("scoped").alias("scope"), "bucket_rank", "facet", "doc_count"
    )
    gl = res.aggregations["all.by_lang"].select(
        F.lit("global").alias("scope"), "bucket_rank", "facet", "doc_count"
    )
    return scoped.unionByName(gl)


def dsl_sliced_scroll(spark, sf_dir):
    """Sliced scroll (OpenSearch `slice: {id, max}`): the query's
    FULL unscored match set exported as 4 deterministic, disjoint,
    complete shards keyed by pmod(xxhash64(doc_id), 4) — each slice
    an INDEPENDENT job, the way a 10^12-doc export parallelizes with
    no deep-pagination state (index/query.py::sliced_scan; the slice
    predicate lands before the identity join, so per-slice join
    traffic is 1/max). The entry unions all 4 slices; exact multiset
    equality against the oracle's plain match set proves
    disjointness AND completeness at once."""
    from data_prepper_spark.index.dsl import search as dsl_search

    cpath, idx = _docs_index(spark, sf_dir)
    out = None
    for sid in range(4):
        hits = dsl_search(
            spark, idx,
            {
                "query": {"match": {"content": "data merge"}},
                "slice": {"id": sid, "max": 4},
            },
            corpus_path=cpath,
        ).hits.select(
            "query_id",
            F.col("path").cast("long").alias("doc_id"),
        )
        out = hits if out is None else out.unionByName(hits)
    return out


def dsl_terms_order(spark, sf_dir):
    """terms-agg `order` by a METRIC sub-aggregation (the sorted
    dashboard body: buckets ranked by avg field value, not doc_count
    — query.terms_metric_facet's order knob; the ordering is the rank
    window's sort, so it costs nothing beyond the one grouped pass).
    The oracle recomputes buckets and ranks by the same unrounded
    metric with the facet-asc tie-break."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars", "source"))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "aggs": {
                "by_lang": {
                    "terms": {
                        "field": "lang", "size": 10,
                        "order": {"avg_chars": "desc"},
                    },
                    "aggs": {
                        "avg_chars": {"avg": {"field": "n_chars"}},
                    },
                },
            },
        },
        corpus_path=cpath,
    )
    return res.aggregations["by_lang"].select(
        "query_id", "bucket_rank", "facet", "doc_count",
        F.round(F.col("avg_chars"), 6).alias("avg_chars"),
    )


def dsl_count_mget(spark, sf_dir):
    """_count and _mget API facades (index/dsl.py::count / mget):
    _count is the ids-only match set folded to one number (no
    ranking, no hit materialization — tree-compilable queries and
    match_all); _mget answers EVERY requested identity in one
    broadcast join, misses as found=false (the OpenSearch contract).
    Long-format output; the oracle recomputes counts and membership
    off the documents table."""
    from data_prepper_spark.index.dsl import count as dsl_count
    from data_prepper_spark.index.dsl import mget as dsl_mget

    cpath, idx = _docs_index(spark, sf_dir)
    c_match = dsl_count(
        spark, idx, {"query": {"match": {"content": "data merge"}}},
        corpus_path=cpath,
    ).select(
        F.lit("count_match").alias("api"), F.lit("").alias("key"),
        F.col("count").cast("double").alias("val"),
    )
    c_all = dsl_count(spark, idx).select(
        F.lit("count_all").alias("api"), F.lit("").alias("key"),
        F.col("count").cast("double").alias("val"),
    )
    mg = dsl_mget(
        spark, idx,
        [("docs", "3", "c0"), ("docs", "5", "c0"),
         ("docs", "99999", "c0")],
        corpus_path=cpath,
    ).select(
        F.lit("mget").alias("api"), F.col("path").alias("key"),
        F.col("found").cast("double").alias("val"),
    )
    return c_match.unionByName(c_all).unionByName(mg)


BOOL_PREFIX_QUERIES = ["data mer", "qu"]


def dsl_bool_prefix(spark, sf_dir):
    """match_bool_prefix (Lucene MatchBoolPrefixQuery — type-ahead
    WITHOUT phrase adjacency; index/query.py::bool_prefix_search):
    full tokens are disjunctive should-terms, the last token expands
    as a prefix against the term dictionary (dictionary order, cap
    50), one term_id-deduped postings scan scores the union as a BM25
    bag. The oracle reproduces the expansion (same cap + order) and
    the scoring; k=50 fetched and re-ranked by (score desc, original
    doc_id) for internal-ordinal tie independence (same device as
    bm25_indexed_engine)."""
    from data_prepper_spark.index.query import bool_prefix_search

    _, idx = _docs_index(spark, sf_dir)
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BOOL_PREFIX_QUERIES)],
        "query_id long, query string",
    )
    return _rerank_engine_results(bool_prefix_search(spark, idx, q, k=50))


def extended_stats_engine(spark, sf_dir):
    """extended_stats aggregation (opensearch-api) over the FULL
    match set via the doc-values sidecar
    (index/query.py::stats_facets). Variance derives from exact
    integer sums — (n·Σx² − (Σx)²)/n² with ONE double division — so
    every number is bit-identical to the oracle's identical integer
    form."""
    from data_prepper_spark.index.query import attach_doc_values, stats_facets

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    out = stats_facets(spark, idx, cpath, q, field="n_chars")
    return out.select(
        "query_id",
        "n",
        "min_v",
        "max_v",
        "sum_v",
        F.round("avg_v", 6).alias("avg_r"),
        F.round("variance", 6).alias("var_r"),
        F.round("std_dev", 6).alias("std_r"),
    )


def collapse_search_engine(spark, sf_dir):
    """Field collapsing (opensearch-api `collapse`): per query the
    best hit per `lang` (score desc, original doc_id asc — passed as
    tie_expr so equal-score picks match the oracle), collapsed hits
    ranked top-5 (index/query.py::collapse_search). Oracle reproduces
    full scoring, the per-group pick and the final rank."""
    from data_prepper_spark.index.query import attach_doc_values, collapse_search

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    out = collapse_search(
        spark, idx, cpath, q, field="lang", k=5,
        tie_expr=F.col("path").cast("long"),
    )
    return out.select(
        "query_id",
        "rank",
        "lang",
        F.col("path").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score_r"),
    )


def top_hits_engine(spark, sf_dir):
    """top_hits under a terms bucket (opensearch-api aggs
    terms+top_hits; index/query.py::top_hits_facet): per (query,
    lang) the group doc_count and its top-2 hits by BM25 (score desc,
    original doc_id asc via tie_expr). Oracle reproduces scoring,
    group counts and the per-group window."""
    from data_prepper_spark.index.query import (
        attach_doc_values,
        top_hits_facet,
    )

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    out = top_hits_facet(
        spark, idx, cpath, q, group_field="lang", size=2,
        tie_expr=F.col("path").cast("long"),
    )
    return out.select(
        "query_id",
        "lang",
        "doc_count",
        "hit_rank",
        F.col("path").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score_r"),
    )


ANALYZER_STOPWORDS = ("the", "a", "data")


def _s_stem(t):
    """Minimal English s-stemmer (the Lucene minimal_english stem
    filter's core rule, simplified): strip one trailing 's' from
    tokens longer than 3 chars unless they end in ss/us/is. Expressed
    with when/substring so the DuckDB oracle mirrors it exactly (RE2
    has no lookbehind)."""
    keep = (
        (F.length(t) <= 3)
        | ~t.endswith("s")
        | t.endswith("ss")
        | t.endswith("us")
        | t.endswith("is")
    )
    return F.when(keep, t).otherwise(
        F.substring(t, 1, F.length(t) - 1)
    )


def bm25_stemmed_analyzer(spark, sf_dir):
    """Stemmed analyzer (minimal_english stem filter): both the
    indexed tokens and the query terms pass through the s-stemmer, so
    'columns' and 'column' share one term and df/dl/avgdl are computed
    over stemmed tokens — the analyzer-chain contract (the third
    classic filter next to stop and synonym). Oracle applies the
    identical CASE rule on both sides."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize_col(F.col("text"))).alias("t")
    ).select("doc_id", _s_stem(F.col("t")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    q = spark.createDataFrame(
        [(t,) for t in BM25_QUERY_TERMS], "query string"
    ).select(
        "query",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.array_distinct(tokenize_col(F.col("query"))),
                    _s_stem,
                )
            )
        ).alias("term"),
    )
    scored = (
        q.join(dfreq, "term")
        .join(tf, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "part",
            F.log(
                F.lit(1.0)
                + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * F.col("tf")
            * (K1 + 1.0)
            / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))),
        )
    )
    tot = scored.groupBy("query", "doc_id").agg(F.sum("part").alias("score"))
    w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        tot.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query", "rank", "doc_id", F.round("score", 6).alias("score_r"))
    )


def bm25_stopword_analyzer(spark, sf_dir):
    """Stopped analyzer (the analyzer `stop` token filter /
    BuildConfig.stopwords): BM25 where the stop list never reaches the
    index — df, dl and avgdl all count surviving tokens, and a query
    term on the stop list contributes nothing ('data' is stopped here,
    so that query drops out entirely). The oracle applies the same
    list_filter before every statistic."""
    docs = _t(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(w) for w in ANALYZER_STOPWORDS])
    toks = docs.select(
        "doc_id", F.explode(F.filter(
            tokenize_col(F.col("text")),
            lambda t: ~F.array_contains(sw, t),
        )).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    q = spark.createDataFrame(
        [(t,) for t in BM25_QUERY_TERMS], "query string"
    ).select(
        "query",
        F.explode(
            F.array_except(
                F.array_distinct(tokenize_col(F.col("query"))), sw
            )
        ).alias("term"),
    )
    scored = (
        q.join(dfreq, "term")
        .join(tf, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "part",
            F.log(
                F.lit(1.0)
                + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * F.col("tf")
            * (K1 + 1.0)
            / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))),
        )
    )
    tot = scored.groupBy("query", "doc_id").agg(F.sum("part").alias("score"))
    w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        tot.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query", "rank", "doc_id", F.round("score", 6).alias("score_r"))
    )


def multi_match_fields(spark, sf_dir):
    """multi_match query (opensearch-api; textstats.py::multi_match,
    mode=most_fields): one query scored against two fields — `title`
    (the first 10 tokens, boost 2) and `body` (full text, boost 1) —
    each with its OWN BM25 statistics, summed per doc. The oracle
    reproduces both per-field pipelines, the boosts and the outer-join
    combine."""
    from data_prepper_spark.datapipe.textstats import multi_match

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(
            F.slice(tokenize_col(F.col("text")), 1, 10), " "
        ).alias("title"),
        F.col("text").alias("body"),
    )
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    out = multi_match(
        docs, q, {"title": 2.0, "body": 1.0}, k=10, mode="most_fields"
    )
    return out.select(
        "query_id", "rank", "doc_id", F.round("score", 6).alias("score_r")
    )


_REINDEX_CACHE: dict[str, str] = {}


SYNONYMS = [("spark", "stream"), ("merge", "join")]


def synonym_search_engine(spark, sf_dir):
    """Query-time synonym expansion (analyzer `synonym` filter at
    search time; index/query.py::expand_synonyms): each query term
    expands to itself + its synonyms, the expanded bag scores as a
    disjunctive BM25 query through the physical index. The oracle
    reproduces the expansion (same left join + union) AND the
    retrieval."""
    from data_prepper_spark.index.query import expand_synonyms, topk_with_docs

    _, idx = _docs_index(spark, sf_dir)
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    syn = spark.createDataFrame(SYNONYMS, "term string, synonym string")
    expanded = expand_synonyms(q, syn)
    return _rerank_engine_results(topk_with_docs(spark, idx, expanded, k=50))


def reindex_engine(spark, sf_dir):
    """_reindex analog (index/build.py::reindex): rebuild the shared
    docs index from its own tokens table under a DIFFERENT physical
    layout (4 buckets instead of 8) without re-reading or
    re-tokenizing the corpus — results must stay rank- and
    score-identical, so the oracle is the same BM25 SQL the source
    index answers."""
    from data_prepper_spark.index.build import BuildConfig, reindex
    from data_prepper_spark.index.query import topk_with_docs

    _, idx = _docs_index(spark, sf_dir)
    dst = _REINDEX_CACHE.get(sf_dir)
    if dst is None:
        import tempfile

        dst = tempfile.mkdtemp(prefix="dps_reidx_") + "/index"
        reindex(
            spark, idx, dst, BuildConfig(n_buckets=4, hot_group_target=5000)
        )
        _REINDEX_CACHE[sf_dir] = dst
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    return _rerank_engine_results(topk_with_docs(spark, dst, q, k=50))


def explain_scores_engine(spark, sf_dir):
    """_explain analog (index/query.py::explain_score): per-term BM25
    breakdown (tf, df, idf, contribution) for the top-10 hits of each
    query, read from the physical index's own tokens/terms tables with
    a term-IN pushdown. Hit set fixed by the oracle-identical
    (score desc, original doc_id) re-rank; the oracle reproduces the
    ranking AND every sub-score."""
    from data_prepper_spark.index.query import explain_score, topk_with_docs

    _, idx = _docs_index(spark, sf_dir)
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    res = topk_with_docs(spark, idx, q, k=50).select(
        "query_id", "doc_id", "score", "path"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(F.col("path").cast("long"))
    )
    hits = (
        res.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "doc_id", "path")
    )
    exp = explain_score(
        spark, idx, q, hits=hits.select("query_id", "doc_id")
    )
    return exp.join(hits, ["query_id", "doc_id"]).select(
        "query_id",
        F.col("path").cast("long").alias("doc_id"),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round("idf", 6).alias("idf_r"),
        F.round("contribution", 6).alias("contribution_r"),
    )


def term_vectors_engine(spark, sf_dir):
    """_termvectors analog (index/query.py::term_vectors): the
    requested docs' terms with field tf + collection df/ttf from the
    index's tokens (doc-IN pushdown) and term dictionary; the oracle
    recounts all three from the raw documents table."""
    from data_prepper_spark.index.query import term_vectors

    _, idx = _docs_index(spark, sf_dir)
    docs_tbl = (
        spark.read.parquet(f"{idx}/docs")
        .filter(F.col("path").isin([str(i) for i in range(5)]))
        .select("doc_id", "path")
    )
    ids = [r["doc_id"] for r in docs_tbl.collect()]
    tv = term_vectors(spark, idx, ids)
    return tv.join(docs_tbl, "doc_id").select(
        F.col("path").cast("long").alias("doc_id"),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.col("ttf").cast("long").alias("ttf"),
    )


PERCOLATE_QUERIES = [
    (0, "spark data"),
    (1, "merge"),
    (2, "slow init"),
    (3, "query merge data"),
    (4, "zzzqqq absent"),
]


def percolate_matches(spark, sf_dir):
    """Percolator (reversed search, index/query.py::percolate):
    stored queries match incoming docs containing ALL their terms
    (conjunctive match). One term join + grouped count — never a
    queries × docs product."""
    from data_prepper_spark.index.query import percolate

    docs = _t(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        PERCOLATE_QUERIES, "query_id long, query string"
    )
    return percolate(q, docs)


def percolate_pruned_matches(spark, sf_dir):
    """Percolator with rarest-term registration
    (index/query.py::percolate_pruned — the Lucene percolator's
    scale trick): stored queries register under their lowest-df term
    from the index's own dictionary, so candidate pairs flow through
    ONE term per query instead of every shared term; containment then
    verifies on candidates only. Results are identical to the plain
    percolator, so the oracle is shared verbatim."""
    from data_prepper_spark.index.query import percolate_pruned

    _, idx = _docs_index(spark, sf_dir)
    dfreq = spark.read.parquet(f"{idx}/terms").select("term", "df")
    docs = _t(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        PERCOLATE_QUERIES, "query_id long, query string"
    )
    return percolate_pruned(q, docs, dfreq)


def rank_eval_metrics(spark, sf_dir):
    """_rank_eval analog (index/query.py::rank_eval): per-query
    precision@10 / recall@10 / MRR / NDCG@10 of the BM25 ranking
    against deterministic ratings (a doc is relevant to a query iff
    it contains ALL the query's terms). The oracle reproduces the
    ranking, the rating rule and the metric math."""
    from data_prepper_spark.index.query import percolate, rank_eval

    docs = _t(spark, sf_dir, "documents")
    results = bm25_topk_df(spark, sf_dir).select(
        F.col("query").alias("query_id"), "rank", "doc_id"
    )
    q = spark.createDataFrame(
        [(t, t) for t in BM25_QUERY_TERMS], "query_id string, query string"
    )
    ratings = percolate(q, docs).select(
        "query_id", "doc_id", F.lit(1.0).alias("rating")
    )
    out = rank_eval(results, ratings, k=10)
    return out.select(
        F.col("query_id").alias("query"),
        F.round("precision_at_k", 6).alias("precision_r"),
        F.round("recall_at_k", 6).alias("recall_r"),
        F.round("mrr", 6).alias("mrr_r"),
        F.round("ndcg_at_k", 6).alias("ndcg_r"),
    )


def hybrid_rrf_search(spark, sf_dir):
    """Hybrid search via reciprocal-rank fusion (the reference
    stack's hybrid-search normalization; index/query.py::rrf_fuse):
    BM25 top-50 and tf-idf dot-product top-50 (saturating+dl-normed
    vs linear tf — genuinely different rankings) fused by
    rrf = Σ 1/(60+rank), top-10. Both sub-scores are <=2-term sums,
    so every number is bit-identical across engines; the oracle
    reproduces both rankings and the fusion."""
    from data_prepper_spark.index.query import rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize_col(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    ).select(
        "query_id",
        F.explode(F.array_distinct(tokenize_col(F.col("query")))).alias("term"),
    )
    base = (
        q.join(dfreq, "term")
        .join(tf, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
    )
    def _rank50(scored):
        ww = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(ww))
            .filter(F.col("rank") <= 50)
            .select("query_id", "rank", "doc_id")
        )

    bm25 = _rank50(
        base.withColumn(
            "part",
            F.col("idf")
            * F.col("tf")
            * (K1 + 1.0)
            / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("part").alias("score"))
    )
    tfidf = _rank50(
        base.withColumn("part", F.col("idf") * F.col("idf") * F.col("tf"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("part").alias("score"))
    )
    return rrf_fuse(bm25, tfidf, k=60, topk=10).select(
        "query_id", "rank", "doc_id", F.round("rrf", 6).alias("rrf_r")
    )


def train_eval_split(spark, sf_dir):
    """Deterministic train/eval/test split by salted md5 id-hash
    (textstats.py::hash_split) — reproducible membership that
    survives reruns and appends; map-only, no shuffle. Output is the
    per-split doc count + an id checksum so the oracle verifies the
    exact membership, not just the proportions."""
    from data_prepper_spark.datapipe.textstats import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    out = hash_split(
        docs, "doc_id", {"train": 0.8, "eval": 0.1, "test": 0.1}
    )
    return out.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


def decontaminate_train(spark, sf_dir):
    """Train/eval decontamination (GPT-3/Pile-style n-gram overlap;
    textstats.py::decontaminate): docs split by the salted md5 hash
    (hash_split), train docs sharing ANY 8-token shingle with the
    eval split are flagged with their contaminated-shingle count.
    Entry runs the string-key variant (hashed=False) so the oracle
    join is exact; the default xxhash64-key scale path is asserted
    equivalent in tests."""
    from data_prepper_spark.datapipe.textstats import decontaminate, hash_split

    docs = hash_split(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
        {"train": 0.9, "eval": 0.1},
    )
    train = docs.filter(F.col("split") == "train")
    ev = docs.filter(F.col("split") == "eval")
    return decontaminate(train, ev, "doc_id", "text", ngram=8, hashed=False)


def repetition_signals(spark, sf_dir):
    """Within-doc repetition signals (the Gopher/MassiveText
    quality-filter family; textstats.py::repetition_stats): per doc
    the exact token / distinct-token / 3-gram / distinct-3-gram
    counts the duplicate-fraction filters derive from. Integer-only
    output (the fractions are int/int rationals that can land exactly
    on rounding boundaries — see the anomaly entry's tie analysis)."""
    from data_prepper_spark.datapipe.textstats import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    out = repetition_stats(docs, "doc_id", "text", ngram=3)
    return out.select(
        "id", "n_tokens", "n_distinct_tokens", "n_ngrams",
        "n_distinct_ngrams",
    )


def dedup_clusters(spark, sf_dir):
    """Connected components over the MinHash near-dup pair graph
    (datapipe/dedup.py::dup_clusters, min-label propagation with
    per-round localCheckpoint): cluster = min reachable id, min
    member flagged canonical — the 'keep one per cluster' step of a
    training-data dedup pipeline. Oracle = recursive CTE reachability
    over the SAME pair SQL."""
    from data_prepper_spark.datapipe.dedup import dup_clusters

    pairs = minhash_dedup(spark, sf_dir)
    return dup_clusters(pairs, "id_a", "id_b").select(
        F.col("id").alias("doc_id"), "cluster", "is_canonical"
    )


def simhash_dedup(spark, sf_dir):
    """SimHash near-dup pairs, portable-hash variant (oracle-provable)."""
    from data_prepper_spark.datapipe.dedup import simhash_pairs_portable

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_pairs_portable(docs, "doc_id", "text", max_hamming=8).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


# --------------------------------------------------------------------
# rows-only entries (internals not expressible in ANSI SQL;
# exactness asserted in tests/ against in-repo oracles instead)
# --------------------------------------------------------------------


def ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN, oracle-checked: the seeded hyperplanes are
    literal floats embedded in BOTH the Spark plan and the DuckDB SQL,
    so bucket assignment, multi-probe fan-out and exact rerank are
    reproduced bit-for-bit (similarity.py::ann_lsh_topk)."""
    from data_prepper_spark.datapipe.similarity import ann_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out = ann_lsh_topk(emb, q, k=10, nbits=6)
    return out.select(
        "query_id", "rank", "vec_id", F.round("cosine", 6).alias("cosine_r")
    )


def ann_ivf(spark, sf_dir):
    """IVF ANN, oracle-checked: deterministic seed centroids (the 8
    smallest vec_ids) are recomputed identically by DuckDB from the
    same table, so coarse assignment, nprobe fan-out and exact rerank
    reproduce value-for-value (similarity.py::ivf_topk)."""
    from data_prepper_spark.datapipe.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out = ivf_topk(emb, q, k=10, n_centroids=8, nprobe=2)
    return out.select(
        "query_id", "rank", "vec_id", F.round("cosine", 6).alias("cosine_r")
    )


def ann_hnsw(spark, sf_dir):
    """HNSW-style layered ANN, oracle-checked end to end: levels are a
    pure integer-hash function of vec_id, per-level edges are exact
    kNN among same-or-higher-level members, and search is a FIXED
    schedule of beam hops — so DuckDB rebuilds the identical graph and
    replays the identical walk (datapipe/hnsw.py; the quadratic
    layer-0 construction is the documented test-scale mode, the scale
    path is level0_nbits LSH-bucketed). Recall@10 >= IVF's at equal
    candidate budget is asserted in tests/test_hnsw.py."""
    from data_prepper_spark.datapipe.hnsw import hnsw_build, hnsw_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    edges = hnsw_build(emb, m_edges=8)
    out = hnsw_topk(emb, edges, q, k=10, beam=16, hop_levels=(2, 1, 0, 0))
    return out.select(
        "query_id", "rank", "vec_id", F.round("cosine", 6).alias("cosine_r")
    )


def multimodal_features(spark, sf_dir):
    """Multimodal plumbing, oracle-checked: the deterministic fake
    decode (byte-histogram of the sha256-hex payload) is exactly
    computable in SQL, so the Arrow binary-batch path and the UDF
    output shape are verified value-for-value. Feature vector exploded
    to (dim, fval) scalar rows for clean cross-engine hashing."""
    from data_prepper_spark.datapipe.multimodal import (
        extract_features,
        synthesize_media,
    )

    media = synthesize_media(spark, n=128)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.posexplode("feature").alias("dim", "fval"),
    ).withColumn("fval_r", F.round(F.col("fval").cast("double"), 6)).drop("fval")


def bm25_indexed_engine(spark, sf_dir):
    """The physical-index path (build -> posting blocks -> block-max
    query) over the documents table, oracle-checked against the same
    ANSI-SQL BM25 the flagship entry uses: identical corpus stats,
    identical scores (all inputs are ints exact in float64; per-doc
    sums have <= 2 terms, so no reassociation), identical ranks.

    The engine tie-breaks equal scores on its internal xxhash64 doc id;
    the oracle tie-breaks on the original doc_id. Fetching k=50 and
    re-ranking by (score desc, original doc_id) makes the top-10 set +
    order independent of that internal order unless a single tie group
    spans ranks 10..50 (impossible here; duplicate-text groups are
    small)."""
    from data_prepper_spark.index.query import topk_with_docs

    _, idx = _docs_index(spark, sf_dir)
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)], "query_id long, query string"
    )
    return _rerank_engine_results(
        topk_with_docs(spark, idx, q, k=50, mode="blockmax")
    )


_DOCS_INDEX_STEM_CACHE: dict[str, tuple[str, str]] = {}


def bm25_stemmed_engine(spark, sf_dir):
    """BuildConfig.stemmer='minimal_english' on the PHYSICAL index
    path (index/build.py tokenize pass stems in Arrow; stats.json
    persists the chain; query side stems via query._query_analyzer) —
    the third analyzer filter wired into the engine proper, not just
    the SQL-form entry. Oracle rebuilds tf/df/dl/avgdl over stemmed
    tokens and stems the query terms with the identical CASE rule."""
    import os as _os
    import tempfile as _tf

    from data_prepper_spark.index.build import BuildConfig, build_index
    from data_prepper_spark.index.query import topk_with_docs

    hit = _DOCS_INDEX_STEM_CACHE.get(sf_dir)
    if hit is None:
        cpath, _ = _docs_index(spark, sf_dir)  # reuse the written corpus
        idx = _os.path.join(_tf.mkdtemp(prefix="dps_stemidx_"), "index")
        build_index(
            spark, cpath, idx,
            BuildConfig(n_buckets=8, hot_group_target=5000,
                        stemmer="minimal_english"),
        )
        _DOCS_INDEX_STEM_CACHE[sf_dir] = (cpath, idx)
    _, idx = _DOCS_INDEX_STEM_CACHE[sf_dir]
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    return _rerank_engine_results(topk_with_docs(spark, idx, q, k=50))


def _otel_frac_ns(eid):
    """Deterministic sub-second nanos chosen to exercise every ISO-8601
    fraction group the reference prints (0 / 3 / 6 / 9 digits)."""
    return (
        F.when(eid % 4 == 0, 0)
        .when(eid % 4 == 1, 500000000)
        .when(eid % 4 == 2, 123456000)
        .otherwise(123456789)
    )


_OTEL_FRAC_SQL = (
    "CASE event_id % 4 WHEN 0 THEN '' WHEN 1 THEN '.500' "
    "WHEN 2 THEN '.123456' ELSE '.123456789' END"
)


def _otel_iso_sql(secs_expr: str) -> str:
    return (
        f"strftime(make_timestamp(({secs_expr}) * 1000000), "
        f"'%Y-%m-%dT%H:%M:%S') || {_OTEL_FRAC_SQL} || 'Z'"
    )


def otel_traces_decode(spark, sf_dir):
    """otel_traces source codec (OTelProtoOpensearchCodec.java:330-485)
    over synthesized OTLP/JSON span payloads: span scalar fields,
    attribute flattening ('.'->'@', span./resource./scope prefixes),
    status merge, Instant ISO-8601 rendering (0/3/6/9 fraction
    digits), root-span traceGroup + traceGroupFields."""
    from data_prepper_spark.operators.otel import otel_traces

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    eid = F.col("event_id")
    root = eid % 3 == 0
    secs = F.lit(1700000000) + eid % 86400
    start_ns = secs * F.lit(1000000000) + _otel_frac_ns(eid)
    end_ns = start_ns + (eid % 5) * F.lit(1000000000)
    hx = lambda c, n: F.lpad(F.lower(F.hex(c)), n, "0")  # noqa: E731
    verb = F.element_at(
        F.array(F.lit("GET"), F.lit("POST"), F.lit("PUT"), F.lit("DELETE")),
        (eid % 4 + 1).cast("int"),
    )
    payload = F.concat(
        F.lit(
            '{"resourceSpans":[{"resource":{"attributes":[{"key":'
            '"service.name","value":{"stringValue":"svc-'
        ),
        (F.col("user_id") % 5).cast("string"),
        F.lit(
            '"}}]},"scopeSpans":[{"scope":{"name":"io.lib","version":"1.2"},'
            '"spans":[{"traceId":"'
        ),
        hx(eid, 32),
        F.lit('","spanId":"'),
        hx(eid + 1, 16),
        F.lit('","parentSpanId":"'),
        F.when(root, F.lit("")).otherwise(hx(eid + 2, 16)),
        F.lit('","name":"'),
        F.col("event_type"),
        F.lit('","kind":'),
        (eid % 6).cast("string"),
        F.lit(',"startTimeUnixNano":"'),
        start_ns.cast("string"),
        F.lit('","endTimeUnixNano":"'),
        end_ns.cast("string"),
        F.lit(
            '","attributes":[{"key":"http.method","value":{"stringValue":"'
        ),
        verb,
        F.lit('"}},{"key":"retries","value":{"intValue":"'),
        (eid % 7).cast("string"),
        F.lit('"}}],"status":{"code":'),
        (eid % 3).cast("string"),
        F.when(eid % 3 == 2, F.lit(',"message":"boom"')).otherwise(F.lit("")),
        F.lit("}}]}]}]}"),
    )
    out = otel_traces(e.withColumn("message", payload))
    a = F.col("attributes")
    return out.select(
        F.col("event_id").alias("eid"),
        F.col("traceId").alias("trace_id"),
        F.col("spanId").alias("span_id"),
        F.col("parentSpanId").alias("parent"),
        F.col("name").alias("span_name"),
        F.col("serviceName").alias("service"),
        F.col("kind"),
        F.col("startTime").alias("start_time"),
        F.col("endTime").alias("end_time"),
        F.col("durationInNanos").alias("dur_ns"),
        F.element_at(a, "status.code").cast("int").alias("status_code"),
        F.element_at(a, "status.message").alias("status_msg"),
        F.element_at(a, "span.attributes.http@method").alias("http_method"),
        F.element_at(a, "span.attributes.retries").cast("long").alias("retries"),
        F.element_at(a, "instrumentationScope.name").alias("scope_name"),
        F.element_at(a, "resource.attributes.service@name").alias("res_service"),
        F.col("traceGroup").alias("trace_group"),
        F.col("traceGroupFields.durationInNanos").alias("tg_dur"),
        F.col("traceGroupFields.statusCode").alias("tg_code"),
    )


def otel_traces_decode_pb(spark, sf_dir):
    """Binary OTLP protobuf wire decode (operators/otel_pb.py — the
    reference's gRPC-source form, OTelTraceSource.java:42): the SAME
    logical spans as otel_traces_decode, but serialized to protobuf
    wire bytes (hand-rolled encoder, no protobuf runtime in-sandbox)
    and decoded by the hand-rolled wire walker + the shared Catalyst
    pipeline. Oracle: identical SQL to otel_traces_decode — the two
    wire formats must land on identical rows."""
    from data_prepper_spark.operators.otel_pb import (
        encode_traces_request,
        otel_traces_pb,
    )

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")

    _FRAC = {0: 0, 1: 500000000, 2: 123456000, 3: 123456789}
    _VERBS = ["GET", "POST", "PUT", "DELETE"]

    def _payload(eid: int, uid: int, etype: str) -> bytes:
        secs = 1700000000 + eid % 86400
        start = secs * 1_000_000_000 + _FRAC[eid % 4]
        end = start + (eid % 5) * 1_000_000_000
        status = {"code": eid % 3}
        if eid % 3 == 2:
            status["message"] = "boom"
        span = {
            "traceId": format(eid, "032x"),
            "spanId": format(eid + 1, "016x"),
            "parentSpanId": "" if eid % 3 == 0 else format(eid + 2, "016x"),
            "name": etype,
            "kind": eid % 6,
            "startTimeUnixNano": str(start),
            "endTimeUnixNano": str(end),
            "attributes": [
                {"key": "http.method",
                 "value": {"stringValue": _VERBS[eid % 4]}},
                {"key": "retries", "value": {"intValue": str(eid % 7)}},
            ],
            "status": status,
        }
        return encode_traces_request(
            {
                "resourceSpans": [
                    {
                        "resource": {
                            "attributes": [
                                {"key": "service.name",
                                 "value": {"stringValue": f"svc-{uid % 5}"}},
                            ]
                        },
                        "scopeSpans": [
                            {
                                "scope": {"name": "io.lib", "version": "1.2"},
                                "spans": [span],
                            }
                        ],
                    }
                ]
            }
        )

    @F.pandas_udf("binary")
    def _enc(eid: pd.Series, uid: pd.Series, et: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _payload(int(a), int(b), str(c))
                for a, b, c in zip(eid, uid, et)
            ]
        )

    out = otel_traces_pb(
        e.withColumn("body", _enc("event_id", "user_id", "event_type")),
        source="body",
    )
    a = F.col("attributes")
    return out.select(
        F.col("event_id").alias("eid"),
        F.col("traceId").alias("trace_id"),
        F.col("spanId").alias("span_id"),
        F.coalesce(F.col("parentSpanId"), F.lit("")).alias("parent"),
        F.col("name").alias("span_name"),
        F.col("serviceName").alias("service"),
        F.col("kind"),
        F.col("startTime").alias("start_time"),
        F.col("endTime").alias("end_time"),
        F.col("durationInNanos").alias("dur_ns"),
        F.element_at(a, "status.code").cast("int").alias("status_code"),
        F.element_at(a, "status.message").alias("status_msg"),
        F.element_at(a, "span.attributes.http@method").alias("http_method"),
        F.element_at(a, "span.attributes.retries").cast("long").alias("retries"),
        F.element_at(a, "instrumentationScope.name").alias("scope_name"),
        F.element_at(a, "resource.attributes.service@name").alias("res_service"),
        F.col("traceGroup").alias("trace_group"),
        F.col("traceGroupFields.durationInNanos").alias("tg_dur"),
        F.col("traceGroupFields.statusCode").alias("tg_code"),
    )


def otel_logs_decode(spark, sf_dir):
    """otel_logs source codec (OTelProtoOpensearchCodec.java:299-328):
    LogRecord fields, severity as enum-name or number, anyValue body
    (string and int branches), log/resource/scope attribute
    flattening."""
    from data_prepper_spark.operators.otel import otel_logs

    e = _t(spark, sf_dir, "events").select("event_id", "user_id")
    eid = F.col("event_id")
    secs = F.lit(1710000000) + eid % 86400
    t_ns = secs * F.lit(1000000000) + _otel_frac_ns(eid)
    sev = F.when(eid % 2 == 0, F.lit('"SEVERITY_NUMBER_INFO"')).otherwise(
        (eid % 24 + 1).cast("string")
    )
    body = F.when(
        eid % 2 == 0,
        F.concat(F.lit('{"stringValue":"msg '), eid.cast("string"), F.lit('"}')),
    ).otherwise(
        F.concat(F.lit('{"intValue":"'), (eid * 3).cast("string"), F.lit('"}'))
    )
    hx = lambda c, n: F.lpad(F.lower(F.hex(c)), n, "0")  # noqa: E731
    payload = F.concat(
        F.lit(
            '{"resourceLogs":[{"resource":{"attributes":[{"key":'
            '"service.name","value":{"stringValue":"svc-'
        ),
        (F.col("user_id") % 5).cast("string"),
        F.lit(
            '"}}]},"scopeLogs":[{"scope":{"name":"lg"},"schemaUrl":"s1",'
            '"logRecords":[{"timeUnixNano":"'
        ),
        t_ns.cast("string"),
        F.lit('","observedTimeUnixNano":"'),
        (t_ns + F.lit(1000000000)).cast("string"),
        F.lit('","severityNumber":'),
        sev,
        F.lit(',"severityText":"sev-'),
        (eid % 5).cast("string"),
        F.lit('","body":'),
        body,
        F.lit(',"attributes":[{"key":"env","value":{"stringValue":"e-'),
        (F.col("user_id") % 3).cast("string"),
        F.lit('"}}],"droppedAttributesCount":'),
        (eid % 4).cast("string"),
        F.lit(',"flags":'),
        (eid % 256).cast("string"),
        F.lit(',"traceId":"'),
        hx(eid, 32),
        F.lit('","spanId":"'),
        hx(eid + 1, 16),
        F.lit('"}]}]}]}'),
    )
    out = otel_logs(e.withColumn("message", payload))
    a = F.col("attributes")
    return out.select(
        F.col("event_id").alias("eid"),
        F.col("time"),
        F.col("observedTime").alias("observed_time"),
        F.col("serviceName").alias("service"),
        F.col("severityNumber").alias("severity_num"),
        F.col("severityText").alias("severity_text"),
        F.col("body"),
        F.element_at(a, "log.attributes.env").alias("env"),
        F.col("schemaUrl").alias("schema_url"),
        F.col("flags"),
        F.col("traceId").alias("trace_id"),
        F.col("spanId").alias("span_id"),
        F.col("droppedAttributesCount").alias("dropped"),
    )


def otel_metrics_exp_summary(spark, sf_dir):
    """Exponential-histogram + summary metric decode (reference
    JacksonExponentialHistogram.java / JacksonSummary.java — the r03
    'What's missing' item 2): scale/zeroCount/offsets, computed
    base-2^(2^-scale) bucket bounds (positive + sign-mirrored
    negative), summary quantiles. Oracle recomputes the bucket-bound
    power math in DuckDB."""
    from data_prepper_spark.operators.otel import otel_metrics

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    eid = F.col("event_id")
    t_ns = (F.lit(1720000000) + eid % 86400) * F.lit(1000000000)
    dp_times = F.concat(
        F.lit('"startTimeUnixNano":"'),
        (t_ns - F.lit(5000000000)).cast("string"),
        F.lit('","timeUnixNano":"'),
        t_ns.cast("string"),
        F.lit('"'),
    )
    exp = F.concat(
        F.lit('"exponentialHistogram":{"dataPoints":[{'),
        dp_times,
        F.lit(',"count":"'),
        (eid % 10 + 3).cast("string"),
        F.lit('","sum":'),
        F.col("value").cast("string"),
        F.lit(',"scale":'),
        ((eid % 5) - 2).cast("string"),
        F.lit(',"zeroCount":"'),
        (eid % 4).cast("string"),
        F.lit('","positive":{"offset":'),
        (eid % 6).cast("string"),
        F.lit(',"bucketCounts":["1","'),
        (eid % 9 + 1).cast("string"),
        F.lit('"]},"negative":{"offset":'),
        (eid % 3).cast("string"),
        F.lit(',"bucketCounts":["'),
        (eid % 5 + 1).cast("string"),
        F.lit('"]},"attributes":[]}],"aggregationTemporality":2}'),
    )
    summ = F.concat(
        F.lit('"summary":{"dataPoints":[{'),
        dp_times,
        F.lit(',"count":"'),
        (eid % 10 + 1).cast("string"),
        F.lit('","sum":'),
        F.col("value").cast("string"),
        F.lit(',"quantileValues":[{"quantile":0.5,"value":'),
        F.col("value").cast("string"),
        F.lit('},{"quantile":0.99,"value":'),
        (F.col("value") * 2).cast("string"),
        F.lit('}],"attributes":[]}]}'),
    )
    payload = F.concat(
        F.lit(
            '{"resourceMetrics":[{"resource":{"attributes":[{"key":'
            '"service.name","value":{"stringValue":"svc"}}]},'
            '"scopeMetrics":[{"scope":{"name":"mt"},"metrics":[{'
            '"name":"m'
        ),
        (eid % 7).cast("string"),
        F.lit('","unit":"ms",'),
        F.when(eid % 2 == 0, exp).otherwise(summ),
        F.lit("}]}]}]}"),
    )
    out = otel_metrics(e.withColumn("message", payload))
    pbk = F.col("positiveBuckets")
    nbk = F.col("negativeBuckets")
    q = F.col("quantiles")
    return out.select(
        F.col("event_id").alias("eid"),
        F.col("kind"),
        F.col("count").alias("cnt"),
        F.round("sum", 6).alias("sum_r"),
        F.col("scale"),
        F.col("zeroCount").alias("zero_count"),
        F.col("positiveOffset").alias("pos_offset"),
        F.col("negativeOffset").alias("neg_offset"),
        F.round(pbk[0]["min"], 6).alias("pb0_min"),
        F.round(pbk[0]["max"], 6).alias("pb0_max"),
        pbk[1]["count"].alias("pb1_cnt"),
        F.round(nbk[0]["min"], 6).alias("nb0_min"),
        F.round(nbk[0]["max"], 6).alias("nb0_max"),
        F.col("aggregationTemporality").alias("temporality"),
        F.col("quantileValuesCount").alias("q_cnt"),
        F.round(q[0]["value"], 6).alias("q50"),
        F.round(q[1]["value"], 6).alias("q99"),
    )


def otel_metrics_decode(spark, sf_dir):
    """otel_metrics source codec (OTelProtoOpensearchCodec.java:517-556):
    one row per data point; GAUGE (asDouble), SUM (asInt +
    temporality + isMonotonic), HISTOGRAM (count/sum/bucketCounts/
    explicitBounds with ±Float.MAX_VALUE open-ended buckets)."""
    from data_prepper_spark.operators.otel import otel_metrics

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    eid = F.col("event_id")
    secs = F.lit(1720000000) + eid % 86400
    t_ns = secs * F.lit(1000000000) + _otel_frac_ns(eid)
    dp_times = F.concat(
        F.lit('"startTimeUnixNano":"'),
        (t_ns - F.lit(5000000000)).cast("string"),
        F.lit('","timeUnixNano":"'),
        t_ns.cast("string"),
        F.lit('"'),
    )
    host_attr = F.concat(
        F.lit(',"attributes":[{"key":"host","value":{"stringValue":"h-'),
        (F.col("user_id") % 3).cast("string"),
        F.lit('"}}]'),
    )
    gauge = F.concat(
        F.lit('"gauge":{"dataPoints":[{'),
        dp_times,
        F.lit(',"asDouble":'),
        F.col("value").cast("string"),
        host_attr,
        F.lit("}]}"),
    )
    summ = F.concat(
        F.lit('"sum":{"dataPoints":[{'),
        dp_times,
        F.lit(',"asInt":"'),
        eid.cast("string"),
        F.lit('"'),
        host_attr,
        F.lit('}],"aggregationTemporality":2,"isMonotonic":true}'),
    )
    hist = F.concat(
        F.lit('"histogram":{"dataPoints":[{'),
        dp_times,
        F.lit(',"count":"'),
        (eid % 10 + 2).cast("string"),
        F.lit('","sum":'),
        F.col("value").cast("string"),
        F.lit(',"bucketCounts":["1","2","3"],"explicitBounds":[0.5,1.5]'),
        host_attr,
        F.lit(
            '}],"aggregationTemporality":"AGGREGATION_TEMPORALITY_DELTA"}'
        ),
    )
    payload = F.concat(
        F.lit(
            '{"resourceMetrics":[{"resource":{"attributes":[{"key":'
            '"service.name","value":{"stringValue":"svc-'
        ),
        (F.col("user_id") % 5).cast("string"),
        F.lit(
            '"}}]},"scopeMetrics":[{"scope":{"name":"mt"},"metrics":[{'
            '"name":"m'
        ),
        (eid % 7).cast("string"),
        F.lit('","unit":"ms",'),
        F.when(eid % 3 == 0, gauge).when(eid % 3 == 1, summ).otherwise(hist),
        F.lit("}]}]}]}"),
    )
    out = otel_metrics(e.withColumn("message", payload))
    return out.select(
        F.col("event_id").alias("eid"),
        F.col("kind"),
        F.col("name").alias("metric_name"),
        F.col("unit"),
        F.col("serviceName").alias("service"),
        F.col("startTime").alias("start_time"),
        F.col("time"),
        F.col("value").alias("val"),
        F.col("aggregationTemporality").alias("temporality"),
        F.col("isMonotonic").cast("int").alias("monotonic"),
        F.col("count").alias("cnt"),
        F.col("sum").alias("hsum"),
        F.col("explicitBoundsCount").alias("n_bounds"),
        F.size("buckets").alias("n_buckets"),
        F.element_at("buckets", 1)["min"].alias("b_first_min"),
        F.element_at("buckets", 3)["max"].alias("b_last_max"),
        F.element_at(F.col("attributes"), "metric.attributes.host").alias(
            "host"
        ),
    )


# --------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------


def http_ingest_roundtrip(spark, sf_dir):
    """http source end-to-end (reference http-source
    LogHTTPService.java:131-151 json-array contract): POST a sample of
    the events table into a LIVE HttpSource listener as JSON arrays
    (5 requests x 100 events), let the listener land atomic ndjson
    spool files, read the spool back with spark.read.json, and return
    the rows — value-identical to selecting them straight from the
    parquet table (the oracle). The driver-side POST loop is the
    point: this source IS the push edge; Spark consumes the spool."""
    import json as _json
    import tempfile
    import urllib.request

    from data_prepper_spark.sources.http import HttpSource

    sample = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") % 20 == 0)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "value",
            "props",
        )
        .collect()
    )
    events = [r.asDict() for r in sample]
    spool = tempfile.mkdtemp(prefix="http_spool_")
    with HttpSource(spool) as src:
        for i in range(0, len(events), 100):
            body = _json.dumps(events[i : i + 100]).encode()
            req = urllib.request.Request(
                f"http://127.0.0.1:{src.port}/log/ingest",
                data=body,
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            assert urllib.request.urlopen(req, timeout=30).status == 200
        schema = (
            "event_id long, user_id long, event_type string, "
            "ts_s string, value double, props string"
        )
        return src.read_logs(spark, schema=schema)


def bulk_ingest_roundtrip(spark, sf_dir):
    """OpenSearch `_bulk` API facade end-to-end (the accepting side of
    the wire contract the reference's opensearch sink speaks —
    BulkRetryStrategy/AccumulatingBulkRequest NDJSON action+document
    pairs): POST a documents-table sample into a LIVE listener as
    100-doc `_bulk` requests (sources/http.py -> bulk_api.parse_bulk),
    apply the spool with bulk_apply (ONE index delta via the normal
    distributed build), and return each doc's tokenized length from
    the delta's docs table. The oracle recomputes the token counts
    straight off the parquet table — so the whole
    parse -> spool -> delta-build -> tokenize path is value-checked."""
    import json as _json
    import tempfile
    import urllib.request

    from data_prepper_spark.sources.bulk_api import bulk_apply
    from data_prepper_spark.sources.http import HttpSource

    sample = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 20 == 0)
        .select("doc_id", "text")
        .collect()
    )
    spool = tempfile.mkdtemp(prefix="bulk_spool_")
    root = tempfile.mkdtemp(prefix="bulk_idxroot_")
    with HttpSource(spool) as src:
        for i in range(0, len(sample), 100):
            lines = []
            for r in sample[i : i + 100]:
                lines.append(_json.dumps(
                    {"index": {"_index": "docs", "_id": str(r.doc_id)}}
                ))
                lines.append(_json.dumps({"content": r.text}))
            req = urllib.request.Request(
                f"http://127.0.0.1:{src.port}/_bulk",
                data=("\n".join(lines) + "\n").encode(),
                headers={"Content-Type": "application/x-ndjson"},
                method="POST",
            )
            resp = _json.loads(
                urllib.request.urlopen(req, timeout=30).read()
            )
            assert resp["errors"] is False
        st = bulk_apply(spark, spool, root)
    return spark.read.parquet(st["delta_dir"] + "/docs").select(
        F.col("path").cast("long").alias("doc_id"),
        F.col("dl").cast("long").alias("dl"),
    )


def pit_search_isolation(spark, sf_dir):
    """Point-in-time search (index/pit.py — OpenSearch
    `_search/point_in_time`): delta A = documents with doc_id%10==0
    is bulk-applied; a PIT opens, pinning the delta listing AND the
    per-delta tombstone file set; THEN delta B (doc_id%10==5) is
    applied and half of A (doc_id%20==0) is bulk-deleted. topk_pit
    over the reference query set must replay BM25 over EXACTLY the
    frozen subset — the later ingest and the later delete are both
    invisible to the PIT (the live topk_deltas view sees both).
    Oracle: the indexed-BM25 SQL restricted to the frozen subset
    (corpus stats included — global N/avgdl/df come from the pinned
    deltas only)."""
    import json as _json
    import os as _os
    import tempfile

    from data_prepper_spark.index.pit import open_pit, topk_pit
    from data_prepper_spark.sources.bulk_api import bulk_apply

    root = tempfile.mkdtemp(prefix="pit_root_")

    def _apply(tag, lines):
        spool = tempfile.mkdtemp(prefix=f"pit_spool_{tag}_")
        bdir = _os.path.join(spool, "bulk")
        _os.makedirs(bdir, exist_ok=True)
        with open(_os.path.join(bdir, "0.ndjson"), "w") as f:
            for ln in lines:
                f.write(_json.dumps(ln) + "\n")
        bulk_apply(spark, spool, root)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.where(F.col("doc_id") % 10 == 0).collect()
    _apply("a", [
        {"op": "index", "index": "docs", "id": str(r.doc_id),
         "content": r.text, "doc_json": None}
        for r in a
    ])
    pit = open_pit(root)
    b = docs.where(F.col("doc_id") % 10 == 5).collect()
    _apply("b", [
        {"op": "index", "index": "docs", "id": str(r.doc_id),
         "content": r.text, "doc_json": None}
        for r in b
    ] + [
        {"op": "delete", "index": "docs", "id": str(r.doc_id),
         "content": None, "doc_json": None}
        for r in a if r.doc_id % 20 == 0
    ])
    q = spark.createDataFrame(
        list(enumerate(BM25_QUERY_TERMS)), "query_id long, query string"
    )
    # k=25 head, then re-rank ties by the ORIGINAL numeric id (the
    # engine tie-breaks on its hashed doc_id; the oracle on doc_id)
    res = topk_pit(spark, root, pit, q, k=25)
    ident = spark.read.parquet(
        _os.path.join(root, "delta=0", "docs")
    ).select("doc_id", F.col("path").alias("path"))
    return _rerank_engine_results(res.drop("rank").join(ident, "doc_id"))


def dsl_moving_avg(spark, sf_dir):
    """Legacy `moving_avg` pipeline aggregation (index/aggs.py::
    bucket_pipeline): simple / linear / ewma models over the shift-0
    window (the `window` buckets ending just before the current;
    partial windows compute, first bucket NULL) on a histogram bucket
    frame — window algebra over an aggregation-sized frame, zero
    extra scans. The oracle replays each model in DuckDB: simple =
    windowed list mean, linear = index-lambda weights 1..n, ewma =
    list_reduce left fold from the oldest value (identical fold order
    to the Spark aggregate, so values match exactly). The holt model
    is pytest-verified (struct-accumulator folds aren't expressible
    in DuckDB's element-typed list_reduce)."""
    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("n_chars",))
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "aggs": {"hist": {
                "histogram": {"field": "n_chars", "interval": 100},
                "aggs": {
                    "ma_s": {"moving_avg": {
                        "buckets_path": "_count", "window": 3,
                    }},
                    "ma_l": {"moving_avg": {
                        "buckets_path": "_count", "window": 3,
                        "model": "linear",
                    }},
                    "ma_e": {"moving_avg": {
                        "buckets_path": "_count", "window": 4,
                        "model": "ewma", "settings": {"alpha": 0.4},
                    }},
                },
            }},
        },
        corpus_path=cpath,
    )
    hist = res.aggregations["hist"]
    key = F.col("key").cast("long").cast("string")
    parts = [
        hist.select(
            F.lit("count").alias("agg"), key.alias("key"),
            F.col("doc_count").cast("double").alias("val"),
        ),
    ]
    for m in ("ma_s", "ma_l", "ma_e"):
        parts.append(hist.select(
            F.lit(m).alias("agg"), key.alias("key"),
            F.round(F.col(m), 6).alias("val"),
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dsl_ks_correlation(spark, sf_dir):
    """ml-commons sibling pipeline pair (index/aggs.py::
    sibling_bucket_metric): `bucket_count_ks_test` (one-sample K-S of
    the bucket-count distribution against uniform fractions — D per
    alternative + Kolmogorov-series/one-sided-exponential p-values,
    all window+fold algebra on the bucket frame) and
    `bucket_correlation` (Pearson r between key-ordered counts and an
    integer ramp 1..nb). The bucket count nb is probed first (one
    tiny agg) so the fractions vector matches the frame; the oracle
    derives the same cdf/ramp from row_number over its own bucket
    replay."""
    import math

    from data_prepper_spark.index.dsl import search as dsl_search
    from data_prepper_spark.index.query import attach_doc_values

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("n_chars",))
    probe = dsl_search(
        spark, idx,
        {"query": {"match": {"content": "data merge"}},
         "aggs": {"hist": {"histogram": {
             "field": "n_chars", "interval": 100,
         }}}},
        corpus_path=cpath,
    )
    nb = probe.aggregations["hist"].count()
    res = dsl_search(
        spark, idx,
        {
            "query": {"match": {"content": "data merge"}},
            "aggs": {
                "hist": {"histogram": {
                    "field": "n_chars", "interval": 100,
                }},
                "ks": {"bucket_count_ks_test": {
                    "buckets_path": "hist>_count",
                    "fractions": [1.0 / nb] * nb,
                    "alternative": [
                        "two_sided", "less", "greater",
                    ],
                }},
                "corr": {"bucket_correlation": {
                    "buckets_path": "hist>_count",
                    "expectations": [float(i + 1) for i in range(nb)],
                }},
            },
        },
        corpus_path=cpath,
    )
    ks = res.aggregations["ks"]
    parts = [
        ks.select(
            F.lit("ks_d").alias("scope"),
            F.col("alternative").alias("key"),
            F.round(F.col("d_stat"), 6).alias("val"),
        ),
        ks.select(
            F.lit("ks_p").alias("scope"),
            F.col("alternative").alias("key"),
            F.round(F.col("p_value"), 6).alias("val"),
        ),
        res.aggregations["corr"].select(
            F.lit("corr").alias("scope"),
            F.lit("").alias("key"),
            F.round(F.col("value"), 6).alias("val"),
        ),
        res.aggregations["hist"].select(
            F.lit("count").alias("scope"),
            F.col("key").cast("long").cast("string").alias("key"),
            F.col("doc_count").cast("double").alias("val"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def c4_quality_filter(spark, sf_dir):
    """C4-style cleaning (datapipe/textstats.py::c4_filters — the
    published Raffel-et-al heuristics as one narrow map of native
    array lambdas): line structure is synthesized deterministically
    from the single-line documents table (every ' a ' becomes '.\\n',
    so most lines end in terminal punctuation and the tail line
    doesn't), then the line filter (terminal punctuation + >=3 words
    + banned word 'customer') and doc flags (banned phrase
    'spark group', curly brace) apply. Per-doc audit columns; rows
    are never dropped (callers filter on c4_keep — the DLQ-friendly
    shape). Oracle replays the whole construction in SQL."""
    from data_prepper_spark.datapipe.textstats import c4_filters

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.col("text"), " a ", ".\n").alias("text"),
        F.col("text").alias("raw"),
    )
    out = c4_filters(
        docs, "text",
        banned_line_words=("customer",),
        banned_doc_words=("spark group",),
    )
    return out.select(
        "doc_id",
        F.col("c4_n_lines").cast("long").alias("n_lines"),
        F.col("c4_n_lines_kept").cast("long").alias("n_kept"),
        F.length("c4_text").cast("long").alias("kept_chars"),
        F.col("c4_has_banned").alias("has_banned"),
        F.col("c4_keep").alias("keep"),
    )


def ngram_logprob_score(spark, sf_dir):
    """KenLM-style quality proxy (datapipe/textstats.py::ngram_model
    + ngram_logprob): the add-one-smoothed char-trigram typicality
    model trains on the even-doc_id half of the documents table (one
    explode+groupBy; model cardinality bounded by |charset|^3, so it
    broadcasts), then EVERY document scores by its mean trigram log
    probability (explode -> broadcast join -> one grouped mean).
    Oracle replays model + scoring in SQL."""
    from data_prepper_spark.datapipe.textstats import (
        ngram_logprob,
        ngram_model,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    model = ngram_model(docs.where(F.col("doc_id") % 2 == 0), "text")
    return ngram_logprob(docs, "text", model, id_col="doc_id").select(
        "doc_id", F.round(F.col("ngram_logprob"), 6).alias("lp")
    )


def dedup_canonical_keep(spark, sf_dir):
    """Quality-aware dedup survivor selection (datapipe/dedup.py::
    canonical_keep): MinHash pair graph -> connected components ->
    keep the LONGEST member of each cluster (n_chars as the quality
    column, ties -> lowest id) — the real 'which duplicate survives'
    policy of a training-data pipeline, as one join + one
    cluster-frame window. Oracle extends the recursive-CTE
    reachability with the same ranked window."""
    from data_prepper_spark.datapipe.dedup import canonical_keep

    clusters = dedup_clusters(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return canonical_keep(
        clusters.drop("is_canonical"), docs, "n_chars"
    ).select("doc_id", "cluster", "n_chars", "keep")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return bm25_topk_df(spark, SF001)


def prometheus_remote_write_decode(spark, sf_dir):
    """Prometheus remote-write source (reference prometheus-source,
    RemoteWriteProtobufParser.java): per-event WriteRequest payloads —
    snappy + protobuf wire — carrying a cumulative-bucket histogram
    with count/sum series, a two-quantile summary with count/sum, a
    _total counter, and a plain gauge; decoded by
    operators/prometheus.py with its name-convention type inference.
    Oracle recomputes every inferred row (per-bucket diffs, suffix
    strips, service-name fallback, Instant ISO rendering) in SQL."""
    from data_prepper_spark.operators.prometheus import (
        encode_write_request,
        prometheus_remote_write,
        snappy_compress,
    )

    e = _t(spark, sf_dir, "events").select("event_id", "user_id")

    def _payload(eid: int, uid: int) -> bytes:
        ts = (1700000000 + eid % 86400) * 1000 + (eid % 4) * 250
        lbl = {"eid": str(eid), "job": f"api-{uid % 3}"}
        c1, d2, d3 = eid % 5, eid % 3, eid % 2
        tss = [
            {"labels": {"__name__": "lat_bucket", "le": "0.5", **lbl},
             "samples": [(float(c1), ts)]},
            {"labels": {"__name__": "lat_bucket", "le": "2", **lbl},
             "samples": [(float(c1 + d2), ts)]},
            {"labels": {"__name__": "lat_bucket", "le": "+Inf", **lbl},
             "samples": [(float(c1 + d2 + d3), ts)]},
            {"labels": {"__name__": "lat_count", **lbl},
             "samples": [(float(c1 + d2 + d3), ts)]},
            {"labels": {"__name__": "lat_sum", **lbl},
             "samples": [((eid % 7) * 0.25, ts)]},
            {"labels": {"__name__": "rpc", "quantile": "0.5", **lbl},
             "samples": [((eid % 8) * 0.125, ts)]},
            {"labels": {"__name__": "rpc", "quantile": "0.99", **lbl},
             "samples": [((eid % 8) * 0.25, ts)]},
            {"labels": {"__name__": "rpc_count", **lbl},
             "samples": [(float(10 + eid % 5), ts)]},
            {"labels": {"__name__": "rpc_sum", **lbl},
             "samples": [((eid % 9) * 0.5, ts)]},
            {"labels": {"__name__": "errors_total", **lbl},
             "samples": [(float(eid % 11), ts)]},
            {"labels": {"__name__": "mem", **lbl},
             "samples": [((eid % 13) * 1.5, ts)]},
        ]
        return snappy_compress(encode_write_request(tss))

    @F.pandas_udf("binary")
    def _enc(eid: pd.Series, uid: pd.Series) -> pd.Series:
        return pd.Series(
            [_payload(int(a), int(b)) for a, b in zip(eid, uid)]
        )

    out = prometheus_remote_write(
        e.withColumn("body", _enc("event_id", "user_id")).select("body"),
        source="body",
    )
    q = F.col("quantiles")
    return out.select(
        F.element_at(F.col("attributes"), "eid").cast("long").alias("eid"),
        F.col("name"),
        F.col("kind"),
        F.col("time"),
        F.col("value"),
        F.col("count").alias("cnt"),
        F.col("sum").alias("total"),
        F.array_join(
            F.transform(
                F.col("bucketCountsList"), lambda x: x.cast("string")
            ),
            ",",
        ).alias("buckets"),
        F.array_join(
            F.transform(
                F.col("explicitBounds"), lambda x: x.cast("string")
            ),
            ",",
        ).alias("bounds"),
        F.element_at(q, 1)["value"].alias("q50"),
        F.element_at(q, 2)["value"].alias("q99"),
        F.col("aggregationTemporality").alias("temporality"),
        F.col("isMonotonic").cast("int").alias("monotonic"),
        F.col("serviceName").alias("service"),
    )


def prometheus_scrape_decode(spark, sf_dir):
    """Prometheus scrape-path decode (TextExpositionParser.java):
    per-event text exposition bodies — histogram family with # TYPE
    declaration, summary with quantiles, counter with _total strip +
    _created drop, gauge — through operators/prometheus.py
    prometheus_scrape. Oracle rebuilds each inferred row in SQL."""
    from data_prepper_spark.operators.prometheus import prometheus_scrape

    e = _t(spark, sf_dir, "events").select("event_id", "user_id")
    eid = F.col("event_id")
    uid = F.col("user_id")
    ts = (F.lit(1700000000) + eid % 86400) * 1000 + (eid % 4) * 250
    tss = ts.cast("string")
    c1 = (eid % 5).cast("string")
    c2 = (eid % 5 + eid % 3).cast("string")
    c3 = (eid % 5 + eid % 3 + eid % 2).cast("string")
    lbl = F.concat(
        F.lit('eid="'), eid.cast("string"),
        F.lit('",job="api-'), (uid % 3).cast("string"), F.lit('"'),
    )
    body = F.concat(
        F.lit("# TYPE lat histogram\n"),
        F.lit('lat_bucket{le="0.5",'), lbl, F.lit("} "), c1,
        F.lit(" "), tss, F.lit("\n"),
        F.lit('lat_bucket{le="2",'), lbl, F.lit("} "), c2,
        F.lit(" "), tss, F.lit("\n"),
        F.lit('lat_bucket{le="+Inf",'), lbl, F.lit("} "), c3,
        F.lit(" "), tss, F.lit("\n"),
        F.lit("lat_count{"), lbl, F.lit("} "), c3,
        F.lit(" "), tss, F.lit("\n"),
        F.lit("lat_sum{"), lbl, F.lit("} "),
        ((eid % 7) * F.lit(0.25)).cast("string"),
        F.lit(" "), tss, F.lit("\n"),
        F.lit("# TYPE rpc summary\n"),
        F.lit('rpc{quantile="0.5",'), lbl, F.lit("} "),
        ((eid % 8) * F.lit(0.125)).cast("string"), F.lit("\n"),
        F.lit('rpc{quantile="0.99",'), lbl, F.lit("} "),
        ((eid % 8) * F.lit(0.25)).cast("string"), F.lit("\n"),
        F.lit("rpc_count{"), lbl, F.lit("} "),
        (10 + eid % 5).cast("string"), F.lit("\n"),
        F.lit("rpc_sum{"), lbl, F.lit("} "),
        ((eid % 9) * F.lit(0.5)).cast("string"), F.lit("\n"),
        F.lit("# TYPE errors counter\n"),
        F.lit("errors_total{"), lbl, F.lit("} "),
        (eid % 11).cast("string"), F.lit(" "), tss, F.lit("\n"),
        F.lit("errors_created{"), lbl, F.lit("} 99\n"),
        F.lit("mem{"), lbl, F.lit("} "),
        ((eid % 13) * F.lit(1.5)).cast("string"),
        F.lit(" "), tss, F.lit("\n"),
    )
    out = prometheus_scrape(
        e.select(body.alias("body")), now_iso="2026-01-01T00:00:00Z"
    )
    return out.select(
        F.element_at(F.col("attributes"), "eid").cast("long").alias("eid"),
        F.col("name"),
        F.col("kind"),
        F.col("time"),
        F.col("value"),
        F.col("count").alias("cnt"),
        F.col("sum").alias("total"),
        F.array_join(
            F.transform(
                F.col("bucketCountsList"), lambda x: x.cast("string")
            ),
            ",",
        ).alias("buckets"),
        F.element_at(F.col("quantiles"), 1)["value"].alias("q50"),
        F.element_at(F.col("quantiles"), 2)["value"].alias("q99"),
        F.col("isMonotonic").cast("int").alias("monotonic"),
        F.col("serviceName").alias("service"),
    )


def rss_items_extract(spark, sf_dir):
    """rss source (RssReaderTask.java:44-67: every feed <item> becomes
    one Document event). Synthesizes one RSS 2.0 document per event
    carrying TWO items (exercising the fragment explode, entity
    decode, RFC-822 pubDate normalization to UTC, optional-field
    NULLs, category lists, channel carry-through), then extracts via
    sources/rss.py pure-Catalyst xpath."""
    from data_prepper_spark.sources.rss import rss_items

    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    eid = F.col("event_id")
    uid = F.col("user_id")

    def hms(secs):
        return F.concat(
            F.lpad((secs / 3600).cast("int").cast("string"), 2, "0"),
            F.lit(":"),
            F.lpad(((secs / 60) % 60).cast("int").cast("string"), 2, "0"),
            F.lit(":"),
            F.lpad((secs % 60).cast("string"), 2, "0"),
        )

    def item(i: int):
        secs = (eid * 7 + i) % 86400
        parts = [
            F.lit("<item><guid>g-"),
            eid.cast("string"),
            F.lit(f"-{i}</guid><title>"),
            F.col("event_type"),
            F.lit(f" &amp; co #{i}</title><link>https://ex.com/"),
            eid.cast("string"),
            F.lit(f"/{i}</link><pubDate>Mon, 01 Jan 2025 "),
            hms(secs),
            F.lit(" +0000</pubDate>"),
        ]
        if i == 1:
            parts += [
                F.lit("<description>d"),
                (eid % 10).cast("string"),
                F.lit("</description><author>u"),
                (uid % 5).cast("string"),
                F.lit("@ex.com</author><category>c"),
                (eid % 4).cast("string"),
                F.lit("</category><category>d"),
                (eid % 3).cast("string"),
                F.lit("</category>"),
            ]
        parts.append(F.lit("</item>"))
        return F.concat(*parts)

    xml = F.concat(
        F.lit('<?xml version="1.0"?><rss version="2.0"><channel><title>'),
        F.lit("feed-"), (uid % 3).cast("string"),
        F.lit("</title><link>https://ex.com/f"),
        (uid % 3).cast("string"),
        F.lit("</link>"),
        item(1), item(2),
        F.lit("</channel></rss>"),
    )
    out = rss_items(e.select(xml.alias("xml")))
    return out.select(
        F.col("guid"),
        F.col("title"),
        F.col("link"),
        F.col("description").alias("descr"),
        F.col("pub_date"),
        F.col("pub_time"),
        F.col("author"),
        F.array_join(F.col("categories"), ",").alias("cats"),
        F.col("channel_title").alias("ch_title"),
        F.col("channel_link").alias("ch_link"),
    )


def key_value_recursive_parse(spark, sf_dir):
    """key_value recursive:true (KeyValueProcessor.java:420-487) over
    synthesized bracket-nested pairs; output is the nested parse as a
    canonical JSON string (data-dependent depth cannot be a static
    Spark type). Oracle rebuilds the exact JSON text in SQL."""
    from data_prepper_spark.operators.parse import key_value_recursive

    e = _t(spark, sf_dir, "events").select(
        "event_id", "event_type"
    )
    eid = F.col("event_id")
    msg = F.concat(
        F.lit("a="), (eid % 10).cast("string"),
        F.lit("&b=(c="), (eid % 7).cast("string"),
        F.lit("&d=[e="), (eid % 5).cast("string"),
        F.lit("])&t="), F.col("event_type"),
    )
    out = key_value_recursive(
        e.withColumn("message", msg), "message", dest="parsed"
    )
    return out.select(
        eid.alias("eid"), F.col("event_type").alias("etype"),
        F.col("parsed"),
    )


SLOPPY_PHRASES = ["merge group", "group merge", "filter sort"]


def sloppy_phrase_engine(spark, sf_dir):
    """Lucene sloppy-phrase (unordered slop with transpositions;
    index/positions.py::sloppy_phrase_topk): match cost = range of
    offset-adjusted positions, one pick per term — 'group merge'
    matches docs with adjacent 'merge group' at cost 2, the Lucene
    transposition rule. Emits the FULL match set with min_cost at
    slop=2; the oracle recomputes the 2-term minimum |pa - pb + 1|
    over all position pairs in SQL."""
    from data_prepper_spark import fsio
    from data_prepper_spark.index.positions import (
        build_positions,
        sloppy_phrase_topk,
    )

    cpath, idx = _docs_index(spark, sf_dir)
    if not fsio.isdir(f"{idx}/positions"):
        build_positions(spark, cpath, idx)
    ph = spark.createDataFrame(
        [(i, p) for i, p in enumerate(SLOPPY_PHRASES)],
        "query_id long, phrase string",
    )
    out = sloppy_phrase_topk(spark, idx, ph, k=10_000_000, slop=2)
    return out.select(
        "query_id",
        F.col("path").cast("long").alias("doc_id"),
        "min_cost",
    )


def paragraph_dedup_scrub(spark, sf_dir):
    """Corpus-level repeated-passage removal
    (datapipe/dedup.py::paragraph_dedup — the RefinedWeb/C4-style
    boilerplate scrub a pretraining pipeline runs before training):
    docs carry two unique paragraphs plus one shared boiler paragraph
    (and every 5th doc a second one); any paragraph text appearing in
    >= 2 distinct docs is dropped corpus-wide, text rebuilt in order.
    Oracle reconstructs the expected survivors by construction."""
    from data_prepper_spark.datapipe.dedup import paragraph_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    text = F.concat(
        F.lit("unique-"), did.cast("string"), F.lit("-a\n\n"),
        F.lit("boiler-"), (did % 7).cast("string"), F.lit("\n\n"),
        F.lit("unique-"), did.cast("string"), F.lit("-b"),
        F.when(
            did % 5 == 0,
            F.concat(F.lit("\n\npromo-"), (did % 3).cast("string")),
        ).otherwise(F.lit("")),
    )
    out = paragraph_dedup(
        d.withColumn("text", text), id_col="doc_id", text_col="text"
    )
    return out.select(
        F.col("id").alias("doc_id"), "text", "n_paragraphs", "n_removed"
    )


def cardinality_facet_engine(spark, sf_dir):
    """cardinality aggregation over the FULL match set
    (index/query.py::cardinality_facet — OpenSearch aggs cardinality;
    HLL++/approx_count_distinct is the 100-TB path, exact here for
    the value oracle). Distinct `lang` values per query."""
    from data_prepper_spark.index.query import (
        attach_doc_values,
        cardinality_facet,
    )

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    return cardinality_facet(spark, idx, cpath, q, field="lang")


def percentiles_facet_engine(spark, sf_dir):
    """percentiles aggregation over the FULL match set
    (index/query.py::percentiles_facet — OpenSearch aggs percentiles;
    t-digest/approx_percentile is the scale path, exact linear
    interpolation here so DuckDB quantile_cont is bit-comparable at
    6 decimals)."""
    from data_prepper_spark.index.query import (
        attach_doc_values,
        percentiles_facet,
    )

    cpath, idx = _docs_index(spark, sf_dir)
    attach_doc_values(spark, idx, cpath, cols=("lang", "n_chars"))
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BM25_QUERY_TERMS)],
        "query_id long, query string",
    )
    out = percentiles_facet(
        spark, idx, cpath, q, field="n_chars",
        percents=(25.0, 50.0, 75.0, 99.0),
    )
    return out.select(
        "query_id",
        F.round("p25", 6).alias("p25"),
        F.round("p50", 6).alias("p50"),
        F.round("p75", 6).alias("p75"),
        F.round("p99", 6).alias("p99"),
    )


def geoip_mmdb_enrich(spark, sf_dir):
    """geoip processor over a REAL MaxMind-DB binary
    (operators/geoip.py — hand-rolled spec v2.0 reader + encoder-twin
    fixture, GeoIPField extraction): per-event IPs resolve through
    the mmdb search tree; every 7th event gets an unroutable IP and
    must yield NULL fields + the no-valid-ip tag. Oracle recomputes
    the enrichment by construction of the fixture networks."""
    from data_prepper_spark.operators.geoip import build_mmdb, geoip

    db = build_mmdb(
        [
            (
                f"10.{i}.0.0/16",
                {
                    "country": {
                        "iso_code": f"C{i}",
                        "names": {"en": f"Country {i}"},
                        "is_in_european_union": i % 2 == 0,
                    },
                    "city": {"names": {"en": f"City {i}"}},
                    "location": {
                        "latitude": 10.0 + i,
                        "longitude": -5.5 * i,
                    },
                },
            )
            for i in range(4)
        ]
    )
    e = _t(spark, sf_dir, "events").select("event_id")
    eid = F.col("event_id")
    ip = F.when(
        eid % 7 == 0, F.lit("172.16.9.9")
    ).otherwise(
        F.concat(
            F.lit("10."), (eid % 4).cast("string"), F.lit("."),
            (eid % 256).cast("string"), F.lit(".7"),
        )
    )
    out = geoip(
        e.withColumn("client_ip", ip),
        "client_ip",
        db,
        fields=(
            "country_name", "country_iso_code",
            "is_country_in_european_union", "city_name",
            "latitude", "longitude",
        ),
        tags_on_no_valid_ip=("_geoip_miss",),
    )
    g = F.col("geo")
    return out.select(
        eid.alias("eid"),
        g["country_name"].alias("country"),
        g["country_iso_code"].alias("iso"),
        g["is_country_in_european_union"].cast("int").alias("eu"),
        g["city_name"].alias("city"),
        g["latitude"].alias("lat"),
        g["longitude"].alias("lon"),
        F.array_join(F.col("_tags"), ",").alias("tags"),
    )


def sequence_packing_plan(spark, sf_dir):
    """Pretraining sequence packing (datapipe/textstats.py::
    sequence_packing — concatenate docs with EOS, cut into fixed
    2048-token examples): shard-local running-sum offsets with the
    mod-shard key so the oracle recomputes the identical layout
    (xxhash sharding is the default; the key is pluggable exactly for
    external recomputation)."""
    from data_prepper_spark.datapipe.textstats import sequence_packing

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = sequence_packing(
        d, seq_len=2048, n_shards=8,
        shard_expr=F.pmod(F.col("doc_id"), F.lit(8)),
    )
    return out.select(
        F.col("id").alias("doc_id"), "shard", "n_tokens",
        "start_offset", "start_example", "end_example", "n_examples",
    )


def mixture_sample_sources(spark, sf_dir):
    """Pretraining mixture resampling (datapipe/textstats.py::
    mixture_sample): documents downsample per source to weighted
    target proportions via deterministic hash-bucket selection
    (Knuth multiplicative bucket key here so the oracle recomputes
    the identical pick; xxhash is the default). Emits the surviving
    (doc_id, source)."""
    from data_prepper_spark.datapipe.textstats import mixture_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    # exact-binary weights: the rate*M boundary lands on an exact
    # integer in BOTH engines (truncate-vs-round cast parity)
    weights = {"src0": 0.5, "src1": 0.25,
               "src2": 0.125, "src3": 0.125}
    out = mixture_sample(
        d, "source", weights,
        bucket_m=10_000,
        bucket_expr=F.pmod(
            F.col("doc_id") * F.lit(2654435761), F.lit(10_000)
        ),
    )
    return out.select("doc_id", "source")


def multimodal_real_decode(spark, sf_dir):
    """REAL media decode (datapipe/media.py — stdlib-only PNG and WAV
    readers with encoder twins, closing the round-3 'decode stubbed'
    gap for the formats the sandbox can honestly support): per-event
    solid-color PNGs and constant-tone WAVs round-trip through
    extract_features; every reported number is exact by construction
    (integer pixel values; 2^-15-grid PCM levels) so the oracle is
    pure CASE arithmetic."""
    import numpy as _np

    from data_prepper_spark.datapipe.multimodal import extract_features

    e = _t(spark, sf_dir, "events").select("event_id")

    def _payload(eid: int) -> tuple:
        from data_prepper_spark.datapipe.media import (
            encode_png,
            encode_wav,
        )

        if eid % 2 == 0:
            w, h, v = eid % 6 + 2, eid % 5 + 2, eid % 256
            arr = _np.full((h, w, 3), v, dtype=_np.uint8)
            return ("image", "image/png", bytearray(encode_png(arr)))
        n = 100 + eid % 50
        a = (eid % 4 + 1) * 0.125
        return (
            "audio", "audio/wav",
            bytearray(encode_wav(_np.full(n, a), 8000)),
        )

    @F.pandas_udf(
        "kind string, mime string, payload binary"
    )
    def _mk(eid: pd.Series) -> pd.DataFrame:
        rows = [_payload(int(x)) for x in eid]
        return pd.DataFrame(rows, columns=["kind", "mime", "payload"])

    src = e.withColumn("m", _mk("event_id")).select(
        F.col("event_id").alias("media_id"),
        F.col("m.kind").alias("kind"),
        F.col("m.mime").alias("mime"),
        F.col("m.payload").alias("payload"),
    )
    out = extract_features(src, dim=16)
    f = F.col("feature")
    is_img = F.col("kind") == "image"
    return out.select(
        F.col("media_id").alias("eid"),
        "kind",
        F.when(is_img, F.round(f[0]).cast("int")).alias("w_or_rate"),
        F.when(is_img, F.round(f[1]).cast("int")).otherwise(
            F.round(f[1]).cast("int")
        ).alias("h_or_n"),
        F.when(is_img, F.round(f[3] * 255).cast("int")).otherwise(
            F.round(f[3] * 32768).cast("int")
        ).alias("level"),
    ).withColumn(
        "w_or_rate",
        F.when(is_img, F.col("w_or_rate")).otherwise(F.lit(8000)),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # DICT ORDER IS THE DRIVER-CHECK ORDER (cumulative ~50-entry
    # budget, first-in-dict wins). Round-5 rotation (VERDICT r04 #3):
    # the two entries whose only driver history is an r01 hash fail
    # run first, then the 39 entries never driver-checked in any
    # round, then the round-5 additions, then everything else.
    return {
        "sessionization": sessionization,
        "inverted_index_stats": inverted_index_stats,
        # -- round-5 session-6 additions (never driver-checked) --
        "pit_search_isolation": pit_search_isolation,
        "dsl_moving_avg": dsl_moving_avg,
        "dsl_ks_correlation": dsl_ks_correlation,
        "c4_quality_filter": c4_quality_filter,
        "ngram_logprob_score": ngram_logprob_score,
        "dedup_canonical_keep": dedup_canonical_keep,
        # -- round-5 continuation (never driver-checked) --
        "dsl_explain_tree": dsl_explain_tree,
        "dsl_terms_set": dsl_terms_set,
        "array_terms_agg": array_terms_agg,
        "dsl_geo_aggs": dsl_geo_aggs,
        "dsl_misc_queries": dsl_misc_queries,
        "dsl_stats_aggs_family": dsl_stats_aggs_family,
        "dsl_matrix_scripted": dsl_matrix_scripted,
        "dsl_range_aggs_family": dsl_range_aggs_family,
        "dsl_geohash_autohist": dsl_geohash_autohist,
        "dsl_sampler_aggs": dsl_sampler_aggs,
        "dsl_body_knobs": dsl_body_knobs,
        "dsl_nested_docs": dsl_nested_docs,
        "dsl_pipeline_aggs2": dsl_pipeline_aggs2,
        "dsl_runtime_fields": dsl_runtime_fields,
        "dsl_script_fields_lookup": dsl_script_fields_lookup,
        "dsl_cumulative_cardinality": dsl_cumulative_cardinality,
        "update_by_query_roundtrip": update_by_query_roundtrip,
        "dsl_collapse_inner_hits": dsl_collapse_inner_hits,
        "dsl_variable_width_hist": dsl_variable_width_hist,
        "dsl_agg_knobs": dsl_agg_knobs,
        "dsl_hybrid_search": dsl_hybrid_search,
        "scroll_export": scroll_export,
        "dsl_ip_prefix": dsl_ip_prefix,
        "dsl_span_or_not": dsl_span_or_not,
        "join_field_search": join_field_search,
        "join_field_aggs": join_field_aggs,
        "dsl_rate_ttest": dsl_rate_ttest,
        "bulk_update_roundtrip": bulk_update_roundtrip,
        "dsl_geo_line": dsl_geo_line,
        "dsl_knn_filtered": dsl_knn_filtered,
        "dsl_source_page": dsl_source_page,
        "dsl_highlight_page": dsl_highlight_page,
        "ppl_pipeline": ppl_pipeline,
        "sql_api_query": sql_api_query,
        "dsl_geo_shape": dsl_geo_shape,
        # -- round-5 second-half additions (never driver-checked) --
        "dsl_composite_aggs": dsl_composite_aggs,
        "dsl_nested_terms": dsl_nested_terms,
        "dsl_pipeline_aggs": dsl_pipeline_aggs,
        "dsl_span_near": dsl_span_near,
        "dsl_bool_prefix": dsl_bool_prefix,
        "dsl_global_agg": dsl_global_agg,
        "dsl_sliced_scroll": dsl_sliced_scroll,
        "dsl_terms_order": dsl_terms_order,
        "dsl_count_mget": dsl_count_mget,
        "dsl_adjacency_matrix": dsl_adjacency_matrix,
        "dsl_metric_aggs_family": dsl_metric_aggs_family,
        "dsl_bucket_scripts": dsl_bucket_scripts,
        "dsl_script_score": dsl_script_score,
        "analyze_api": analyze_api,
        "multi_index_search": multi_index_search,
        "phrase_suggester": phrase_suggester,
        "dsl_top_metrics": dsl_top_metrics,
        "dsl_geo_queries": dsl_geo_queries,
        # -- never driver-checked through r04 --
        "http_ingest_roundtrip": http_ingest_roundtrip,
        "anomaly_detector_grades": anomaly_detector_grades,
        "doc_chunking": doc_chunking,
        "tfidf_keywords": tfidf_keywords,
        "phrase_search_engine": phrase_search_engine,
        "boolean_search_engine": boolean_search_engine,
        "prefix_search_engine": prefix_search_engine,
        "fuzzy_search_engine": fuzzy_search_engine,
        "wildcard_search_engine": wildcard_search_engine,
        "faceted_search_engine": faceted_search_engine,
        "significant_terms_engine": significant_terms_engine,
        "simple_query_string_engine": simple_query_string_engine,
        "index_stats_report": index_stats_report,
        "delete_by_query_engine": delete_by_query_engine,
        "search_after_page2": search_after_page2,
        "range_facets_engine": range_facets_engine,
        "dedup_clusters": dedup_clusters,
        "train_eval_split": train_eval_split,
        "decontaminate_train": decontaminate_train,
        "repetition_signals": repetition_signals,
        "hybrid_rrf_search": hybrid_rrf_search,
        "term_suggester": term_suggester,
        "completion_suggester": completion_suggester,
        "reindex_engine": reindex_engine,
        "synonym_search_engine": synonym_search_engine,
        "multi_match_fields": multi_match_fields,
        "bm25_stopword_analyzer": bm25_stopword_analyzer,
        "bm25_stemmed_analyzer": bm25_stemmed_analyzer,
        "bm25_stemmed_engine": bm25_stemmed_engine,
        "extended_stats_engine": extended_stats_engine,
        "phrase_positional_engine": phrase_positional_engine,
        "collapse_search_engine": collapse_search_engine,
        "explain_scores_engine": explain_scores_engine,
        "term_vectors_engine": term_vectors_engine,
        "percolate_matches": percolate_matches,
        "percolate_pruned_matches": percolate_pruned_matches,
        "rank_eval_metrics": rank_eval_metrics,
        "more_like_this_docs": more_like_this_docs,
        "search_snippets": search_snippets,
        # -- new in round 5 --
        "dsl_nested_bool_search": dsl_nested_bool_search,
        "dsl_match_all_aggs": dsl_match_all_aggs,
        "logstash_converted_pipeline": logstash_converted_pipeline,
        "bm25f_engine": bm25f_engine,
        "ann_hnsw": ann_hnsw,
        "dsl_range_histogram": dsl_range_histogram,
        "dsl_terms_subagg": dsl_terms_subagg,
        "dsl_sort_page": dsl_sort_page,
        "dsl_knn_search": dsl_knn_search,
        "dsl_boost_dismax": dsl_boost_dismax,
        "dsl_phrase_prefix_engine": dsl_phrase_prefix_engine,
        "dsl_filters_missing_aggs": dsl_filters_missing_aggs,
        "dsl_rescore": dsl_rescore,
        "dsl_query_string": dsl_query_string,
        "dsl_query_string_multiterm": dsl_query_string_multiterm,
        "dsl_score_functions": dsl_score_functions,
        "regexp_search_engine": regexp_search_engine,
        "dsl_multi_match": dsl_multi_match,
        "dsl_combined_fields": dsl_combined_fields,
        "bulk_ingest_roundtrip": bulk_ingest_roundtrip,
        # -- previously driver-green --
        "bm25_topk": bm25_topk_df,
        "minhash_dedup": minhash_dedup,
        "simhash_dedup": simhash_dedup,
        "winnow_fingerprint_dups": winnow_fingerprint_dups,
        "ann_lsh": ann_lsh,
        "ann_ivf": ann_ivf,
        "multimodal_features": multimodal_features,
        "bm25_indexed_engine": bm25_indexed_engine,
        "prometheus_remote_write_decode": prometheus_remote_write_decode,
        "prometheus_scrape_decode": prometheus_scrape_decode,
        "rss_items_extract": rss_items_extract,
        "key_value_recursive_parse": key_value_recursive_parse,
        "paragraph_dedup_scrub": paragraph_dedup_scrub,
        "sequence_packing_plan": sequence_packing_plan,
        "mixture_sample_sources": mixture_sample_sources,
        "multimodal_real_decode": multimodal_real_decode,
        "geoip_mmdb_enrich": geoip_mmdb_enrich,
        "otel_traces_decode_pb": otel_traces_decode_pb,
        "sloppy_phrase_engine": sloppy_phrase_engine,
        "cardinality_facet_engine": cardinality_facet_engine,
        "percentiles_facet_engine": percentiles_facet_engine,
        "top_hits_engine": top_hits_engine,
        "dsl_bool_search": dsl_bool_search,
        "tpch_q1": tpch_q1,
        "tpch_q3": tpch_q3,
        "tpch_q6": tpch_q6,
        "topk_orders_per_priority": topk_orders_per_priority,
        "revenue_by_nation": revenue_by_nation,
        "rollup_revenue": rollup_revenue,
        "substring_expression_family": substring_expression_family,
        "csv_parse_roundtrip": csv_parse_roundtrip,
        "typeof_dynamic": typeof_dynamic,
        "csv_auto_columns": csv_auto_columns,
        "date_output_format": date_output_format,
        "flatten_map_to_list": flatten_map_to_list,
        "avro_roundtrip": avro_roundtrip,
        "multiline_assembly": multiline_assembly,
        "parse_ion_props": parse_ion_props,
        "event_json_roundtrip": event_json_roundtrip,
        "parse_json_props": parse_json_props,
        "convert_type_try_cast": convert_type_try_cast,
        "wrap_flatten_roundtrip": wrap_flatten_roundtrip,
        "dissect_log_line": dissect_log_line,
        "detect_format_sniff": detect_format_sniff,
        "parse_xml_fields": parse_xml_fields,
        "decompress_roundtrip": decompress_roundtrip,
        "user_agent_parse": user_agent_parse,
        "key_value_dup_list": key_value_dup_list,
        "otel_traces_decode": otel_traces_decode,
        "otel_metrics_exp_summary": otel_metrics_exp_summary,
        "otel_logs_decode": otel_logs_decode,
        "otel_metrics_decode": otel_metrics_decode,
        "date_locale_parse": date_locale_parse,
        "truncate_text": truncate_text,
        "list_map_filter_chain": list_map_filter_chain,
        "write_json_struct": write_json_struct,
        "add_copy_rename_chain": add_copy_rename_chain,
        "translate_event_type": translate_event_type,
        "translate_ranges": translate_ranges,
        "grok_extract_props": grok_extract_props,
        "grok_apache_log": grok_apache_log,
        "grok_haproxy_log": grok_haproxy_log,
        "key_value_parse": key_value_parse,
        "key_value_grouped": key_value_grouped,
        "date_histogram_daily": date_histogram_daily,
        "route_events": route_events,
        "split_event_tokens": split_event_tokens,
        "string_mutations": string_mutations,
        "obfuscate_hash": obfuscate_hash,
        "dp_expression_filter": dp_expression_filter,
        "dp_expression_functions": dp_expression_functions,
        "range_lookup_value_bands": range_lookup_value_bands,
        "aggregate_count_action": aggregate_count_action,
        "aggregate_count_otel": aggregate_count_otel,
        "aggregate_histogram_action": aggregate_histogram_action,
        "aggregate_append_action": aggregate_append_action,
        "remove_duplicates_action": remove_duplicates_action,
        "percent_sampler_action": percent_sampler_action,
        "tail_sampler_action": tail_sampler_action,
        "put_all_action": put_all_action,
        "service_map_edges": service_map_edges_q,
        "trace_group_fill": trace_group_fill_q,
        "exact_dedup_fingerprint": exact_dedup_fingerprint,
        "token_jaccard_pairs": token_jaccard_pairs,
        "cosine_topk_bruteforce": cosine_topk_bruteforce,
        "embedding_dup_pairs": embedding_dup_pairs_q,
        "lang_id_markers": lang_id_markers,
        "quality_token_stats": quality_token_stats,
        "bpe_token_counts": bpe_token_counts,
    }


def oracle_sql() -> dict[str, str]:
    toks = tokenize_sql("text")
    sql: dict[str, str] = {}

    sql["bm25_topk"] = _bm25_sql()

    sql["tpch_q1"] = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

    sql["tpch_q6"] = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""

    sql["tpch_q3"] = """
SELECT l_orderkey, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY 1, 2
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""

    sql["rollup_revenue"] = """
SELECT n_name, c_mktsegment,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)
"""

    sql["substring_expression_family"] = """
WITH b AS (
  SELECT c_custkey,
         c_mktsegment || sep || c_name || sep || CAST(c_custkey AS VARCHAR) AS s
  FROM (
    SELECT *, CASE WHEN c_custkey % 3 = 0 THEN '|' ELSE '.' END AS sep
    FROM customer
  )
)
SELECT c_custkey,
  CASE WHEN strpos(s, '.') = 0 THEN s
       ELSE substr(s, 1, strpos(s, '.') - 1) END AS seg,
  CASE WHEN strpos(s, '.') = 0 THEN s
       ELSE substr(s, strpos(s, '.') + 1) END AS name_key,
  CASE WHEN strpos(s, '.') = 0 THEN s
       ELSE substr(s, 1, length(s) - strpos(reverse(s), '.')) END AS seg_name,
  CASE WHEN strpos(s, '.') = 0 THEN s
       ELSE substr(s, length(s) - strpos(reverse(s), '.') + 2) END AS key
FROM b
"""

    sql["csv_parse_roundtrip"] = """
SELECT c_custkey AS k, c_mktsegment AS seg, CAST(c_nationkey AS INT) AS nat
FROM customer
"""

    sql["parse_json_props"] = """
SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 7 AS k_mod, COUNT(*) AS n
FROM events GROUP BY 1
"""

    sql["convert_type_try_cast"] = """
SELECT event_id,
       round(CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END, 4)
         AS converted_r,
       CASE WHEN event_id % 5 = 0 THEN 'cast_fail' ELSE '' END AS tags
FROM events
"""

    sql["wrap_flatten_roundtrip"] = """
SELECT c_custkey, c_nationkey, c_name AS m_c_name,
       c_mktsegment AS m_c_mktsegment
FROM customer
"""

    sql["dissect_log_line"] = """
SELECT event_type AS etype, strftime(ts, '%Y-%m-%d') AS day,
       COUNT(*) AS n, MIN(CAST(user_id AS VARCHAR)) AS min_user
FROM events GROUP BY 1, 2
"""

    sql["detect_format_sniff"] = """
SELECT CASE event_id % 4 WHEN 0 THEN 'json' WHEN 1 THEN 'keyvalue'
            WHEN 2 THEN 'csv' ELSE 'unknown' END AS detected_format,
       COUNT(*) AS n
FROM events GROUP BY 1
"""

    sql["truncate_text"] = """
SELECT doc_id, substr(text, 1, 40) AS head40 FROM documents
"""

    sql["parse_xml_fields"] = """
SELECT event_type AS t, COUNT(*) AS n,
       CAST(SUM(user_id) AS BIGINT) AS u_sum
FROM events GROUP BY 1
"""

    sql["decompress_roundtrip"] = """
SELECT doc_id, substr(text, 1, 60) AS recovered FROM documents
"""

    def _ua_case(j: int) -> str:
        whens = " ".join(
            f"WHEN {i} THEN '{t[j]}'" for i, t in enumerate(_UA_EXPECT)
        )
        return f"CASE event_id % 4 {whens} END"

    sql["user_agent_parse"] = f"""
SELECT {_ua_case(0)} AS browser, {_ua_case(1)} AS os,
       {_ua_case(2)} AS device, COUNT(*) AS n
FROM events GROUP BY 1, 2, 3
"""

    sql["key_value_dup_list"] = """
SELECT event_id, 'type' AS key,
       event_type || '|T' || CAST(event_id % 3 AS VARCHAR) AS vals
FROM events
UNION ALL
SELECT event_id, 'u' AS key, CAST(user_id AS VARCHAR) AS vals
FROM events
"""

    sql["date_locale_parse"] = """
SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
FROM events GROUP BY 1
"""

    sql["list_map_filter_chain"] = """
WITH per AS (
  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2
)
SELECT user_id,
       MAX(CASE WHEN event_type = 'click' THEN n END) AS n_click,
       CAST(SUM(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_big_types
FROM per GROUP BY 1
"""

    sql["write_json_struct"] = """
SELECT c_custkey,
       to_json(struct_pack(c_mktsegment := c_mktsegment,
                           c_nationkey := c_nationkey)) AS js
FROM customer
"""

    sql["add_copy_rename_chain"] = """
SELECT event_id AS eid,
       event_type || ':' || CAST(user_id AS VARCHAR) AS label,
       round(value * 2.0, 4) AS value_x2_r
FROM events
"""

    sql["topk_orders_per_priority"] = """
SELECT o_orderpriority, rank, o_orderkey, round(o_totalprice, 4) AS price_r
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 3
"""

    sql["revenue_by_nation"] = """
SELECT n_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

    sql["translate_event_type"] = """
SELECT CASE
         WHEN event_type IN ('click', 'view') THEN 'interaction'
         WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
         ELSE 'other'
       END AS label, COUNT(*) AS n
FROM events GROUP BY 1
"""

    sql["grok_extract_props"] = """
SELECT CAST(regexp_extract(props, '"k": ([+-]?\\d+)', 1) AS BIGINT) % 10 AS k_mod,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""

    # the converted-config pipeline: grok INT extraction, then mutate's
    # rename/uppercase/gsub/add_field/convert replayed in SQL
    sql["logstash_converted_pipeline"] = """
SELECT upper(event_type) AS etype,
       'logstash' AS src,
       count(*) AS n,
       CAST(sum(CAST(regexp_extract(props, '"k": ([+-]?\\d+)', 1)
                     AS BIGINT)) AS BIGINT) AS sum_kval,
       min(replace(props, '"', '')) AS min_props
FROM events GROUP BY 1, 2
"""

    sql["key_value_parse"] = """
SELECT c_custkey, c_mktsegment AS seg, CAST(c_nationkey AS INT) AS nat
FROM customer
"""

    sql["typeof_dynamic"] = """
SELECT CASE CAST(event_id % 6 AS INT)
         WHEN 0 THEN 'integer' WHEN 1 THEN 'string' WHEN 2 THEN 'double'
         WHEN 3 THEN 'array' WHEN 4 THEN 'map' ELSE 'long' END AS t,
       COUNT(*) AS n
FROM events GROUP BY 1
"""

    sql["csv_auto_columns"] = """
SELECT c_custkey, c_mktsegment AS col2,
       CAST(c_nationkey AS VARCHAR) AS nat_from_header
FROM customer
"""

    sql["date_output_format"] = """
SELECT strftime(ts, '%Y/%m/%d') AS day, COUNT(*) AS n
FROM events GROUP BY 1
"""

    sql["flatten_map_to_list"] = """
SELECT c_custkey, c_name AS a_b, CAST(c_nationkey AS INT) AS a_c,
       c_mktsegment AS d, 'seg' AS k0, c_name AS v1
FROM customer
"""

    sql["avro_roundtrip"] = """
SELECT c_custkey, c_name, c_mktsegment, CAST(c_nationkey AS INT) AS nat
FROM customer
"""

    iso_start = _otel_iso_sql("1700000000 + event_id % 86400")
    iso_end = _otel_iso_sql("1700000000 + event_id % 86400 + event_id % 5")
    sql["otel_traces_decode"] = f"""
SELECT event_id AS eid,
       lpad(lower(hex(event_id)), 32, '0') AS trace_id,
       lpad(lower(hex(event_id + 1)), 16, '0') AS span_id,
       CASE WHEN event_id % 3 = 0 THEN ''
            ELSE lpad(lower(hex(event_id + 2)), 16, '0') END AS parent,
       event_type AS span_name,
       'svc-' || CAST(user_id % 5 AS VARCHAR) AS service,
       ['SPAN_KIND_UNSPECIFIED','SPAN_KIND_INTERNAL','SPAN_KIND_SERVER',
        'SPAN_KIND_CLIENT','SPAN_KIND_PRODUCER','SPAN_KIND_CONSUMER'
       ][CAST(event_id % 6 AS INT) + 1] AS kind,
       {iso_start} AS start_time,
       {iso_end} AS end_time,
       (event_id % 5) * 1000000000 AS dur_ns,
       CAST(event_id % 3 AS INT) AS status_code,
       CASE WHEN event_id % 3 = 2 THEN 'boom' END AS status_msg,
       ['GET','POST','PUT','DELETE'][CAST(event_id % 4 AS INT) + 1]
         AS http_method,
       event_id % 7 AS retries,
       'io.lib' AS scope_name,
       'svc-' || CAST(user_id % 5 AS VARCHAR) AS res_service,
       CASE WHEN event_id % 3 = 0 THEN event_type END AS trace_group,
       CASE WHEN event_id % 3 = 0
            THEN (event_id % 5) * 1000000000 END AS tg_dur,
       CASE WHEN event_id % 3 = 0 THEN CAST(0 AS INT) END AS tg_code
FROM events
"""

    # protobuf wire form decodes to the identical rows: same oracle
    sql["otel_traces_decode_pb"] = sql["otel_traces_decode"]

    sql["http_ingest_roundtrip"] = """
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       value, props
FROM events
WHERE event_id % 20 = 0
"""

    sql["bulk_update_roundtrip"] = f"""
WITH sample AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
),
post AS (
  SELECT doc_id,
         CASE WHEN doc_id % 40 = 0 THEN text || ' zzupdated'
              ELSE text END AS text
  FROM sample
  UNION ALL
  SELECT 99999991, 'fresh upsert doc zz'
),
toks AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM post
),
dl AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1)
SELECT p.doc_id, CAST(COALESCE(dl.n, 0) AS BIGINT) AS dl
FROM post p LEFT JOIN dl USING (doc_id)
"""
    sql["bulk_ingest_roundtrip"] = f"""
WITH sample AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
),
toks AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM sample
),
dl AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1)
SELECT s.doc_id, CAST(COALESCE(dl.n, 0) AS BIGINT) AS dl
FROM sample s LEFT JOIN dl USING (doc_id)
"""
    sql["otel_metrics_exp_summary"] = """
WITH e AS (
  SELECT event_id, value,
         CAST(event_id % 5 AS INT) - 2 AS scale,
         CAST(event_id % 6 AS INT) AS poff,
         CAST(event_id % 3 AS INT) AS noff,
         power(2.0, power(2.0, -(CAST(event_id % 5 AS INT) - 2))) AS base
  FROM events
)
SELECT event_id AS eid,
       CASE WHEN event_id % 2 = 0 THEN 'EXPONENTIAL_HISTOGRAM'
            ELSE 'SUMMARY' END AS kind,
       CASE WHEN event_id % 2 = 0 THEN event_id % 10 + 3
            ELSE event_id % 10 + 1 END AS cnt,
       round(value, 6) AS sum_r,
       CASE WHEN event_id % 2 = 0 THEN scale END AS scale,
       CASE WHEN event_id % 2 = 0 THEN event_id % 4 END AS zero_count,
       CASE WHEN event_id % 2 = 0 THEN poff END AS pos_offset,
       CASE WHEN event_id % 2 = 0 THEN noff END AS neg_offset,
       CASE WHEN event_id % 2 = 0
            THEN round(power(base, poff), 6) END AS pb0_min,
       CASE WHEN event_id % 2 = 0
            THEN round(power(base, poff + 1), 6) END AS pb0_max,
       CASE WHEN event_id % 2 = 0 THEN event_id % 9 + 1 END AS pb1_cnt,
       CASE WHEN event_id % 2 = 0
            THEN round(-power(base, noff + 1), 6) END AS nb0_min,
       CASE WHEN event_id % 2 = 0
            THEN round(-power(base, noff), 6) END AS nb0_max,
       CASE WHEN event_id % 2 = 0
            THEN 'AGGREGATION_TEMPORALITY_CUMULATIVE' END AS temporality,
       CASE WHEN event_id % 2 = 1 THEN CAST(2 AS INT) END AS q_cnt,
       CASE WHEN event_id % 2 = 1 THEN round(value, 6) END AS q50,
       CASE WHEN event_id % 2 = 1 THEN round(value * 2, 6) END AS q99
FROM e
"""

    iso_log = _otel_iso_sql("1710000000 + event_id % 86400")
    iso_obs = _otel_iso_sql("1710000000 + event_id % 86400 + 1")
    sql["otel_logs_decode"] = f"""
SELECT event_id AS eid,
       {iso_log} AS time,
       {iso_obs} AS observed_time,
       'svc-' || CAST(user_id % 5 AS VARCHAR) AS service,
       CAST(CASE WHEN event_id % 2 = 0 THEN 9
                 ELSE event_id % 24 + 1 END AS INT) AS severity_num,
       'sev-' || CAST(event_id % 5 AS VARCHAR) AS severity_text,
       CASE WHEN event_id % 2 = 0 THEN 'msg ' || CAST(event_id AS VARCHAR)
            ELSE CAST(event_id * 3 AS VARCHAR) END AS body,
       'e-' || CAST(user_id % 3 AS VARCHAR) AS env,
       's1' AS schema_url,
       CAST(event_id % 256 AS INT) AS flags,
       lpad(lower(hex(event_id)), 32, '0') AS trace_id,
       lpad(lower(hex(event_id + 1)), 16, '0') AS span_id,
       CAST(event_id % 4 AS INT) AS dropped
FROM events
"""

    iso_mt = _otel_iso_sql("1720000000 + event_id % 86400")
    iso_ms = _otel_iso_sql("1720000000 + event_id % 86400 - 5")
    sql["otel_metrics_decode"] = f"""
SELECT event_id AS eid,
       ['GAUGE','SUM','HISTOGRAM'][CAST(event_id % 3 AS INT) + 1] AS kind,
       'm' || CAST(event_id % 7 AS VARCHAR) AS metric_name,
       'ms' AS unit,
       'svc-' || CAST(user_id % 5 AS VARCHAR) AS service,
       {iso_ms} AS start_time,
       {iso_mt} AS time,
       CASE WHEN event_id % 3 = 0 THEN value
            WHEN event_id % 3 = 1 THEN CAST(event_id AS DOUBLE) END AS val,
       CASE WHEN event_id % 3 = 1 THEN 'AGGREGATION_TEMPORALITY_CUMULATIVE'
            WHEN event_id % 3 = 2 THEN 'AGGREGATION_TEMPORALITY_DELTA'
            END AS temporality,
       CAST(CASE WHEN event_id % 3 = 1 THEN 1 END AS INT) AS monotonic,
       CASE WHEN event_id % 3 = 2 THEN event_id % 10 + 2 END AS cnt,
       CASE WHEN event_id % 3 = 2 THEN value END AS hsum,
       CAST(CASE WHEN event_id % 3 = 2 THEN 2 ELSE 0 END AS INT) AS n_bounds,
       CASE WHEN event_id % 3 = 2 THEN CAST(3 AS INT) END AS n_buckets,
       CASE WHEN event_id % 3 = 2
            THEN -3.4028234663852886e38 END AS b_first_min,
       CASE WHEN event_id % 3 = 2
            THEN 3.4028234663852886e38 END AS b_last_max,
       'h-' || CAST(user_id % 3 AS VARCHAR) AS host
FROM events
"""

    sql["prometheus_remote_write_decode"] = """
WITH e AS (
  SELECT event_id AS eid, user_id AS uid,
    strftime(make_timestamp((1700000000 + event_id % 86400) * 1000000),
             '%Y-%m-%dT%H:%M:%S')
    || CASE event_id % 4 WHEN 0 THEN '' WHEN 1 THEN '.250'
       WHEN 2 THEN '.500' ELSE '.750' END || 'Z' AS t,
    'api-' || CAST(user_id % 3 AS VARCHAR) AS svc
  FROM events
)
SELECT eid, 'lat' AS name, 'HISTOGRAM' AS kind, t AS time,
  CAST(NULL AS DOUBLE) AS value,
  CAST(eid % 5 + eid % 3 + eid % 2 AS BIGINT) AS cnt,
  CAST(eid % 7 AS DOUBLE) * CAST(0.25 AS DOUBLE) AS total,
  CAST(eid % 5 AS VARCHAR) || ',' || CAST(eid % 3 AS VARCHAR)
    || ',' || CAST(eid % 2 AS VARCHAR) AS buckets,
  '0.5,2.0' AS bounds,
  CAST(NULL AS DOUBLE) AS q50, CAST(NULL AS DOUBLE) AS q99,
  'AGGREGATION_TEMPORALITY_CUMULATIVE' AS temporality,
  CAST(NULL AS INT) AS monotonic, svc AS service
FROM e
UNION ALL
SELECT eid, 'rpc', 'SUMMARY', t,
  CAST(NULL AS DOUBLE),
  CAST(10 + eid % 5 AS BIGINT),
  CAST(eid % 9 AS DOUBLE) * CAST(0.5 AS DOUBLE),
  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
  CAST(eid % 8 AS DOUBLE) * CAST(0.125 AS DOUBLE),
  CAST(eid % 8 AS DOUBLE) * CAST(0.25 AS DOUBLE),
  CAST(NULL AS VARCHAR), CAST(NULL AS INT), svc
FROM e
UNION ALL
SELECT eid, 'errors', 'SUM', t,
  CAST(eid % 11 AS DOUBLE),
  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
  'AGGREGATION_TEMPORALITY_CUMULATIVE', CAST(1 AS INT), svc
FROM e
UNION ALL
SELECT eid, 'mem', 'GAUGE', t,
  CAST(eid % 13 AS DOUBLE) * CAST(1.5 AS DOUBLE),
  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
  CAST(NULL AS VARCHAR), CAST(NULL AS INT), svc
FROM e
"""

    sql["prometheus_scrape_decode"] = """
WITH e AS (
  SELECT event_id AS eid, user_id AS uid,
    strftime(make_timestamp((1700000000 + event_id % 86400) * 1000000),
             '%Y-%m-%dT%H:%M:%S')
    || CASE event_id % 4 WHEN 0 THEN '' WHEN 1 THEN '.250'
       WHEN 2 THEN '.500' ELSE '.750' END || 'Z' AS t,
    'api-' || CAST(user_id % 3 AS VARCHAR) AS svc
  FROM events
)
SELECT eid, 'lat' AS name, 'HISTOGRAM' AS kind, t AS time,
  CAST(NULL AS DOUBLE) AS value,
  CAST(eid % 5 + eid % 3 + eid % 2 AS BIGINT) AS cnt,
  CAST(eid % 7 AS DOUBLE) * CAST(0.25 AS DOUBLE) AS total,
  CAST(eid % 5 AS VARCHAR) || ',' || CAST(eid % 3 AS VARCHAR)
    || ',' || CAST(eid % 2 AS VARCHAR) AS buckets,
  CAST(NULL AS DOUBLE) AS q50, CAST(NULL AS DOUBLE) AS q99,
  CAST(NULL AS INT) AS monotonic, svc AS service
FROM e
UNION ALL
SELECT eid, 'rpc', 'SUMMARY', '2026-01-01T00:00:00Z',
  CAST(NULL AS DOUBLE),
  CAST(10 + eid % 5 AS BIGINT),
  CAST(eid % 9 AS DOUBLE) * CAST(0.5 AS DOUBLE),
  CAST(NULL AS VARCHAR),
  CAST(eid % 8 AS DOUBLE) * CAST(0.125 AS DOUBLE),
  CAST(eid % 8 AS DOUBLE) * CAST(0.25 AS DOUBLE),
  CAST(NULL AS INT), svc
FROM e
UNION ALL
SELECT eid, 'errors', 'SUM', t,
  CAST(eid % 11 AS DOUBLE),
  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
  CAST(NULL AS VARCHAR),
  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
  CAST(1 AS INT), svc
FROM e
UNION ALL
SELECT eid, 'mem', 'GAUGE', t,
  CAST(eid % 13 AS DOUBLE) * CAST(1.5 AS DOUBLE),
  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
  CAST(NULL AS VARCHAR),
  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
  CAST(NULL AS INT), svc
FROM e
"""

    sql["paragraph_dedup_scrub"] = """
SELECT doc_id,
  'unique-' || CAST(doc_id AS VARCHAR) || '-a'
    || chr(10) || chr(10)
    || 'unique-' || CAST(doc_id AS VARCHAR) || '-b' AS text,
  CAST(CASE WHEN doc_id % 5 = 0 THEN 4 ELSE 3 END AS BIGINT)
    AS n_paragraphs,
  CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS INT) AS n_removed
FROM documents
"""

    sql["geoip_mmdb_enrich"] = """
SELECT event_id AS eid,
  CASE WHEN event_id % 7 = 0 THEN NULL
       ELSE 'Country ' || CAST(event_id % 4 AS VARCHAR) END AS country,
  CASE WHEN event_id % 7 = 0 THEN NULL
       ELSE 'C' || CAST(event_id % 4 AS VARCHAR) END AS iso,
  CASE WHEN event_id % 7 = 0 THEN NULL
       WHEN event_id % 4 IN (0, 2) THEN 1 ELSE 0 END AS eu,
  CASE WHEN event_id % 7 = 0 THEN NULL
       ELSE 'City ' || CAST(event_id % 4 AS VARCHAR) END AS city,
  CASE WHEN event_id % 7 = 0 THEN CAST(NULL AS DOUBLE)
       ELSE CAST(10 + event_id % 4 AS DOUBLE) END AS lat,
  CASE WHEN event_id % 7 = 0 THEN CAST(NULL AS DOUBLE)
       ELSE CAST(event_id % 4 AS DOUBLE) * CAST(-5.5 AS DOUBLE)
       END AS lon,
  CASE WHEN event_id % 7 = 0 THEN '_geoip_miss' ELSE '' END AS tags
FROM events
"""

    sql["sequence_packing_plan"] = f"""
WITH base AS (
  SELECT doc_id, ((doc_id % 8) + 8) % 8 AS shard,
         len({tokenize_sql('text')}) + 1 AS n_tokens
  FROM documents
),
off AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens
           AS start_offset
  FROM base
)
SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(start_offset // 2048 AS BIGINT) AS start_example,
       CAST((start_offset + n_tokens - 1) // 2048 AS BIGINT)
         AS end_example,
       CAST((start_offset + n_tokens - 1) // 2048
            - start_offset // 2048 + 1 AS INT) AS n_examples
FROM off
"""

    sql["mixture_sample_sources"] = """
WITH w(source, wt) AS (
  VALUES ('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.25 AS DOUBLE)),
         ('src2', CAST(0.125 AS DOUBLE)), ('src3', CAST(0.125 AS DOUBLE))
),
c AS (
  SELECT source, CAST(count(*) AS DOUBLE) AS n
  FROM documents JOIN w USING (source) GROUP BY 1
),
t AS (SELECT min(n / wt) AS t FROM c JOIN w USING (source)),
r AS (
  SELECT c.source, least(CAST(1 AS DOUBLE), w.wt * t.t / c.n) AS rate
  FROM c JOIN w USING (source) CROSS JOIN t
)
SELECT d.doc_id, d.source
FROM documents d JOIN r ON d.source = r.source
WHERE ((d.doc_id * 2654435761) % 10000 + 10000) % 10000
      < CAST(r.rate * 10000 AS BIGINT)
"""

    sql["multimodal_real_decode"] = """
SELECT event_id AS eid,
  CASE WHEN event_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
  CAST(CASE WHEN event_id % 2 = 0 THEN event_id % 6 + 2
       ELSE 8000 END AS INT) AS w_or_rate,
  CAST(CASE WHEN event_id % 2 = 0 THEN event_id % 5 + 2
       ELSE 100 + event_id % 50 END AS INT) AS h_or_n,
  CAST(CASE WHEN event_id % 2 = 0 THEN event_id % 256
       ELSE trunc((event_id % 4 + 1) * CAST(0.125 AS DOUBLE) * 32767)
       END AS INT) AS level
FROM events
"""

    sql["rss_items_extract"] = """
WITH e AS (
  SELECT event_id AS eid, user_id AS uid, event_type AS et FROM events
), t AS (
  SELECT eid, uid, et, i,
    lpad(CAST(((eid * 7 + i) % 86400) // 3600 AS VARCHAR), 2, '0')
      || ':' ||
    lpad(CAST(((eid * 7 + i) % 86400) // 60 % 60 AS VARCHAR), 2, '0')
      || ':' ||
    lpad(CAST((eid * 7 + i) % 60 AS VARCHAR), 2, '0') AS hms
  FROM e, (SELECT UNNEST([1, 2]) AS i)
)
SELECT
  'g-' || CAST(eid AS VARCHAR) || '-' || CAST(i AS VARCHAR) AS guid,
  et || ' & co #' || CAST(i AS VARCHAR) AS title,
  'https://ex.com/' || CAST(eid AS VARCHAR) || '/' || CAST(i AS VARCHAR)
    AS link,
  CASE WHEN i = 1 THEN 'd' || CAST(eid % 10 AS VARCHAR) END AS descr,
  'Mon, 01 Jan 2025 ' || hms || ' +0000' AS pub_date,
  '2025-01-01T' || hms || 'Z' AS pub_time,
  CASE WHEN i = 1 THEN 'u' || CAST(uid % 5 AS VARCHAR) || '@ex.com'
    END AS author,
  CASE WHEN i = 1
    THEN 'c' || CAST(eid % 4 AS VARCHAR) || ',d' || CAST(eid % 3 AS VARCHAR)
    ELSE '' END AS cats,
  'feed-' || CAST(uid % 3 AS VARCHAR) AS ch_title,
  'https://ex.com/f' || CAST(uid % 3 AS VARCHAR) AS ch_link
FROM t
"""

    sql["key_value_recursive_parse"] = """
SELECT event_id AS eid, event_type AS etype,
  '{"a":"' || CAST(event_id % 10 AS VARCHAR)
  || '","b":{"c":"' || CAST(event_id % 7 AS VARCHAR)
  || '","d":{"e":"' || CAST(event_id % 5 AS VARCHAR)
  || '"}},"t":"' || event_type || '"}' AS parsed
FROM events
"""

    sql["multiline_assembly"] = """
SELECT event_id AS eid, event_type AS etype,
       CAST(2 + CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
         AS n_lines
FROM events
"""

    sql["parse_ion_props"] = """
SELECT event_id AS eid, event_type AS etype,
       '2024-01-02T10:00:00Z' AS ts, CAST(NULL AS BIGINT) AS miss,
       TRUE AS flag
FROM events
"""

    sql["event_json_roundtrip"] = """
SELECT event_type, COUNT(*) AS n, MIN(event_id) AS min_id
FROM events GROUP BY 1
"""

    sql["translate_ranges"] = """
SELECT CASE WHEN value >= 0 AND value <= 49 THEN 'low'
            WHEN value >= 50 AND value <= 149 THEN 'mid'
            WHEN value >= 150 AND value <= 1000000 THEN 'high'
            ELSE 'other' END AS band,
       CASE WHEN event_type IN ('click', 'view') THEN 'interaction'
            WHEN event_type = 'purchase' THEN 'conversion'
            ELSE 'other' END AS label,
       COUNT(*) AS n
FROM events GROUP BY 1, 2
"""

    sql["grok_apache_log"] = """
WITH g AS (
  SELECT '10.' || (id % 250) || '.' || (id * 7 % 250) || '.' || (id * 13 % 250)
           AS clientip,
         ['GET', 'POST', 'PUT', 'DELETE'][CAST(id % 4 AS INT) + 1] AS verb,
         ['200', '200', '404', '500'][CAST(id % 4 AS INT) + 1] AS response,
         id % 5000 + 100 AS bytes
  FROM range(1000) t(id)
)
SELECT verb, response, COUNT(*) AS n, MIN(clientip) AS min_ip,
       CAST(SUM(bytes) AS BIGINT) AS sum_bytes
FROM g GROUP BY 1, 2
"""

    sql["grok_haproxy_log"] = """
WITH g AS (
  SELECT 'srv' || (user_id % 8) AS server_name,
         event_id % 100000 AS bytes,
         event_id % 50000 + 10000 AS port,
         '10.0.' || (user_id % 250) || '.' || (event_id % 250) AS ip
  FROM events WHERE event_id % 17 = 0
)
SELECT server_name, COUNT(*) AS n, CAST(SUM(bytes) AS BIGINT) AS sum_bytes,
       CAST(MAX(port) AS BIGINT) AS max_port, MIN(ip) AS min_ip
FROM g GROUP BY 1
"""

    sql["key_value_grouped"] = """
SELECT c_custkey, c_mktsegment AS seg,
       '"v& ' || c_name || '"' AS msg,
       CAST(c_nationkey AS VARCHAR) AS nat
FROM customer
"""

    sql["date_histogram_daily"] = """
SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""

    sql["route_events"] = """
WITH routed AS (
  SELECT 'errors' AS route, event_id FROM events WHERE event_type = 'error'
  UNION ALL
  SELECT 'big_values', event_id FROM events WHERE value > 150.0
  UNION ALL
  SELECT '_default', event_id FROM events
  WHERE NOT (event_type = 'error' OR value > 150.0)
)
SELECT route, COUNT(*) AS n, MIN(event_id) AS min_id FROM routed GROUP BY 1
"""

    sql["split_event_tokens"] = """
SELECT token, COUNT(*) AS n FROM (
  SELECT unnest(str_split_regex(text, '\\s+')) AS token FROM documents
) WHERE token != '' GROUP BY 1 HAVING COUNT(*) >= 200
"""

    sql["string_mutations"] = """
SELECT c_custkey,
       trim(upper(regexp_replace(c_name, '#', '-', 'g'))) AS c_name,
       upper(c_mktsegment) AS c_mktsegment
FROM customer WHERE c_custkey <= 50
"""

    sql["obfuscate_hash"] = """
SELECT c_custkey, sha256(c_name || 'pepper') AS c_name, '***' AS acct_masked
FROM customer WHERE c_custkey <= 20
"""

    sql["dp_expression_filter"] = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
WHERE value > 100.0 AND event_type != 'error'
  AND event_type IN ('click', 'view', 'purchase')
GROUP BY 1
"""

    sql["dp_expression_functions"] = """
SELECT event_id, length(event_type) AS etype_len,
       CASE WHEN strpos(props, ':') > 0
            THEN substr(props, 1, strpos(props, ':') - 1)
            ELSE props END AS props_head,
       strftime(ts, '%Y-%m') AS month,
       contains(event_type, 'ck') AS has_ck,
       starts_with(props, '{') AS is_json
FROM events WHERE event_type != 'error' OR value >= 10.0
"""

    sql["range_lookup_value_bands"] = """
SELECT CASE WHEN value >= 0 AND value < 50 THEN 'low'
            WHEN value >= 50 AND value < 150 THEN 'mid'
            WHEN value >= 150 THEN 'high' END AS band,
       COUNT(*) AS n
FROM events GROUP BY 1
"""

    sql["aggregate_count_action"] = (
        "SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1"
    )

    sql["aggregate_count_otel"] = """
SELECT 'count' AS name, '1' AS unit, TRUE AS isMonotonic,
       CAST(COUNT(*) AS DOUBLE) AS value, 'sum' AS kind,
       event_type AS etype,
       strftime(MIN(ts), '%Y-%m-%dT%H:%M:%S.%gZ') AS startTime,
       strftime(MAX(ts), '%Y-%m-%dT%H:%M:%S.%gZ') AS time
FROM events GROUP BY event_type
"""

    sql["aggregate_histogram_action"] = """
SELECT l_returnflag,
       (CASE WHEN l_quantity >= 10 THEN 1 ELSE 0 END +
        CASE WHEN l_quantity >= 20 THEN 1 ELSE 0 END +
        CASE WHEN l_quantity >= 30 THEN 1 ELSE 0 END +
        CASE WHEN l_quantity >= 40 THEN 1 ELSE 0 END) AS bucket,
       COUNT(*) AS bucket_count,
       round(MIN(l_quantity), 4) AS min_r,
       round(MAX(l_quantity), 4) AS max_r
FROM lineitem GROUP BY 1, 2
"""

    sql["aggregate_append_action"] = """
SELECT user_id, string_agg(event_type, ',' ORDER BY event_type) AS types
FROM events WHERE user_id <= 5 GROUP BY 1
"""

    sql["remove_duplicates_action"] = """
SELECT user_id, event_type, event_id FROM (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
  FROM events
) WHERE rn = 1
"""

    sql["percent_sampler_action"] = """
SELECT event_id, event_type FROM events
WHERE (event_id * 1103515245 + 12345) % 10000 < 3000
"""

    sql["tail_sampler_action"] = """
WITH keep AS (
  SELECT user_id FROM events GROUP BY 1
  HAVING MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) = 1
      OR (MIN(user_id) * 2654435761 + 1) % 10000 < 2000
)
SELECT e.user_id, COUNT(*) AS n FROM events e
JOIN keep USING (user_id) GROUP BY 1
"""

    sql["put_all_action"] = """
SELECT user_id, round(MAX(value), 4) AS max_value, MAX(event_type) AS max_type
FROM events GROUP BY 1
"""

    spans_cte = """
WITH spans AS (
  SELECT user_id AS trace_id, event_id AS span_id,
         lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS parent_span_id,
         event_type AS service_name
  FROM events
)
"""

    sql["service_map_edges"] = spans_cte + """
SELECT DISTINCT p.service_name AS source_service,
                c.service_name AS dest_service
FROM spans c JOIN spans p
  ON c.trace_id = p.trace_id AND c.parent_span_id = p.span_id
WHERE p.service_name != c.service_name
"""

    sql["trace_group_fill"] = spans_cte.replace("service_name", "name") + """
SELECT s.span_id,
       coalesce(r.name, s.name) AS trace_group
FROM spans s
LEFT JOIN (SELECT trace_id, name FROM spans WHERE parent_span_id IS NULL) r
  ON s.trace_id = r.trace_id
"""

    sql["anomaly_detector_grades"] = """
WITH s AS (
  SELECT user_id, event_id, value,
         avg(value) OVER w AS mu,
         stddev_samp(value) OVER w AS sd,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
  WHERE value IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN 64 PRECEDING AND 1 PRECEDING)
),
g AS (
  SELECT user_id, event_id, value - mu AS dev,
         CASE WHEN sd > 0
              THEN least(1.0, greatest(0.0, abs(value - mu) / sd / 2.5 - 1.0))
              END AS grade,
         rn
  FROM s
),
a AS (
  SELECT user_id, event_id, dev, grade,
         (grade > 0 AND rn > 16) AS anom,
         coalesce(lag(grade > 0 AND rn > 16)
                  OVER (PARTITION BY user_id ORDER BY event_id),
                  false) AS prev
  FROM g
)
SELECT user_id, event_id, round(dev, 8) AS deviation,
       round(grade, 6) AS grade_r
FROM a WHERE anom AND NOT prev
"""

    sql["sessionization"] = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM s GROUP BY 1
"""

    sql["inverted_index_stats"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({toks}) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2)
SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf FROM tf
GROUP BY 1 HAVING COUNT(*) >= 5
"""

    prefix_expr = f"array_to_string(list_slice({toks}, 1, 3), ' ')"
    sql["exact_dedup_fingerprint"] = f"""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(
           list_filter(regexp_split_to_array(lower(regexp_replace(
             regexp_replace({prefix_expr}, '([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g'),
             '([a-z0-9])([A-Z])', '\\1 \\2', 'g')), '[^a-z0-9]+'), x -> x != ''),
           ' ')) AS fp
  FROM documents
)
SELECT fp, COUNT(*) AS n, MIN(doc_id) AS canonical
FROM fp GROUP BY 1 HAVING COUNT(*) > 1
"""

    sql["token_jaccard_pairs"] = f"""
WITH sh0 AS (
  SELECT DISTINCT doc_id AS id, unnest({toks}) AS shingle FROM documents
),
hot AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) > 250),
sh AS (SELECT * FROM sh0 ANTI JOIN hot USING (shingle)),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT l.id AS id_a, r.id AS id_b, COUNT(*) AS i
  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.id < r.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i * 1.0 / (a.sz + b.sz - i), 6) AS jaccard_r
FROM inter
JOIN sizes a ON a.id = id_a
JOIN sizes b ON b.id = id_b
WHERE i * 1.0 / (a.sz + b.sz - i) >= 0.8
"""

    sql["cosine_topk_bruteforce"] = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 3
),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))))
           AS cosine
  FROM embeddings e CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, round(cosine, 6) AS cosine_r
FROM ranked WHERE rank <= 10
"""

    # the DSL knn clause routes to the same executor, so the same
    # recompute oracles it
    sql["dsl_knn_search"] = sql["cosine_topk_bruteforce"]

    sql["dsl_knn_filtered"] = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  WHERE vec_id < 2
),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))))
           AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE (q.query_id = 0 AND e.label = 1)
     OR (q.query_id = 1 AND e.label >= 2)
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, round(cosine, 6) AS cosine_r
FROM ranked WHERE rank <= 10
"""

    # hybrid: full recompute of both sub-query score lists, the
    # min_max normalization (single-result 1.0 / zero-floor 0.001 —
    # the neural-search plugin's constants), and the weighted
    # arithmetic mean over present sub-scores (0.7 lexical / 0.3 knn)
    _hyb_values = ", ".join(
        f"(CAST({i} AS BIGINT), '{t}')" for i, t in enumerate(HYBRID_TEXTS)
    )
    sql["dsl_hybrid_search"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qmap(query_id, query) AS (VALUES {_hyb_values}),
q AS (
  SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
  FROM qmap
),
bm AS (
  SELECT q.query_id, tf.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * ({K1} + 1)
             / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS s
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
bmn AS (
  SELECT query_id, doc_id,
         CASE WHEN max(s) OVER w = min(s) OVER w THEN 1.0
              ELSE (s - min(s) OVER w) / (max(s) OVER w - min(s) OVER w)
         END AS ns0
  FROM bm WINDOW w AS (PARTITION BY query_id)
),
qv AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  WHERE vec_id < 3
),
cos AS (
  SELECT qv.query_id, e.vec_id AS doc_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]),
                          CAST(qv.qvec AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(qv.qvec AS DOUBLE[]),
                                      CAST(qv.qvec AS DOUBLE[])))) AS s
  FROM embeddings e
  JOIN documents doc ON doc.doc_id = e.vec_id
  CROSS JOIN qv
),
cosn AS (
  SELECT query_id, doc_id,
         CASE WHEN max(s) OVER w = min(s) OVER w THEN 1.0
              ELSE (s - min(s) OVER w) / (max(s) OVER w - min(s) OVER w)
         END AS ns0
  FROM cos WINDOW w AS (PARTITION BY query_id)
),
u AS (
  SELECT query_id, doc_id,
         CASE WHEN ns0 <= 0 THEN 0.001 ELSE ns0 END AS ns, 0.7 AS w
  FROM bmn
  UNION ALL
  SELECT query_id, doc_id,
         CASE WHEN ns0 <= 0 THEN 0.001 ELSE ns0 END AS ns, 0.3 AS w
  FROM cosn
),
comb AS (
  SELECT query_id, doc_id, sum(ns * w) / sum(w) AS score
  FROM u GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id
         ) AS rank
  FROM comb
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    from data_prepper_spark.datapipe.textstats import BPE_REGEX

    bpe_sql = BPE_REGEX.replace("'", "''")
    sql["bpe_token_counts"] = f"""
SELECT doc_id, len(regexp_extract_all(text, '{bpe_sql}')) AS n_bpe_tokens
FROM documents
"""

    sql["embedding_dup_pairs"] = """
SELECT l.vec_id AS id_a, r.vec_id AS id_b,
       round(
         list_dot_product(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(l.embedding AS DOUBLE[]), CAST(l.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(r.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])))),
         6) AS cosine_r
FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
WHERE list_dot_product(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[]))
      / (sqrt(list_dot_product(CAST(l.embedding AS DOUBLE[]), CAST(l.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(CAST(r.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[]))))
      >= 0.35
"""

    # lang_id oracle mirrors LANG_MARKERS scoring exactly
    from data_prepper_spark.datapipe.textstats import LANG_MARKERS

    score_exprs = {
        lang: " + ".join(
            f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in ws
        )
        for lang, ws in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    # replicate the first-wins argmax chain (strictly-greater beats)
    best = f"'{langs[0]}'"
    best_s = f"s_{langs[0]}"
    for lang in langs[1:]:
        best = f"CASE WHEN s_{lang} > {best_s} THEN '{lang}' ELSE {best} END"
        best_s = f"greatest(s_{lang}, {best_s})"
    sql["lang_id_markers"] = (
        "WITH s AS (SELECT "
        + ", ".join(f"({e}) AS s_{lang}" for lang, e in score_exprs.items())
        + " FROM documents) SELECT CASE WHEN "
        + best_s
        + " > 0 THEN "
        + best
        + " ELSE 'und' END AS lang_pred, COUNT(*) AS n FROM s GROUP BY 1"
    )

    from data_prepper_spark.datapipe.dedup import (
        minhash_lsh_pairs_portable_sql,
        simhash_pairs_portable_sql,
    )
    from data_prepper_spark.datapipe.textstats import winnow_fingerprints_sql

    sql["minhash_dedup"] = minhash_lsh_pairs_portable_sql(
        toks, num_perm=16, bands=4, shingle=3, threshold=0.5
    )
    sql["simhash_dedup"] = simhash_pairs_portable_sql(toks, max_hamming=8)

    _sug_values = ", ".join(
        f"(CAST({i} AS BIGINT), '{t}')" for i, t in enumerate(SUGGEST_INPUTS)
    )
    sql["term_suggester"] = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
dict AS (SELECT term, count(*)::BIGINT AS df FROM tok GROUP BY 1),
inp(input_id, text) AS (VALUES {_sug_values}),
j AS (
  SELECT i.input_id, d.term, d.df,
         levenshtein(d.term, i.text)::BIGINT AS distance
  FROM inp i JOIN dict d
    ON abs(length(d.term) - length(i.text)) <= 2 AND d.term <> i.text
),
ranked AS (
  SELECT input_id, term, df, distance,
         row_number() OVER (PARTITION BY input_id
                            ORDER BY distance, df DESC, term)
           AS suggest_rank
  FROM j WHERE distance <= 2
)
SELECT input_id, suggest_rank, term AS suggestion, df, distance
FROM ranked WHERE suggest_rank <= 3
"""

    _cmp_values = ", ".join(
        f"(CAST({i} AS BIGINT), '{t}')" for i, t in enumerate(COMPLETE_INPUTS)
    )
    sql["completion_suggester"] = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
dict AS (SELECT term, count(*)::BIGINT AS df FROM tok GROUP BY 1),
inp(input_id, text) AS (VALUES {_cmp_values}),
j AS (
  SELECT i.input_id, d.term, d.df
  FROM inp i JOIN dict d ON starts_with(d.term, i.text)
),
ranked AS (
  SELECT input_id, term, df,
         row_number() OVER (PARTITION BY input_id
                            ORDER BY df DESC, term) AS suggest_rank
  FROM j
)
SELECT input_id, suggest_rank, term AS suggestion, df
FROM ranked WHERE suggest_rank <= 5
"""

    _rrf_values = ", ".join(
        f"(CAST({i} AS BIGINT), '{t}')" for i, t in enumerate(BM25_QUERY_TERMS)
    )
    _qid_vals = ", ".join(
        f"(CAST({i} AS BIGINT), '{t}')" for i, t in enumerate(BM25_QUERY_TERMS)
    )
    sql["explain_scores_engine"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qraw(query_id, query) AS (VALUES {_qid_vals}),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term FROM qraw),
scored AS (
  SELECT q.query_id, tf.doc_id, tf.term, tf.tf, d.df,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) AS idf,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * (tf.tf * ({K1} + 1) / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS part
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
tot AS (SELECT query_id, doc_id, sum(part) AS score FROM scored GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM tot
),
top AS (SELECT query_id, doc_id FROM ranked WHERE rank <= 10)
SELECT s.query_id, s.doc_id, s.term, CAST(s.tf AS BIGINT) AS tf,
       CAST(s.df AS BIGINT) AS df, round(s.idf, 6) AS idf_r,
       round(s.part, 6) AS contribution_r
FROM scored s JOIN top USING (query_id, doc_id)
"""

    sql["term_vectors_engine"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dict AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf
         FROM tf GROUP BY 1)
SELECT t.doc_id, t.term, CAST(t.tf AS BIGINT) AS tf, d.df, d.ttf
FROM tf t JOIN dict d USING (term)
WHERE t.doc_id IN (0, 1, 2, 3, 4)
"""

    _perc_vals = ", ".join(
        f"(CAST({i} AS BIGINT), '{t}')" for i, t in PERCOLATE_QUERIES
    )
    sql["percolate_matches"] = f"""
WITH dt AS (
  SELECT DISTINCT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
qraw(query_id, query) AS (VALUES {_perc_vals}),
qt AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term FROM qraw),
qn AS (SELECT query_id, count(*) AS n FROM qt GROUP BY 1)
SELECT d.doc_id, q.query_id
FROM dt d
JOIN qt q USING (term)
JOIN qn ON qn.query_id = q.query_id
GROUP BY d.doc_id, q.query_id, qn.n
HAVING count(*) = qn.n
"""

    # pruned percolation must be result-identical -> shared oracle
    sql["percolate_pruned_matches"] = sql["percolate_matches"]

    _rq_vals = ", ".join(f"('{t}')" for t in BM25_QUERY_TERMS)
    sql["rank_eval_metrics"] = f"""
WITH base AS ({_bm25_sql()}),
dt AS (
  SELECT DISTINCT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
qraw(query) AS (VALUES {_rq_vals}),
qt AS (SELECT DISTINCT query, unnest({tokenize_sql('query')}) AS term FROM qraw),
qn AS (SELECT query, count(*) AS n FROM qt GROUP BY 1),
ratings AS (
  SELECT d.doc_id, q.query, CAST(1.0 AS DOUBLE) AS rating
  FROM dt d
  JOIN qt q USING (term)
  JOIN qn ON qn.query = q.query
  GROUP BY d.doc_id, q.query, qn.n
  HAVING count(*) = qn.n
),
j AS (
  SELECT b.query, b.rank, b.doc_id, coalesce(r.rating, 0.0) AS rel
  FROM base b
  LEFT JOIN ratings r ON r.query = b.query AND r.doc_id = b.doc_id
),
got AS (
  SELECT query,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) / 10.0 AS prec,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_hits,
         max(CASE WHEN rel > 0 THEN 1.0 / rank ELSE 0.0 END) AS mrr,
         sum(rel / (ln(rank + 1.0) / ln(2.0))) AS dcg
  FROM j GROUP BY 1
),
idl AS (
  SELECT query, rating,
         row_number() OVER (PARTITION BY query ORDER BY rating DESC, doc_id) AS irank
  FROM ratings
),
ideal AS (
  SELECT query,
         sum(CASE WHEN irank <= 10
                  THEN rating / (ln(irank + 1.0) / ln(2.0)) ELSE 0.0 END) AS idcg,
         count(*) AS n_relevant
  FROM idl GROUP BY 1
)
SELECT g.query, round(g.prec, 6) AS precision_r,
       round(CAST(g.n_hits AS DOUBLE) / CAST(i.n_relevant AS DOUBLE), 6) AS recall_r,
       round(g.mrr, 6) AS mrr_r,
       round(g.dcg / i.idcg, 6) AS ndcg_r
FROM got g JOIN ideal i USING (query)
"""

    sql["hybrid_rrf_search"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qraw(query_id, query) AS (VALUES {_rrf_values}),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
base AS (
  SELECT q.query_id, tf.doc_id, tf.tf, dl.dl, s.n, s.avgdl,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) AS idf
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
bm25 AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM (
    SELECT query_id, doc_id,
           sum(idf * tf * ({K1} + 1)
               / (tf + {K1} * (1 - {B} + {B} * dl / avgdl))) AS score
    FROM base GROUP BY 1, 2
  ) QUALIFY rank <= 50
),
tfidf AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM (
    SELECT query_id, doc_id, sum(idf * idf * tf) AS score
    FROM base GROUP BY 1, 2
  ) QUALIFY rank <= 50
),
fused AS (
  SELECT coalesce(a.query_id, b.query_id) AS query_id,
         coalesce(a.doc_id, b.doc_id) AS doc_id,
         coalesce(1.0 / (60.0 + a.rank), 0)
           + coalesce(1.0 / (60.0 + b.rank), 0) AS rrf
  FROM bm25 a FULL OUTER JOIN tfidf b USING (query_id, doc_id)
),
ranked AS (
  SELECT query_id, doc_id, rrf,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, doc_id) AS rank
  FROM fused
)
SELECT query_id, rank, doc_id, round(rrf, 6) AS rrf_r
FROM ranked WHERE rank <= 10
"""

    sql["train_eval_split"] = """
WITH f AS (
  SELECT doc_id,
         TRY_CAST(concat('0x',
           substr(md5(doc_id::VARCHAR || 'split'), 1, 8)) AS BIGINT)
           / 4294967296.0 AS frac
  FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN frac < 0.8 THEN 'train'
              WHEN frac < 0.9 THEN 'eval'
              ELSE 'test' END AS split
  FROM f
)
SELECT split, count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS id_sum
FROM s GROUP BY 1
"""

    sql["decontaminate_train"] = f"""
WITH s AS (
  SELECT doc_id, text,
         CASE WHEN TRY_CAST(concat('0x',
                substr(md5(doc_id::VARCHAR || 'split'), 1, 8)) AS BIGINT)
              / 4294967296.0 < 0.9
              THEN 'train' ELSE 'eval' END AS split
  FROM documents
),
tr AS (
  SELECT doc_id AS id, {tokenize_sql('text')} AS toks
  FROM s WHERE split = 'train'
),
ev AS (
  SELECT {tokenize_sql('text')} AS toks FROM s WHERE split = 'eval'
),
trsh AS (
  SELECT id, unnest(list_distinct(list_transform(
           range(1, len(toks) - 6),
           i -> array_to_string(list_slice(toks, i, i + 7), ' ')))) AS sh
  FROM tr WHERE len(toks) >= 8
),
evsh AS (
  SELECT DISTINCT unnest(list_transform(
           range(1, len(toks) - 6),
           i -> array_to_string(list_slice(toks, i, i + 7), ' '))) AS sh
  FROM ev WHERE len(toks) >= 8
)
SELECT t.id, count(*)::BIGINT AS n_contaminated
FROM trsh t JOIN evsh e USING (sh)
GROUP BY 1
"""

    sql["repetition_signals"] = f"""
WITH base AS (
  SELECT doc_id AS id, {tokenize_sql('text')} AS toks FROM documents
),
sh AS (
  SELECT id, toks,
         CASE WHEN len(toks) >= 3
              THEN list_transform(range(1, len(toks) - 1),
                     i -> array_to_string(list_slice(toks, i, i + 2), ' '))
              ELSE [] END AS grams
  FROM base
)
SELECT id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
       CAST(len(grams) AS INT) AS n_ngrams,
       CAST(len(list_distinct(grams)) AS INT) AS n_distinct_ngrams
FROM sh
"""

    sql["dedup_clusters"] = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({sql["minhash_dedup"]})
),
edges AS (
  SELECT id_a AS x, id_b AS y FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT x AS id FROM edges),
reach(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.x, r.lbl FROM edges e JOIN reach r ON r.id = e.y
)
SELECT id AS doc_id, min(lbl) AS cluster, (min(lbl) = id) AS is_canonical
FROM reach GROUP BY id
"""

    sql["dedup_canonical_keep"] = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({sql["minhash_dedup"]})
),
edges AS (
  SELECT id_a AS x, id_b AS y FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT x AS id FROM edges),
reach(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.x, r.lbl FROM edges e JOIN reach r ON r.id = e.y
),
clus AS (SELECT id AS doc_id, min(lbl) AS cluster FROM reach GROUP BY id),
ranked AS (
  SELECT c.doc_id, c.cluster, d.n_chars,
         row_number() OVER (PARTITION BY c.cluster
                            ORDER BY d.n_chars DESC, c.doc_id) AS r
  FROM clus c JOIN documents d USING (doc_id)
)
SELECT doc_id, cluster, n_chars, (r = 1) AS keep FROM ranked
"""

    sql["winnow_fingerprint_dups"] = f"""
WITH fps AS ({winnow_fingerprints_sql(toks)}),
hot AS (SELECT fp FROM fps GROUP BY 1 HAVING COUNT(*) > 100),
f AS (SELECT * FROM fps ANTI JOIN hot USING (fp))
SELECT l.id AS id_a, r.id AS id_b, COUNT(*) AS shared
FROM f l JOIN f r ON l.fp = r.fp AND l.id < r.id
GROUP BY 1, 2 HAVING COUNT(*) >= 5
"""

    sql["bm25_indexed_engine"] = _bm25_indexed_sql()
    sql["pit_search_isolation"] = _bm25_indexed_sql(
        where="WHERE doc_id % 10 = 0"
    )
    sql["ngram_logprob_score"] = """
WITH ref AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
grams AS (
  SELECT substring(text, i, 3) AS gram
  FROM ref, LATERAL (
    SELECT unnest(generate_series(1, len(text) - 2)) AS i
  ) s
  WHERE len(text) >= 3
),
model AS (SELECT gram, count(*)::DOUBLE AS c FROM grams GROUP BY 1),
st AS (SELECT sum(c) AS n, count(*)::DOUBLE AS v FROM model),
cand AS (
  SELECT d.doc_id, substring(d.text, i, 3) AS gram
  FROM documents d, LATERAL (
    SELECT unnest(generate_series(1, len(d.text) - 2)) AS i
  ) s
  WHERE len(d.text) >= 3
),
sc AS (
  SELECT c2.doc_id,
         avg(ln((coalesce(m.c, 0) + 1) / (st.n + st.v))) AS lp
  FROM cand c2
  LEFT JOIN model m USING (gram)
  CROSS JOIN st
  GROUP BY 1
)
SELECT d.doc_id, round(sc.lp, 6) AS lp
FROM documents d LEFT JOIN sc USING (doc_id)
"""
    sql["c4_quality_filter"] = """
WITH t AS (
  SELECT doc_id, text AS raw,
         regexp_replace(text, ' a ', chr(46) || chr(10), 'g') AS tx
  FROM documents
),
l AS (
  SELECT doc_id, raw, tx,
         unnest(string_split(tx, chr(10))) AS line
  FROM t
),
lk AS (
  SELECT doc_id, line,
    CASE WHEN right(trim(line), 1) IN ('.', '!', '?', '"')
         AND len(regexp_split_to_array(trim(line), '\\s+')) >= 3
         AND NOT contains(lower(trim(line)), 'customer')
    THEN 1 ELSE 0 END AS ok
  FROM l
),
agg AS (
  SELECT doc_id,
         count(*) AS n_lines,
         sum(ok) AS n_kept,
         coalesce(sum(CASE WHEN ok = 1 THEN len(line) END), 0)
           + greatest(sum(ok) - 1, 0) AS kept_chars
  FROM lk GROUP BY 1
)
SELECT a.doc_id,
       a.n_lines::BIGINT AS n_lines,
       a.n_kept::BIGINT AS n_kept,
       a.kept_chars::BIGINT AS kept_chars,
       contains(lower(t.tx), 'spark group') AS has_banned,
       (a.n_kept >= 3 AND NOT contains(lower(t.tx), 'spark group')
        AND NOT contains(t.tx, '{')) AS keep
FROM agg a JOIN t USING (doc_id)
"""
    sql["dsl_ks_correlation"] = f"""
WITH mtok AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
  ) WHERE term IN ('data', 'merge')
),
hist AS (
  SELECT CAST(floor(d.n_chars / 100.0) * 100 AS BIGINT) AS k,
         count(*)::DOUBLE AS cnt
  FROM documents d JOIN mtok USING (doc_id)
  GROUP BY 1
),
nbt AS (SELECT count(*)::DOUBLE AS nb, sum(cnt) AS n FROM hist),
seq AS (
  SELECT k, cnt,
    row_number() OVER (ORDER BY k) AS rn,
    sum(cnt) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS ccnt
  FROM hist
),
dd AS (
  SELECT s.rn, s.cnt, s.ccnt / b.n AS ecdf,
    sum(1.0 / b.nb) OVER (ORDER BY s.rn ROWS BETWEEN UNBOUNDED
                          PRECEDING AND CURRENT ROW) AS cdf,
    b.n AS n
  FROM seq s CROSS JOIN nbt b
),
kstat AS (
  SELECT max(abs(ecdf - cdf)) AS d_two,
         max(cdf - ecdf) AS d_less,
         max(ecdf - cdf) AS d_greater,
         max(n) AS n
  FROM dd
),
kp AS (
  SELECT d_two, d_less, d_greater,
    least(1.0, greatest(0.0, 2 * list_sum(list_transform(
      generate_series(1, 100),
      j -> power(-1.0, j - 1)
           * exp(-2.0 * j * j * n * d_two * d_two))))) AS p_two,
    exp(-2.0 * n * d_less * d_less) AS p_less,
    exp(-2.0 * n * d_greater * d_greater) AS p_greater
  FROM kstat
),
crow AS (SELECT corr(cnt, rn * 1.0) AS r FROM seq)
SELECT 'ks_d' AS scope, 'two_sided' AS key, round(d_two, 6) AS val FROM kp
UNION ALL SELECT 'ks_d', 'less', round(d_less, 6) FROM kp
UNION ALL SELECT 'ks_d', 'greater', round(d_greater, 6) FROM kp
UNION ALL SELECT 'ks_p', 'two_sided', round(p_two, 6) FROM kp
UNION ALL SELECT 'ks_p', 'less', round(p_less, 6) FROM kp
UNION ALL SELECT 'ks_p', 'greater', round(p_greater, 6) FROM kp
UNION ALL SELECT 'corr', '', round(r, 6) FROM crow
UNION ALL SELECT 'count', CAST(k AS VARCHAR), cnt FROM hist
"""
    sql["dsl_moving_avg"] = f"""
WITH mtok AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
  ) WHERE term IN ('data', 'merge')
),
hist AS (
  SELECT CAST(floor(d.n_chars / 100.0) * 100 AS BIGINT) AS k,
         count(*)::DOUBLE AS cnt
  FROM documents d JOIN mtok USING (doc_id)
  GROUP BY 1
),
win AS (
  SELECT k, cnt,
    list(cnt) OVER (ORDER BY k ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS l3,
    list(cnt) OVER (ORDER BY k ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS l4
  FROM hist
),
calc AS (
  SELECT k, cnt,
    round(list_sum(l3) / len(l3), 6) AS ma_s,
    round(
      list_sum(list_transform(l3, (x, i) -> x * CAST(i AS DOUBLE)))
      / (len(l3) * (len(l3) + 1) / 2.0), 6) AS ma_l,
    round(list_reduce(
      l4, (a, x) -> x * CAST(0.4 AS DOUBLE) + a * CAST(0.6 AS DOUBLE)
    ), 6) AS ma_e
  FROM win
)
SELECT 'count' AS agg, CAST(k AS VARCHAR) AS key, cnt AS val FROM calc
UNION ALL SELECT 'ma_s', CAST(k AS VARCHAR), ma_s FROM calc
UNION ALL SELECT 'ma_l', CAST(k AS VARCHAR), ma_l FROM calc
UNION ALL SELECT 'ma_e', CAST(k AS VARCHAR), ma_e FROM calc
"""
    # reindex must be result-identical to the source index, so it
    # shares the source's oracle verbatim
    sql["reindex_engine"] = _bm25_indexed_sql()

    # ann_lsh: the seeded hyperplanes are literal doubles shared by the
    # Spark plan and this SQL, so buckets/probes/rerank reproduce 1:1
    from data_prepper_spark.datapipe.similarity import hyperplanes

    _planes = hyperplanes(64, 6)
    _plits = [
        "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in _planes
    ]
    _bucket = " + ".join(
        f"CASE WHEN list_dot_product(e, {_plits[i]}) >= 0 "
        f"THEN {1 << (6 - 1 - i)} ELSE 0 END"
        for i in range(6)
    )
    _probe_list = "[b0, " + ", ".join(
        f"xor(b0, {1 << i})" for i in range(6)
    ) + "]"
    sql["ann_lsh"] = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
b AS (SELECT vec_id, e, ({_bucket}) AS bucket FROM v),
q AS (SELECT vec_id AS query_id, e AS qe, bucket AS b0 FROM b WHERE vec_id < 3),
probes AS (
  SELECT query_id, qe, unnest({_probe_list}) AS bucket FROM q
),
cand AS (
  SELECT DISTINCT query_id, qe, b.vec_id, b.e
  FROM probes JOIN b USING (bucket)
),
scored AS (
  SELECT query_id, vec_id,
         list_dot_product(e, qe)
           / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe)))
           AS cosine
  FROM cand
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, round(cosine, 6) AS cosine_r
FROM ranked WHERE rank <= 10
"""

    # ann_ivf: centroid seeds are table rows (vec_id < 8), so DuckDB
    # rebuilds the identical centroid set; sim formula + tie-breaks
    # (sim DESC, cid ASC) mirror _argmax_centroid exactly
    _ivf_sim = (
        "list_dot_product({v}, {c}) / "
        "(sqrt(list_dot_product({v}, {v})) * sqrt(list_dot_product({c}, {c})))"
    )
    sql["ann_ivf"] = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
vsim AS (
  SELECT v.vec_id, v.e, c.cid,
         {_ivf_sim.format(v="v.e", c="c.ce")} AS sim
  FROM v CROSS JOIN cent c
),
vb AS (
  SELECT vec_id, e, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, cid) AS rn
    FROM vsim
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 3),
qsim AS (
  SELECT q.query_id, q.qe, c.cid,
         {_ivf_sim.format(v="q.qe", c="c.ce")} AS sim
  FROM q CROSS JOIN cent c
),
qprobe AS (
  SELECT query_id, qe, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, cid) AS rn
    FROM qsim
  ) WHERE rn <= 2
),
cand AS (SELECT query_id, qe, vb.vec_id, vb.e FROM qprobe JOIN vb USING (cid)),
scored AS (
  SELECT query_id, vec_id,
         {_ivf_sim.format(v="e", c="qe")} AS cosine
  FROM cand
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, round(cosine, 6) AS cosine_r
FROM ranked WHERE rank <= 10
"""

    # HNSW-lite: the oracle rebuilds the layered graph (integer-hash
    # levels, exact per-level kNN edges) and replays the fixed beam
    # schedule hop by hop — generated as a CTE chain so hop count and
    # parameters stay pinned to the engine's (m_edges=8, beam=16,
    # hops 2,1,0,0).
    _h_lvl = (
        "(CASE WHEN (vec_id*2654435761)%4294967296 % 4 = 0 THEN 1 ELSE 0 END"
        " + CASE WHEN (vec_id*2654435761)%4294967296 % 16 = 0 THEN 1 ELSE 0 END"
        " + CASE WHEN (vec_id*2654435761)%4294967296 % 64 = 0 THEN 1 ELSE 0 END)"
    )
    _h_parts = [
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e"
        " FROM embeddings),",
        f"lv AS (SELECT vec_id, e, {_h_lvl} AS lvl FROM v),",
        "q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 3),",
    ]
    for _l in (2, 1, 0):
        _h_parts.append(
            f"""e{_l} AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY {_ivf_sim.format(v="a.e", c="b.e")} DESC, b.vec_id) AS rn
    FROM lv a JOIN lv b
      ON a.lvl >= {_l} AND b.lvl >= {_l} AND a.vec_id <> b.vec_id
  ) WHERE rn <= 8
),"""
        )
    _h_parts.append(
        f"""s0 AS (
  SELECT q.query_id, m.vec_id, {_ivf_sim.format(v="m.e", c="q.qe")} AS c
  FROM q CROSS JOIN (SELECT vec_id, e FROM lv WHERE lvl >= 3) m
),
b0 AS (
  SELECT query_id, vec_id, c FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY c DESC, vec_id) AS rn
    FROM s0
  ) WHERE rn <= 16
),"""
    )
    for _i, _l in enumerate((2, 1, 0, 0), start=1):
        _h_parts.append(
            f"""n{_i} AS (
  SELECT DISTINCT b.query_id, ed.dst AS vec_id
  FROM b{_i - 1} b JOIN e{_l} ed ON ed.src = b.vec_id
),
s{_i} AS (
  SELECT n.query_id, n.vec_id, {_ivf_sim.format(v="v.e", c="q.qe")} AS c
  FROM n{_i} n JOIN v ON v.vec_id = n.vec_id
  JOIN q ON q.query_id = n.query_id
),
b{_i} AS (
  SELECT query_id, vec_id, c FROM (
    SELECT query_id, vec_id, max(c) AS c FROM (
      SELECT * FROM b{_i - 1} UNION ALL SELECT * FROM s{_i}
    ) GROUP BY 1, 2
  ) QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY c DESC, vec_id) <= 16
),"""
        )
    _h_parts.append(
        """ranked_h AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY c DESC, vec_id) AS rank
  FROM b4
)
SELECT query_id, rank, vec_id, round(c, 6) AS cosine_r
FROM ranked_h WHERE rank <= 10"""
    )
    sql["ann_hnsw"] = "\n".join(_h_parts)

    # multimodal: the deterministic fake decode is a byte-histogram of
    # the sha256-hex payload — chars '0'..'9' land in bins 0..9,
    # 'a'..'f' in bins 1..6 (byte % 16), 64 bytes total
    _mm_feats = []
    for j in range(16):
        parts = []
        if j <= 9:
            parts.append(f"len(hex) - len(replace(hex, '{chr(48 + j)}', ''))")
        if 1 <= j <= 6:
            parts.append(f"len(hex) - len(replace(hex, '{chr(96 + j)}', ''))")
        expr = " + ".join(parts) if parts else "0"
        _mm_feats.append(f"round(({expr}) / 64.0, 6)")
    sql["multimodal_features"] = f"""
WITH s AS (
  SELECT CAST(t.range AS BIGINT) AS media_id,
         sha256(CAST(t.range AS VARCHAR)) AS hex,
         CASE CAST(t.range % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS kind
  FROM range(128) t
)
SELECT media_id, kind, CAST(64 AS INT) AS n_bytes,
       CAST(unnest(range(0, 16)) AS INT) AS dim,
       unnest([{", ".join(_mm_feats)}]) AS fval_r
FROM s
"""

    _phr_values = ", ".join(
        f"(CAST({i} AS BIGINT), '{p}')" for i, p in enumerate(PHRASE_QUERIES)
    )
    sql["phrase_search_engine"] = f"""
WITH tl AS (SELECT doc_id, {tokenize_sql('text')} AS tl FROM documents),
tok AS (SELECT doc_id, unnest(tl) AS term FROM tl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qraw(query_id, phrase) AS (VALUES {_phr_values}),
qn AS (SELECT query_id,
              array_to_string({tokenize_sql('phrase')}, ' ') AS pjoin
       FROM qraw),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('phrase')}) AS term
      FROM qraw),
verified AS (
  SELECT qn.query_id, t.doc_id
  FROM qn JOIN tl t
    ON instr(' ' || array_to_string(t.tl, ' ') || ' ',
             ' ' || qn.pjoin || ' ') > 0
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
tot AS (SELECT query_id, doc_id, sum(part) AS score FROM scored GROUP BY 1, 2),
vtot AS (SELECT tot.* FROM tot JOIN verified USING (query_id, doc_id)),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM vtot
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    _fac_values = ", ".join(
        f"(CAST({i} AS BIGINT), '{t}')" for i, t in enumerate(BM25_QUERY_TERMS)
    )
    sql["faceted_search_engine"] = f"""
WITH qraw(query_id, query) AS (VALUES {_fac_values}),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, lang, unnest({tokenize_sql('text')}) AS term FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.lang
  FROM q JOIN tok USING (term)
),
fac AS (
  SELECT query_id, lang AS facet, count(*) AS doc_count
  FROM matched GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, facet, doc_count,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY doc_count DESC, facet) AS bucket_rank
  FROM fac
)
SELECT query_id, bucket_rank, facet, doc_count
FROM ranked WHERE bucket_rank <= 10
"""

    sql["significant_terms_engine"] = f"""
WITH qraw(query_id, query) AS (VALUES {_fac_values}),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT DISTINCT doc_id, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
matched AS (SELECT DISTINCT q.query_id, tok.doc_id FROM q JOIN tok USING (term)),
fgsz AS (SELECT query_id, count(*)::DOUBLE AS fg_size FROM matched GROUP BY 1),
fg AS (
  SELECT m.query_id, t.term, count(*) AS fg_count
  FROM matched m JOIN tok t USING (doc_id)
  GROUP BY 1, 2
),
bg AS (SELECT term, count(*)::DOUBLE AS bg_count FROM tok GROUP BY 1),
scored AS (
  SELECT fg.query_id, fg.term, fg.fg_count,
         (fg.fg_count / s.fg_size - bg.bg_count / n.n_docs)
           * ((fg.fg_count / s.fg_size) / (bg.bg_count / n.n_docs)) AS score,
         fg.fg_count / s.fg_size AS fg_pct,
         bg.bg_count / n.n_docs AS bg_pct
  FROM fg
  JOIN bg USING (term)
  JOIN fgsz s USING (query_id)
  CROSS JOIN n
  WHERE fg.fg_count >= 3
),
ranked AS (
  SELECT query_id, term, fg_count, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, term) AS bucket_rank
  FROM scored WHERE fg_pct > bg_pct
)
SELECT query_id, bucket_rank, term, fg_count, round(score, 6) AS score_r
FROM ranked WHERE bucket_rank <= 10
"""

    _expand_bm25 = f"""
tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
q AS (
  SELECT query_id, term, df FROM (
    SELECT p.query_id, d.term, d.df,
           row_number() OVER (PARTITION BY p.query_id
                              ORDER BY d.df DESC, d.term) AS x
    FROM pats p JOIN dfreq d ON {{cond}}
  ) WHERE x <= 50
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - q.df + 0.5) / (q.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
tot AS (SELECT query_id, doc_id, sum(part) AS score FROM scored GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM tot
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""
    _pfx_values = ", ".join(
        f"(CAST({i} AS BIGINT), '{p}')" for i, p in enumerate(PREFIX_QUERIES)
    )
    sql["prefix_search_engine"] = (
        f"WITH pats(query_id, pattern) AS (VALUES {_pfx_values}),\n"
        + _expand_bm25.format(cond="starts_with(d.term, p.pattern)")
    )
    _fz_values = ", ".join(
        f"(CAST({i} AS BIGINT), '{p}')" for i, p in enumerate(FUZZY_QUERIES)
    )
    sql["fuzzy_search_engine"] = (
        f"WITH pats(query_id, pattern) AS (VALUES {_fz_values}),\n"
        + _expand_bm25.format(
            cond="abs(length(d.term) - length(p.pattern)) <= 1 "
            "AND levenshtein(d.term, p.pattern) <= 1"
        )
    )
    _ph_vals = ", ".join(
        f"(CAST({i} AS BIGINT), '{p}')" for i, p in enumerate(PHRASE_QUERIES)
    )
    _sl_vals = ", ".join(
        f"(CAST({i} AS BIGINT), '{p.split()[0]}', '{p.split()[1]}')"
        for i, p in enumerate(SLOPPY_PHRASES)
    )
    sql["sloppy_phrase_engine"] = f"""
WITH qraw(query_id, t1, t2) AS (VALUES {_sl_vals}),
base AS (SELECT doc_id, {tokenize_sql('text')} AS toks FROM documents),
tok AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(range(len(toks))) AS pos
  FROM base
),
pairs AS (
  SELECT q.query_id, a.doc_id,
         CAST(MIN(abs(a.pos - b.pos + 1)) AS INT) AS min_cost
  FROM qraw q
  JOIN tok a ON a.term = q.t1
  JOIN tok b ON b.term = q.t2 AND b.doc_id = a.doc_id
  GROUP BY 1, 2
)
SELECT query_id, doc_id, min_cost FROM pairs WHERE min_cost <= 2
"""
    sql["phrase_positional_engine"] = f"""
WITH qraw(query_id, phrase) AS (VALUES {_ph_vals}),
q AS (SELECT query_id, {tokenize_sql('phrase')} AS pt FROM qraw),
base AS (SELECT doc_id, {tokenize_sql('text')} AS toks FROM documents),
occ AS (
  SELECT q.query_id, b.doc_id,
         len(list_filter(range(1, len(b.toks) - len(q.pt) + 2),
             i -> list_slice(b.toks, i, i + len(q.pt) - 1) = q.pt))
           AS phrase_freq
  FROM q CROSS JOIN base b
  WHERE len(b.toks) >= len(q.pt)
),
ranked AS (
  SELECT query_id, doc_id, phrase_freq,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY phrase_freq DESC, doc_id) AS rank
  FROM occ WHERE phrase_freq > 0
)
SELECT query_id, rank, doc_id, CAST(phrase_freq AS INT) AS phrase_freq
FROM ranked WHERE rank <= 10
"""

    sql["cardinality_facet_engine"] = f"""
WITH qraw(query_id, query) AS (VALUES {_qid_vals}),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term FROM qraw),
tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
matched AS (SELECT DISTINCT q.query_id, tok.doc_id FROM q JOIN tok USING (term))
SELECT m.query_id, CAST(count(DISTINCT d.lang) AS BIGINT) AS value_count
FROM matched m JOIN documents d USING (doc_id)
GROUP BY 1
"""

    sql["percentiles_facet_engine"] = f"""
WITH qraw(query_id, query) AS (VALUES {_qid_vals}),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term FROM qraw),
tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
matched AS (SELECT DISTINCT q.query_id, tok.doc_id FROM q JOIN tok USING (term)),
vals AS (
  SELECT m.query_id, CAST(d.n_chars AS DOUBLE) AS v
  FROM matched m JOIN documents d USING (doc_id)
)
SELECT query_id,
       round(quantile_cont(v, 0.25), 6) AS p25,
       round(quantile_cont(v, 0.50), 6) AS p50,
       round(quantile_cont(v, 0.75), 6) AS p75,
       round(quantile_cont(v, 0.99), 6) AS p99
FROM vals GROUP BY 1
"""

    sql["extended_stats_engine"] = f"""
WITH qraw(query_id, query) AS (VALUES {_qid_vals}),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term FROM qraw),
tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
matched AS (SELECT DISTINCT q.query_id, tok.doc_id FROM q JOIN tok USING (term)),
vals AS (
  SELECT m.query_id, CAST(d.n_chars AS BIGINT) AS v
  FROM matched m JOIN documents d USING (doc_id)
),
agg AS (
  SELECT query_id, count(*) AS n,
         min(v) AS min_v, max(v) AS max_v,
         CAST(sum(v) AS BIGINT) AS sum_v,
         CAST(sum(v * v) AS BIGINT) AS sum_sq
  FROM vals GROUP BY 1
)
SELECT query_id, n, min_v, max_v, sum_v,
       round(CAST(sum_v AS DOUBLE) / CAST(n AS DOUBLE), 6) AS avg_r,
       round(CAST(n * sum_sq - sum_v * sum_v AS DOUBLE)
             / CAST(n * n AS DOUBLE), 6) AS var_r,
       round(sqrt(CAST(n * sum_sq - sum_v * sum_v AS DOUBLE)
                  / CAST(n * n AS DOUBLE)), 6) AS std_r
FROM agg
"""

    sql["collapse_search_engine"] = f"""
WITH qraw(query_id, query) AS (VALUES {_qid_vals}),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term FROM qraw),
tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q JOIN dfreq d USING (term) JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
),
tot AS (SELECT query_id, doc_id, sum(part) AS score FROM scored GROUP BY 1, 2),
attributed AS (
  SELECT t.query_id, t.doc_id, t.score, d.lang
  FROM tot t JOIN documents d USING (doc_id)
),
best AS (
  SELECT query_id, doc_id, score, lang,
         row_number() OVER (PARTITION BY query_id, lang
                            ORDER BY score DESC, doc_id) AS g
  FROM attributed
),
ranked AS (
  SELECT query_id, lang, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM best WHERE g = 1
)
SELECT query_id, rank, lang, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 5
"""

    sql["top_hits_engine"] = f"""
WITH qraw(query_id, query) AS (VALUES {_qid_vals}),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term FROM qraw),
tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q JOIN dfreq d USING (term) JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
),
tot AS (SELECT query_id, doc_id, sum(part) AS score FROM scored GROUP BY 1, 2),
attributed AS (
  SELECT t.query_id, t.doc_id, t.score, d.lang
  FROM tot t JOIN documents d USING (doc_id)
),
grouped AS (
  SELECT query_id, lang, doc_id, score,
         count(*) OVER (PARTITION BY query_id, lang) AS doc_count,
         row_number() OVER (PARTITION BY query_id, lang
                            ORDER BY score DESC, doc_id) AS hit_rank
  FROM attributed
)
SELECT query_id, lang, CAST(doc_count AS BIGINT) AS doc_count,
       hit_rank, doc_id, round(score, 6) AS score_r
FROM grouped WHERE hit_rank <= 2
"""

    _syn_vals = ", ".join(f"('{a}', '{b}')" for a, b in SYNONYMS)
    sql["synonym_search_engine"] = f"""
WITH qraw(query_id, query) AS (VALUES {_qid_vals}),
syn(term, synonym) AS (VALUES {_syn_vals}),
qt AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term FROM qraw),
q AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, term FROM qt
    UNION ALL
    SELECT qt.query_id, s.synonym AS term FROM qt JOIN syn s USING (term)
  )
),
toks AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1) / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
tot AS (SELECT query_id, doc_id, sum(part) AS score FROM scored GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM tot
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    _stem = (
        "CASE WHEN length({t}) <= 3 OR NOT {t} LIKE '%s' "
        "OR {t} LIKE '%ss' OR {t} LIKE '%us' OR {t} LIKE '%is' "
        "THEN {t} ELSE substr({t}, 1, length({t}) - 1) END"
    )
    sql["bm25_stemmed_analyzer"] = f"""
WITH raw AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS t FROM documents
),
toks AS (SELECT doc_id, {_stem.format(t='t')} AS term FROM raw),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qraw(query) AS (VALUES {", ".join(f"('{t}')" for t in BM25_QUERY_TERMS)}),
qr AS (SELECT DISTINCT query, unnest({tokenize_sql('query')}) AS t FROM qraw),
q AS (SELECT DISTINCT query, {_stem.format(t='t')} AS term FROM qr),
scored AS (
  SELECT q.query, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1) / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
tot AS (SELECT query, doc_id, sum(part) AS score FROM scored GROUP BY 1, 2),
ranked AS (
  SELECT query, doc_id, score,
         row_number() OVER (PARTITION BY query ORDER BY score DESC, doc_id) AS rank
  FROM tot
)
SELECT query, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    _stem_qid_vals = ", ".join(
        f"(CAST({i} AS BIGINT), '{t}')" for i, t in enumerate(BM25_QUERY_TERMS)
    )
    sql["bm25_stemmed_engine"] = f"""
WITH raw AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS t FROM documents
),
toks AS (SELECT doc_id, {_stem.format(t='t')} AS term FROM raw),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qraw(query_id, query) AS (VALUES {_stem_qid_vals}),
qr AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS t FROM qraw),
q AS (SELECT DISTINCT query_id, {_stem.format(t='t')} AS term FROM qr),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1) / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
tot AS (SELECT query_id, doc_id, sum(part) AS score FROM scored GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM tot
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    _sw_sql = ", ".join(f"'{w}'" for w in ANALYZER_STOPWORDS)
    sql["bm25_stopword_analyzer"] = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter({tokenize_sql('text')},
                            t -> t NOT IN ({_sw_sql}))) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qraw(query) AS (VALUES {", ".join(f"('{t}')" for t in BM25_QUERY_TERMS)}),
q AS (
  SELECT DISTINCT query, unnest(list_filter({tokenize_sql('query')},
                                 t -> t NOT IN ({_sw_sql}))) AS term
  FROM qraw
),
scored AS (
  SELECT q.query, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1) / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
tot AS (SELECT query, doc_id, sum(part) AS score FROM scored GROUP BY 1, 2),
ranked AS (
  SELECT query, doc_id, score,
         row_number() OVER (PARTITION BY query ORDER BY score DESC, doc_id) AS rank
  FROM tot
)
SELECT query, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    # BM25F: per-field normalized tf folded BEFORE saturation, ONE
    # combined idf per term (df over docs matching in ANY field).
    # dl/avgdl derive from len(tokenize(...)) over the same row sets
    # the engine's fielded corpus keeps (body: nonempty raw text,
    # title: >=1 token), so zero-token docs cannot skew parity.
    sql["bm25f_engine"] = f"""
WITH qraw(query_id, query) AS (VALUES {_qid_vals}),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tokb AS (SELECT doc_id, unnest({tokenize_sql('text')}) AS term
         FROM documents),
tokt AS (SELECT doc_id, unnest(list_slice({tokenize_sql('text')}, 1, 10))
                AS term
         FROM documents),
tfb AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokb GROUP BY 1, 2),
tft AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokt GROUP BY 1, 2),
dlb AS (SELECT doc_id, len({tokenize_sql('text')})::DOUBLE AS dl
        FROM documents WHERE length(trim(text)) > 0),
dlt AS (SELECT doc_id, least(len({tokenize_sql('text')}), 10)::DOUBLE AS dl
        FROM documents WHERE len({tokenize_sql('text')}) > 0),
ab AS (SELECT avg(dl) AS a FROM dlb),
att AS (SELECT avg(dl) AS a FROM dlt),
nb AS (SELECT count(*)::DOUBLE AS n FROM (
         SELECT doc_id FROM dlb UNION SELECT doc_id FROM dlt)),
pf AS (
  SELECT q.query_id, q.term, t.doc_id,
         1.0 * t.tf / (1 - {B} + {B} * d.dl / ab.a) AS tfw
  FROM q JOIN tfb t ON t.term = q.term
  JOIN dlb d ON d.doc_id = t.doc_id CROSS JOIN ab
  UNION ALL
  SELECT q.query_id, q.term, t.doc_id,
         2.0 * t.tf / (1 - {B} + {B} * d.dl / att.a) AS tfw
  FROM q JOIN tft t ON t.term = q.term
  JOIN dlt d ON d.doc_id = t.doc_id CROSS JOIN att
),
pd_ AS (SELECT query_id, term, doc_id, sum(tfw) AS tft
        FROM pf GROUP BY 1, 2, 3),
scored AS (
  SELECT p.query_id, p.doc_id,
         sum(ln(1 + (nb.n - d.dfc + 0.5) / (d.dfc + 0.5))
             * p.tft * ({K1} + 1) / ({K1} + p.tft)) AS score
  FROM pd_ p
  JOIN (SELECT query_id, term, count(*)::DOUBLE AS dfc
        FROM pd_ GROUP BY 1, 2) d USING (query_id, term)
  CROSS JOIN nb
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    sql["multi_match_fields"] = f"""
WITH qraw(query_id, query) AS (VALUES {_qid_vals}),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term FROM qraw),
tokb AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tokt AS (
  SELECT doc_id, unnest(list_slice({tokenize_sql('text')}, 1, 10)) AS term
  FROM documents
),
tfb AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokb GROUP BY 1, 2),
dlb AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tokb GROUP BY 1),
stb AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dlb),
dfb AS (SELECT term, count(*)::DOUBLE AS df FROM tfb GROUP BY 1),
tft AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokt GROUP BY 1, 2),
dlt AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tokt GROUP BY 1),
stt AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dlt),
dft AS (SELECT term, count(*)::DOUBLE AS df FROM tft GROUP BY 1),
sb AS (
  SELECT q.query_id, tf.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * ({K1} + 1)
             / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS score
  FROM q JOIN dfb d USING (term) JOIN tfb tf ON tf.term = q.term
  JOIN dlb dl ON dl.doc_id = tf.doc_id CROSS JOIN stb s
  GROUP BY 1, 2
),
st AS (
  SELECT q.query_id, tf.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * ({K1} + 1)
             / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS score
  FROM q JOIN dft d USING (term) JOIN tft tf ON tf.term = q.term
  JOIN dlt dl ON dl.doc_id = tf.doc_id CROSS JOIN stt s
  GROUP BY 1, 2
),
comb AS (
  SELECT coalesce(sb.query_id, st.query_id) AS query_id,
         coalesce(sb.doc_id, st.doc_id) AS doc_id,
         {{combine}} AS score
  FROM sb FULL OUTER JOIN st
    ON sb.query_id = st.query_id AND sb.doc_id = st.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM comb
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""
    # most_fields: boosted per-field scores SUM (direct-executor entry)
    _mm_template = sql["multi_match_fields"]
    sql["multi_match_fields"] = _mm_template.format(
        combine="coalesce(sb.score * 1.0, 0.0)"
                " + coalesce(st.score * 2.0, 0.0)"
    )
    # best_fields (the DSL-routed entry, OpenSearch's default type):
    # per-doc MAX of the boosted per-field scores — Lucene dis_max
    # with tie_breaker=0
    sql["dsl_multi_match"] = _mm_template.format(
        combine="greatest(coalesce(sb.score * 1.0, 0.0),"
                " coalesce(st.score * 2.0, 0.0))"
    )
    # combined_fields routes to the SAME BM25F executor bm25f_engine
    # verifies — identical ranking contract, identical oracle
    sql["dsl_combined_fields"] = sql["bm25f_engine"]

    _wc_values = ", ".join(
        f"(CAST({i} AS BIGINT), '{p}')" for i, p in enumerate(WILDCARD_QUERIES)
    )
    # canonical terms are [a-z0-9]+ so the LIKE metachars %/_ cannot
    # occur in patterns; a bare translate matches the engine's escape
    sql["wildcard_search_engine"] = (
        f"WITH pats(query_id, pattern) AS (VALUES {_wc_values}),\n"
        + _expand_bm25.format(
            cond="d.term LIKE replace(replace(p.pattern, '*', '%'), '?', '_')"
        )
    )
    _rx_values = ", ".join(
        f"(CAST({i} AS BIGINT), '{p}')" for i, p in enumerate(REGEXP_QUERIES)
    )
    # regexp_full_match is anchored — the same whole-term semantics
    # the engine applies via ^(?:pat)$ rlike; patterns stay inside
    # the RE2/Java-regex common subset
    sql["regexp_search_engine"] = (
        f"WITH pats(query_id, pattern) AS (VALUES {_rx_values}),\n"
        + _expand_bm25.format(cond="regexp_full_match(d.term, p.pattern)")
    )

    def _bool_oracle_sql(triples: list[tuple[str, str, str]]) -> str:
        values = ", ".join(
            f"(CAST({i} AS BIGINT), {role}, '{clause}')"
            for i, (m, s, n) in enumerate(triples)
            for role, clause in ((0, m), (1, s), (2, n))
        )
        return _BOOL_SQL_TEMPLATE.format(values=values)

    sql["boolean_search_engine"] = _bool_oracle_sql(BOOL_QUERIES)
    # the DSL front end routes to the SAME executor, so the same
    # oracle must hold bit-for-bit
    sql["dsl_bool_search"] = _bool_oracle_sql(BOOL_QUERIES)

    # NESTED bool trees (booltree.py): per-leaf BM25 scores computed
    # once (ls), then each body's set algebra replayed literally —
    # q0: must(leaf0) ∧ range-filter(n_chars∈[100,400)) with optional
    #     nested-should score (leaf1 minus leaf2 docs);
    # q1: should-only msm=2 over leaves 3,4,5 (≥2 distinct clauses);
    # q2: nested should-bool (leaves 6∨7, scores sum) ∧ unscored
    #     term-filter lang='en'.
    sql["dsl_nested_bool_search"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
leafraw(leaf_id, txt) AS (VALUES
  (0, 'data query'), (1, 'spark'), (2, 'merge'),
  (3, 'spark'), (4, 'data'), (5, 'merge'),
  (6, 'filter'), (7, 'sort')),
leafq AS (SELECT DISTINCT leaf_id, unnest({tokenize_sql('txt')}) AS term
          FROM leafraw),
ls AS (
  SELECT lq.leaf_id, tf.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * ({K1} + 1)
             / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS score
  FROM leafq lq
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = lq.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
q0 AS (
  SELECT CAST(0 AS BIGINT) AS query_id, m.doc_id,
         m.score + coalesce(sub.score, 0) AS score
  FROM (SELECT doc_id, score FROM ls WHERE leaf_id = 0) m
  JOIN (SELECT doc_id FROM documents
        WHERE n_chars >= 100 AND n_chars < 400) f USING (doc_id)
  LEFT JOIN (
    SELECT doc_id, score FROM ls WHERE leaf_id = 1
      AND doc_id NOT IN (SELECT doc_id FROM ls WHERE leaf_id = 2)
  ) sub USING (doc_id)
),
q1 AS (
  SELECT CAST(1 AS BIGINT) AS query_id, doc_id, sum(score) AS score
  FROM ls WHERE leaf_id IN (3, 4, 5)
  GROUP BY 1, 2
  HAVING count(DISTINCT leaf_id) >= 2
),
q2 AS (
  SELECT CAST(2 AS BIGINT) AS query_id, g.doc_id, g.score
  FROM (SELECT doc_id, sum(score) AS score FROM ls
        WHERE leaf_id IN (6, 7) GROUP BY 1) g
  JOIN (SELECT doc_id FROM documents WHERE lang = 'en') f USING (doc_id)
),
allq AS (
  SELECT * FROM q0 UNION ALL SELECT * FROM q1 UNION ALL SELECT * FROM q2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM allq
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    # filters/missing aggs: disjunctive match set + bucket counts
    sql["dsl_filters_missing_aggs"] = f"""
WITH qraw(query) AS (VALUES ('data merge')),
q AS (SELECT DISTINCT unnest({tokenize_sql('query')}) AS term FROM qraw),
tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
m AS (SELECT DISTINCT tok.doc_id FROM q JOIN tok USING (term)),
md AS (
  SELECT d.doc_id, d.lang, d.n_chars FROM documents d JOIN m USING (doc_id)
)
SELECT 'filters' AS agg, 'en' AS bucket,
       count(*) FILTER (WHERE lang = 'en') AS doc_count FROM md
UNION ALL
SELECT 'filters', 'short', count(*) FILTER (WHERE n_chars < 300) FROM md
UNION ALL
SELECT 'filters', 'none', count(*) FILTER (WHERE lang = 'zz-none') FROM md
UNION ALL
SELECT 'missing', 'nolang', count(*) FILTER (WHERE lang IS NULL) FROM md
"""

    # match_phrase_prefix: expansion cap in term order, conjunctive
    # fixed + >=1 expansion candidates, adjacency instr, BM25 sum
    sql["dsl_phrase_prefix_engine"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
exp AS (SELECT term FROM dfreq WHERE term LIKE 'gro%'
        ORDER BY term LIMIT 10),
qterm AS (
  SELECT 'merge' AS term, 1 AS is_fixed
  UNION ALL SELECT term, 0 FROM exp
),
ls AS (
  SELECT tf.doc_id, q.is_fixed,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM qterm q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
agg AS (
  SELECT doc_id, sum(part) AS score
  FROM ls GROUP BY 1
  HAVING sum(is_fixed) = 1 AND sum(1 - is_fixed) >= 1
),
adj AS (
  SELECT doc_id FROM documents
  WHERE instr(
    ' ' || array_to_string({tokenize_sql('text')}, ' ') || ' ',
    ' merge gro') > 0
),
ranked AS (
  SELECT CAST(0 AS BIGINT) AS query_id, a.doc_id, a.score,
         row_number() OVER (ORDER BY a.score DESC, a.doc_id) AS rank
  FROM agg a JOIN adj USING (doc_id)
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    # boost / dis_max / constant_score: per-leaf BM25 (ls) + each
    # body's score algebra replayed literally
    sql["dsl_boost_dismax"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
leafraw(leaf_id, txt) AS (VALUES
  (0, 'data query'), (1, 'spark'), (2, 'spark'), (3, 'merge')),
leafq AS (SELECT DISTINCT leaf_id, unnest({tokenize_sql('txt')}) AS term
          FROM leafraw),
ls AS (
  SELECT lq.leaf_id, tf.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * ({K1} + 1)
             / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS score
  FROM leafq lq
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = lq.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
q0 AS (
  SELECT CAST(0 AS BIGINT) AS query_id, m.doc_id,
         2.0 * m.score + coalesce(0.5 * sub.score, 0) AS score
  FROM (SELECT doc_id, score FROM ls WHERE leaf_id = 0) m
  LEFT JOIN (SELECT doc_id, score FROM ls WHERE leaf_id = 1) sub
    USING (doc_id)
),
q1 AS (
  SELECT CAST(1 AS BIGINT) AS query_id, doc_id,
         max(score) + 0.3 * (sum(score) - max(score)) AS score
  FROM ls WHERE leaf_id IN (2, 3)
  GROUP BY 1, 2
),
q2 AS (
  SELECT CAST(2 AS BIGINT) AS query_id, doc_id, 2.0 AS score
  FROM documents WHERE n_chars >= 150 AND n_chars < 450
),
allq AS (
  SELECT * FROM q0 UNION ALL SELECT * FROM q1 UNION ALL SELECT * FROM q2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM allq
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    # explain over a tree query: per-leaf BM25 recompute, then the
    # attribution algebra — boosted must leaf at 2x, dis_max winner
    # (first-child ties) full / loser at tie_breaker, filter leaf 0.0
    sql["dsl_explain_tree"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
leafraw(leaf_id, txt) AS (VALUES
  (0, 'data query'), (1, 'spark'), (2, 'merge'), (3, 'data')),
leafq AS (SELECT DISTINCT leaf_id, unnest({tokenize_sql('txt')}) AS term
          FROM leafraw),
ls AS (
  SELECT lq.leaf_id, tf.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * ({K1} + 1)
             / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS score
  FROM leafq lq
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = lq.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
piv AS (
  SELECT d.doc_id,
         max(CASE WHEN ls.leaf_id = 0 THEN ls.score END) AS ls0,
         max(CASE WHEN ls.leaf_id = 1 THEN ls.score END) AS ls1,
         max(CASE WHEN ls.leaf_id = 2 THEN ls.score END) AS ls2
  FROM documents d JOIN ls ON ls.doc_id = d.doc_id
  WHERE d.n_chars >= 150
  GROUP BY 1
),
m AS (
  SELECT doc_id, ls0, ls1, ls2,
         2.0 * ls0 + coalesce(
           greatest(coalesce(ls1, 0), coalesce(ls2, 0))
           + 0.3 * (coalesce(ls1, 0) + coalesce(ls2, 0)
                    - greatest(coalesce(ls1, 0), coalesce(ls2, 0))),
           0) AS score
  FROM piv WHERE ls0 IS NOT NULL
),
ranked AS (
  SELECT doc_id, ls0, ls1, ls2,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM m
),
top AS (SELECT * FROM ranked WHERE rank <= 10)
SELECT CAST(0 AS BIGINT) AS query_id, doc_id,
       'L0:match:data query' AS leaf,
       round(2.0 * ls0, 6) AS contribution_r
FROM top
UNION ALL
SELECT CAST(0 AS BIGINT), doc_id, 'L1:match:spark',
       round(CASE WHEN ls2 IS NULL OR ls1 >= ls2 THEN ls1
                  ELSE 0.3 * ls1 END, 6)
FROM top WHERE ls1 IS NOT NULL
UNION ALL
SELECT CAST(0 AS BIGINT), doc_id, 'L2:match:merge',
       round(CASE WHEN ls1 IS NULL OR ls2 > ls1 THEN ls2
                  ELSE 0.3 * ls2 END, 6)
FROM top WHERE ls2 IS NOT NULL
UNION ALL
SELECT CAST(0 AS BIGINT), doc_id, 'F0:range:n_chars', 0.0
FROM top
"""

    # misc queries: distance_feature proximity boost, pinned order,
    # painless-lite filter, wrapper == its inner query
    sql["dsl_misc_queries"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
q AS (SELECT DISTINCT unnest({tokenize_sql("'data query'")}) AS term),
ls AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * ({K1} + 1)
             / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS score
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1
),
q0 AS (
  SELECT CAST(0 AS BIGINT) AS query_id, m.doc_id,
         m.score + 2.0 * 50.0 / (50.0 + abs(d.n_chars - 300)) AS score
  FROM ls m JOIN documents d USING (doc_id)
),
pins(doc_id, pos) AS (VALUES (3, 0), (7, 1), (11, 2)),
q1 AS (
  SELECT CAST(1 AS BIGINT), p.doc_id, 1e9 - p.pos
  FROM pins p JOIN documents USING (doc_id)
  UNION ALL
  SELECT CAST(1 AS BIGINT), m.doc_id, m.score
  FROM ls m WHERE m.doc_id NOT IN (SELECT doc_id FROM pins)
),
q2 AS (
  SELECT CAST(2 AS BIGINT), doc_id, 0.0 FROM documents
  WHERE n_chars % 7 = 0
),
q3 AS (SELECT CAST(3 AS BIGINT), doc_id, score FROM q0),
allq AS (
  SELECT * FROM q0 UNION ALL SELECT * FROM q1
  UNION ALL SELECT * FROM q2 UNION ALL SELECT * FROM q3
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM allq
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    # geo aggs: deterministic coords rebuilt, Web-Mercator tile math
    # replayed in SQL; match set = disjunctive 'data merge'
    sql["dsl_geo_aggs"] = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
m AS (SELECT DISTINCT doc_id FROM toks WHERE term IN ('data', 'merge')),
pts AS (
  SELECT d.doc_id,
         CAST(d.n_chars % 120 - 60 + 0.25 AS DOUBLE) AS lat,
         CAST((d.n_chars * 7) % 340 - 170 + 0.5 AS DOUBLE) AS lon
  FROM documents d JOIN m USING (doc_id)
),
cent AS (
  SELECT CAST(0 AS BIGINT) AS query_id, 'geo_centroid' AS part,
         k AS key, v AS value_r
  FROM (
    SELECT round(avg(lat), 6) AS vlat, round(avg(lon), 6) AS vlon,
           count(*)::DOUBLE AS vcnt
    FROM pts
  ), (VALUES ('lat'), ('lon'), ('count')) t(k),
  LATERAL (SELECT CASE k WHEN 'lat' THEN vlat WHEN 'lon' THEN vlon
                         ELSE vcnt END AS v)
),
bnds AS (
  SELECT CAST(0 AS BIGINT) AS query_id, 'geo_bounds' AS part,
         k AS key, v AS value_r
  FROM (
    SELECT round(max(lat), 6) AS vt, round(min(lat), 6) AS vb,
           round(min(lon), 6) AS vl, round(max(lon), 6) AS vr
    FROM pts
  ), (VALUES ('top'), ('bottom'), ('left'), ('right')) t(k),
  LATERAL (SELECT CASE k WHEN 'top' THEN vt WHEN 'bottom' THEN vb
                         WHEN 'left' THEN vl ELSE vr END AS v)
),
tiles AS (
  SELECT doc_id,
         least(floor((lon + 180.0) / 360.0 * 16.0), 15)::BIGINT AS x,
         greatest(least(floor(
           (1.0 - ln(tan(radians(
              greatest(least(lat, 85.05112877980659),
                       -85.05112877980659)))
              + 1.0 / cos(radians(
              greatest(least(lat, 85.05112877980659),
                       -85.05112877980659)))) / pi())
           / 2.0 * 16.0), 15), 0)::BIGINT AS y
  FROM pts
),
grid AS (
  SELECT CAST(0 AS BIGINT) AS query_id, 'geotile_grid' AS part,
         '4/' || CAST(x AS VARCHAR) || '/' || CAST(y AS VARCHAR) AS key,
         count(*)::DOUBLE AS value_r
  FROM tiles GROUP BY 3
)
SELECT * FROM cent UNION ALL SELECT * FROM bnds
UNION ALL SELECT * FROM grid
"""

    # terms_set: covering count over the derived tags list, per-doc
    # minimum clamped to >= 1 (Lucene CoveringQuery)
    sql["dsl_terms_set"] = """
WITH tagged AS (
  SELECT doc_id,
         [lang, 'src_' || source,
          'band' || CAST(n_chars // 100 AS VARCHAR)] AS tags,
         n_chars % 2 + 1 AS required_matches
  FROM documents
)
SELECT CAST(0 AS BIGINT) AS query_id, doc_id
FROM tagged
WHERE len(list_intersect(tags, ['en', 'band1', 'src_src3']))
      >= greatest(required_matches, 1)
"""

    # terms agg over the array column: unnest DISTINCT elements per
    # doc, count, order (doc_count desc, value asc)
    sql["array_terms_agg"] = """
WITH tagged AS (
  SELECT doc_id,
         [lang, 'src_' || source,
          'band' || CAST(n_chars // 100 AS VARCHAR)] AS tags
  FROM documents
),
el AS (
  SELECT DISTINCT doc_id, unnest(tags) AS facet FROM tagged
),
cnt AS (
  SELECT facet, count(*) AS doc_count FROM el GROUP BY 1
)
SELECT CAST(0 AS BIGINT) AS query_id,
       row_number() OVER (ORDER BY doc_count DESC, facet)
         AS bucket_rank,
       facet, doc_count
FROM cnt
"""

    # rescore: final = 0.8 * (must + coalesce(should)) + 1.5 *
    # coalesce(rescore leaf) over the must-matching docs (full
    # window); same per-leaf BM25 CTE shape as dsl_boost_dismax
    sql["dsl_rescore"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
leafraw(leaf_id, txt) AS (VALUES
  (0, 'data query'), (1, 'spark'), (2, 'merge'), (3, 'data')),
leafq AS (SELECT DISTINCT leaf_id, unnest({tokenize_sql('txt')}) AS term
          FROM leafraw),
ls AS (
  SELECT lq.leaf_id, tf.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * ({K1} + 1)
             / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS score
  FROM leafq lq
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = lq.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
final AS (
  SELECT CAST(0 AS BIGINT) AS query_id, m.doc_id,
         0.8 * (m.score + coalesce(sh.score, 0))
           + 1.5 * coalesce(rs.score, 0) AS score
  FROM (SELECT doc_id, score FROM ls WHERE leaf_id = 0) m
  LEFT JOIN (SELECT doc_id, score FROM ls WHERE leaf_id = 1) sh
    USING (doc_id)
  LEFT JOIN (SELECT doc_id, score FROM ls WHERE leaf_id = 2) rs
    USING (doc_id)
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM final
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    # query_string (QS_QUERIES parsed by index/querystring.py):
    # q0 = data AND (query OR merge) -spark — must(data) ∧
    #      should-group(query∨merge, scores sum) ∧ NOT spark;
    # q1 = merge OR (data AND lang:en) — should msm=1 over leaf and
    #      group (dv term filter is unscored, group scores ls(data));
    # q2 = +data query -merge — flat Lucene: required data, optional
    #      query (score-only), prohibited merge.
    # Leaf ids: 0=data, 1=query, 2=merge, 3=spark.
    sql["dsl_query_string"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
leafraw(leaf_id, txt) AS (VALUES
  (0, 'data'), (1, 'query'), (2, 'merge'), (3, 'spark')),
leafq AS (SELECT DISTINCT leaf_id, unnest({tokenize_sql('txt')}) AS term
          FROM leafraw),
ls AS (
  SELECT lq.leaf_id, tf.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * ({K1} + 1)
             / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS score
  FROM leafq lq
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = lq.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
q0 AS (
  SELECT CAST(0 AS BIGINT) AS query_id, d.doc_id,
         d.score + coalesce(q.score, 0) + coalesce(m.score, 0) AS score
  FROM (SELECT doc_id, score FROM ls WHERE leaf_id = 0) d
  LEFT JOIN (SELECT doc_id, score FROM ls WHERE leaf_id = 1) q
    USING (doc_id)
  LEFT JOIN (SELECT doc_id, score FROM ls WHERE leaf_id = 2) m
    USING (doc_id)
  WHERE (q.doc_id IS NOT NULL OR m.doc_id IS NOT NULL)
    AND d.doc_id NOT IN (SELECT doc_id FROM ls WHERE leaf_id = 3)
),
grp AS (
  SELECT d.doc_id, d.score
  FROM (SELECT doc_id, score FROM ls WHERE leaf_id = 0) d
  JOIN documents t ON t.doc_id = d.doc_id AND t.lang = 'en'
),
q1 AS (
  SELECT CAST(1 AS BIGINT) AS query_id,
         coalesce(m.doc_id, g.doc_id) AS doc_id,
         coalesce(m.score, 0) + coalesce(g.score, 0) AS score
  FROM (SELECT doc_id, score FROM ls WHERE leaf_id = 2) m
  FULL OUTER JOIN grp g ON g.doc_id = m.doc_id
),
q2 AS (
  SELECT CAST(2 AS BIGINT) AS query_id, d.doc_id,
         d.score + coalesce(q.score, 0) AS score
  FROM (SELECT doc_id, score FROM ls WHERE leaf_id = 0) d
  LEFT JOIN (SELECT doc_id, score FROM ls WHERE leaf_id = 1) q
    USING (doc_id)
  WHERE d.doc_id NOT IN (SELECT doc_id FROM ls WHERE leaf_id = 2)
),
allq AS (
  SELECT * FROM q0 UNION ALL SELECT * FROM q1 UNION ALL SELECT * FROM q2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM allq
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    # query_string multi-term syntax (QS_MULTITERM): expansions
    # reproduce the engine's scoring_boolean rewrite — dictionary
    # terms matching the pattern, df-descending / term-ascending,
    # capped at max_expansions=50, scored as a disjunctive BM25 bag.
    # q0 = da* AND merge (both required, scores sum);
    # q1 = m?rge^2 OR spork~ (union, boosted wildcard bag x2 + fuzzy
    #      bag); q2 = data -qu* n_chars:[150 TO 450] (optional plain
    #      term + optional unscored range, minus qu*-expansion docs).
    sql["dsl_query_string_multiterm"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
pats(leaf, kind, pat) AS (VALUES
  ('da', 'prefix', 'da'), ('qu', 'prefix', 'qu'),
  ('wld', 'wildcard', 'm_rge'), ('fz', 'fuzzy', 'spork')),
exp AS (
  SELECT leaf, term, df FROM (
    SELECT p.leaf, d.term, d.df,
           row_number() OVER (PARTITION BY p.leaf
                              ORDER BY d.df DESC, d.term) AS x
    FROM pats p JOIN dfreq d ON
      (p.kind = 'prefix' AND starts_with(d.term, p.pat))
      OR (p.kind = 'wildcard' AND d.term LIKE p.pat)
      OR (p.kind = 'fuzzy'
          AND abs(length(d.term) - length(p.pat)) <= 1
          AND levenshtein(d.term, p.pat) <= 1)
  ) WHERE x <= 50
),
bag AS (
  SELECT e.leaf, tf.doc_id,
         sum(ln(1 + (s.n - e.df + 0.5) / (e.df + 0.5))
             * tf.tf * ({K1} + 1)
             / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS score
  FROM exp e
  JOIN tf ON tf.term = e.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
pls AS (
  SELECT t.term AS leaf, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS score
  FROM (VALUES ('data'), ('merge')) t(term)
  JOIN dfreq d ON d.term = t.term
  JOIN tf ON tf.term = t.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
q0 AS (
  SELECT CAST(0 AS BIGINT) AS query_id, b.doc_id,
         b.score + m.score AS score
  FROM (SELECT doc_id, score FROM bag WHERE leaf = 'da') b
  JOIN (SELECT doc_id, score FROM pls WHERE leaf = 'merge') m
    USING (doc_id)
),
q1 AS (
  SELECT CAST(1 AS BIGINT) AS query_id,
         coalesce(w.doc_id, f.doc_id) AS doc_id,
         coalesce(2.0 * w.score, 0) + coalesce(f.score, 0) AS score
  FROM (SELECT doc_id, score FROM bag WHERE leaf = 'wld') w
  FULL OUTER JOIN (SELECT doc_id, score FROM bag WHERE leaf = 'fz') f
    ON f.doc_id = w.doc_id
),
q2 AS (
  SELECT CAST(2 AS BIGINT) AS query_id,
         coalesce(d.doc_id, r.doc_id) AS doc_id,
         coalesce(d.score, 0) AS score
  FROM (SELECT doc_id, score FROM pls WHERE leaf = 'data') d
  FULL OUTER JOIN (SELECT doc_id FROM documents
                   WHERE n_chars >= 150 AND n_chars <= 450) r
    ON r.doc_id = d.doc_id
  WHERE coalesce(d.doc_id, r.doc_id) NOT IN
        (SELECT doc_id FROM bag WHERE leaf = 'qu')
),
allq AS (
  SELECT * FROM q0 UNION ALL SELECT * FROM q1 UNION ALL SELECT * FROM q2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM allq
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    # boosting + function_score (FSCORE_BODIES): b0 demotes spark
    # matches by 0.4; b1 multiplies BM25(merge) by the score_mode=sum
    # fold of a filter-gated weight (n_chars>=300 -> 2.0, else the
    # function does not apply) and log1p(0.01*n_chars) (Lucene
    # log-family is base 10); b2 adds sqrt(0.005*n_chars) to
    # BM25(spark). Leaf ids: 0='data query', 1='spark', 2='merge'.
    sql["dsl_score_functions"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
leafraw(leaf_id, txt) AS (VALUES
  (0, 'data query'), (1, 'spark'), (2, 'merge'), (3, 'data')),
leafq AS (SELECT DISTINCT leaf_id, unnest({tokenize_sql('txt')}) AS term
          FROM leafraw),
ls AS (
  SELECT lq.leaf_id, tf.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * ({K1} + 1)
             / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS score
  FROM leafq lq
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = lq.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
b0 AS (
  SELECT CAST(0 AS BIGINT) AS query_id, p.doc_id,
         p.score * (CASE WHEN n.doc_id IS NOT NULL
                         THEN 0.4 ELSE 1.0 END) AS score
  FROM (SELECT doc_id, score FROM ls WHERE leaf_id = 0) p
  LEFT JOIN (SELECT doc_id FROM ls WHERE leaf_id = 1) n
    USING (doc_id)
),
b1 AS (
  SELECT CAST(1 AS BIGINT) AS query_id, m.doc_id,
         m.score * ((CASE WHEN t.n_chars >= 300 THEN 2.0 ELSE 0.0 END)
                    + log10(1 + 0.01 * t.n_chars::DOUBLE)) AS score
  FROM (SELECT doc_id, score FROM ls WHERE leaf_id = 2) m
  JOIN documents t ON t.doc_id = m.doc_id
),
b2 AS (
  SELECT CAST(2 AS BIGINT) AS query_id, s.doc_id,
         s.score + sqrt(0.005 * t.n_chars::DOUBLE) AS score
  FROM (SELECT doc_id, score FROM ls WHERE leaf_id = 1) s
  JOIN documents t ON t.doc_id = s.doc_id
),
b3 AS (
  SELECT CAST(3 AS BIGINT) AS query_id, s.doc_id, s.score * g.gv AS score
  FROM (SELECT doc_id, score FROM ls WHERE leaf_id = 3) s
  JOIN (
    SELECT doc_id,
           exp(-(power(greatest(0.0, abs(n_chars::DOUBLE - 400) - 10), 2))
               / (2.0 * (power(200.0, 2) / (2.0 * ln(2.0))))) AS gv
    FROM documents
  ) g ON g.doc_id = s.doc_id
  WHERE s.score * g.gv >= 0.25
),
allq AS (
  SELECT * FROM b0 UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2
  UNION ALL SELECT * FROM b3
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM allq
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    # match_all + aggs (ADVICE r04 high): corpus-wide buckets — the
    # oracle is the whole-table aggregation, no match predicate at all
    sql["dsl_match_all_aggs"] = """
WITH langs AS (
  SELECT 'langs' AS agg, lang AS bucket, count(*) AS doc_count
  FROM documents GROUP BY 2
),
sizes AS (
  SELECT 'sizes' AS agg,
         CASE WHEN n_chars < 200 THEN '*-200'
              WHEN n_chars < 400 THEN '200-400'
              ELSE '400-*' END AS bucket,
         count(*) AS doc_count
  FROM documents GROUP BY 2
)
SELECT * FROM langs UNION ALL SELECT * FROM sizes
"""
    sql["dsl_range_histogram"] = """
WITH matched AS (
  SELECT n_chars FROM documents WHERE n_chars >= 150 AND n_chars < 450
),
hist AS (
  SELECT 'hist' AS agg,
         CAST(CAST(floor(n_chars / 100) * 100 AS BIGINT) AS VARCHAR)
           AS bucket,
         CAST(count(*) AS DOUBLE) AS val
  FROM matched GROUP BY 2
),
stats AS (
  SELECT 'stats' AS agg, s.bucket,
         round(CASE s.bucket
           WHEN 'n'   THEN count(*)
           WHEN 'min' THEN min(n_chars)
           WHEN 'max' THEN max(n_chars)
           WHEN 'sum' THEN sum(n_chars)
           ELSE sum(n_chars) / CAST(count(*) AS DOUBLE) END, 6) AS val
  FROM matched,
       (SELECT unnest(['n','min','max','sum','avg']) AS bucket) s
  GROUP BY s.bucket
)
SELECT * FROM hist UNION ALL SELECT * FROM stats
"""
    sql["dsl_terms_subagg"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, lang, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.lang, tok.n_chars
  FROM q JOIN tok USING (term)
),
fac AS (
  SELECT query_id, lang AS facet, count(*) AS doc_count,
         round(avg(n_chars), 6) AS avg_chars,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(max(n_chars) AS BIGINT) AS max_chars
  FROM matched GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY doc_count DESC, facet) AS bucket_rank
  FROM fac
)
SELECT query_id, bucket_rank, facet, doc_count,
       avg_chars, sum_chars, max_chars
FROM ranked WHERE bucket_rank <= 10
"""
    sql["dsl_composite_aggs"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, lang, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.lang, tok.n_chars
  FROM q JOIN tok USING (term)
),
buckets AS (
  SELECT query_id, lang,
         CAST(floor(n_chars / 200) * 200 AS BIGINT) AS bucket,
         count(*) AS doc_count,
         round(avg(n_chars), 6) AS avg_chars
  FROM matched GROUP BY 1, 2, 3
)
SELECT query_id, lang, bucket, doc_count, avg_chars
FROM buckets
WHERE lang > 'en' OR (lang = 'en' AND bucket > 0)
ORDER BY query_id, lang, bucket
LIMIT 6
"""
    sql["dsl_nested_terms"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, lang, source, n_chars, unnest({tokenize_sql('text')})
    AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.lang, tok.source,
         tok.n_chars
  FROM q JOIN tok USING (term)
),
leaf AS (
  SELECT query_id, lang AS parent_facet, source AS child_facet,
         count(*) AS child_count,
         round(avg(n_chars), 6) AS avg_chars
  FROM matched GROUP BY 1, 2, 3
),
p AS (
  SELECT *, CAST(sum(child_count) OVER (
    PARTITION BY query_id, parent_facet) AS BIGINT) AS parent_count
  FROM leaf
),
r AS (
  SELECT *,
    dense_rank() OVER (PARTITION BY query_id
                       ORDER BY parent_count DESC, parent_facet)
      AS parent_rank,
    row_number() OVER (PARTITION BY query_id, parent_facet
                       ORDER BY child_count DESC, child_facet)
      AS child_rank
  FROM p
)
SELECT query_id, parent_rank, parent_facet, parent_count,
       child_rank, child_facet, child_count, avg_chars
FROM r WHERE parent_rank <= 4 AND child_rank <= 3
"""
    sql["dsl_pipeline_aggs"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.n_chars
  FROM q JOIN tok USING (term)
),
hist AS (
  SELECT query_id, CAST(floor(n_chars / 200) * 200 AS BIGINT) AS k,
         count(*) AS doc_count, avg(n_chars) AS avg_chars
  FROM matched GROUP BY 1, 2
),
w AS (
  SELECT *,
    CAST(sum(doc_count) OVER (PARTITION BY query_id ORDER BY k)
      AS BIGINT) AS cum,
    avg_chars - lag(avg_chars) OVER (PARTITION BY query_id ORDER BY k)
      AS deriv
  FROM hist
)
SELECT 'count' AS agg, CAST(k AS VARCHAR) AS key,
       CAST(doc_count AS DOUBLE) AS val FROM w
UNION ALL
SELECT 'avg', CAST(k AS VARCHAR), round(avg_chars, 6) FROM w
UNION ALL
SELECT 'cum', CAST(k AS VARCHAR), CAST(cum AS DOUBLE) FROM w
UNION ALL
SELECT 'deriv', CAST(k AS VARCHAR), round(deriv, 6) FROM w
WHERE deriv IS NOT NULL
UNION ALL
SELECT 'avg_bucket', '*',
       round(sum(doc_count) / CAST(count(*) AS DOUBLE), 6) FROM w
UNION ALL
SELECT 'max_bucket', '*', round(max(avg_chars), 6) FROM w
"""
    _az = ", ".join(
        f"(CAST({i} AS BIGINT), '{t}')"
        for i, t in enumerate(ANALYZE_TEXTS)
    )
    sql["analyze_api"] = f"""
WITH t(text_id, txt) AS (VALUES {_az}),
tok AS (SELECT text_id, {tokenize_sql('txt')} AS l FROM t)
SELECT text_id,
       unnest(l) AS token,
       CAST(unnest(generate_series(0, len(l) - 1)) AS INT) AS position
FROM tok
"""
    _ps = ", ".join(
        f"(CAST({i} AS BIGINT), '{w}', {p})"
        for i, t in enumerate(PHRASE_SUGGEST_INPUTS)
        for p, w in enumerate(t.split())
    )
    sql["phrase_suggester"] = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
dict AS (SELECT term, count(*)::BIGINT AS df FROM tok GROUP BY 1),
inptok(input_id, tok, pos) AS (VALUES {_ps}),
cand AS (
  SELECT input_id, pos, term, df,
         levenshtein(term, tok)::BIGINT AS dist
  FROM inptok i JOIN dict d
    ON abs(length(d.term) - length(i.tok)) <= 2 AND d.term <> i.tok
  WHERE levenshtein(term, tok) <= 2
  QUALIFY row_number() OVER (PARTITION BY input_id, pos
                             ORDER BY dist, df DESC, term) <= 3
),
combos AS (
  SELECT c0.input_id,
         c0.term || ' ' || c1.term AS suggestion,
         (ln(c0.df + 1) - 2 * c0.dist)
           + (ln(c1.df + 1) - 2 * c1.dist) AS score
  FROM cand c0 JOIN cand c1
    ON c0.input_id = c1.input_id AND c0.pos = 0 AND c1.pos = 1
),
ranked AS (
  SELECT input_id, suggestion, score,
         row_number() OVER (PARTITION BY input_id
                            ORDER BY score DESC, suggestion)
           AS suggest_rank
  FROM combos
)
SELECT input_id, suggest_rank, suggestion, round(score, 6) AS score_r
FROM ranked WHERE suggest_rank <= 3
"""
    sql["dsl_geo_queries"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
       GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qraw(query_id, query) AS (
  VALUES (CAST(0 AS BIGINT), 'data merge'),
         (CAST(1 AS BIGINT), 'data merge')
),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
tot AS (SELECT query_id, doc_id, sum(part) AS score
        FROM scored GROUP BY 1, 2),
geo AS (
  SELECT doc_id,
         CAST(n_chars % 120 - 60 + 0.25 AS DOUBLE) AS lat,
         CAST((n_chars * 7) % 340 - 170 + 0.5 AS DOUBLE) AS lon
  FROM documents
),
flt AS (
  SELECT t.query_id, t.doc_id, t.score
  FROM tot t JOIN geo g USING (doc_id)
  WHERE (t.query_id = 0 AND
         2.0 * 6371008.8 * asin(sqrt(
           pow(sin(radians(g.lat - 10.0) / 2), 2)
           + cos(radians(10.0)) * cos(radians(g.lat))
             * pow(sin(radians(g.lon - 20.0) / 2), 2)
         )) <= 3000000.0)
     OR (t.query_id = 1 AND g.lat BETWEEN -60 AND 60
         AND (g.lon >= 150 OR g.lon <= -100))
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM flt
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""
    sql["dsl_top_metrics"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.n_chars
  FROM q JOIN tok USING (term)
),
ranked AS (
  SELECT query_id, n_chars AS sort_value,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_chars DESC) AS metric_rank
  FROM matched
)
SELECT query_id, metric_rank, sort_value
FROM ranked WHERE metric_rank <= 5
"""
    _mq = ", ".join(
        f"(CAST({i} AS BIGINT), '{t}')"
        for i, t in enumerate(BM25_QUERY_TERMS)
    )
    sql["multi_index_search"] = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
tf AS (SELECT doc_id, lang, term, count(*)::DOUBLE AS tf
       FROM toks GROUP BY 1, 2, 3),
dl AS (SELECT doc_id, lang, count(*)::DOUBLE AS dl
       FROM toks GROUP BY 1, 2),
stats AS (SELECT lang, count(*)::DOUBLE AS n, avg(dl) AS avgdl
          FROM dl GROUP BY 1),
dfreq AS (SELECT lang, term, count(*)::DOUBLE AS df
          FROM tf GROUP BY 1, 2),
qraw(query_id, query) AS (VALUES {_mq}),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
scored AS (
  SELECT q.query_id, tf.doc_id, tf.lang,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term AND tf.lang = d.lang
  JOIN dl ON dl.doc_id = tf.doc_id AND dl.lang = tf.lang
  JOIN stats s ON s.lang = tf.lang
),
tot AS (SELECT query_id, doc_id, lang, sum(part) AS score
        FROM scored GROUP BY 1, 2, 3),
ranked AS (
  SELECT query_id, doc_id, score, 'index_' || lang AS idx,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY score DESC, doc_id, 'index_' || lang
         ) AS rank
  FROM tot
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r,
       idx AS "_index"
FROM ranked WHERE rank <= 10
"""
    sql["dsl_script_score"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
       GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qraw(query_id, query) AS (
  VALUES (CAST(0 AS BIGINT), 'data merge'),
         (CAST(1 AS BIGINT), 'data merge')
),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
tot AS (SELECT query_id, doc_id, sum(part) AS score
        FROM scored GROUP BY 1, 2),
adj AS (
  SELECT query_id, tot.doc_id,
         CASE WHEN query_id = 0
           THEN score * (n_chars / (n_chars + 300.0))
           ELSE score + 0.5 * (n_chars / (n_chars + 300.0))
         END AS score
  FROM tot JOIN documents d ON d.doc_id = tot.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM adj
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""
    sql["dsl_adjacency_matrix"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, lang, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.lang, tok.n_chars
  FROM q JOIN tok USING (term)
),
flt AS (
  SELECT query_id, doc_id,
         (lang = 'en') AS f_en,
         (n_chars < 300) AS f_small,
         (lang = 'zh') AS f_zh
  FROM matched
),
singles AS (
  SELECT query_id, 'en' AS key, count(*) FILTER (f_en) AS doc_count
  FROM flt GROUP BY 1
  UNION ALL
  SELECT query_id, 'small', count(*) FILTER (f_small) FROM flt GROUP BY 1
  UNION ALL
  SELECT query_id, 'zh', count(*) FILTER (f_zh) FROM flt GROUP BY 1
  UNION ALL
  SELECT query_id, 'en&small', count(*) FILTER (f_en AND f_small)
  FROM flt GROUP BY 1
  UNION ALL
  SELECT query_id, 'en&zh', count(*) FILTER (f_en AND f_zh)
  FROM flt GROUP BY 1
  UNION ALL
  SELECT query_id, 'small&zh', count(*) FILTER (f_small AND f_zh)
  FROM flt GROUP BY 1
)
SELECT query_id, key, doc_count FROM singles WHERE doc_count > 0
"""
    sql["dsl_metric_aggs_family"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, lang, n_chars, source,
         unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.lang, tok.n_chars,
         tok.source
  FROM q JOIN tok USING (term)
),
wavg AS (
  SELECT 'wavg' AS agg, '*' AS key,
         round(sum(CAST(n_chars AS DOUBLE) * n_chars)
               / sum(CAST(n_chars AS DOUBLE)), 6) AS val
  FROM matched
),
ranks AS (
  SELECT 'rank' AS agg, CAST(v AS VARCHAR) AS key,
         round(100.0 * sum(CASE WHEN n_chars <= v THEN 1 ELSE 0 END)
               / count(*), 6) AS val
  FROM matched, (VALUES (150), (300), (450)) AS vals(v)
  GROUP BY v
),
rare AS (
  SELECT 'rare' AS agg, source AS key,
         CAST(count(*) AS DOUBLE) AS val
  FROM matched GROUP BY source HAVING count(*) <= 5
),
multi AS (
  SELECT 'multi' AS agg,
         CAST(row_number() OVER (
           ORDER BY count(*) DESC, lang, source
         ) AS VARCHAR) || '|' || lang || '|' || source AS key,
         CAST(count(*) AS DOUBLE) AS val
  FROM matched GROUP BY lang, source
  ORDER BY count(*) DESC, lang, source
  LIMIT 8
)
SELECT * FROM wavg UNION ALL SELECT * FROM ranks
UNION ALL SELECT * FROM rare UNION ALL SELECT * FROM multi
"""
    sql["dsl_stats_aggs_family"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, source, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.source, tok.n_chars
  FROM q JOIN tok USING (term)
),
base AS (
  SELECT count(*) AS c, min(length(source)) AS mn,
         max(length(source)) AS mx,
         avg(CAST(length(source) AS DOUBLE)) AS av
  FROM matched
),
cf AS (
  SELECT ch, count(*) AS c
  FROM (SELECT unnest(string_split(source, '')) AS ch FROM matched)
  GROUP BY ch
),
ent AS (
  SELECT -sum((CAST(cf.c AS DOUBLE) / tt.t)
              * log2(CAST(cf.c AS DOUBLE) / tt.t)) AS e
  FROM cf, (SELECT CAST(sum(c) AS DOUBLE) AS t FROM cf) tt
),
med AS (SELECT quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS m
        FROM matched),
madv AS (
  SELECT quantile_cont(abs(CAST(n_chars AS DOUBLE) - med.m), 0.5) AS v
  FROM matched, med
),
box AS (
  SELECT CAST(min(n_chars) AS DOUBLE) AS mn,
         quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS q1,
         quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS q2,
         quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS q3,
         CAST(max(n_chars) AS DOUBLE) AS mx
  FROM matched
)
SELECT 'sstats' AS agg, 'count' AS key, CAST(c AS DOUBLE) AS val FROM base
UNION ALL SELECT 'sstats', 'min_length', CAST(mn AS DOUBLE) FROM base
UNION ALL SELECT 'sstats', 'max_length', CAST(mx AS DOUBLE) FROM base
UNION ALL SELECT 'sstats', 'avg_length', round(av, 6) FROM base
UNION ALL SELECT 'sstats', 'entropy', round(e, 6) FROM ent
UNION ALL SELECT 'mad', '*', round(v, 6) FROM madv
UNION ALL SELECT 'box', 'min_v', round(mn, 6) FROM box
UNION ALL SELECT 'box', 'q1', round(q1, 6) FROM box
UNION ALL SELECT 'box', 'q2', round(q2, 6) FROM box
UNION ALL SELECT 'box', 'q3', round(q3, 6) FROM box
UNION ALL SELECT 'box', 'max_v', round(mx, 6) FROM box
"""
    sql["dsl_agg_knobs"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.n_chars,
         CASE WHEN tok.n_chars % 3 = 0
              THEN 't' || CAST(tok.n_chars % 2 AS VARCHAR) END AS team
  FROM q JOIN tok USING (term)
),
h AS (
  SELECT CAST(floor((n_chars - 50) / 100) * 100 + 50 AS BIGINT) AS k,
         count(*) AS c
  FROM matched GROUP BY 1
),
tm AS (
  SELECT coalesce(team, 'none') AS t, count(*) AS c,
         row_number() OVER (ORDER BY count(*) DESC,
                            coalesce(team, 'none')) AS rnk
  FROM matched GROUP BY 1
)
SELECT 'h' AS agg, CAST(k AS VARCHAR) AS key, CAST(c AS DOUBLE) AS val
FROM h
UNION ALL
SELECT 'tm', t, CAST(c AS DOUBLE) FROM tm WHERE rnk <= 10
UNION ALL
SELECT 'r', 'small',
  CAST(sum(CASE WHEN n_chars < 300 THEN 1 ELSE 0 END) AS DOUBLE)
FROM matched
UNION ALL
SELECT 'r', 'big',
  CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS DOUBLE)
FROM matched
UNION ALL
SELECT 'r', 'mid',
  CAST(sum(CASE WHEN n_chars >= 250 AND n_chars < 260
           THEN 1 ELSE 0 END) AS DOUBLE)
FROM matched
"""
    sql["dsl_variable_width_hist"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id,
         CAST(tok.n_chars AS DOUBLE) AS v
  FROM q JOIN tok USING (term)
),
bnds AS (
  SELECT round(quantile_cont(v, 0.25), 9) AS b1,
         round(quantile_cont(v, 0.50), 9) AS b2,
         round(quantile_cont(v, 0.75), 9) AS b3
  FROM matched
),
assigned AS (
  SELECT v,
         (CASE WHEN b1 < v THEN 1 ELSE 0 END)
         + (CASE WHEN b2 < v THEN 1 ELSE 0 END)
         + (CASE WHEN b3 < v THEN 1 ELSE 0 END) AS bucket
  FROM matched, bnds
),
g AS (
  SELECT bucket, min(v) AS mn, max(v) AS mx, avg(v) AS av,
         count(*) AS c
  FROM assigned GROUP BY bucket
)
SELECT 'vw' AS agg, CAST(bucket AS VARCHAR) || '|min' AS key,
       round(mn, 6) AS val FROM g
UNION ALL SELECT 'vw', CAST(bucket AS VARCHAR) || '|max',
  round(mx, 6) FROM g
UNION ALL SELECT 'vw', CAST(bucket AS VARCHAR) || '|avg',
  round(av, 6) FROM g
UNION ALL SELECT 'vw', CAST(bucket AS VARCHAR) || '|count',
  CAST(c AS DOUBLE) FROM g
"""
    sql["dsl_collapse_inner_hits"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q JOIN dfreq d USING (term) JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
),
tot AS (SELECT query_id, doc_id, sum(part) AS score
        FROM scored GROUP BY 1, 2),
attributed AS (
  SELECT t.query_id, t.doc_id, t.score, d.lang
  FROM tot t JOIN documents d USING (doc_id)
),
grp AS (
  SELECT lang, score,
         row_number() OVER (
           PARTITION BY lang ORDER BY score DESC, doc_id
         ) AS hit_rank,
         count(*) OVER (PARTITION BY lang) AS doc_count
  FROM attributed
),
best AS (
  SELECT lang, score,
         row_number() OVER (ORDER BY score DESC, lang) AS page_rank
  FROM grp WHERE hit_rank = 1
)
SELECT 'page' AS agg, lang AS key, round(score, 6) AS val
FROM best WHERE page_rank <= 10
UNION ALL
SELECT 'ih', lang || '|' || CAST(hit_rank AS VARCHAR), round(score, 6)
FROM grp
WHERE hit_rank <= 2
  AND lang IN (SELECT lang FROM best WHERE page_rank <= 10)
UNION ALL
SELECT DISTINCT 'cnt', lang, CAST(doc_count AS DOUBLE)
FROM grp
WHERE lang IN (SELECT lang FROM best WHERE page_rank <= 10)
"""
    sql["update_by_query_roundtrip"] = f"""
WITH matched AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
  ) WHERE term = 'data'
),
newdocs AS (
  SELECT d.doc_id,
         CASE WHEN m.doc_id IS NOT NULL
              THEN regexp_replace(d.text, 'data', 'datum', 'g')
              ELSE d.text END AS text
  FROM documents d LEFT JOIN matched m USING (doc_id)
),
tok_new AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM newdocs
)
SELECT 'updated' AS agg, '*' AS key,
       CAST((SELECT count(*) FROM matched) AS DOUBLE) AS val
UNION ALL
SELECT 'old_hits', '*',
  CAST(count(DISTINCT doc_id) AS DOUBLE)
FROM tok_new WHERE term = 'data'
UNION ALL
SELECT 'new_hits', '*',
  CAST(count(DISTINCT doc_id) AS DOUBLE)
FROM tok_new WHERE term = 'datum'
"""
    sql["dsl_cumulative_cardinality"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, lang, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.lang, tok.n_chars
  FROM q JOIN tok USING (term)
),
sel AS (
  SELECT doc_id, lang,
         CAST(floor(n_chars / 100) * 100 AS BIGINT) AS k
  FROM matched
),
hist AS (
  SELECT k, count(*) AS c, count(DISTINCT lang) AS nl
  FROM sel GROUP BY k
),
debut AS (
  SELECT k, count(*) AS n
  FROM (SELECT lang, min(k) AS k FROM sel GROUP BY lang)
  GROUP BY k
),
cum AS (
  SELECT h.k, h.c, h.nl,
         sum(coalesce(d.n, 0)) OVER (ORDER BY h.k) AS cc
  FROM hist h LEFT JOIN debut d ON d.k = h.k
)
SELECT 'count' AS agg, CAST(k AS VARCHAR) AS key,
       CAST(c AS DOUBLE) AS val FROM cum
UNION ALL SELECT 'langs', CAST(k AS VARCHAR), CAST(nl AS DOUBLE) FROM cum
UNION ALL SELECT 'cum', CAST(k AS VARCHAR), CAST(cc AS DOUBLE) FROM cum
"""
    sql["dsl_script_fields_lookup"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q JOIN dfreq d USING (term) JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
),
tot AS (SELECT query_id, doc_id, sum(part) AS score
        FROM scored GROUP BY 1, 2),
ranked AS (
  SELECT t.query_id, t.doc_id, d.n_chars,
         row_number() OVER (
           PARTITION BY t.query_id ORDER BY t.score DESC, t.doc_id
         ) AS rnk
  FROM tot t JOIN documents d USING (doc_id)
),
lk AS (
  SELECT count(*) AS n FROM documents
  WHERE lang = (SELECT lang FROM documents WHERE doc_id = 7)
)
SELECT 'sf' AS agg,
       CAST(rnk AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR) AS key,
       CAST(n_chars AS DOUBLE) / 2 AS val
FROM ranked WHERE rnk <= 10
UNION ALL
SELECT 'lk', '*', CAST(n AS DOUBLE) FROM lk
"""
    sql["dsl_runtime_fields"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id,
         CAST(tok.n_chars AS DOUBLE) / 100.0 AS ck
  FROM q JOIN tok USING (term)
),
rng AS (
  SELECT count(*) AS n FROM documents
  WHERE CAST(n_chars AS DOUBLE) / 100.0 >= 2.0
    AND CAST(n_chars AS DOUBLE) / 100.0 < 4.5
),
st AS (
  SELECT count(*) AS n, min(ck) AS mn, max(ck) AS mx, sum(ck) AS sm,
         avg(ck) AS av
  FROM matched
),
h AS (
  SELECT floor(ck / 0.5) * 0.5 AS k, count(*) AS c
  FROM matched GROUP BY 1
)
SELECT 'range' AS agg, '*' AS key, CAST(n AS DOUBLE) AS val FROM rng
UNION ALL SELECT 'st', 'n', CAST(n AS DOUBLE) FROM st
UNION ALL SELECT 'st', 'min', round(mn, 6) FROM st
UNION ALL SELECT 'st', 'max', round(mx, 6) FROM st
UNION ALL SELECT 'st', 'sum', round(sm, 6) FROM st
UNION ALL SELECT 'st', 'avg', round(av, 6) FROM st
UNION ALL SELECT 'h', CAST(k AS VARCHAR), CAST(c AS DOUBLE) FROM h
UNION ALL SELECT 'p50', '*', round(quantile_cont(ck, 0.5), 6)
FROM matched
"""
    sql["dsl_pipeline_aggs2"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.n_chars
  FROM q JOIN tok USING (term)
),
hist AS (
  SELECT CAST(floor(n_chars / 100) * 100 AS BIGINT) AS k,
         CAST(count(*) AS DOUBLE) AS c
  FROM matched GROUP BY 1
),
w AS (
  SELECT k, c,
         c / sum(c) OVER () AS pct,
         (c - min(c) OVER ()) / (max(c) OVER () - min(c) OVER ()) AS r01,
         quantile_cont(c, 0.5) OVER (
           ORDER BY k ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING
         ) AS mp,
         row_number() OVER (ORDER BY k) AS rn
  FROM hist
),
xs AS (
  SELECT count(*) AS n, min(c) AS mn, max(c) AS mx, sum(c) AS sm,
         avg(c) AS av,
         sum(c * c) / count(*) - (sum(c) / count(*)) * (sum(c) / count(*))
           AS variance
  FROM hist
)
SELECT 'count' AS agg, CAST(k AS VARCHAR) AS key, c AS val FROM w
UNION ALL SELECT 'pct', CAST(k AS VARCHAR), round(pct, 6) FROM w
UNION ALL SELECT 'r01', CAST(k AS VARCHAR), round(r01, 6) FROM w
UNION ALL SELECT 'mp', CAST(k AS VARCHAR), round(mp, 6) FROM w
  WHERE rn > 1
UNION ALL SELECT 'xs', 'n', CAST(n AS DOUBLE) FROM xs
UNION ALL SELECT 'xs', 'min', mn FROM xs
UNION ALL SELECT 'xs', 'max', mx FROM xs
UNION ALL SELECT 'xs', 'sum', sm FROM xs
UNION ALL SELECT 'xs', 'avg', round(av, 6) FROM xs
UNION ALL SELECT 'xs', 'variance', round(variance, 6) FROM xs
UNION ALL SELECT 'xs', 'std_dev', round(sqrt(variance), 6) FROM xs
UNION ALL SELECT 'pb', '25', round(quantile_cont(c, 0.25), 6) FROM hist
UNION ALL SELECT 'pb', '50', round(quantile_cont(c, 0.50), 6) FROM hist
UNION ALL SELECT 'pb', '75', round(quantile_cont(c, 0.75), 6) FROM hist
"""
    sql["dsl_nested_docs"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.n_chars
  FROM q JOIN tok USING (term)
),
-- elements per matched doc: head(n%100), body(n%350), xtra(n%400)
-- when n%3=0 — the same n_chars arithmetic _net_corpus uses
el AS (
  SELECT doc_id, 'head' AS kind, n_chars % 100 AS len FROM matched
  UNION ALL
  SELECT doc_id, 'body', n_chars % 350 FROM matched
  UNION ALL
  SELECT doc_id, 'xtra', n_chars % 400 FROM matched
  WHERE n_chars % 3 = 0
),
kinds AS (
  SELECT kind, count(*) AS doc_count,
         count(DISTINCT doc_id) AS parent_count,
         row_number() OVER (ORDER BY count(*) DESC, kind) AS rnk
  FROM el GROUP BY kind
),
nq AS (
  SELECT count(*) AS n FROM documents
  WHERE n_chars % 3 = 0 AND n_chars % 400 >= 200
)
SELECT 'nq' AS agg, '*' AS key, CAST(n AS DOUBLE) AS val FROM nq
UNION ALL
SELECT 'kinds', CAST(rnk AS VARCHAR) || '|' || kind,
       CAST(doc_count AS DOUBLE) FROM kinds
UNION ALL
SELECT 'parents', kind, CAST(parent_count AS DOUBLE) FROM kinds
UNION ALL
SELECT 'mean', '*',
  round(avg(CAST(len AS DOUBLE)), 6) FROM el
"""
    sql["dsl_body_knobs"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
toks AS (
  SELECT doc_id, lang, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
       GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q JOIN dfreq d USING (term) JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
),
tot AS (SELECT query_id, doc_id, sum(part) AS score
        FROM scored GROUP BY 1, 2),
ltf AS (SELECT doc_id, lang, term, count(*)::DOUBLE AS tf
        FROM toks GROUP BY 1, 2, 3),
ldl AS (SELECT doc_id, lang, count(*)::DOUBLE AS dl
        FROM toks GROUP BY 1, 2),
lstats AS (SELECT lang, count(*)::DOUBLE AS n, avg(dl) AS avgdl
           FROM ldl GROUP BY 1),
ldfreq AS (SELECT lang, term, count(*)::DOUBLE AS df
           FROM ltf GROUP BY 1, 2),
lscored AS (
  SELECT q.query_id, ltf.doc_id, ltf.lang,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * ltf.tf * ({K1} + 1)
           / (ltf.tf + {K1} * (1 - {B} + {B} * ldl.dl / s.avgdl)) AS part
  FROM q
  JOIN ldfreq d USING (term)
  JOIN ltf ON ltf.term = q.term AND ltf.lang = d.lang
  JOIN ldl ON ldl.doc_id = ltf.doc_id AND ldl.lang = ltf.lang
  JOIN lstats s ON s.lang = ltf.lang
),
ltot AS (
  SELECT query_id, doc_id, lang,
         sum(part) * (CASE lang WHEN 'en' THEN 2.0
                                WHEN 'zh' THEN 0.5
                                ELSE 1.0 END) AS score
  FROM lscored GROUP BY 1, 2, 3
),
lranked AS (
  SELECT query_id, doc_id, lang, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id
         ) AS rnk
  FROM ltot
)
SELECT 'total' AS agg, '*' AS key,
  CAST(count(DISTINCT (q.query_id, toks.doc_id)) AS DOUBLE) AS val
FROM q JOIN toks USING (term)
UNION ALL
SELECT 'minscore', '*',
  CAST(sum(CASE WHEN score >= 1.0 THEN 1 ELSE 0 END) AS DOUBLE)
FROM tot
UNION ALL
SELECT 'multi',
  CAST(rnk AS VARCHAR) || '|index_' || lang || '|'
    || CAST(doc_id AS VARCHAR),
  round(score, 6)
FROM lranked WHERE rnk <= 10
"""
    sql["dsl_sampler_aggs"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q JOIN dfreq d USING (term) JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
),
tot AS (SELECT query_id, doc_id, sum(part) AS score
        FROM scored GROUP BY 1, 2),
attributed AS (
  SELECT t.query_id, t.doc_id, t.score, d.lang, d.n_chars
  FROM tot t JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id
    ORDER BY score DESC, CAST(doc_id AS VARCHAR)
  ) AS rnk
  FROM attributed
),
smp AS (SELECT * FROM ranked WHERE rnk <= 40),
smp_langs AS (
  SELECT lang, count(*) AS c,
         row_number() OVER (ORDER BY count(*) DESC, lang) AS brnk
  FROM smp GROUP BY lang
),
divg AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id, lang
    ORDER BY score DESC, CAST(doc_id AS VARCHAR)
  ) AS g
  FROM attributed
),
surv AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id
    ORDER BY score DESC, CAST(doc_id AS VARCHAR)
  ) AS rnk
  FROM divg WHERE g <= 8
),
divs AS (SELECT * FROM surv WHERE rnk <= 25)
SELECT 'smp_langs' AS agg,
       CAST(brnk AS VARCHAR) || '|' || lang AS key,
       CAST(c AS DOUBLE) AS val
FROM smp_langs WHERE brnk <= 10
UNION ALL
SELECT 'smp_mean', '*',
       round(avg(CAST(n_chars AS DOUBLE)), 6) FROM smp
UNION ALL
SELECT 'div_mean', '*',
       round(avg(CAST(n_chars AS DOUBLE)), 6) FROM divs
UNION ALL
SELECT 'div_cnt', '*', CAST(count(*) AS DOUBLE) FROM divs
"""
    # geohash (precision 4): generate the 20-bit interleave + base-32
    # render in SQL from the same constants the executor uses
    _ghp, _ghb32 = 4, "0123456789bcdefghjkmnpqrstuvwxyz"
    _ghbits = 5 * _ghp
    _ghterms = " + ".join(
        [f"(((lonq >> {_ghp * 5 // 2 - 1 - i}) & 1) << {_ghbits - 1 - 2 * i})"
         for i in range(_ghbits - _ghbits // 2)]
        + [f"(((latq >> {_ghbits // 2 - 1 - i}) & 1) << {_ghbits - 2 - 2 * i})"
           for i in range(_ghbits // 2)]
    )
    _ghchars = " || ".join(
        f"substr('{_ghb32}', CAST(((inter >> {5 * (_ghp - 1 - c)}) & 31)"
        " + 1 AS INT), 1)"
        for c in range(_ghp)
    )
    _ladder = [1, 5, 10, 30, 60, 300, 600, 1800, 3600, 10800, 43200,
               86400, 604800, 2592000, 7776000, 31536000, 157680000,
               315360000, 630720000, 1576800000, 3153600000]
    _lcase = "CASE " + " ".join(
        f"WHEN floor(mx/{i}) - floor(mn/{i}) + 1 <= 8 THEN {i}"
        for i in _ladder
    ) + f" ELSE {_ladder[-1]} END"
    sql["dsl_geohash_autohist"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.n_chars
  FROM q JOIN tok USING (term)
),
pts AS (
  SELECT doc_id,
         CAST(1451606400 + n_chars * 3600 AS DOUBLE) AS ep,
         least(CAST(floor((CAST(n_chars % 120 - 60 + 0.25 AS DOUBLE)
               + 90.0) / 180.0 * 1024.0) AS BIGINT), 1023) AS latq,
         least(CAST(floor((CAST((n_chars * 7) % 340 - 170 + 0.5 AS DOUBLE)
               + 180.0) / 360.0 * 1024.0) AS BIGINT), 1023) AS lonq
  FROM matched
),
hashed AS (
  SELECT doc_id, ep, {_ghterms} AS inter FROM pts
),
keyed AS (SELECT doc_id, ep, {_ghchars} AS gh FROM hashed),
ghc AS (
  SELECT gh, count(*) AS doc_count FROM keyed GROUP BY gh
),
ghr AS (
  SELECT gh, doc_count,
         row_number() OVER (ORDER BY doc_count DESC, gh ASC) AS rnk
  FROM ghc
),
ext AS (SELECT min(ep) AS mn, max(ep) AS mx FROM keyed),
iv AS (SELECT {_lcase} AS interval_s FROM ext),
auto AS (
  SELECT CAST(iv.interval_s AS BIGINT) AS interval_s,
         CAST(floor(ep / iv.interval_s) * iv.interval_s AS BIGINT) AS k,
         count(*) AS doc_count
  FROM keyed, iv GROUP BY 1, 2
)
SELECT 'gh' AS agg, CAST(rnk AS VARCHAR) || '|' || gh AS key,
       CAST(doc_count AS DOUBLE) AS val
FROM ghr
UNION ALL
SELECT 'auto', CAST(interval_s AS VARCHAR) || '|' || CAST(k AS VARCHAR),
       CAST(doc_count AS DOUBLE)
FROM auto
"""
    sql["dsl_rate_ttest"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (SELECT DISTINCT tok.doc_id FROM q JOIN tok USING (term)),
d AS (
  SELECT m.doc_id, doc.lang, CAST(doc.n_chars AS DOUBLE) AS x,
         1451606400 + doc.n_chars * 3600 AS ep
  FROM matched m JOIN documents doc USING (doc_id)
),
st AS (
  SELECT
    CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS DOUBLE) AS na,
    sum(CASE WHEN lang = 'en' THEN x END) AS sa1,
    sum(CASE WHEN lang = 'en' THEN x * x END) AS sa2,
    CAST(count(CASE WHEN lang = 'de' THEN 1 END) AS DOUBLE) AS nb,
    sum(CASE WHEN lang = 'de' THEN x END) AS sb1,
    sum(CASE WHEN lang = 'de' THEN x * x END) AS sb2
  FROM d
),
calc AS (
  SELECT na, nb, sa1 / na AS ma, sb1 / nb AS mb,
         (sa2 - sa1 * sa1 / na) / (na - 1) AS va,
         (sb2 - sb1 * sb1 / nb) / (nb - 1) AS vb
  FROM st
),
tt AS (
  SELECT 'tw' AS agg, 't' AS key,
         round((ma - mb) / sqrt(va / na + vb / nb), 6) AS val
  FROM calc
  UNION ALL
  SELECT 'tw', 'df',
         round(power(va / na + vb / nb, 2)
               / (power(va / na, 2) / (na - 1)
                  + power(vb / nb, 2) / (nb - 1)), 6)
  FROM calc
  UNION ALL
  SELECT 'tp', 't',
         round((ma - mb) / sqrt(
           ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)
           * (1.0 / na + 1.0 / nb)), 6)
  FROM calc
  UNION ALL
  SELECT 'tp', 'df', round(na + nb - 2, 6) FROM calc
),
buck AS (
  SELECT strftime(date_trunc('day', to_timestamp(ep)),
                  '%Y-%m-%dT%H:%M:%S') AS key,
         sum(x) AS sx, count(*) AS c
  FROM d GROUP BY 1
),
rates AS (
  SELECT 'rate_sr' AS agg, key, round(sx / 24.0, 6) AS val FROM buck
  UNION ALL
  SELECT 'rate_cr', key, round(c / 24.0, 6) FROM buck
)
SELECT * FROM tt UNION ALL SELECT * FROM rates
"""
    sql["dsl_geo_line"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT tok.doc_id, tok.n_chars FROM q JOIN tok USING (term)
),
d AS (
  SELECT doc_id,
         1451606400 + n_chars * 3600 AS ep,
         CAST(n_chars % 120 - 60 + 0.25 AS DOUBLE) AS lat,
         CAST((n_chars * 7) % 340 - 170 + 0.5 AS DOUBLE) AS lon
  FROM matched
),
ranked AS (
  SELECT row_number() OVER (ORDER BY ep, lat, lon) AS seq,
         round(lon, 6) AS lon, round(lat, 6) AS lat,
         strftime(to_timestamp(ep), '%Y-%m-%d %H:%M:%S') AS sort_value
  FROM d
)
SELECT seq, lon, lat, sort_value FROM ranked WHERE seq <= 40
"""
    sql["dsl_range_aggs_family"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.n_chars
  FROM q JOIN tok USING (term)
),
d AS (
  SELECT doc_id,
         1451606400 + n_chars * 3600 AS ep,
         167772160 + (n_chars % 200) * 65536
           + ((n_chars * 3) % 250) * 256 + ((n_chars * 7) % 256) AS ipv,
         CAST(n_chars % 120 - 60 + 0.25 AS DOUBLE) AS a,
         CAST((n_chars * 7) % 340 - 170 + 0.5 AS DOUBLE) AS b
  FROM matched
),
g AS (
  SELECT doc_id, ep, ipv,
         2 * 6371008.8 * asin(sqrt(
           power(sin(radians(a - 10.25) / 2), 2)
           + cos(radians(10.25)) * cos(radians(a))
             * power(sin(radians(b - 20.5) / 2), 2)
         )) AS dist
  FROM d
)
SELECT 'dr' AS agg, '0|*-2016-02-01' AS key,
  CAST(sum(CASE WHEN ep < 1454284800 THEN 1 ELSE 0 END) AS DOUBLE) AS val
FROM g
UNION ALL SELECT 'dr', '1|2016-02-01-2016-03-01',
  CAST(sum(CASE WHEN ep >= 1454284800 AND ep < 1456790400
           THEN 1 ELSE 0 END) AS DOUBLE) FROM g
UNION ALL SELECT 'dr', '2|2016-03-01-*',
  CAST(sum(CASE WHEN ep >= 1456790400 THEN 1 ELSE 0 END) AS DOUBLE)
FROM g
UNION ALL SELECT 'ipr', '0|*-10.100.0.0',
  CAST(sum(CASE WHEN ipv < 174325760 THEN 1 ELSE 0 END) AS DOUBLE)
FROM g
UNION ALL SELECT 'ipr', '1|10.100.0.0-*',
  CAST(sum(CASE WHEN ipv >= 174325760 THEN 1 ELSE 0 END) AS DOUBLE)
FROM g
UNION ALL SELECT 'ipr', '2|10.64.0.0/10',
  CAST(sum(CASE WHEN ipv >= 171966464 AND ipv < 176160768
           THEN 1 ELSE 0 END) AS DOUBLE) FROM g
UNION ALL SELECT 'gd', '0|*-3000',
  CAST(sum(CASE WHEN dist < 3000000 THEN 1 ELSE 0 END) AS DOUBLE)
FROM g
UNION ALL SELECT 'gd', '1|3000-8000',
  CAST(sum(CASE WHEN dist >= 3000000 AND dist < 8000000
           THEN 1 ELSE 0 END) AS DOUBLE) FROM g
UNION ALL SELECT 'gd', '2|8000-*',
  CAST(sum(CASE WHEN dist >= 8000000 THEN 1 ELSE 0 END) AS DOUBLE)
FROM g
"""
    # ip_prefix: replay the mask arithmetic over the deterministic ip
    # column ( /12 plain keys, /20 with '/20' appended )
    sql["dsl_ip_prefix"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.n_chars
  FROM q JOIN tok USING (term)
),
d AS (
  SELECT query_id,
         167772160 + (n_chars % 200) * 65536
           + ((n_chars * 3) % 250) * 256 + ((n_chars * 7) % 256) AS ipv
  FROM matched
),
p12 AS (
  SELECT query_id, (ipv // 1048576) * 1048576 AS net,
         count(*) AS doc_count
  FROM d GROUP BY 1, 2
),
p20 AS (
  SELECT query_id, (ipv // 4096) * 4096 AS net, count(*) AS doc_count
  FROM d GROUP BY 1, 2
)
SELECT 'p12' AS agg, query_id,
       CAST(net // 16777216 % 256 AS VARCHAR) || '.'
         || CAST(net // 65536 % 256 AS VARCHAR) || '.'
         || CAST(net // 256 % 256 AS VARCHAR) || '.'
         || CAST(net % 256 AS VARCHAR) AS key,
       CAST(12 AS BIGINT) AS prefix_length,
       '255.240.0.0' AS netmask, doc_count
FROM p12
UNION ALL
SELECT 'p20', query_id,
       CAST(net // 16777216 % 256 AS VARCHAR) || '.'
         || CAST(net // 65536 % 256 AS VARCHAR) || '.'
         || CAST(net // 256 % 256 AS VARCHAR) || '.'
         || CAST(net % 256 AS VARCHAR) || '/20',
       CAST(20 AS BIGINT), '255.255.240.0', doc_count
FROM p20
"""
    sql["dsl_matrix_scripted"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.n_chars
  FROM q JOIN tok USING (term)
),
geo AS (
  SELECT doc_id, n_chars,
         CAST(n_chars % 120 - 60 + 0.25 AS DOUBLE) AS a,
         CAST((n_chars * 7) % 340 - 170 + 0.5 AS DOUBLE) AS b
  FROM matched
),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         sum(a) AS s1a, sum(a*a) AS s2a, sum(a*a*a) AS s3a,
         sum(a*a*a*a) AS s4a,
         sum(b) AS s1b, sum(b*b) AS s2b, sum(b*b*b) AS s3b,
         sum(b*b*b*b) AS s4b,
         sum(a*b) AS sxy
  FROM geo
),
m1 AS (
  SELECT n, s1a/n AS ma, s1b/n AS mb,
         s2a/n AS r2a, s3a/n AS r3a, s4a/n AS r4a,
         s2b/n AS r2b, s3b/n AS r3b, s4b/n AS r4b,
         sxy/n AS rxy
  FROM s
),
m2 AS (
  SELECT n, ma, mb,
         r2a - ma*ma AS v2a,
         r3a - 3*ma*r2a + 2*ma*ma*ma AS m3a,
         r4a - 4*ma*r3a + 6*ma*ma*r2a - 3*ma*ma*ma*ma AS m4a,
         r2b - mb*mb AS v2b,
         r3b - 3*mb*r2b + 2*mb*mb*mb AS m3b,
         r4b - 4*mb*r3b + 6*mb*mb*r2b - 3*mb*mb*mb*mb AS m4b,
         rxy - ma*mb AS cov
  FROM m1
),
sq AS (
  SELECT sum(CAST(n_chars AS DOUBLE) * n_chars + 7) AS v FROM matched
)
SELECT 'matrix' AS agg, 'loc_lat|loc_lat|count' AS key,
       round(n, 6) AS val FROM m2
UNION ALL SELECT 'matrix', 'loc_lat|loc_lat|mean', round(ma, 6) FROM m2
UNION ALL SELECT 'matrix', 'loc_lat|loc_lat|variance',
  round(v2a, 6) FROM m2
UNION ALL SELECT 'matrix', 'loc_lat|loc_lat|skewness',
  round(m3a / power(v2a, 1.5), 6) FROM m2
UNION ALL SELECT 'matrix', 'loc_lat|loc_lat|kurtosis',
  round(m4a / (v2a * v2a), 6) FROM m2
UNION ALL SELECT 'matrix', 'loc_lon|loc_lon|count', round(n, 6) FROM m2
UNION ALL SELECT 'matrix', 'loc_lon|loc_lon|mean', round(mb, 6) FROM m2
UNION ALL SELECT 'matrix', 'loc_lon|loc_lon|variance',
  round(v2b, 6) FROM m2
UNION ALL SELECT 'matrix', 'loc_lon|loc_lon|skewness',
  round(m3b / power(v2b, 1.5), 6) FROM m2
UNION ALL SELECT 'matrix', 'loc_lon|loc_lon|kurtosis',
  round(m4b / (v2b * v2b), 6) FROM m2
UNION ALL SELECT 'matrix', 'loc_lat|loc_lon|covariance',
  round(cov, 6) FROM m2
UNION ALL SELECT 'matrix', 'loc_lat|loc_lon|correlation',
  round(cov / sqrt(v2a * v2b), 6) FROM m2
UNION ALL SELECT 'scripted', '*', round(v, 6) FROM sq
"""
    sql["dsl_bucket_scripts"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.n_chars
  FROM q JOIN tok USING (term)
),
hist AS (
  SELECT query_id, CAST(floor(n_chars / 100) * 100 AS BIGINT) AS k,
         count(*) AS doc_count, sum(n_chars) AS sum_chars
  FROM matched GROUP BY 1, 2
),
w AS (
  SELECT *,
    CAST(sum_chars AS DOUBLE) / doc_count AS ratio,
    doc_count - lag(doc_count, 2) OVER
      (PARTITION BY query_id ORDER BY k) AS sdiff,
    avg(CAST(doc_count AS DOUBLE)) OVER
      (PARTITION BY query_id ORDER BY k
       ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS mavg
  FROM hist
),
kept AS (SELECT * FROM w WHERE doc_count > 2)
SELECT 'count' AS agg, CAST(k AS VARCHAR) AS key,
       CAST(doc_count AS DOUBLE) AS val FROM kept
UNION ALL
SELECT 'ratio', CAST(k AS VARCHAR), round(ratio, 6) FROM kept
UNION ALL
SELECT 'sdiff', CAST(k AS VARCHAR), CAST(sdiff AS DOUBLE) FROM kept
WHERE sdiff IS NOT NULL
UNION ALL
SELECT 'mavg', CAST(k AS VARCHAR), round(mavg, 6) FROM kept
WHERE mavg IS NOT NULL
"""
    sql["dsl_global_agg"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, lang, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.lang
  FROM q JOIN tok USING (term)
),
scoped AS (
  SELECT 'scoped' AS scope, lang AS facet, count(*) AS doc_count
  FROM matched GROUP BY 2
),
gall AS (
  SELECT 'global' AS scope, lang AS facet, count(*) AS doc_count
  FROM documents GROUP BY 2
),
u AS (SELECT * FROM scoped UNION ALL SELECT * FROM gall)
SELECT scope,
       row_number() OVER (PARTITION BY scope
                          ORDER BY doc_count DESC, facet) AS bucket_rank,
       facet, doc_count
FROM u
QUALIFY bucket_rank <= 10
"""
    sql["dsl_sliced_scroll"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
)
SELECT DISTINCT q.query_id, tok.doc_id
FROM q JOIN tok USING (term)
"""
    # scroll: union of all pages must be EXACTLY the match set, and
    # the page count must be ceil(n/size) — the loop served every doc
    # once, no repeats, no gaps
    sql["scroll_export"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id FROM q JOIN tok USING (term)
),
n AS (SELECT query_id, count(*) AS cnt FROM matched GROUP BY 1)
SELECT m.query_id, m.doc_id, CAST(CEIL(n.cnt / 37.0) AS BIGINT) AS n_pages
FROM matched m JOIN n USING (query_id)
"""
    sql["dsl_terms_order"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, lang, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.lang, tok.n_chars
  FROM q JOIN tok USING (term)
),
fac AS (
  SELECT query_id, lang AS facet, count(*) AS doc_count,
         avg(n_chars) AS avg_raw
  FROM matched GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY avg_raw DESC, facet)
         AS bucket_rank
  FROM fac
)
SELECT query_id, bucket_rank, facet, doc_count,
       round(avg_raw, 6) AS avg_chars
FROM ranked WHERE bucket_rank <= 10
"""
    sql["dsl_count_mget"] = f"""
WITH q AS (SELECT DISTINCT unnest({tokenize_sql("'data merge'")}) AS term),
tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
matched AS (SELECT DISTINCT tok.doc_id FROM q JOIN tok USING (term))
SELECT 'count_match' AS api, '' AS key,
       CAST((SELECT count(*) FROM matched) AS DOUBLE) AS val
UNION ALL
SELECT 'count_all', '',
       CAST((SELECT count(*) FROM documents) AS DOUBLE)
UNION ALL
SELECT 'mget', r.key,
       CAST(EXISTS (SELECT 1 FROM documents d
                    WHERE CAST(d.doc_id AS VARCHAR) = r.key)
            AS DOUBLE)
FROM (SELECT unnest(['3', '5', '99999']) AS key) r
"""
    _bp_vals = ", ".join(
        f"(CAST({i} AS BIGINT), '{t}')"
        for i, t in enumerate(BOOL_PREFIX_QUERIES)
    )
    sql["dsl_bool_prefix"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qraw(query_id, query) AS (VALUES {_bp_vals}),
qtok AS (SELECT query_id, {tokenize_sql('query')} AS ts FROM qraw),
parsed AS (
  SELECT query_id, list_slice(ts, 1, len(ts) - 1) AS full_toks,
         list_extract(ts, len(ts)) AS prefix
  FROM qtok WHERE len(ts) > 0
),
fullt AS (
  SELECT DISTINCT query_id, unnest(full_toks) AS term FROM parsed
),
expt AS (
  SELECT query_id, term FROM (
    SELECT p.query_id, d.term,
           row_number() OVER (PARTITION BY p.query_id
                              ORDER BY d.term) AS rn
    FROM parsed p JOIN dfreq d
      ON d.term LIKE p.prefix || '%'
  ) WHERE rn <= 50
),
qterms AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT * FROM fullt UNION ALL SELECT * FROM expt
  )
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM qterms q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
tot AS (SELECT query_id, doc_id, sum(part) AS score FROM scored
        GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM tot
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""
    sql["dsl_span_near"] = f"""
WITH base AS (SELECT doc_id, {tokenize_sql('text')} AS toks FROM documents),
pos AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS p
  FROM base
),
d AS (SELECT doc_id, p FROM pos WHERE tok = 'data'),
m AS (SELECT doc_id, p FROM pos WHERE tok = 'merge'),
q0 AS (
  SELECT CAST(0 AS BIGINT) AS query_id, d.doc_id,
         CAST(min(m.p - d.p - 1) AS INT) AS min_width
  FROM d JOIN m USING (doc_id) WHERE m.p > d.p
  GROUP BY 2 HAVING min(m.p - d.p - 1) <= 6
),
q1 AS (
  SELECT CAST(1 AS BIGINT) AS query_id, d.doc_id,
         CAST(min(abs(m.p - d.p) - 1) AS INT) AS min_width
  FROM d JOIN m USING (doc_id)
  GROUP BY 2 HAVING min(abs(m.p - d.p) - 1) <= 3
),
u AS (SELECT * FROM q0 UNION ALL SELECT * FROM q1)
SELECT query_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY min_width, doc_id) AS rank,
       doc_id, min_width
FROM u
"""
    sql["dsl_source_page"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * ({K1} + 1)
             / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS score
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM scored
)
SELECT r.query_id, r.rank, r.doc_id,
       '{{"lang":"' || d.lang || '","n_chars":' || d.n_chars || '}}'
         AS source_json
FROM ranked r JOIN documents d USING (doc_id)
WHERE r.rank <= 10
"""
    sql["sql_api_query"] = """
SELECT lang, CAST(count(*) AS BIGINT) AS c,
       CAST(max(n_chars) AS BIGINT) AS mx,
       round(avg(n_chars::DOUBLE), 6) AS avg_chars
FROM documents WHERE n_chars > 150 GROUP BY lang
HAVING count(*) > 3
"""
    sql["dsl_geo_shape"] = """
WITH d AS (
  SELECT doc_id,
         CAST(n_chars % 120 - 60 + 0.25 AS DOUBLE) AS lat,
         CAST((n_chars * 7) % 340 - 170 + 0.5 AS DOUBLE) AS lon
  FROM documents
),
poly AS (
  SELECT doc_id, lat, lon,
         (CASE WHEN (((-40.0) > lat) <> ((-55.0) > lat)) AND (lon < (-120.0) + (lat - (-40.0)) * ((0.0) - (-120.0)) / ((-55.0) - (-40.0))) THEN 1 ELSE 0 END + CASE WHEN (((-55.0) > lat) <> ((-30.0) > lat)) AND (lon < (0.0) + (lat - (-55.0)) * ((130.0) - (0.0)) / ((-30.0) - (-55.0))) THEN 1 ELSE 0 END + CASE WHEN (((-30.0) > lat) <> ((45.0) > lat)) AND (lon < (130.0) + (lat - (-30.0)) * ((90.0) - (130.0)) / ((45.0) - (-30.0))) THEN 1 ELSE 0 END + CASE WHEN (((45.0) > lat) <> ((50.0) > lat)) AND (lon < (90.0) + (lat - (45.0)) * ((-60.0) - (90.0)) / ((50.0) - (45.0))) THEN 1 ELSE 0 END + CASE WHEN (((50.0) > lat) <> ((-40.0) > lat)) AND (lon < (-60.0) + (lat - (50.0)) * ((-120.0) - (-60.0)) / ((-40.0) - (50.0))) THEN 1 ELSE 0 END) % 2 = 1 AS inside
  FROM d
)
SELECT CAST(0 AS BIGINT) AS query_id, doc_id FROM poly WHERE inside
UNION ALL
SELECT CAST(1 AS BIGINT), doc_id FROM poly WHERE NOT inside
UNION ALL
SELECT CAST(2 AS BIGINT), doc_id FROM d
WHERE lat BETWEEN -20 AND 40 AND lon BETWEEN -60 AND 80
"""
    sql["ppl_pipeline"] = f"""
WITH a AS (
  SELECT lang, round(avg(n_chars::DOUBLE), 6) AS avg_chars,
         count(*)::DOUBLE AS c,
         count(DISTINCT source)::DOUBLE AS ds
  FROM documents WHERE n_chars > 200 GROUP BY 1
),
arows AS (
  SELECT 'avg_chars' AS scope, lang AS key, avg_chars AS val FROM a
  UNION ALL SELECT 'c', lang, c FROM a
  UNION ALL SELECT 'ds', lang, ds FROM a
),
counted AS (
  SELECT lang, source, count(*)::DOUBLE AS cnt
  FROM documents GROUP BY 1, 2
),
ranked AS (
  SELECT lang, source, cnt,
         row_number() OVER (PARTITION BY lang
                            ORDER BY cnt DESC, source) AS r
  FROM counted
),
brows AS (
  SELECT 'top' AS scope, lang || '|' || source AS key, cnt AS val
  FROM ranked WHERE r <= 2
),
crows AS (
  SELECT 'span' AS scope,
         CAST(CAST(floor(n_chars / 200.0) * 200 AS BIGINT) AS VARCHAR)
           AS key,
         count(*)::DOUBLE AS val
  FROM documents GROUP BY 2
),
mtok AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
  ) WHERE term IN ('data', 'merge')
),
drows AS (
  SELECT 'match' AS scope, '' AS key, count(*)::DOUBLE AS val FROM mtok
),
epat AS (
  SELECT regexp_replace(source, '[a-z]', '', 'g') AS pf,
         CASE WHEN n_chars > 300 THEN -1 ELSE n_chars END AS g
  FROM documents
),
eagg AS (
  SELECT pf, count(*)::DOUBLE AS c, sum(g)::DOUBLE AS sg
  FROM epat GROUP BY 1
),
erows AS (
  SELECT 'pat_c' AS scope, pf AS key, c AS val FROM eagg
  UNION ALL SELECT 'pat_sg', pf, sg FROM eagg
),
fen AS (
  SELECT CAST(doc_id AS VARCHAR) AS key, n_chars::DOUBLE AS x
  FROM documents WHERE lang = 'en'
),
fwin AS (
  SELECT key,
    CASE WHEN count(*) OVER w = 3
         THEN round(avg(x) OVER w, 6) END AS t3,
    CASE WHEN count(*) OVER w = 3
         THEN round((lag(x, 2) OVER o * 1 + lag(x, 1) OVER o * 2
                     + x * 3) / 6.0, 6) END AS w3
  FROM fen
  WINDOW w AS (ORDER BY key ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         o AS (ORDER BY key)
),
frows AS (
  SELECT 't3' AS scope, key, t3 AS val FROM fwin
  UNION ALL SELECT 'w3', key, w3 FROM fwin
),
grows AS (
  SELECT 'expand' AS scope, '' AS key,
         (sum(n_chars % 3)
          + sum((n_chars // 2) * (n_chars % 3))
          + sum(((n_chars % 3) * (n_chars % 3 + 1)) // 2)
         )::DOUBLE AS val
  FROM documents
),
kcent0 AS (
  SELECT row_number() OVER (ORDER BY v) - 1 AS ci, v FROM (
    SELECT DISTINCT n_chars::DOUBLE AS v FROM documents
    ORDER BY v LIMIT 3
  )
),
kassign0 AS (
  SELECT d.doc_id, d.n_chars,
         (SELECT ci FROM kcent0
          ORDER BY (d.n_chars - v) * (d.n_chars - v), ci
          LIMIT 1) AS c0
  FROM documents d
),
kcent1 AS (
  SELECT k0.ci, coalesce(k1.v, k0.v) AS v
  FROM kcent0 k0
  LEFT JOIN (
    SELECT c0 AS ci, avg(n_chars::DOUBLE) AS v
    FROM kassign0 GROUP BY 1
  ) k1 USING (ci)
),
kassign1 AS (
  SELECT d.doc_id, d.n_chars,
         (SELECT ci FROM kcent1
          ORDER BY (d.n_chars - v) * (d.n_chars - v), ci
          LIMIT 1) AS c
  FROM documents d
),
kagg AS (
  SELECT c, count(*)::DOUBLE AS cnt, sum(n_chars)::DOUBLE AS s
  FROM kassign1 GROUP BY 1
),
hrows AS (
  SELECT 'km_c' AS scope, CAST(c AS VARCHAR) AS key, cnt AS val FROM kagg
  UNION ALL SELECT 'km_s', CAST(c AS VARCHAR), s FROM kagg
),
adwin AS (
  SELECT CAST(doc_id AS VARCHAR) AS key,
         n_chars::DOUBLE AS x,
         avg(n_chars::DOUBLE) OVER w AS mu,
         stddev_samp(n_chars::DOUBLE) OVER w AS sd,
         row_number() OVER (
           PARTITION BY lang ORDER BY CAST(doc_id AS VARCHAR)
         ) AS rn
  FROM documents
  WINDOW w AS (PARTITION BY lang ORDER BY CAST(doc_id AS VARCHAR)
               ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)
),
adg AS (
  SELECT key,
         CASE WHEN sd > 0
              THEN least(1.0, greatest(0.0, abs(x - mu) / sd - 1.0))
         END AS grade,
         rn
  FROM adwin
),
irows AS (
  SELECT 'ad' AS scope, key, round(grade, 6) AS val
  FROM adg WHERE grade > 0 AND rn > 2
)
SELECT * FROM arows UNION ALL SELECT * FROM brows
UNION ALL SELECT * FROM crows UNION ALL SELECT * FROM drows
UNION ALL SELECT * FROM erows UNION ALL SELECT * FROM frows
UNION ALL SELECT * FROM grows UNION ALL SELECT * FROM hrows
UNION ALL SELECT * FROM irows
"""
    sql["dsl_highlight_page"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
scored AS (
  SELECT CAST(0 AS BIGINT) AS query_id, tf.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * ({K1} + 1)
             / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS score
  FROM tf
  JOIN dfreq d USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  WHERE tf.term = 'data'
  GROUP BY 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM scored
),
page AS (SELECT * FROM ranked WHERE rank <= 10),
pos AS (
  SELECT b.doc_id, t.tok, t.p - 1 AS p
  FROM (SELECT doc_id, {tokenize_sql('text')} AS arr FROM documents) b
  JOIN page USING (doc_id),
  LATERAL (
    SELECT unnest(b.arr) AS tok, generate_subscripts(b.arr, 1) AS p
  ) t
),
anchor AS (
  SELECT doc_id, min(p) AS p0,
         max(p) AS pmax
  FROM pos WHERE tok = 'data' GROUP BY 1
),
frag AS (
  SELECT pos.doc_id,
         string_agg(
           CASE WHEN pos.tok = 'data'
                THEN '[H]' || pos.tok || '[/H]' ELSE pos.tok END,
           ' ' ORDER BY pos.p
         ) AS frag1
  FROM pos JOIN anchor USING (doc_id)
  WHERE pos.p BETWEEN greatest(anchor.p0 - 5, 0) AND anchor.p0 + 5
  GROUP BY 1
)
SELECT pg.query_id, pg.rank, pg.doc_id, f.frag1, TRUE AS within_cap
FROM page pg JOIN frag f USING (doc_id)
"""
    sql["dsl_span_or_not"] = f"""
WITH base AS (SELECT doc_id, {tokenize_sql('text')} AS toks FROM documents),
pos AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS p
  FROM base
),
d AS (SELECT doc_id, p FROM pos WHERE tok = 'data'),
h AS (SELECT doc_id, p FROM pos WHERE tok = 'hash'),
m AS (SELECT doc_id, p FROM pos WHERE tok = 'merge'),
j AS (SELECT doc_id, p FROM pos WHERE tok = 'join'),
s AS (SELECT doc_id, p FROM pos WHERE tok = 'scan'),
dh AS (SELECT * FROM d UNION ALL SELECT * FROM h),
q0 AS (
  SELECT CAST(0 AS BIGINT) AS query_id, dh.doc_id,
         CAST(min(m.p - dh.p - 1) AS INT) AS min_width
  FROM dh JOIN m USING (doc_id) WHERE m.p > dh.p
  GROUP BY 2 HAVING min(m.p - dh.p - 1) <= 6
),
vocab AS (
  SELECT tok AS term, count(DISTINCT doc_id) AS df FROM pos GROUP BY 1
),
exp AS (
  SELECT term FROM vocab WHERE term LIKE 'dat%'
  ORDER BY df DESC, term LIMIT 50
),
dm AS (SELECT doc_id, p FROM pos WHERE tok IN (SELECT term FROM exp)),
q4 AS (
  SELECT CAST(4 AS BIGINT) AS query_id, dm.doc_id,
         CAST(min(m.p - dm.p - 1) AS INT) AS min_width
  FROM dm JOIN m USING (doc_id) WHERE m.p > dm.p
  GROUP BY 2 HAVING min(m.p - dm.p - 1) <= 6
),
chains AS (
  SELECT d.doc_id, d.p AS p1, min(m.p) AS p2
  FROM d JOIN m USING (doc_id) WHERE m.p > d.p
  GROUP BY d.doc_id, d.p
),
q1 AS (
  SELECT CAST(1 AS BIGINT) AS query_id, c.doc_id,
         CAST(min(c.p2 - c.p1 - 1) AS INT) AS min_width
  FROM chains c
  WHERE NOT EXISTS (
    SELECT 1 FROM j
    WHERE j.doc_id = c.doc_id AND j.p BETWEEN c.p1 AND c.p2
  )
  GROUP BY 2 HAVING min(c.p2 - c.p1 - 1) <= 6
),
q2 AS (
  SELECT CAST(2 AS BIGINT) AS query_id, c.doc_id,
         CAST(min(c.p2 - c.p1 - 1) AS INT) AS min_width
  FROM chains c
  WHERE NOT EXISTS (
    SELECT 1 FROM s
    WHERE s.doc_id = c.doc_id AND s.p BETWEEN c.p1 - 1 AND c.p2 + 2
  )
  GROUP BY 2 HAVING min(c.p2 - c.p1 - 1) <= 6
),
q3 AS (
  SELECT CAST(3 AS BIGINT) AS query_id, c.doc_id,
         CAST(min(c.p2 - c.p1 - 1) AS INT) AS min_width
  FROM chains c
  WHERE EXISTS (
    SELECT 1 FROM j
    WHERE j.doc_id = c.doc_id AND j.p BETWEEN c.p1 AND c.p2
  )
  GROUP BY 2 HAVING min(c.p2 - c.p1 - 1) <= 6
),
u AS (SELECT * FROM q0 UNION ALL SELECT * FROM q1
      UNION ALL SELECT * FROM q2 UNION ALL SELECT * FROM q3
      UNION ALL SELECT * FROM q4)
SELECT query_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY min_width, doc_id) AS rank,
       doc_id, min_width
FROM u
"""
    sql["join_field_search"] = f"""
WITH rel AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN 'question' ELSE 'answer' END
           AS join_name,
         CASE WHEN doc_id % 5 = 0 THEN NULL
              ELSE CAST(doc_id - doc_id % 5 AS VARCHAR) END
           AS join_parent
  FROM documents
),
tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
m0 AS (
  SELECT DISTINCT doc_id FROM tok WHERE term IN ('data', 'merge')
),
ch AS (
  SELECT r.join_parent, count(*) AS n_children
  FROM m0 JOIN rel r USING (doc_id)
  WHERE r.join_name = 'answer'
  GROUP BY 1 HAVING count(*) >= 2
),
q0 AS (
  SELECT CAST(0 AS BIGINT) AS query_id, d.doc_id,
         CAST(ch.n_children AS BIGINT) AS n_children
  FROM ch JOIN documents d ON CAST(d.doc_id AS VARCHAR) = ch.join_parent
),
m1 AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'hash'),
par AS (
  SELECT m1.doc_id FROM m1 JOIN rel USING (doc_id)
  WHERE join_name = 'question'
),
q1 AS (
  SELECT CAST(1 AS BIGINT) AS query_id, r.doc_id,
         CAST(0 AS BIGINT) AS n_children
  FROM rel r JOIN par p ON r.join_parent = CAST(p.doc_id AS VARCHAR)
),
q2 AS (
  SELECT CAST(2 AS BIGINT) AS query_id, doc_id,
         CAST(0 AS BIGINT) AS n_children
  FROM rel WHERE join_name = 'answer' AND join_parent = '10'
)
SELECT * FROM q0 UNION ALL SELECT * FROM q1 UNION ALL SELECT * FROM q2
"""
    sql["join_field_aggs"] = f"""
WITH rel AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN 'question' ELSE 'answer' END
           AS join_name,
         CASE WHEN doc_id % 5 = 0 THEN NULL
              ELSE CAST(doc_id - doc_id % 5 AS VARCHAR) END
           AS join_parent
  FROM documents
),
tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term IN ('data', 'merge')),
kids AS (
  SELECT r.doc_id FROM rel r
  JOIN m ON r.join_parent = CAST(m.doc_id AS VARCHAR)
  WHERE r.join_name = 'answer'
),
a AS (
  SELECT 'children_total' AS scope, '' AS facet,
         CAST(count(*) AS BIGINT) AS doc_count
  FROM kids
),
b AS (
  SELECT 'children_by_lang' AS scope, d.lang AS facet,
         CAST(count(*) AS BIGINT) AS doc_count
  FROM kids k JOIN documents d USING (doc_id) GROUP BY 2
),
par AS (
  SELECT DISTINCT r.join_parent
  FROM m JOIN rel r USING (doc_id)
  WHERE r.join_name = 'answer' AND r.join_parent IS NOT NULL
),
parx AS (
  SELECT p.join_parent FROM par p
  JOIN documents d ON CAST(d.doc_id AS VARCHAR) = p.join_parent
),
c AS (
  SELECT 'parents_total' AS scope, '' AS facet,
         CAST(count(*) AS BIGINT) AS doc_count
  FROM parx
)
SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c
"""
    sql["dsl_sort_page"] = f"""
WITH qraw(query_id, query) AS (VALUES (CAST(0 AS BIGINT), 'data merge')),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.n_chars
  FROM q JOIN tok USING (term)
),
ranked AS (
  SELECT query_id, doc_id, n_chars,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_chars DESC, doc_id) AS rank
  FROM matched
)
SELECT query_id, rank, doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM ranked WHERE rank > 5 AND rank <= 15
"""
    sql["simple_query_string_engine"] = _bool_oracle_sql(
        [_parse_sqs(q) for q in SQS_QUERIES]
    )

    sql["range_facets_engine"] = f"""
WITH qraw(query_id, query) AS (VALUES {_fac_values}),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
tok AS (
  SELECT doc_id, n_chars, unnest({tokenize_sql('text')}) AS term
  FROM documents
),
matched AS (
  SELECT DISTINCT q.query_id, tok.doc_id, tok.n_chars
  FROM q JOIN tok USING (term)
)
SELECT query_id,
       CASE WHEN n_chars < 200 THEN '*-200'
            WHEN n_chars < 400 THEN '200-400'
            WHEN n_chars < 800 THEN '400-800'
            ELSE '800-*' END AS bucket,
       count(*) AS doc_count
FROM matched
GROUP BY 1, 2
"""

    sql["search_after_page2"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qraw(query_id, query) AS (VALUES {_fac_values}),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
tot AS (SELECT query_id, doc_id, sum(part) AS score FROM scored GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank,
         lead(score) OVER (PARTITION BY query_id
                           ORDER BY score DESC, doc_id) AS nxt
  FROM tot
),
bnd AS (
  SELECT query_id, max(rank) AS r FROM ranked
  WHERE rank <= 10 AND (nxt IS NULL OR score <> nxt)
  GROUP BY 1
),
page2 AS (
  SELECT rk.query_id, rk.doc_id, rk.score,
         row_number() OVER (PARTITION BY rk.query_id
                            ORDER BY rk.rank) AS prank
  FROM ranked rk JOIN bnd USING (query_id)
  WHERE rk.rank > bnd.r
)
SELECT query_id, prank AS rank, doc_id, round(score, 6) AS score_r
FROM page2 WHERE prank <= 10
"""

    sql["delete_by_query_engine"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
dead AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE term IN (SELECT unnest({tokenize_sql("'" + DELETE_QUERY + "'")}))
),
qraw(query_id, query) AS (VALUES {_fac_values}),
q AS (SELECT DISTINCT query_id, unnest({tokenize_sql('query')}) AS term
      FROM qraw),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM q
  JOIN dfreq d USING (term)
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
tot AS (
  SELECT query_id, doc_id, sum(part) AS score FROM scored
  WHERE doc_id NOT IN (SELECT doc_id FROM dead)
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM tot
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    sql["index_stats_report"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1)
SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
       (SELECT count(DISTINCT term) FROM tok)::BIGINT AS n_terms,
       (SELECT count(*) FROM (SELECT DISTINCT doc_id, term FROM tok))::BIGINT
         AS total_postings,
       (SELECT sum(dl) FROM dl)::BIGINT AS total_tokens,
       round((SELECT sum(dl) FROM dl)::DOUBLE
             / (SELECT count(*) FROM documents), 6) AS avgdl_r
"""

    sql["search_snippets"] = f"""
WITH base AS ({_bm25_sql()}),
d AS (SELECT doc_id, {tokenize_sql('text')} AS toks FROM documents),
j AS (
  SELECT base.query, base.rank, base.doc_id, d.toks,
         list_distinct({tokenize_sql('base.query')}) AS qt
  FROM base JOIN d USING (doc_id)
),
p AS (
  SELECT query, rank, doc_id, toks,
         list_min(list_filter(
           list_transform(qt, t -> list_position(toks, t)),
           x -> x > 0)) AS pos
  FROM j
)
SELECT query, rank, doc_id,
       array_to_string(toks[greatest(pos - 5, 1) : pos + 5], ' ') AS snippet
FROM p
"""

    sql["more_like_this_docs"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokenize_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT (SELECT count(*)::DOUBLE FROM documents) AS n,
                 (SELECT avg(dl) FROM dl) AS avgdl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
kwsc AS (
  SELECT tf.doc_id AS src_id, tf.term,
         tf.tf * ln(s.n / d.df) AS kscore
  FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
  WHERE tf.doc_id IN (0, 1, 2)
),
kw AS (
  SELECT src_id, term FROM (
    SELECT src_id, term,
           row_number() OVER (PARTITION BY src_id
                              ORDER BY kscore DESC, term) AS rn
    FROM kwsc
  ) WHERE rn <= 5
),
scored AS (
  SELECT kw.src_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({K1} + 1)
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)) AS part
  FROM kw
  JOIN tf ON tf.term = kw.term
  JOIN dfreq d ON d.term = kw.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  WHERE tf.doc_id != kw.src_id
),
tot AS (SELECT src_id, doc_id, sum(part) AS score FROM scored GROUP BY 1, 2),
ranked AS (
  SELECT src_id, doc_id, score,
         row_number() OVER (PARTITION BY src_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM tot
)
SELECT src_id, rank, doc_id, round(score, 6) AS score_r
FROM ranked WHERE rank <= 10
"""

    from data_prepper_spark.datapipe.textstats import chunk_documents_sql

    sql["doc_chunking"] = (
        "SELECT id, chunk_idx, chunk_len, md5(chunk_text) AS chunk_md5 "
        f"FROM ({chunk_documents_sql(toks, chunk_tokens=64, overlap=16)})"
    )

    sql["tfidf_keywords"] = f"""
WITH tok AS (SELECT doc_id AS id, unnest({toks}) AS term FROM documents),
tf AS (SELECT id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfq AS (SELECT term, count(DISTINCT id) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT id, term, tf * ln(CAST(n.n AS DOUBLE) / df) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT id, term, score,
         row_number() OVER (PARTITION BY id
                            ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT id, CAST(rank AS INT) AS rank, term, round(score, 6) AS score_r
FROM ranked WHERE rank <= 5
"""

    sql["quality_token_stats"] = f"""
SELECT doc_id,
  round(
    (CASE WHEN length(text) >= 200 AND length(text) <= 100000
          THEN 1.0 ELSE 0.5 END) * 0.25
    + least(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
            / greatest(length(text), 1) * 1.25, 1.0) * 0.35
    + (1.0 - least(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g'))
                   / greatest(length(text), 1) * 4, 1.0)) * 0.2
    + (CASE WHEN length(text) * 1.0 / greatest(len(str_split_regex(text, '\\s+')), 1)
              BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END) * 0.2
  , 6) AS quality,
  len({toks}) AS n_tokens
FROM documents
"""

    return sql
