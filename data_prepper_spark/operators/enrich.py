"""Lookup-join processors: translate, geoip-style range lookup
(SURVEY.md §2.6 — the reference has no general join; its joins are all
broadcast-style lookups: TranslateProcessor.java:41,
GeoIPProcessor.java:43, S3EnrichProcessor.java:52)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def _parse_translate_keys(
    mappings: dict[str, str],
) -> tuple[dict[str, str], list[tuple[float, float, str]]]:
    """Reference map-key grammar (MappingsParser.parseIndividualKeys):
    comma-separated keys split into entries; 'lo-hi' numeric keys become
    inclusive Float ranges (Range.between); overlapping ranges and
    duplicate keys raise, matching the reference's config validation."""
    individual: dict[str, str] = {}
    ranges: list[tuple[float, float, str]] = []

    def _num(s: str) -> float | None:
        try:
            return float(s)
        except ValueError:
            return None

    for raw_key, value in mappings.items():
        for key in str(raw_key).split(","):
            parts = key.split("-")
            lo = _num(parts[0]) if len(parts) == 2 else None
            hi = _num(parts[1]) if len(parts) == 2 else None
            if lo is not None and hi is not None:
                for plo, phi, _ in ranges:
                    if lo <= phi and hi >= plo:
                        raise ValueError(
                            f"map key {key!r} overlaps another range entry"
                        )
                ranges.append((lo, hi, value))
            else:
                key = key.strip()
                if key in individual:
                    raise ValueError(f"duplicate map key {key!r}")
                individual[key] = value
    for key in individual:
        k = _num(key)
        if k is not None and any(lo <= k <= hi for lo, hi, _ in ranges):
            raise ValueError(f"map key {key!r} overlaps a range entry")
    return individual, ranges


def translate(
    df: DataFrame,
    source: str,
    target: str,
    mappings: dict[str, str],
    default: str | None = None,
) -> DataFrame:
    """translate with an inline map: value -> value, default on miss
    (TranslateProcessor.java:41). Keys may be plain values,
    comma-separated lists ('a,b': x) or inclusive numeric ranges
    ('10-20': x). Compiled to element_at on a map literal plus a
    when-chain for ranges (constant-folded, no join)."""
    individual, ranges = _parse_translate_keys(mappings)
    out = F.lit(None).cast("string")
    if individual:
        pairs = [
            x for kv in individual.items() for x in (F.lit(kv[0]), F.lit(kv[1]))
        ]
        out = F.element_at(F.create_map(*pairs), F.col(source).cast("string"))
    if ranges:
        num = F.col(source).cast("double")
        range_expr = F.lit(None).cast("string")
        for lo, hi, val in ranges:
            range_expr = F.when(
                num.isNotNull() & (num >= lo) & (num <= hi), F.lit(val)
            ).otherwise(range_expr)
        out = F.coalesce(out, range_expr)
    if default is not None:
        out = F.coalesce(out, F.lit(default))
    return df.withColumn(target, out)


def translate_file(
    df: DataFrame,
    source: str,
    target: str,
    path: str,
    default: str | None = None,
) -> DataFrame:
    """translate with a mappings FILE (reference file_parameter /
    S3ObjectProvider path of TranslateProcessorConfig): YAML or JSON
    holding either a plain map or the reference's
    {mappings: [{source, targets: [{target, map}]}]} document shape.
    The file is read driver-side (it is config, not data) and compiled
    into the same literal-map plan as the inline form."""
    import json as _json

    with open(path) as f:
        text = f.read()
    try:
        doc = _json.loads(text)
    except ValueError:
        import yaml

        doc = yaml.safe_load(text)
    if isinstance(doc, dict) and "mappings" in doc:
        for m in doc["mappings"]:
            if m.get("source") == source or len(doc["mappings"]) == 1:
                for t in m.get("targets", []):
                    if t.get("target") == target or len(m["targets"]) == 1:
                        return translate(
                            df, source, target, t["map"],
                            t.get("default", default),
                        )
        raise ValueError(f"no mapping for source={source} target={target}")
    return translate(df, source, target, doc, default)


def translate_regex(
    df: DataFrame,
    source: str,
    target: str,
    regex_mappings: list[tuple[str, str]],
    default: str | None = None,
) -> DataFrame:
    """translate regex rows -> first-match-wins when-chain."""
    expr = None
    for pat, val in regex_mappings:
        cond = F.col(source).rlike(pat)
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    expr = expr.otherwise(F.lit(default)) if expr is not None else F.lit(default)
    return df.withColumn(target, expr)


def range_lookup(
    df: DataFrame,
    key: str,
    ranges: DataFrame,
    start: str,
    end: str,
    value_cols: list[str],
) -> DataFrame:
    """geoip-style interval lookup: broadcast non-equi join on
    start <= key < end. The ranges side must be small (the reference
    broadcasts the whole MaxMind db to every node)."""
    cond = (F.col(key) >= ranges[start]) & (F.col(key) < ranges[end])
    return df.join(broadcast(ranges.select(start, end, *value_cols)), cond, "left").drop(
        start, end
    )
