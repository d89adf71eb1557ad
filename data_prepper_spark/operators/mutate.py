"""Mutate-event / mutate-string processor analogs — pure projections.

Reference plugins (SURVEY.md §2.4): mutate-event-processors/
(AddEntryProcessor.java:39, CopyValueProcessor.java:29,
RenameKeyProcessor.java:29, DeleteEntryProcessor.java:33,
SelectEntriesProcessor.java:26, ConvertEntryTypeProcessor.java:40,
ListToMapProcessor.java:29, MapToListProcessor.java:33), mutate-string-
processors/ (SplitString/SubstituteString/ReplaceString/Uppercase/
Lowercase/Trim), truncate-processor, obfuscate-processor,
flatten-processor, write-json-processor, split-event-processor.

Every function takes and returns a DataFrame; `*_when` gates become
F.when(cond, new).otherwise(old) so unmatched rows pass through
unchanged, matching the reference's per-event conditional semantics.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .expression import dp_expr

TAGS_COL = "_tags"


def ensure_tags(df: DataFrame) -> DataFrame:
    """Materialize the EventMetadata tag set as an array<string> column
    (reference DefaultEventMetadata.java:33-45)."""
    if TAGS_COL in df.columns:
        return df
    return df.withColumn(TAGS_COL, F.array().cast("array<string>"))


EVENT_TYPE_COL = "_event_type"


def ensure_event_type(df: DataFrame, event_type: str = "EVENT") -> DataFrame:
    """Materialize the EventMetadata event type as a string column
    (reference DefaultEventMetadata eventType; read by the
    getEventType() expression function). Sources stamp their type —
    LOG / TRACE / METRIC / DOCUMENT — here."""
    if EVENT_TYPE_COL in df.columns:
        return df
    return df.withColumn(EVENT_TYPE_COL, F.lit(event_type))


def add_entries(df: DataFrame, entries: list[dict]) -> DataFrame:
    """add_entries (AddEntryProcessor.java:39 / config :61-64): each
    entry has `key` (or `metadata_key` -> `_meta_*` column) plus one of
    `value` (literal), `format` ("${col}-suffix" template),
    `value_expression`; optional `add_when`,
    `overwrite_if_key_exists` (default True here),
    `append_if_key_exists` (existing value becomes/extends an
    array<string> — Spark's static schema makes the reference's
    polymorphic scalar-or-list a typed array)."""
    for e in entries:
        if "metadata_key" in e:
            key = "_meta_" + e["metadata_key"].strip("/").replace("/", "_")
        else:
            key = e["key"]
        if "value" in e:
            new = F.lit(e["value"])
        elif "format" in e:
            new = _format_string(e["format"])
        else:
            new = dp_expr(e["value_expression"])
        if e.get("append_if_key_exists") and key in df.columns:
            old = F.col(key)
            from pyspark.sql import types as T

            if isinstance(df.schema[key].dataType, T.ArrayType):
                new = F.array_append(old, new.cast("string"))
            else:
                new = F.when(
                    old.isNotNull(),
                    F.array(old.cast("string"), new.cast("string")),
                ).otherwise(F.array(new.cast("string")))
        elif not e.get("overwrite_if_key_exists", True) and key in df.columns:
            new = F.coalesce(F.col(key), new)
        when = e.get("add_when")
        if when is not None:
            old = F.col(key) if key in df.columns else F.lit(None)
            new = F.when(dp_expr(when), new).otherwise(old)
        df = df.withColumn(key, new)
    return df


def _format_string(fmt: str) -> Column:
    """Event formatString "${/key}" templates (reference
    JacksonEvent.java:520-539) -> concat of literals and columns."""
    import re

    parts: list[Column] = []
    pos = 0
    for m in re.finditer(r"\$\{/?([\w/]+)\}", fmt):
        if m.start() > pos:
            parts.append(F.lit(fmt[pos : m.start()]))
        parts.append(F.col(m.group(1).replace("/", ".")).cast("string"))
        pos = m.end()
    if pos < len(fmt):
        parts.append(F.lit(fmt[pos:]))
    return F.concat(*parts) if parts else F.lit("")


def copy_values(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    for src, dst in pairs:
        df = df.withColumn(dst, F.col(src))
    return df


def rename_keys(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    return df.withColumnsRenamed(mapping)


def delete_entries(
    df: DataFrame, keys: list[str] | None = None, regex: str | None = None
) -> DataFrame:
    """delete_entries (DeleteEntryProcessor.java:33): explicit
    `with_keys` and/or a key-matching regex set."""
    cols = list(keys or [])
    if regex:
        pat = _re.compile(regex)
        cols += [c for c in df.columns if pat.search(c)]
    return df.drop(*cols)


def select_entries(df: DataFrame, keys: list[str]) -> DataFrame:
    return df.select(*keys)


def convert_type(
    df: DataFrame,
    key: str,
    target: str,
    scale: int | None = None,
    tags_on_failure: list[str] | None = None,
    null_values: list[str] | None = None,
) -> DataFrame:
    """convert_type: cast with failure tagging (ConvertEntryTypeProcessor
    TargetType.java:23 — integer/long/double/big_decimal/string/boolean).
    A value that fails to cast becomes NULL and the row gets the failure
    tags, mirroring tags_on_failure. `null_values` strings convert to
    null first (e.g. "-"). Boolean follows the reference's
    BooleanConverter exactly: strings via Boolean.parseBoolean (only
    case-insensitive "true" is true — "1"/"yes" are false, nothing
    fails), numbers via != 0."""
    from pyspark.sql import types as T

    src = F.col(key)
    if null_values:
        src = F.when(
            src.cast("string").isin(null_values), F.lit(None)
        ).otherwise(src)
    t = {"integer": "int", "big_decimal": f"decimal(38,{scale or 18})"}.get(
        target, target
    )
    if target == "boolean":
        dt = df.schema[key].dataType
        if isinstance(dt, T.StringType):
            casted = F.when(src.isNull(), F.lit(None).cast("boolean")).otherwise(
                F.lower(F.trim(src)) == "true"
            )
        elif isinstance(dt, T.NumericType):
            casted = (src != 0).cast("boolean")
        else:
            casted = src.try_cast("boolean")
    else:
        # try_cast: malformed values become NULL (+ tags) instead of
        # failing the task under ANSI mode — the reference tags and
        # keeps the event
        casted = src.try_cast(t)
    if tags_on_failure:
        df = ensure_tags(df)
        fail = src.isNotNull() & casted.isNull()
        df = df.withColumn(
            TAGS_COL,
            F.when(
                fail,
                F.array_union(
                    F.col(TAGS_COL), F.array(*[F.lit(x) for x in tags_on_failure])
                ),
            ).otherwise(F.col(TAGS_COL)),
        )
    return df.withColumn(key, casted)


# ---- string mutations (with_keys semantics: apply to each listed key) --


def _per_key(df: DataFrame, keys: list[str], fn) -> DataFrame:
    return df.withColumns({k: fn(F.col(k)) for k in keys})


def uppercase_string(df: DataFrame, with_keys: list[str]) -> DataFrame:
    return _per_key(df, with_keys, F.upper)


def lowercase_string(df: DataFrame, with_keys: list[str]) -> DataFrame:
    return _per_key(df, with_keys, F.lower)


def trim_string(df: DataFrame, with_keys: list[str]) -> DataFrame:
    return _per_key(df, with_keys, F.trim)


def split_string(df: DataFrame, key: str, delimiter: str) -> DataFrame:
    """split_string: field -> array in place (regex delimiter)."""
    return df.withColumn(key, F.split(F.col(key), delimiter))


def substitute_string(df: DataFrame, key: str, frm: str, to: str) -> DataFrame:
    return df.withColumn(key, F.regexp_replace(F.col(key), frm, to))


def replace_string(df: DataFrame, key: str, frm: str, to: str) -> DataFrame:
    """Literal (non-regex) replace."""
    return df.withColumn(key, F.replace(F.col(key), F.lit(frm), F.lit(to)))


def truncate(
    df: DataFrame, key: str, start_at: int = 0, length: int | None = None
) -> DataFrame:
    """truncate (TruncateProcessor.java:32): strings truncate by
    substring; array columns truncate EACH ELEMENT (the reference maps
    the truncation over list items)."""
    from pyspark.sql import types as T

    def _trunc(c):
        n = F.lit(length) if length is not None else F.length(c)
        return F.substring(c, start_at + 1, n)

    dt = df.schema[key].dataType
    if isinstance(dt, T.ArrayType):
        new = F.transform(F.col(key), _trunc)
    else:
        new = _trunc(F.col(key))
    return df.withColumn(key, new)


# Reference predefined PII patterns (obfuscate-processor
# CommonPattern.java:9-14), referenced as %{NAME} in `patterns`
OBFUSCATE_PATTERNS = {
    "EMAIL_ADDRESS": r"[A-Za-z0-9+_.-]+@([\w-]+\.)+[\w-]{2,4}",
    "IP_ADDRESS_V4": r"((25[0-5]|(2[0-4]|1\d|[1-9]|)\d)\.?\b){4}",
    "BASE_NUMBER": r"[0-9]*\.?[0-9]+",
    "CREDIT_CARD_NUMBER": r"(\d[ -]*?){13,16}",
    "US_PHONE_NUMBER": r"\+?\d?[\s-]?(\(\d{3}\)|\d{3})[\s-]?\d{3}[\s-]?\d{4}",
    "US_SSN_NUMBER": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}

_OBF_REF = _re.compile(r"^%\{(\w+)\}$")


def obfuscate(
    df: DataFrame,
    key: str,
    action: str = "mask",
    pattern: str | list[str] | None = None,
    salt: str = "",
    bits: int = 512,
    mask_character: str = "*",
    mask_character_length: int = 3,
) -> DataFrame:
    """obfuscate: mask or one-way salted hash
    (ObfuscationProcessor.java:34, MaskAction.java:16,
    OneWayHashAction.java:28 — the reference uses SHA-512; `bits`
    selects the SHA-2 width). `pattern` entries of the form %{NAME}
    resolve against the predefined PII library (CommonPattern.java);
    multiple patterns apply in order. Mask replacement is
    mask_character x mask_character_length (reference MaskAction)."""
    c = F.col(key)
    patterns = (
        [pattern] if isinstance(pattern, str) else list(pattern or [])
    )
    resolved = []
    for p in patterns:
        m = _OBF_REF.match(p)
        if m:
            if m.group(1) not in OBFUSCATE_PATTERNS:
                raise ValueError(f"unknown predefined pattern {p!r}")
            resolved.append(OBFUSCATE_PATTERNS[m.group(1)])
        else:
            resolved.append(p)
    if action == "mask":
        mask = mask_character * mask_character_length
        if not resolved:
            new = F.lit(mask)
        else:
            new = c
            for rp in resolved:
                new = F.regexp_replace(new, rp, mask)
    elif action == "hash":
        new = F.sha2(F.concat(c.cast("string"), F.lit(salt)), bits)
    else:
        raise ValueError(action)
    return df.withColumn(key, new)


def write_json(df: DataFrame, key: str, dest: str) -> DataFrame:
    return df.withColumn(dest, F.to_json(F.col(key)))


def flatten(
    df: DataFrame, key: str, prefix: str = "", recursive: bool = False
) -> DataFrame:
    """flatten: promote struct fields to top-level dotted columns
    (FlattenProcessor.java:28). recursive=True walks nested structs to
    any depth (a.b.c columns); non-struct leaves keep their type."""
    from pyspark.sql import types as T

    cols = [c for c in df.columns if c != key]

    def walk(path: str, name: str, dtype) -> list:
        full = f"{path}.{name}" if path else name
        label = full if not prefix else prefix + full
        if recursive and isinstance(dtype, T.StructType):
            out = []
            for f in dtype.fields:
                out.extend(walk(full, f.name, f.dataType))
            return out
        return [F.col(f"{key}.{full}").alias(label)]

    flat = []
    for f in df.schema[key].dataType.fields:
        flat.extend(walk("", f.name, f.dataType))
    return df.select(*cols, *flat)


def flatten_json_map(
    df: DataFrame, key: str, dest: str = "flattened",
    bracket_notation: bool = False,
) -> DataFrame:
    """Dynamic flatten for payloads whose nesting is data-dependent
    (lists included): any column -> map<string,string> of leaf paths.
    Paths are dotted (a.b.0.c) or bracketed (a.b[0].c) per the
    reference's flatten list mode. The walk runs in an Arrow-batched
    pandas UDF over the JSON form (the reference flattens the Jackson
    tree per event the same way)."""
    import json as _json

    from pyspark.sql.functions import pandas_udf

    def _walk(obj, path, out):
        if isinstance(obj, dict):
            for k, v in obj.items():
                _walk(v, f"{path}.{k}" if path else k, out)
        elif isinstance(obj, list):
            for i, v in enumerate(obj):
                p = f"{path}[{i}]" if bracket_notation else f"{path}.{i}"
                _walk(v, p if path else str(i), out)
        else:
            out[path] = None if obj is None else (
                _json.dumps(obj) if isinstance(obj, (dict, list)) else
                (str(obj).lower() if isinstance(obj, bool) else str(obj))
            )

    def fn(s):
        def one(x):
            if x is None:
                return {}
            out: dict[str, str] = {}
            _walk(_json.loads(x), "", out)
            return out

        return s.map(one)

    conv = pandas_udf(fn, "map<string,string>")
    return df.withColumn(dest, conv(F.to_json(F.col(key))))


def wrap_entries(df: DataFrame, keys: list[str], wrapper: str) -> DataFrame:
    """wrap_entries: nest selected keys under a struct."""
    rest = [c for c in df.columns if c not in keys]
    return df.select(*rest, F.struct(*keys).alias(wrapper))


def list_to_map(
    df: DataFrame, source: str, key_field: str, value_field: str, dest: str
) -> DataFrame:
    """list-of-structs -> map keyed by a field (ListToMapProcessor)."""
    return df.withColumn(
        dest,
        F.map_from_entries(
            F.transform(
                F.col(source),
                lambda x: F.struct(
                    x[key_field].alias("key"), x[value_field].alias("value")
                ),
            )
        ),
    )


def map_to_list(df: DataFrame, source: str, dest: str) -> DataFrame:
    """map -> list of {key, value} structs (MapToListProcessor)."""
    return df.withColumn(dest, F.map_entries(F.col(source)))


def filter_list(
    df: DataFrame, source: str, dest: str, condition
) -> DataFrame:
    """filter_list (FilterListProcessor.java:35): keep elements of a
    list-of-structs matching a per-element condition. `condition` is a
    lambda Column -> Column (e.g. lambda x: x["status"] == "ok")."""
    return df.withColumn(dest, F.filter(F.col(source), condition))


def split_event(df: DataFrame, key: str, delimiter_regex: str) -> DataFrame:
    """1->N: one row per split part, other columns cloned
    (SplitEventProcessor.java:33 clones metadata/handle per child)."""
    rest = [c for c in df.columns if c != key]
    return df.select(
        *rest, F.explode(F.split(F.col(key), delimiter_regex)).alias(key)
    )
