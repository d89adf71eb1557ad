"""Independent pandas reference for OpenSearch `bool` queries: exact
Lucene BooleanQuery semantics (must=AND scored, filter=AND unscored,
should=optional-or-msm, must_not=NOT, nested bools contribute their
summed score upward) and BM25 scoring recomputed from the raw corpus.
Shared by the bool-tree and DSL tests."""

from __future__ import annotations

import math

import pandas as pd

from data_prepper_spark.oracle import B, K1, build_term_stats, corpus_doc_ids
from data_prepper_spark.tokenizer import tokenize_series


# ---------------------------------------------------------------------------
# pandas reference: exact Lucene bool semantics over the raw corpus
# ---------------------------------------------------------------------------


def build_ref(corpus: pd.DataFrame) -> dict:
    """Per-(doc, term) BM25 partials + doc metadata of a raw corpus —
    everything _eval needs."""
    postings, docs = build_term_stats(corpus)
    n = len(docs)
    avgdl = docs["dl"].mean()
    dfreq = postings.groupby("term")["doc_id"].nunique()
    dl = dict(zip(docs["doc_id"], docs["dl"]))
    part = {}
    for r in postings.itertuples():
        idf = math.log(1 + (n - dfreq[r.term] + 0.5) / (dfreq[r.term] + 0.5))
        d = dl[r.doc_id]
        part[(r.doc_id, r.term)] = (
            idf * r.tf * (K1 + 1) / (r.tf + K1 * (1 - B + B * d / avgdl))
        )
    corpus = corpus.assign(doc_id=corpus_doc_ids(corpus))
    meta = corpus.set_index("doc_id")[
        [c for c in ("lang", "n_chars") if c in corpus.columns]
    ]
    return {"part": part, "meta": meta, "doc_ids": list(meta.index),
            "dfreq": dfreq}


def _toks(text: str) -> list:
    return list(dict.fromkeys(tokenize_series(pd.Series([text]))[0]))


def _lev1(a: str, b: str) -> bool:
    """Levenshtein distance <= 1 (plain, no transposition credit)."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) == 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1:]


def _expand_ref(pat: str, mode: str, ref: dict, cap: int) -> list:
    """Reference dictionary expansion: df-descending, term-ascending
    tie-break, capped at `cap` — the scoring_boolean rewrite."""
    import re as _re

    dfreq = ref["dfreq"]
    if mode == "prefix":
        hit = [t for t in dfreq.index if t.startswith(pat)]
    elif mode == "wildcard":
        rx = _re.compile(
            "^" + "".join(
                ".*" if c == "*" else "." if c == "?" else _re.escape(c)
                for c in pat
            ) + "$"
        )
        hit = [t for t in dfreq.index if rx.match(t)]
    elif mode == "regexp":
        rx = _re.compile(pat)
        hit = [t for t in dfreq.index if rx.fullmatch(t)]
    else:  # fuzzy
        hit = [t for t in dfreq.index if _lev1(pat, t)]
    hit.sort(key=lambda t: (-dfreq[t], t))
    return hit[:cap]


def _eval(node: dict, doc: int, ref: dict) -> tuple[bool, float]:
    """(matches, score) of `node` for one doc — the independent
    semantics the engine must reproduce."""
    ((kind, spec),) = node.items()
    meta, part = ref["meta"], ref["part"]
    if kind == "match_all":
        return True, 0.0
    if kind in ("prefix", "wildcard", "fuzzy", "regexp"):
        ((_f, v),) = spec.items()
        pat = v.get("value", v.get("query")) if isinstance(v, dict) else v
        cap = int(v.get("max_expansions", 50)) if isinstance(v, dict) else 50
        boost = float(v.get("boost", 1.0)) if isinstance(v, dict) else 1.0
        terms = _expand_ref(str(pat), kind, ref, cap)
        hit = any((doc, t) in part for t in terms)
        s = sum(part.get((doc, t), 0.0) for t in terms)
        return hit, s * boost if hit else 0.0
    if kind == "range":
        ((field, val),) = spec.items()
        v = meta.loc[doc, field]
        ok = all(
            (op != "gte" or v >= x) and (op != "gt" or v > x)
            and (op != "lte" or v <= x) and (op != "lt" or v < x)
            for op, x in val.items()
        )
        return ok, 0.0
    if kind in ("term", "terms") and next(iter(spec)) in ("lang", "n_chars"):
        ((field, val),) = spec.items()
        v = meta.loc[doc, field]
        ok = v in val if kind == "terms" else v == val
        return ok, 0.0
    if kind in ("match", "term"):
        ((_f, v),) = spec.items()
        text = v.get("query", v.get("value")) if isinstance(v, dict) else v
        boost = float(v.get("boost", 1.0)) if isinstance(v, dict) else 1.0
        s = sum(part.get((doc, t), 0.0) for t in _toks(str(text)))
        hit = any((doc, t) in part for t in _toks(str(text)))
        return hit, s * boost if hit else 0.0
    if kind == "match_phrase":
        ((_f, v),) = spec.items()
        toks = _toks(str(v))
        if not toks or not all((doc, t) in part for t in toks):
            return False, 0.0
        return True, sum(part[(doc, t)] for t in toks)
    if kind == "dis_max":
        subs = [_eval(c, doc, ref) for c in spec.get("queries", [])]
        hits = [s for ok, s in subs if ok]
        if not hits:
            return False, 0.0
        tb = float(spec.get("tie_breaker", 0.0))
        best = max(hits)
        return True, (best + tb * (sum(hits) - best)) * float(
            spec.get("boost", 1.0)
        )
    if kind == "constant_score":
        ok, _ = _eval(spec["filter"], doc, ref)
        return ok, float(spec.get("boost", 1.0)) if ok else 0.0
    if kind == "boosting":
        ok, s = _eval(spec["positive"], doc, ref)
        if not ok:
            return False, 0.0
        nok, _ = _eval(spec["negative"], doc, ref)
        nb = float(spec.get("negative_boost", 0.5))
        return True, s * nb if nok else s
    if kind == "function_score":
        ok, s = _eval(spec.get("query", {"match_all": {}}), doc, ref)
        if not ok:
            return False, 0.0
        fns = spec.get("functions")
        if fns is None:
            fns = [{k: v for k, v in spec.items()
                    if k in ("field_value_factor", "weight")}]
        vals = []
        for f in fns:
            if "filter" in f:
                fok, _ = _eval(f["filter"], doc, ref)
                if not fok:
                    continue
            v = 1.0
            for dk in ("gauss", "exp", "linear"):
                if dk not in f:
                    continue
                ((fld, dconf),) = f[dk].items()
                x = float(meta.loc[doc, fld])
                origin = float(dconf["origin"])
                scale = float(dconf["scale"])
                off = float(dconf.get("offset", 0.0))
                dec = float(dconf.get("decay", 0.5))
                dist = max(0.0, abs(x - origin) - off)
                if dk == "gauss":
                    sigma2 = -(scale ** 2) / (2.0 * math.log(dec))
                    v = math.exp(-(dist ** 2) / (2.0 * sigma2))
                elif dk == "exp":
                    v = math.exp(math.log(dec) / scale * dist)
                else:
                    s2 = scale / (1.0 - dec)
                    v = max(0.0, (s2 - dist) / s2)
            if "field_value_factor" in f:
                fvf = f["field_value_factor"]
                x = float(meta.loc[doc, fvf["field"]]) * float(
                    fvf.get("factor", 1.0)
                )
                mod = fvf.get("modifier", "none")
                v = {
                    "none": x,
                    "log1p": math.log10(1 + x),
                    "ln1p": math.log1p(x),
                    "sqrt": math.sqrt(x),
                    "square": x * x,
                    "reciprocal": 1.0 / x,
                }[mod]
            if "weight" in f:
                v *= float(f["weight"])
            vals.append(v)
        sm = spec.get("score_mode", "multiply")
        if not vals:
            S = 1.0
        elif sm == "multiply":
            S = math.prod(vals)
        elif sm == "sum":
            S = sum(vals)
        elif sm == "avg":
            S = sum(vals) / len(vals)
        elif sm == "max":
            S = max(vals)
        elif sm == "min":
            S = min(vals)
        else:
            S = vals[0]
        if "max_boost" in spec:
            S = min(S, float(spec["max_boost"]))
        bm = spec.get("boost_mode", "multiply")
        out = {
            "multiply": s * S,
            "sum": s + S,
            "replace": S,
            "max": max(s, S),
            "min": min(s, S),
            "avg": (s + S) / 2,
        }[bm]
        # min_score applies to the combined function score; the node
        # boost wraps OUTSIDE (Lucene BoostQuery around
        # FunctionScoreQuery)
        if "min_score" in spec and out < float(spec["min_score"]):
            return False, 0.0
        return True, out * float(spec.get("boost", 1.0))
    assert kind == "bool", kind
    msm = spec.get("minimum_should_match")

    def kids(role):
        cl = spec.get(role, [])
        return cl if isinstance(cl, list) else [cl]

    score = 0.0
    for c in kids("must"):
        ok, s = _eval(c, doc, ref)
        if not ok:
            return False, 0.0
        score += s
    for c in kids("filter"):
        ok, _ = _eval(c, doc, ref)
        if not ok:
            return False, 0.0
    n_hit = 0
    for c in kids("should"):
        ok, s = _eval(c, doc, ref)
        if ok:
            n_hit += 1
            score += s
    has_pos = bool(kids("must")) or bool(kids("filter"))
    # Lucene: should is optional beside must/filter; alone it demands
    # minimum_should_match (default 1); a bool with no positive clause
    # at all (pure must_not) matches everything
    if not kids("should"):
        need = 0
    else:
        need = msm if msm is not None else (0 if has_pos else 1)
    if n_hit < need:
        return False, 0.0
    for c in kids("must_not"):
        ok, _ = _eval(c, doc, ref)
        if ok:
            return False, 0.0
    return True, score * float(spec.get("boost", 1.0))


def _ref_hits(tree: dict, ref: dict) -> list:
    out = []
    for d in ref["doc_ids"]:
        ok, s = _eval(tree, d, ref)
        if ok:
            out.append((d, round(s, 6)))
    return sorted(out)
