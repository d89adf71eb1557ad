"""Seeded workload generator owned by the benchmark.

Everything a workload feeds the engine -- the code corpus, the query
stream and the `_bulk` request bodies -- is made here from `--seed`, so
an edit to the package under test cannot change the workload. The
shape follows the engine's own fixture generator: Zipf(s=1.1) over a
50k-stem vocabulary, camelCase and snake_case compounds, a language
keyword every 8th token, and 5 hot terms in ~60% of documents (the
hot terms keep the build's salted skew split in play). Documents are
shorter than the fixture's so that a build fits a run on a 4-core box.

Every parameter below is also recorded in BENCHMARK.json.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pandas as pd

VOCAB_SIZE = 50_000
ZIPF_S = 1.1
HOT_TERMS = ("init", "get", "set", "main", "util")
HOT_DOC_FRAC = 0.6
HOT_EVERY = 20
KEYWORD_EVERY = 8
TOKENS_PER_LINE = 12
LINES_MIN, LINES_MAX = 4, 40
CAMEL_FRAC, SNAKE_FRAC = 0.25, 0.25
BAD_SHA_FRAC = 0.005
BAD_SHA = "0" * 64

# lang -> (weight out of 100, keywords, file extension)
LANGS = {
    "python": (25, ("def", "class", "import", "return", "lambda", "yield"), "py"),
    "java": (20, ("public", "static", "void", "extends", "interface", "final"), "java"),
    "go": (12, ("func", "package", "chan", "defer", "goroutine", "struct"), "go"),
    "js": (12, ("function", "const", "async", "await", "export", "prototype"), "js"),
    "rust": (10, ("impl", "trait", "enum", "match", "unsafe", "crate"), "rs"),
    "c": (8, ("typedef", "sizeof", "volatile", "extern", "union", "register"), "c"),
    "scala": (8, ("object", "trait", "implicit", "sealed", "case", "val"), "scala"),
    "sql": (5, ("select", "where", "group", "join", "having", "union"), "sql"),
}
KEYWORDS = tuple(kw for _, kws, _ in LANGS.values() for kw in kws)

_SYL = (
    "ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "mu", "na",
    "pe", "qi", "ro", "su", "ta", "ve", "wi", "xo", "yu", "ze",
    "bra", "cro", "dri", "fle", "gri", "ple", "sta", "tre", "quo", "sna",
    "blo", "cla", "dro", "fri", "gla", "pro", "ski", "slo", "tra", "vri",
)
_SEPS = np.array([" ", "(); ", " = ", ". ", ", ", " { ", " } ", "; "], dtype=object)

QUERY_KINDS = ("rare", "hot", "camel", "keyword", "multi", "multi")

# stream ids keep the random streams of one seed independent
_CORPUS, _QUERIES, _BULK = 1, 2, 3


def _stems() -> np.ndarray:
    n = len(_SYL)
    return np.array(
        [_SYL[i % n] + _SYL[i // n % n] + _SYL[i // (n * n) % n]
         for i in range(VOCAB_SIZE)],
        dtype=object,
    )


STEMS = _stems()
_CAPS = np.array([s.capitalize() for s in STEMS], dtype=object)
_ZIPF_CDF = np.cumsum(
    1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** ZIPF_S
)
_ZIPF_CDF /= _ZIPF_CDF[-1]
_LANG_OF_BUCKET = [lang for lang, (w, _, _) in LANGS.items() for _ in range(w)]


def _zipf(rng: np.random.Generator, size: int) -> np.ndarray:
    return np.searchsorted(_ZIPF_CDF, rng.random(size)).astype(np.int64)


def _contents(rng: np.random.Generator, langs: list[str]) -> list[str]:
    """One document body per entry of `langs`."""
    nd = len(langs)
    n_toks = rng.integers(LINES_MIN, LINES_MAX + 1, nd) * TOKENS_PER_LINE
    total = int(n_toks.sum())
    starts = np.concatenate([[0], np.cumsum(n_toks)[:-1]])
    doc_of_tok = np.repeat(np.arange(nd), n_toks)
    pos = np.arange(total) - starts[doc_of_tok]

    a, b, form = _zipf(rng, total), _zipf(rng, total), rng.random(total)
    tok = STEMS[a].copy()
    camel = form < CAMEL_FRAC
    snake = (form >= CAMEL_FRAC) & (form < CAMEL_FRAC + SNAKE_FRAC)
    tok[camel] = STEMS[a[camel]] + _CAPS[b[camel]]
    tok[snake] = STEMS[a[snake]] + "_" + STEMS[b[snake]]

    lang_arr = np.array(langs, dtype=object)[doc_of_tok]
    kw_slot = pos % KEYWORD_EVERY == KEYWORD_EVERY - 1
    for lang, (_, kws, _) in LANGS.items():
        m = kw_slot & (lang_arr == lang)
        tok[m] = np.array(kws, dtype=object)[pos[m] // KEYWORD_EVERY % len(kws)]

    hot_doc = rng.random(nd) < HOT_DOC_FRAC
    hot = hot_doc[doc_of_tok] & (pos % HOT_EVERY == 5)
    tok[hot] = np.array(HOT_TERMS, dtype=object)[
        pos[hot] // HOT_EVERY % len(HOT_TERMS)
    ]

    seps = _SEPS[np.arange(total) % len(_SEPS)]
    seps[pos % TOKENS_PER_LINE == TOKENS_PER_LINE - 1] = "\n"
    pieces = (tok + seps).tolist()
    return [
        "".join(pieces[s:s + n]) for s, n in zip(starts.tolist(), n_toks.tolist())
    ]


def corpus(seed: int, n_docs: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(corpus, bad_rows): the corpus table the build reads, with
    ~BAD_SHA_FRAC of rows carrying a wrong content_sha256, and the
    (repo, path, commit) of exactly those rows -- the rows the build
    must quarantine."""
    rng = np.random.default_rng([seed, _CORPUS])
    buckets = rng.integers(0, 100, n_docs)
    langs = [_LANG_OF_BUCKET[i] for i in buckets]
    contents = _contents(rng, langs)
    stem_ids = rng.integers(0, VOCAB_SIZE, (n_docs, 2))
    pdf = pd.DataFrame({
        "repo": [f"org{i % 97}/repo{i % 389}" for i in range(n_docs)],
        "path": [
            f"src/{STEMS[d]}/{STEMS[w]}{i}.{LANGS[lang][2]}"
            for i, (d, w), lang in zip(range(n_docs), stem_ids, langs)
        ],
        "commit": [
            hashlib.sha1(f"{seed}:{i}".encode()).hexdigest()
            for i in range(n_docs)
        ],
        "lang": langs,
        "content": contents,
        "content_sha256": [
            hashlib.sha256(c.encode()).hexdigest() for c in contents
        ],
    })
    bad = rng.random(n_docs) < BAD_SHA_FRAC
    pdf.loc[bad, "content_sha256"] = BAD_SHA
    return pdf, pdf.loc[bad, ["repo", "path", "commit"]].reset_index(drop=True)


def queries(seed: int, n: int) -> pd.DataFrame:
    """(query_id, kind, query): cycles through the six query kinds --
    single rare stem, single hot term, camelCase compound (matches
    only after the tokenizer splits it), language keyword, and two
    slots of 2-4-term disjunctions."""
    rng = np.random.default_rng([seed, _QUERIES])
    rows = []
    for qid in range(n):
        kind = QUERY_KINDS[qid % len(QUERY_KINDS)]
        if kind == "rare":
            q = STEMS[int(rng.integers(2_000, 20_000))]
        elif kind == "hot":
            q = HOT_TERMS[int(rng.integers(len(HOT_TERMS)))]
        elif kind == "camel":
            x, y = _zipf(rng, 2)
            q = STEMS[x] + _CAPS[y]
        elif kind == "keyword":
            q = KEYWORDS[int(rng.integers(len(KEYWORDS)))]
        else:
            q = " ".join(STEMS[_zipf(rng, int(rng.integers(2, 5)))])
        rows.append((qid, kind, q))
    return pd.DataFrame(rows, columns=["query_id", "kind", "query"])


def marker(seed: int, batch: int, j: int) -> str:
    """A token found in exactly one `_bulk` document (letters only, so
    the tokenizer keeps it whole), used to check that a just-indexed
    document is visible and a deleted one is not."""
    return f"zq{_alpha(seed)}x{_alpha(batch)}x{_alpha(j)}"


def _alpha(n: int) -> str:
    s = ""
    while True:
        s += "abcdefghijklmnop"[n % 16]
        n //= 16
        if not n:
            return s


def bulk_batch(
    seed: int, batch: int, n_new: int, live_ids: list[str],
    delete_frac: float, index: str = "bench",
) -> tuple[bytes, pd.DataFrame, list[str]]:
    """One `_bulk` NDJSON request body: `n_new` index actions for new
    documents (each carrying its marker token) followed by deletes of
    round(delete_frac * n_new) ids drawn from `live_ids`.

    Returns (body, new_docs[id, content], deleted_ids)."""
    rng = np.random.default_rng([seed, _BULK, batch])
    langs = [_LANG_OF_BUCKET[i] for i in rng.integers(0, 100, n_new)]
    contents = [
        f"{marker(seed, batch, j)} {c}"
        for j, c in enumerate(_contents(rng, langs))
    ]
    ids = [f"b{batch}-{j}" for j in range(n_new)]
    n_del = min(len(live_ids), int(round(delete_frac * n_new)))
    pick = rng.choice(len(live_ids), size=n_del, replace=False)
    deleted = [live_ids[i] for i in sorted(pick.tolist())]
    lines = []
    for i, c in zip(ids, contents):
        lines.append({"index": {"_index": index, "_id": i}})
        lines.append({"content": c})
    for i in deleted:
        lines.append({"delete": {"_index": index, "_id": i}})
    body = "".join(json.dumps(x, separators=(",", ":")) + "\n" for x in lines)
    return body.encode(), pd.DataFrame({"id": ids, "content": contents}), deleted
