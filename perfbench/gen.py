"""Seeded inputs for the benchmark: a source-code corpus and query streams.

The generator lives here, not in the package, so a change to the
package's own ``corpus.py`` cannot change what the benchmark measures.
Everything is a pure function of its arguments (no clock, no unseeded
randomness).

Corpus rows follow the ``input_hint`` schema ``(repo, path, commit, lang,
content)`` plus an explicit ``doc_id`` so appends, deletes and the BM25
oracle can name documents. Its shape:

- a heavy-tail identifier vocabulary: ``vocab`` single-token identifiers
  ``t<rank>`` drawn with probability ~ 1/rank (Zipf, s=1);
- one mega-repo holding ~30% of the documents;
- languages Zipf-weighted (share ~ 1/rank in ``LANGS`` order), as
  FIXTURES.md specifies for the ``lang`` column;
- per-language stop terms (``public``, ``def``, ``fn`` ...) in ~1/8 of a
  document's tokens;
- one camelCase and one snake_case identifier per document, built from
  small word lists, so camelCase queries split into several hot terms.

Queries are drawn from the generator's own vocabulary ranks, never from a
built index. Their classes are the five FIXTURES.md lists for its query
set, in equal shares. No query log backs equal shares or the widths
below; they are assumptions, so the benchmark reports latency per class.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

LANGS = ("java", "python", "js", "go", "rust")
LANG_WEIGHTS = 1.0 / np.arange(1, len(LANGS) + 1)
LANG_WEIGHTS /= LANG_WEIGHTS.sum()
LANG_EXT = {"java": "java", "python": "py", "js": "js", "go": "go", "rust": "rs"}
STOP_TERMS = {
    "java": ("public", "static", "void", "class", "return", "import"),
    "python": ("def", "self", "return", "import", "class", "none"),
    "js": ("function", "const", "return", "var", "let", "export"),
    "go": ("func", "package", "return", "err", "nil", "import"),
    "rust": ("fn", "let", "mut", "impl", "pub", "use"),
}
CAMEL_HEADS = ("get", "set", "build", "parse", "read", "write", "merge", "scan")
CAMEL_TAILS = ("Index", "Buffer", "Entity", "Shard", "Token", "Query", "Score", "Block")
SNAKE_PARTS = ("doc", "term", "posting", "block", "delta", "var", "byte", "hash",
               "seg", "merge", "freq", "len", "norm", "rank", "heap", "node")
MEGA_REPO = "org0/megarepo"
MIN_TOKENS, MAX_TOKENS = 20, 240

# Query classes of FIXTURES.md, by vocabulary rank (1-based), taken in
# turn so each has an equal share:
#   rare   one tail identifier (rank >= 3,000);
#   hot    one language keyword (a stop term) plus 1-2 head identifiers;
#   and    2-3 mid-rank identifiers;
#   camel  one camelCase identifier (three terms) plus one mid identifier;
#   cross  one keyword of several languages plus 1-2 mid identifiers.
# "hot", "camel" and "cross" carry identifiers beside the FIXTURES term
# because every query of a stream must be distinct and these classes have
# only a few dozen single terms. A query that repeats an earlier one is
# redrawn.
HOT_RANKS = (1, 30)
MID_RANKS = (30, 3000)
QUERY_KINDS = ("rare", "hot", "and", "camel", "cross")
CROSS_TERMS = tuple(sorted({t for ts in STOP_TERMS.values() for t in ts
                            if sum(t in o for o in STOP_TERMS.values()) > 1}))


def term(rank: int) -> str:
    return f"t{rank}"


def _rng(*key: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence(list(key)))


def _zipf_cdf(vocab: int) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab + 1, dtype=np.float64)
    return np.cumsum(p / p.sum())


def corpus(seed: int, n: int, vocab: int, first_id: int = 0) -> pd.DataFrame:
    """``n`` documents with doc ids ``first_id .. first_id + n - 1``.

    A batch drawn with another ``first_id`` (an append) uses its own
    random stream, so the same (seed, n, vocab, first_id) always gives the
    same rows."""
    g = _rng(seed, n, vocab, first_id)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    mega = g.random(n) < 0.30
    repo_no = g.integers(0, 707, n)
    lang_no = g.choice(len(LANGS), n, p=LANG_WEIGHTS)
    n_ident = g.integers(MIN_TOKENS, MAX_TOKENS + 1, n)
    n_stop = np.maximum(1, n_ident // 8)
    ranks = np.searchsorted(_zipf_cdf(vocab), g.random(int(n_ident.sum())),
                            side="right") + 1
    ranks = np.minimum(ranks, vocab)
    stop_pick = g.integers(0, 6, int(n_stop.sum()))
    heads = g.integers(0, len(CAMEL_HEADS), n)
    tails = g.integers(0, len(CAMEL_TAILS), n)
    snake = g.integers(0, len(SNAKE_PARTS), (n, 2))

    vocab_str = np.array([term(r) for r in range(vocab + 1)], dtype=object)
    words = vocab_str[ranks]
    i_end = np.cumsum(n_ident)
    s_end = np.cumsum(n_stop)
    rows = []
    for j in range(n):
        lang = LANGS[lang_no[j]]
        stops = STOP_TERMS[lang]
        ident = words[i_end[j] - n_ident[j]:i_end[j]].tolist()
        kw = [stops[s] for s in stop_pick[s_end[j] - n_stop[j]:s_end[j]]]
        # stop terms every 8th slot, like keywords spread through a file
        body = []
        for k, w in enumerate(ident):
            if k % 8 == 0 and k // 8 < len(kw):
                body.append(kw[k // 8])
            body.append(w)
        a, b = snake[j]
        body.insert(0, CAMEL_HEADS[heads[j]] + CAMEL_TAILS[tails[j]])
        body.append(SNAKE_PARTS[a] + "_" + SNAKE_PARTS[b])
        doc = int(ids[j])
        repo = MEGA_REPO if mega[j] else f"org{repo_no[j] % 7}/repo{repo_no[j]}"
        rows.append((doc, repo, f"src/m{doc % 13}/f{doc}.{LANG_EXT[lang]}",
                     hashlib.sha256(f"{seed}:{doc}".encode()).hexdigest()[:40],
                     lang, " ".join(body)))
    return pd.DataFrame(rows, columns=["doc_id", "repo", "path", "commit",
                                       "lang", "content"])


def query_kind(i: int) -> str:
    """Class of the query at position ``i`` of a stream."""
    return QUERY_KINDS[i % len(QUERY_KINDS)]


def queries(seed: int, count: int, vocab: int, stream: int = 0) -> list[str]:
    """``count`` distinct queries over the vocabulary ranks; query ``i``
    has class ``query_kind(i)``. The term draws are seeded by (seed,
    stream), so two streams of one seed differ."""
    g = _rng(seed, vocab, 7919, stream)
    out: list[str] = []
    seen: set[str] = set()

    def ids(lo: int, hi: int, n: int) -> list[str]:
        return [term(int(r)) for r in g.integers(lo, hi, n)]

    while len(out) < count:
        kind = query_kind(len(out))
        if kind == "rare":
            words = ids(MID_RANKS[1], vocab + 1, 1)
        elif kind == "hot":
            lang = LANGS[int(g.choice(len(LANGS), p=LANG_WEIGHTS))]
            words = [STOP_TERMS[lang][int(g.integers(0, 6))]]
            words += ids(*HOT_RANKS, int(g.integers(1, 3)))
        elif kind == "and":
            words = ids(*MID_RANKS, int(g.integers(2, 4)))
        elif kind == "camel":
            words = [CAMEL_HEADS[int(g.integers(0, len(CAMEL_HEADS)))]
                     + CAMEL_TAILS[int(g.integers(0, len(CAMEL_TAILS)))]
                     + CAMEL_TAILS[int(g.integers(0, len(CAMEL_TAILS)))]]
            words += ids(*MID_RANKS, 1)
        else:
            words = [CROSS_TERMS[int(g.integers(0, len(CROSS_TERMS)))]]
            words += ids(*MID_RANKS, int(g.integers(1, 3)))
        q = " ".join(words)
        key = " ".join(sorted(set(q.lower().split())))
        if key in seen:
            continue
        seen.add(key)
        out.append(q)
    return out


def digest(df: pd.DataFrame) -> str:
    """sha256 over every cell, for the same-seed self-test."""
    h = hashlib.sha256()
    for col in df.columns:
        h.update(col.encode())
        h.update("\x1f".join(map(str, df[col].tolist())).encode())
    return h.hexdigest()
