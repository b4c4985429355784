"""Seeded synthetic web corpus and query lists for the benchmark.

Imports nothing from the engine. Every text is lowercase ``[a-z0-9]`` words
joined by single spaces, so ``text.split(" ")`` is the exact token stream the
engine's STANDARD analyzer produces (it keeps every token; no stop words).

Corpus make-up (see README.md):
  * vocabulary of VOCAB_SIZE distinct random-letter words (none starting
    with the reserved ``zz`` prefix), drawn with Zipf(ZIPF_S) rank
    probabilities, so a few head words sit in most documents; a word's length
    is fixed by its rank (2 letters at the head, growing with log2 rank to 8
    at the tail), so bytes per token do not depend on the seed;
  * log-normal document lengths, median LEN_MEDIAN tokens, sigma LEN_SIGMA,
    clipped to [LEN_MIN, LEN_MAX];
  * one token ``zz<key>v<version>`` unique to each document version, placed at
    a seeded position; visibility checks search for it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 8000
ZIPF_S = 1.07
LEN_MEDIAN = 60
LEN_SIGMA = 0.6
LEN_MIN = 4
LEN_MAX = 400

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def unique_token(key: int, version: int) -> str:
    return f"zz{key}v{version}"


# Query-term bands as Zipf rank windows [lo, hi). With ZIPF_S and the length
# distribution above their document frequencies are about 70-87% (high),
# 4-8% (mid) and 0.1-0.9% (low) of the documents, whatever the seed.
HIGH_RANKS = (2, 6)
MID_RANKS = (80, 160)
LOW_RANKS = (1000, 2000)


@dataclass
class Vocab:
    words: np.ndarray   # rank order: words[0] is the most frequent
    cdf: np.ndarray     # cumulative Zipf probability per rank

    def band(self, ranks: tuple[int, int]) -> list[str]:
        return list(self.words[ranks[0]:ranks[1]])


def make_vocab(rng: np.random.Generator, size: int = VOCAB_SIZE,
               zipf_s: float = ZIPF_S) -> Vocab:
    seen: set[str] = set()
    words: list[str] = []
    while len(words) < size:
        n = min(8, 2 + int(math.log2(len(words) + 1) / 2))
        w = "".join(rng.choice(_LETTERS, n))
        if w in seen or w.startswith("zz"):
            continue
        seen.add(w)
        words.append(w)
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** zipf_s
    cdf = np.cumsum(p / p.sum())
    cdf[-1] = 1.0
    return Vocab(np.array(words, dtype=object), cdf)


def doc_text(rng: np.random.Generator, vocab: Vocab, key: int,
             version: int) -> str:
    n = int(np.clip(rng.lognormal(math.log(LEN_MEDIAN), LEN_SIGMA),
                    LEN_MIN, LEN_MAX))
    ranks = np.searchsorted(vocab.cdf, rng.random(n - 1), side="right")
    toks = list(vocab.words[ranks])
    toks.insert(int(rng.integers(0, n)), unique_token(key, version))
    return " ".join(toks)


def make_corpus(rng: np.random.Generator, vocab: Vocab, n_docs: int,
                first_key: int = 0) -> dict[int, str]:
    """{key: text} for keys first_key .. first_key + n_docs - 1, version 0."""
    return {k: doc_text(rng, vocab, k, 0)
            for k in range(first_key, first_key + n_docs)}


# ---------------------------------------------------------------------------
# Query specs are plain tuples, shared by the oracle and the engine adapter:
#   ("term", t)                       TermQuery
#   ("or", (t, ...))                  SHOULD of terms
#   ("and", (t, ...), (not_t, ...))   MUST of terms, MUST_NOT of terms
#   ("msm", (t, ...), m)              SHOULD of terms, minimum_should_match m
#   ("dismax", (t, ...), tie)         DisjunctionMaxQuery of terms
#   ("prefix", p)                     PrefixQuery (constant score)
#   ("phrase", (t, ...), slop)        PhraseQuery (exact when slop == 0)
#   ("span", (t, ...), slop, ordered) SpanNearQuery of SpanTermQuery clauses
# ---------------------------------------------------------------------------

BOOL_KINDS = ("term", "or", "and", "msm", "dismax", "prefix")


def family(spec) -> str:
    return "bool" if spec[0] in BOOL_KINDS else "phrase"


def shape(spec) -> tuple:
    """A spec's query shape: its kind, plus whether a phrase is sloppy and
    whether a span-near is ordered."""
    kind = spec[0]
    if kind == "phrase":
        return (kind, spec[2] > 0)
    if kind == "span":
        return (kind, spec[3])
    return (kind,)


def terms_of(spec) -> tuple:
    """Every term a spec names (none for a prefix)."""
    kind = spec[0]
    if kind == "prefix":
        return ()
    if kind == "term":
        return (spec[1],)
    if kind == "and":
        return spec[1] + spec[2]
    return spec[1]


def pick(rng, pool, n):
    idx = rng.choice(len(pool), n, replace=False)
    return tuple(pool[i] for i in idx)


def common_bigram(rng, texts: list[str], common: set[str]):
    """A bigram of two distinct common words (ranks 2..MID_RANKS[1]) taken
    from a seeded document, so its cost does not swing with the seed."""
    while True:
        toks = texts[int(rng.integers(len(texts)))].split(" ")
        pairs = [(a, b) for a, b in zip(toks, toks[1:])
                 if a != b and a in common and b in common]
        if pairs:
            return pairs[int(rng.integers(len(pairs)))]


def static_queries(rng: np.random.Generator, vocab: Vocab,
                   texts: list[str]) -> list[tuple]:
    """The search-static query list: 6 boolean-family and 6 positional specs
    over high-, mid- and low-df terms."""
    hi, mid = vocab.band(HIGH_RANKS), vocab.band(MID_RANKS)
    (h1, h2), (m1, m2, m3, m4) = pick(rng, hi, 2), pick(rng, mid, 4)
    (l1,) = pick(rng, vocab.band(LOW_RANKS), 1)
    a, c = pick(rng, hi, 2)
    s1, s2 = pick(rng, hi, 2)
    g2 = common_bigram(rng, texts, set(vocab.band((HIGH_RANKS[0],
                                                   MID_RANKS[1]))))
    return [
        ("term", h1),
        ("or", (h2, m2)),
        ("and", (h1, m3), ()),
        ("msm", (m2, l1, h1), 2),
        ("dismax", (h2, m4), 0.1),
        ("prefix", m4[:3]),
        ("phrase", g2, 0),
        ("phrase", (s1, s2), 1),
        ("phrase", (s1, s2), 3),
        ("phrase", (a, c, a), 2),          # repeated-term sloppy phrase
        ("span", (s2, m1), 4, True),
        ("span", (a, c, a), 3, False),     # unordered, repeated term
    ]
