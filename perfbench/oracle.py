"""Independent result oracle for the benchmark. Imports nothing from the engine.

* Tokenization: ``text.split(" ")``. The benchmark corpus is built so that this
  equals the engine's STANDARD analyzer output (see synth.py).
* Scoring: Lucene 8.4 BM25Similarity, k1=1.2, b=0.75, document lengths
  quantised through SmallFloat.intToByte4/byte4ToInt, all per-term arithmetic
  in float32 as BM25Scorer does it; boolean sums accumulate in float64 and
  round to float32 (DisjunctionSumScorer / ConjunctionScorer).
* Exact phrases: the number of aligned start positions (ExactPhraseMatcher),
  scored with the summed float32 idf of the phrase terms.
* Sloppy phrases and span-near: match predicates only (a hit must satisfy
  them); ranking there is checked by properties, not by score values.
"""

from __future__ import annotations

import itertools
import math
from collections import defaultdict

import numpy as np

K1 = np.float32(1.2)
B = np.float32(0.75)

# --- SmallFloat (Lucene 8.4 org.apache.lucene.util.SmallFloat) -------------


def _long_to_int4(i: int) -> int:
    num_bits = i.bit_length()
    if num_bits < 4:
        return i
    shift = num_bits - 4
    return ((i >> shift) & 0x07) | ((shift + 1) << 3)


def _int4_to_long(i: int) -> int:
    bits = i & 0x07
    shift = (i >> 3) - 1
    return bits if shift == -1 else (bits | 0x08) << shift


NUM_FREE_VALUES = 255 - _long_to_int4(2**31 - 1)   # 24


def int_to_byte4(i: int) -> int:
    if i < NUM_FREE_VALUES:
        return i
    return NUM_FREE_VALUES + _long_to_int4(i - NUM_FREE_VALUES)


def byte4_to_int(b: int) -> int:
    if b < NUM_FREE_VALUES:
        return b
    return min(NUM_FREE_VALUES + _int4_to_long(b - NUM_FREE_VALUES), 2**31 - 1)


LENGTH_TABLE = np.array([byte4_to_int(i) for i in range(256)],
                        dtype=np.float32)


def tokenize(text: str) -> list[str]:
    return text.split(" ") if text else []


class OracleIndex:
    """Exhaustive in-memory index over {key: text}."""

    def __init__(self, docs: dict[int, str]):
        self.keys = list(docs)
        self.tokens = [tokenize(docs[k]) for k in self.keys]
        n = len(self.keys)
        self.doclen = np.array([len(t) for t in self.tokens], dtype=np.int64)
        self.norm = np.array([int_to_byte4(int(x)) for x in self.doclen],
                             dtype=np.int64)
        post: dict[str, dict[int, int]] = defaultdict(dict)
        for d, toks in enumerate(self.tokens):
            for t in toks:
                post[t][d] = post[t].get(d, 0) + 1
        self.postings = {t: (np.fromiter(m.keys(), np.int64, len(m)),
                             np.fromiter(m.values(), np.int64, len(m)))
                         for t, m in post.items()}
        self.doc_count = int((self.doclen > 0).sum())
        self.sum_ttf = int(self.doclen.sum())
        self.n = n
        # BM25Similarity.avgFieldLength: (float) (sumTTF / (double) docCount)
        avgdl = np.float32(self.sum_ttf / self.doc_count)
        # BM25Scorer cache: 1f / (k1 * ((1 - b) + b * LENGTH_TABLE[i] / avgdl))
        inner = (np.float32(1) - B) + B * LENGTH_TABLE / avgdl
        self.norm_inverse = (np.float32(1) / (K1 * inner)).astype(np.float32)
        self._positions: dict[int, dict[str, list[int]]] = {}

    # --- statistics -----------------------------------------------------------
    def df(self, term: str) -> int:
        p = self.postings.get(term)
        return 0 if p is None else int(p[0].size)

    def idf(self, term: str) -> np.float32:
        df = self.df(term)
        return np.float32(math.log(1 + (self.doc_count - df + 0.5)
                                   / (df + 0.5)))

    def positions(self, d: int) -> dict[str, list[int]]:
        if d not in self._positions:
            out: dict[str, list[int]] = defaultdict(list)
            for i, t in enumerate(self.tokens[d]):
                out[t].append(i)
            self._positions[d] = out
        return self._positions[d]

    # --- scoring ----------------------------------------------------------------
    def _bm25(self, weight: np.float32, docs: np.ndarray,
              freqs: np.ndarray) -> np.ndarray:
        ninv = self.norm_inverse[self.norm[docs]]
        f = freqs.astype(np.float32)
        return (weight - weight / (np.float32(1) + f * ninv)).astype(
            np.float32)

    def term_scores(self, term: str) -> dict[int, float]:
        p = self.postings.get(term)
        if p is None:
            return {}
        s = self._bm25(self.idf(term), p[0], p[1])
        return dict(zip(p[0].tolist(), s.tolist()))

    def phrase_freqs(self, terms) -> dict[int, int]:
        """Exact phrase: number of start positions where terms[i] sits at
        start + i for every i."""
        cand = None
        for t in set(terms):
            p = self.postings.get(t)
            if p is None:
                return {}
            s = set(p[0].tolist())
            cand = s if cand is None else cand & s
        out = {}
        for d in sorted(cand):
            pos = self.positions(d)
            first = pos[terms[0]]
            rest = [set(pos[t]) for t in terms[1:]]
            n = sum(1 for s in first
                    if all(s + i + 1 in rest[i] for i in range(len(rest))))
            if n:
                out[d] = n
        return out

    def phrase_scores(self, terms) -> dict[int, float]:
        freqs = self.phrase_freqs(terms)
        if not freqs:
            return {}
        # BM25Similarity.idfExplain(TermStatistics[]): float idfs summed in
        # a double, then cast to float
        weight = np.float32(sum(float(self.idf(t)) for t in terms))
        docs = np.array(list(freqs), dtype=np.int64)
        s = self._bm25(weight, docs, np.array(list(freqs.values())))
        return dict(zip(docs.tolist(), s.tolist()))

    def scores(self, spec) -> dict[int, float]:
        """{doc index: float32 score} for term, or, and, msm, dismax and exact
        phrase specs (see synth.py for the spec shapes)."""
        kind = spec[0]
        if kind == "term":
            return self.term_scores(spec[1])
        if kind == "phrase" and spec[2] == 0:
            return self.phrase_scores(spec[1])
        if kind in ("or", "msm"):
            per = [self.term_scores(t) for t in spec[1]]
            need = spec[2] if kind == "msm" else 1
            acc: dict[int, list[float]] = defaultdict(list)
            for m in per:
                for d, s in m.items():
                    acc[d].append(s)
            return {d: _fsum(v) for d, v in acc.items() if len(v) >= need}
        if kind == "and":
            must, must_not = spec[1], spec[2]
            per = [self.term_scores(t) for t in must]
            docs = set(per[0])
            for m in per[1:]:
                docs &= set(m)
            for t in must_not:
                docs -= set(self.term_scores(t))
            return {d: _fsum([m[d] for m in per]) for d in docs}
        if kind == "dismax":
            tie = np.float32(spec[2])
            per = [self.term_scores(t) for t in spec[1]]
            out = {}
            for d in set().union(*per):
                sub = [np.float32(m[d]) for m in per if d in m]
                mx = max(sub)
                others = sum(float(s) for s in sub) - float(mx)
                out[d] = float(np.float32(float(mx) + others * float(tie)))
            return out
        raise ValueError(f"no scores for {spec!r}")

    # --- match predicates -----------------------------------------------------
    def prefix_match(self, d: int, prefix: str) -> bool:
        return any(t.startswith(prefix) for t in self.tokens[d])

    def prefix_count(self, prefix: str) -> int:
        docs = set()
        for t, p in self.postings.items():
            if t.startswith(prefix):
                docs.update(p[0].tolist())
        return len(docs)

    def sloppy_match(self, d: int, terms, slop: int) -> bool:
        return sloppy_phrase_match(self.positions(d), terms, slop)

    def span_match(self, d: int, terms, slop: int, ordered: bool) -> bool:
        return span_near_match(self.positions(d), terms, slop, ordered)

    def contains_phrase(self, d: int, terms) -> bool:
        pos = self.positions(d)
        return any(all(s + i in pos.get(t, ()) for i, t in enumerate(terms))
                   for s in pos.get(terms[0], ()))


def _fsum(vals) -> float:
    return float(np.float32(sum(float(v) for v in vals)))


def sloppy_phrase_match(pos: dict, terms, slop: int) -> bool:
    """Sloppy PhraseQuery predicate: some choice of positions x_i of terms[i],
    with repeated terms on distinct positions, has
    max(x_i - i) - min(x_i - i) <= slop (SloppyPhraseMatcher match length)."""
    lists = [pos.get(t, []) for t in terms]
    if any(not lst for lst in lists):
        return False
    for xs in itertools.product(*lists):
        if len(set(zip(terms, xs))) < len(terms):
            continue
        adj = [x - i for i, x in enumerate(xs)]
        if max(adj) - min(adj) <= slop:
            return True
    return False


def span_near_match(pos: dict, terms, slop: int, ordered: bool) -> bool:
    """SpanNearQuery over SpanTermQuery clauses.

    Ordered (NearSpansOrdered): positions x_1 < ... < x_n with
    x_n + 1 - x_1 - n <= slop. Unordered (NearSpansUnordered): one span per
    clause, overlap allowed, with max(x) + 1 - min(x) - n <= slop."""
    lists = [pos.get(t, []) for t in terms]
    if any(not lst for lst in lists):
        return False
    n = len(terms)
    for xs in itertools.product(*lists):
        if ordered and any(b <= a for a, b in zip(xs, xs[1:])):
            continue
        if max(xs) + 1 - min(xs) - n <= slop:
            return True
    return False
