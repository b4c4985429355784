"""Differential proof: the vectorized k-term sloppy walk == faithful matcher.

kernel._sloppy_counts_kterm claims the greedy of SloppyPhraseMatcher.java
(ported faithfully in search/sloppy.py) collapses, for k >= 2 distinct
single-term PhrasePositions, to a k-stream leapfrog: pop the least phrase
position, jump it past the second-least, emit end - (last position <= the
second-least) when within slop. These tests pin the equivalence exhaustively
on a small 3-term position universe (every disjoint triple of subsets, every
slop — covers all tie/exhaustion orders) and on randomized k in 3..5 with
OVERLAPPING phrase-position streams (terms at distinct token slots still
collide after the -offset shift), in float64 and float32, multi-doc. The
k=2 cases live in test_sloppy_vectorized.py and share ``check_sloppy``.

No Spark: the kernel path is exercised through a stub segment.
"""

from __future__ import annotations

import itertools
import random

import numpy as np
import pytest

from lucene_7_x_9_x_spark.functions import bm25
from lucene_7_x_9_x_spark.search import kernel as K
from lucene_7_x_9_x_spark.search import query as Q
from lucene_7_x_9_x_spark.search.kernel import Scorer
from lucene_7_x_9_x_spark.search.sloppy import SloppyPhraseMatcher
from tests.stub_segment import (FlatStubSeg, segment_from_tokens,
                                sloppy_reference)

TERMS = [f"t{j}" for j in range(8)]


def _vectorized(docs: dict, slop: int, terms, dtype):
    sc = object.__new__(Scorer)
    sc.seg = FlatStubSeg(docs)
    sc.dtype = dtype
    cand = np.asarray(
        [d for d in sorted(docs) if all(docs[d].get(t) for t in terms)],
        dtype=np.int64)
    if cand.size == 0:
        return {}
    d, f = sc._sloppy_counts_kterm(
        cand, slop, [sc.seg.flat_positions(t) for t in terms])
    return dict(zip(d.tolist(), f.tolist()))


def _faithful(docs: dict, slop: int, terms, dtype):
    acc_dt = np.float32 if dtype == np.float32 else np.float64
    k = len(terms)
    out = {}
    for doc in sorted(docs):
        pls = [docs[doc].get(t) for t in terms]
        if any(not p for p in pls):
            continue
        m = SloppyPhraseMatcher(list(range(k)), [(t,) for t in terms], slop)
        f = m.freq([np.asarray(p, dtype=np.int64) for p in pls],
                   dtype=acc_dt)
        if f > 0:
            out[doc] = f
    return out


def check_sloppy(docs: dict, slop: int, terms, dtype=np.float64):
    """The walk over docs {docid: {term: positions}} equals the faithful
    matcher per doc, bit for bit, in ``dtype`` accumulation."""
    got = _vectorized(docs, slop, terms, dtype)
    want = _faithful(docs, slop, terms, dtype)
    assert got.keys() == want.keys(), (docs, slop, got, want)
    for key in want:
        # identical accumulation order and dtype -> bit-equal
        assert got[key] == want[key], (docs, slop, key, got[key], want[key])


def _check(docs: dict, slop: int, k: int, dtype=np.float64):
    check_sloppy(docs, slop, TERMS[:k], dtype)


def test_exhaustive_small_universe_3term():
    """Every disjoint (A, B, C) split of token slots 0..5, slops 0..4:
    covers all pop orderings, cross-stream phrase-position ties (slot p of
    term j is phrase position p-j), immediate exhaustion, no-match docs."""
    idx = list(range(6))
    n = 0
    for ra in range(1, 4):
        for pa in itertools.combinations(idx, ra):
            r1 = [i for i in idx if i not in pa]
            for rb in range(1, 4):
                for pb in itertools.combinations(r1, rb):
                    r2 = [i for i in r1 if i not in pb]
                    for rc in range(1, 3):
                        for pc in itertools.combinations(r2, rc):
                            # positions are per-term ACTUAL token slots; the
                            # matcher shifts by offset internally
                            docs = {7: {"t0": list(pa), "t1": list(pb),
                                        "t2": list(pc)}}
                            for slop in range(5):
                                _check(docs, slop, 3)
                            n += 1
    assert n > 200


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
@pytest.mark.parametrize("k", [3, 4, 5])
def test_randomized_multidoc(k, dtype):
    rng = random.Random(1234 + k)
    for trial in range(40):
        docs = {}
        for doc in range(rng.randint(1, 6)):
            per = {}
            for j in range(k):
                m = rng.randint(0, 5)
                per[TERMS[j]] = sorted(rng.sample(range(40), m)) if m else []
            docs[doc * 3 + 1] = per
        for slop in (0, 1, 2, 4, 8, 50):
            _check(docs, slop, k, dtype)


def test_dense_collision_heavy():
    """Many phrase-position ties: all terms on a tight grid."""
    rng = random.Random(99)
    for trial in range(30):
        per = {t: sorted(rng.sample(range(10), rng.randint(1, 6)))
               for t in TERMS[:4]}
        for slop in range(6):
            _check({1: per}, slop, 4)
            _check({1: per}, slop, 4, np.float32)


def test_through_phrase_freqs_route():
    """End-to-end via the Scorer routing (window cut, then the walk for
    distinct terms) against the faithful matcher over uncut candidates."""
    seg, gdf = segment_from_tokens({
        0: ["a", "x", "b", "c", "x", "a", "b", "x", "c"],
        1: ["c", "b", "a", "x", "a", "b", "c"],
        2: ["a", "b", "x", "x", "x", "x", "c"],
        3: ["a", "b"],
    })
    for terms in (("a", "b", "c"), ("a", "b"), ("c", "a")):
        for slop in (1, 2, 3, 6):
            q = Q.PhraseQuery(terms, slop=slop)
            sc = K.Scorer(seg, bm25.BM25Stats(4, 30, dtype=np.float32), gdf)
            sc.dtype = np.float32
            got = dict(zip(*(x.tolist() for x in sc._phrase_freqs(q))))
            want = dict(zip(*(x.tolist() for x in sloppy_reference(sc, q))))
            assert got == want, (terms, slop, got, want)


def test_multiphrase_union_slots_route():
    """MultiPhraseQuery with no term repeated across slots routes through
    the k-stream walk over unioned slot streams — must equal the faithful
    per-doc matcher (which unions the same lists)."""
    rng = random.Random(4242)
    vocab = ["a1", "a2", "b1", "c1", "c2", "x", "y", "z"]
    seg, gdf = segment_from_tokens(
        {doc: [rng.choice(vocab) for _ in range(30)] for doc in range(12)})
    for slots in ((("a1", "a2"), ("b1",), ("c1", "c2")),
                  (("a1",), ("b1", "c2")),
                  (("a1", "x"), ("b1", "y"), ("c1",), ("z",))):
        for slop in (1, 2, 4, 9):  # the exact path (slop 0) is not a walk
            q = Q.MultiPhraseQuery(slots, slop=slop)
            sc = K.Scorer(seg, bm25.BM25Stats(12, 360, dtype=np.float32),
                          gdf)
            sc.dtype = np.float32
            got = dict(zip(*(x.tolist()
                             for x in sc._multi_phrase_freqs(q))))
            want = dict(zip(*(x.tolist() for x in sloppy_reference(sc, q))))
            assert got == want, (slots, slop, got, want)
