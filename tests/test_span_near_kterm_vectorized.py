"""Differential proof: vectorized k-term NearSpans == faithful matchers.

kernel._near_kterm_stream claims NearSpansOrdered collapses, for k >= 2
distinct single-term clauses, to a chained first-landing-spot searchsorted
(monotone pointers == independent per-start chains), and the unordered
window queue to merged-pop-order emissions cut at the doc's earliest clause
exhaustion event. Exhaustive 3-term small-universe + randomized k in 3..5,
ordered and unordered, float64 and float32, through the full eval_spans path
(candidates, window cut, accumulation order, freq fold included) against
the faithful per-doc matchers (_spans_per_doc) over uncut candidates. The
k=2 cases live in test_span_near_vectorized.py and share ``check_near``.
"""

from __future__ import annotations

import itertools
import random

import numpy as np
import pytest

from lucene_7_x_9_x_spark.functions import bm25
from lucene_7_x_9_x_spark.search import kernel as K
from lucene_7_x_9_x_spark.search import query as Q
from tests.stub_segment import lengths_of, segment_from_positions

TERMS = [f"t{j}" for j in range(8)]


def check_near(per_doc, k, slop, in_order, dtype=np.float64):
    """per_doc: {docid: [positions_of_t0, ..., positions_of_tk-1]}. The
    engine's eval_spans equals the per-doc reference over uncut candidates,
    bit for bit, in ``dtype`` accumulation."""
    tp = {doc: dict(zip(TERMS, pls)) for doc, pls in per_doc.items()}
    seg, gdf = segment_from_positions(tp, lengths_of(tp))
    sc = K.Scorer(seg, bm25.BM25Stats(len(tp), 40 * len(tp), dtype=dtype),
                  gdf)
    sc.dtype = dtype
    q = Q.SpanNearQuery(tuple(Q.SpanTermQuery(t) for t in TERMS[:k]),
                        slop=slop, in_order=in_order)
    got = dict(zip(*(x.tolist() for x in sc.eval_spans(q))))
    want = dict(zip(*(x.tolist() for x in
                      sc._spans_per_doc(q, sc._span_candidates(q)))))
    assert got == want, (per_doc, k, slop, in_order, got, want)


_check = check_near


def test_exhaustive_small_universe_3term():
    """Every disjoint (A, B, C) split of slots 0..5, both orders, slops
    0..4 — covers pop-order ties, exhaustion cuts, chained landing spots."""
    idx = list(range(6))
    for ra in range(1, 4):
        for pa in itertools.combinations(idx, ra):
            r1 = [i for i in idx if i not in pa]
            for rb in range(1, 4):
                for pb in itertools.combinations(r1, rb):
                    r2 = [i for i in r1 if i not in pb]
                    for rc in range(1, 3):
                        for pc in itertools.combinations(r2, rc):
                            pd = {5: [list(pa), list(pb), list(pc)]}
                            for slop in range(5):
                                _check(pd, 3, slop, True)
                                _check(pd, 3, slop, False)


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
@pytest.mark.parametrize("k", [3, 4, 5])
def test_randomized_multidoc(k, dtype):
    rng = random.Random(777 + k)
    for trial in range(30):
        per_doc = {}
        for doc in range(rng.randint(1, 5)):
            # sample disjoint slot sets per term (terms occupy token slots)
            slots = list(range(30))
            rng.shuffle(slots)
            pls, at = [], 0
            for j in range(k):
                m = rng.randint(1, 4)
                pls.append(sorted(slots[at:at + m]))
                at += m
            per_doc[doc * 2] = pls
        for slop in (0, 1, 2, 4, 9, 40):
            for in_order in (True, False):
                _check(per_doc, k, slop, in_order, dtype)


def test_exhaustion_mid_doc_unordered():
    """A clause with one early position: pops after its exhaustion event
    must not emit (the k=2 shortcut would over-emit here)."""
    _check({1: [[1], [2], [0, 5]]}, 3, 3, False)
    _check({1: [[0], [10], [1, 2, 3]]}, 3, 50, False)
    _check({1: [[5], [6], [0]]}, 3, 50, False)


def test_clause_missing_in_doc():
    per_doc = {1: [[0, 3], [1], []], 2: [[0], [1], [2]]}
    _check(per_doc, 3, 4, True)
    _check(per_doc, 3, 4, False)
