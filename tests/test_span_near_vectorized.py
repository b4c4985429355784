"""Differential proof at k=2: vectorized NearSpans == faithful matchers.

kernel._near_kterm_stream runs every flattenable SpanNearQuery, the
two-clause one included. These are its k=2 cases: exhaustive small-universe
+ randomized corpora, ordered and unordered, float64 and float32, through
the full eval_spans path (candidates, window cut, accumulation order, freq
fold included) against the faithful per-doc matchers (_spans_per_doc) over
uncut candidates. ``check_near`` is shared with the k >= 3 cases in
test_span_near_kterm_vectorized.py.
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from lucene_7_x_9_x_spark.functions import bm25
from lucene_7_x_9_x_spark.search import kernel as K
from lucene_7_x_9_x_spark.search import query as Q
from tests.stub_segment import segment_from_tokens
from tests.test_span_near_kterm_vectorized import check_near


def _check(per_doc, slop, in_order, dtype=np.float64):
    """per_doc: {docid: (positions_of_t0, positions_of_t1)}."""
    check_near(per_doc, 2, slop, in_order, dtype)


def test_exhaustive_small_universe():
    """Disjoint A/B position subsets of 0..5 (terms occupy distinct slots),
    both orders, slops 0..4 — covers adjacency, exhaustion, reuse."""
    idx = list(range(6))
    for r_a in range(1, 4):
        for pa in itertools.combinations(idx, r_a):
            rest = [i for i in idx if i not in pa]
            for r_b in range(1, 4):
                for pb in itertools.combinations(rest, r_b):
                    per_doc = {5: (list(pa), list(pb))}
                    for slop in range(5):
                        _check(per_doc, slop, True)
                        _check(per_doc, slop, False)


@pytest.mark.parametrize("seed", range(10))
def test_randomized_multi_doc(seed):
    rng = np.random.default_rng(seed)
    per_doc = {}
    for doc in range(int(rng.integers(2, 8))):
        n = int(rng.integers(10, 120))
        slots = rng.permutation(n)
        na, nb = int(rng.integers(1, 12)), int(rng.integers(1, 12))
        per_doc[doc * 2] = (sorted(slots[:na].tolist()),
                            sorted(slots[na:na + nb].tolist()))
    for slop in (0, 1, 3, 7):
        for in_order in (True, False):
            _check(per_doc, slop, in_order)
            _check(per_doc, slop, in_order, dtype=np.float32)


def test_fallback_paths_still_used():
    """A term shared between clauses keeps the faithful per-doc matcher,
    at two and at three clauses, and the engine still equals it."""
    seg, gdf = segment_from_tokens({0: ["a", "b", "a", "b"],
                                    1: ["a", "x", "x", "a", "b"]})
    sc = K.Scorer(seg, bm25.BM25Stats(2, 40, dtype=np.float64), gdf)
    for clauses in (("a", "a"), ("a", "b", "a")):
        for in_order in (True, False):
            q = Q.SpanNearQuery(tuple(Q.SpanTermQuery(t) for t in clauses),
                                slop=4, in_order=in_order)
            assert not sc._span_vec_ok(q)
            got = dict(zip(*(x.tolist() for x in sc.eval_spans(q))))
            want = dict(zip(*(x.tolist() for x in
                              sc._spans_per_doc(q, sc._span_candidates(q)))))
            assert got == want, (clauses, in_order, got, want)
