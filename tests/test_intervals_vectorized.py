"""Differential proof: vectorized term-leaf interval shapes == per-doc algebra.

kernel._interval_counts_vec claims the minimal-interval sets of ordered /
unordered / phrase sources over distinct term leaves (optionally under one
maxgaps/maxwidth filter) reduce to chained / partner searchsorteds plus a
successor-equal-end dedup. These tests pin the equivalence through the full
eval_intervals path (candidates, window cut, freq fold, accumulation order)
against the faithful per-doc iterators (search/intervals.py, driven by
_intervals_per_doc over uncut candidates), which are themselves golden- and
brute-force-tested in test_intervals.py.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from lucene_7_x_9_x_spark.functions import bm25
from lucene_7_x_9_x_spark.search import kernel as K
from lucene_7_x_9_x_spark.search import query as Q
from tests.stub_segment import segment_from_tokens

TERMS = ["a", "b", "c", "d"]


def _check(docs_tokens, src, dtype=np.float64):
    seg, gdf = segment_from_tokens(docs_tokens)
    n = len(docs_tokens)
    sc = K.Scorer(seg, bm25.BM25Stats(n, 40 * n, dtype=dtype), gdf)
    sc.dtype = dtype
    got = dict(zip(*(x.tolist() for x in
                     sc.eval_intervals(Q.IntervalQuery(source=src)))))
    want = dict(zip(*(x.tolist() for x in sc._intervals_per_doc(
        src, sc._interval_candidates(src)))))
    assert got == want, (docs_tokens, src, got, want)


def _corpora(seed, n_trials, k):
    rng = random.Random(seed)
    for _ in range(n_trials):
        docs = {}
        for doc in range(rng.randint(1, 5)):
            n = rng.randint(2, 35)
            toks = []
            for _ in range(n):
                # dense term mix: many candidates, ties, exhaustions
                toks.append(rng.choice(TERMS[:k] + ["x", "y"]))
            docs[doc * 2] = toks
        yield docs


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
@pytest.mark.parametrize("k", [2, 3, 4])
def test_ordered_randomized(k, dtype):
    src = Q.IOrdered(tuple(Q.ITerm(t) for t in TERMS[:k]))
    for docs in _corpora(10 + k, 60, k):
        _check(docs, src, dtype)


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
@pytest.mark.parametrize("k", [2, 3, 4])
def test_unordered_randomized(k, dtype):
    src = Q.IUnordered(tuple(Q.ITerm(t) for t in TERMS[:k]))
    for docs in _corpora(20 + k, 60, k):
        _check(docs, src, dtype)


@pytest.mark.parametrize("k", [2, 3])
def test_phrase_randomized(k):
    src = Q.IPhrase(tuple(Q.ITerm(t) for t in TERMS[:k]))
    for docs in _corpora(30 + k, 40, k):
        _check(docs, src)


@pytest.mark.parametrize("gaps", [0, 1, 3, 8])
def test_maxgaps_filter(gaps):
    for k in (2, 3):
        src = Q.IMaxGaps(
            gaps, Q.IOrdered(tuple(Q.ITerm(t) for t in TERMS[:k])))
        for docs in _corpora(40 + k + gaps, 25, k):
            _check(docs, src)
        srcu = Q.IMaxGaps(
            gaps, Q.IUnordered(tuple(Q.ITerm(t) for t in TERMS[:k])))
        for docs in _corpora(50 + k + gaps, 25, k):
            _check(docs, srcu)


@pytest.mark.parametrize("width", [1, 2, 4, 10])
def test_maxwidth_filter(width):
    for k in (2, 3):
        src = Q.IMaxWidth(
            width, Q.IUnordered(tuple(Q.ITerm(t) for t in TERMS[:k])))
        for docs in _corpora(60 + k + width, 25, k):
            _check(docs, src)


def test_golden_minimality_cases():
    """The hand-traced cases from test_intervals.py, through both paths."""
    def doc(text):
        return {0: text.split()}

    ordered = Q.IOrdered((Q.ITerm("a"), Q.ITerm("b")))
    _check(doc("a x a b"), ordered)
    _check(doc("a b a b"), ordered)
    _check(doc("b a"), ordered)
    ord3 = Q.IOrdered((Q.ITerm("a"), Q.ITerm("b"), Q.ITerm("c")))
    _check(doc("a b c"), ord3)
    _check(doc("a c b"), ord3)
    _check(doc("a x b x c"), ord3)
    unord = Q.IUnordered((Q.ITerm("a"), Q.ITerm("b")))
    _check(doc("b x x a b"), unord)
    _check(doc("b a"), unord)
    _check(doc("a x b"), unord)


def test_uncovered_shapes_fall_through():
    """Repeated terms / non-term leaves keep the per-doc path (None route)."""
    docs = {0: "a b a b c".split()}
    rep = Q.IOrdered((Q.ITerm("a"), Q.ITerm("a")))
    _check(docs, rep)  # both paths must agree (vec returns None -> per-doc)
    nested = Q.IOrdered((Q.ITerm("a"),
                         Q.IUnordered((Q.ITerm("b"), Q.ITerm("c")))))
    _check(docs, nested)


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
def test_containing_randomized(dtype):
    big = Q.IOrdered((Q.ITerm("a"), Q.ITerm("c")))
    for small in (Q.ITerm("b"), Q.IUnordered((Q.ITerm("b"), Q.ITerm("d")))):
        src = Q.IContaining(big, small)
        for docs in _corpora(70, 50, 4):
            _check(docs, src, dtype)


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
def test_contained_by_randomized(dtype):
    small = Q.IOrdered((Q.ITerm("a"), Q.ITerm("b")))
    for big in (Q.IUnordered((Q.ITerm("c"), Q.ITerm("d"))),
                Q.IMaxGaps(6, Q.IOrdered((Q.ITerm("c"), Q.ITerm("d"))))):
        src = Q.IContainedBy(small, big)
        for docs in _corpora(80, 50, 4):
            _check(docs, src, dtype)


def test_containment_golden():
    def doc(text):
        return {0: text.split()}

    # big a..c containing b
    src = Q.IContaining(Q.IOrdered((Q.ITerm("a"), Q.ITerm("c"))),
                        Q.ITerm("b"))
    _check(doc("a b c"), src)
    _check(doc("a c b"), src)
    _check(doc("a x c b a b c"), src)
    # small a..b inside big c..d
    src2 = Q.IContainedBy(Q.IOrdered((Q.ITerm("a"), Q.ITerm("b"))),
                          Q.IUnordered((Q.ITerm("c"), Q.ITerm("d"))))
    _check(doc("c a b d"), src2)
    _check(doc("a b c d"), src2)
    _check(doc("c a b d a b"), src2)


def test_filtered_phrase_and_nested_filters():
    def doc(text):
        return {0: text.split()}
    ph = Q.IMaxWidth(2, Q.IPhrase((Q.ITerm("a"), Q.ITerm("b"))))
    _check(doc("a b x a b"), ph)
    nested = Q.IMaxGaps(2, Q.IOrdered((Q.ITerm("a"), Q.ITerm("b"))))
    for docs in _corpora(90, 20, 2):
        _check(docs, Q.IMaxWidth(5, nested.source), np.float32)


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
def test_disjunction_randomized(dtype):
    """IOr over mixed term-leaf shapes: the vectorized antichain (suffix-min
    ends + first-of-start-group after exact-dup collapse) must equal the
    per-doc DisjunctionIntervalsSource queue semantics."""
    srcs = (
        Q.IOr((Q.ITerm("a"), Q.IOrdered((Q.ITerm("b"), Q.ITerm("c"))))),
        Q.IOr((Q.IOrdered((Q.ITerm("a"), Q.ITerm("b"))),
               Q.IUnordered((Q.ITerm("c"), Q.ITerm("d"))))),
        Q.IOr((Q.ITerm("a"), Q.ITerm("b"), Q.ITerm("c"))),
        Q.IOr((Q.IUnordered((Q.ITerm("a"), Q.ITerm("b"))),
               Q.IOrdered((Q.ITerm("a"), Q.ITerm("b"))))),
    )
    for src in srcs:
        for docs in _corpora(110, 40, 4):
            _check(docs, src, dtype)


def test_disjunction_golden_containment():
    """Directed suppression cases: a term interval inside an ordered pair
    starting at the same position kills the pair's interval (containment-
    minimal antichain), duplicate intervals from two subs emit once."""
    def doc(text):
        return {0: text.split()}

    # (a..b) intervals always contain the 'a' term interval at their start
    src = Q.IOr((Q.ITerm("a"), Q.IOrdered((Q.ITerm("a"), Q.ITerm("b")))))
    _check(doc("a b"), src)
    _check(doc("a x b a"), src)
    # identical intervals from two subs (ordered a..b == phrase a b)
    dup = Q.IOr((Q.IOrdered((Q.ITerm("a"), Q.ITerm("b"))),
                 Q.IPhrase((Q.ITerm("a"), Q.ITerm("b")))))
    _check(doc("a b x a b"), dup)
    # nested IOr
    nested = Q.IOr((Q.IOr((Q.ITerm("a"), Q.ITerm("b"))), Q.ITerm("c")))
    _check(doc("a b c a"), nested)


def test_disjunction_under_filters_and_containment():
    """IMaxWidth composes over IOr (filter after minimization); IMaxGaps
    over IOr keeps the per-doc path (per-row gaps depend on the emitting
    sub); IOr sides inside containment stay covered antichains."""
    def doc(text):
        return {0: text.split()}

    w = Q.IMaxWidth(3, Q.IOr((Q.ITerm("a"),
                              Q.IOrdered((Q.ITerm("b"), Q.ITerm("c"))))))
    _check(doc("b x c a b c"), w)
    g = Q.IMaxGaps(1, Q.IOr((Q.IOrdered((Q.ITerm("a"), Q.ITerm("b"))),
                             Q.IOrdered((Q.ITerm("c"), Q.ITerm("d"))))))
    _check(doc("a x b c d a b"), g)  # falls through; both paths agree
    big_or = Q.IContaining(
        Q.IOr((Q.IOrdered((Q.ITerm("a"), Q.ITerm("c"))),
               Q.IUnordered((Q.ITerm("a"), Q.ITerm("d"))))), Q.ITerm("b"))
    for docs in _corpora(120, 30, 4):
        _check(docs, big_or)
    small_or = Q.IContainedBy(
        Q.IOr((Q.ITerm("b"), Q.IOrdered((Q.ITerm("b"), Q.ITerm("d"))))),
        Q.IUnordered((Q.ITerm("a"), Q.ITerm("c"))))
    for docs in _corpora(130, 30, 4):
        _check(docs, small_or)
