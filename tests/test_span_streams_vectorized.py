"""Differential proof: vectorized span-combinator streams == per-doc spans.

kernel._span_streams_vec claims every span combinator (Or / Not / First /
PositionRange / Containing / Within) over term and distinct-term Near
streams collapses to a closed form over composite (doc<<32)+pos keys:

- Or: stable lexsort of the concatenated child streams (ties keep clause
  order, like the per-doc stable sort).
- First/PositionRange: a plain filter (the child stream is start-sorted).
- Not: overlap is a composite-prefix query — excludes with start <
  include.end, running-max end past include.start.
- Containing: the little pointer is monotone in sorted big starts == one
  searchsorted per big span.
- Within: the big pointer never rewinds, so it sits at the first big whose
  end reaches the RUNNING MAX of little ends — searchsorted over the
  running max of big composite ends.

Exhaustive small-universe shapes + randomized deep trees, float64 and
float32, through the full eval_spans path (candidates, fold order
included); the baseline is the faithful per-doc _doc_spans walk
(_spans_per_doc) over uncut candidates.
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


def _check(per_doc, q, dtype=np.float64):
    """per_doc: {docid: {term: [positions]}}; eval_spans equals the per-doc
    reference over uncut candidates, bit for bit."""
    seg, gdf = segment_from_positions(per_doc, lengths_of(per_doc))
    n = len(per_doc)
    sc = K.Scorer(seg, bm25.BM25Stats(n, 40 * max(1, n), dtype=dtype), gdf)
    sc.dtype = dtype
    got = dict(zip(*(x.tolist() for x in sc.eval_spans(q))))
    want = dict(zip(*(x.tolist() for x in
                      sc._spans_per_doc(q, sc._span_candidates(q)))))
    assert got == want, (per_doc, q, got, want)


def T(t):
    return Q.SpanTermQuery(t)


def test_exhaustive_containing_within_near_big():
    """Every placement of (t0, t1, t2) in 6 slots: Containing/Within with a
    2-term ordered/unordered Near big and a term little — the contract's
    exact shapes (span_containing_topk / span_within_count)."""
    idx = list(range(6))
    for p0, p1, p2 in itertools.permutations(idx, 3):
        per_doc = {3: {"t0": [p0], "t1": [p1], "t2": [p2]}}
        for slop in (0, 1, 2, 4):
            for in_order in (True, False):
                big = Q.SpanNearQuery((T("t0"), T("t1")), slop=slop,
                                      in_order=in_order)
                _check(per_doc, Q.SpanContainingQuery(big, T("t2")))
                _check(per_doc, Q.SpanWithinQuery(big, T("t2")))


def test_exhaustive_not_first_range():
    idx = list(range(5))
    for p0, p1 in itertools.permutations(idx, 2):
        for p2 in idx:
            if p2 in (p0, p1):
                continue
            per_doc = {1: {"t0": [p0], "t1": [p1], "t2": [p2]}}
            near = Q.SpanNearQuery((T("t0"), T("t1")), slop=3,
                                   in_order=False)
            _check(per_doc, Q.SpanNotQuery(near, T("t2")))
            _check(per_doc, Q.SpanNotQuery(T("t2"), near))
            for end in (1, 2, 4, 6):
                _check(per_doc, Q.SpanFirstQuery(near, end=end))
                _check(per_doc, Q.SpanPositionRangeQuery(
                    near, start=1, end=end))


def test_or_duplicates_and_tie_order():
    """SpanOr keeps duplicate spans; the f32 fold is order-sensitive, so
    tie order (clause order) must survive vectorization."""
    per_doc = {0: {"t0": [1, 4], "t1": [2], "t2": [1]},
               2: {"t0": [0], "t1": [1], "t2": [5]}}
    q = Q.SpanOrQuery((T("t0"), T("t2"), T("t0")))
    _check(per_doc, q, np.float32)
    near = Q.SpanNearQuery((T("t0"), T("t1")), slop=2, in_order=True)
    _check(per_doc, Q.SpanOrQuery((near, T("t2"))), np.float32)
    _check(per_doc, Q.SpanOrQuery((T("t2"), near)), np.float32)


def test_within_pointer_history_directed():
    """The Within pointer never rewinds: after clearing a long little end it
    must NOT return to an earlier big for a later, shorter little — the
    naive first-big-with-end>=le form over-emits here."""
    # big spans (0,5) and (6,20) via near(t0,t1); littles (2,10) via
    # near(t2,t3) and (3,4) via term t6: per-doc emits nothing.
    per_doc = {5: {"t0": [0, 6], "t1": [4, 19], "t2": [2], "t3": [9],
                   "t6": [3]}}
    big = Q.SpanNearQuery((T("t0"), T("t1")), slop=14, in_order=True)
    little = Q.SpanOrQuery(
        (Q.SpanNearQuery((T("t2"), T("t3")), slop=8, in_order=True),
         T("t6")))
    _check(per_doc, Q.SpanWithinQuery(big, little))
    _check(per_doc, Q.SpanContainingQuery(big, little))


def test_cross_doc_isolation():
    """Pointer state must reset between docs (doc-dominant composites)."""
    per_doc = {0: {"t0": [0], "t1": [9], "t2": [4]},
               1: {"t0": [3], "t1": [5], "t2": [0]},
               4: {"t0": [2], "t1": [2 + 1], "t2": [7]}}
    big = Q.SpanNearQuery((T("t0"), T("t1")), slop=9, in_order=True)
    _check(per_doc, Q.SpanContainingQuery(big, T("t2")))
    _check(per_doc, Q.SpanWithinQuery(big, T("t2")))
    _check(per_doc, Q.SpanNotQuery(big, T("t2")))


def _rand_tree(rng, terms, depth):
    if depth == 0 or rng.random() < 0.35:
        return T(rng.choice(terms))
    kind = rng.choice(["near", "or", "not", "first", "range",
                       "containing", "within"])
    if kind == "near":
        k = rng.randint(2, min(4, len(terms)))
        # occasional repeated term exercises the per-doc fallback agreement
        ts = (rng.sample(terms, k) if rng.random() < 0.9
              else [rng.choice(terms)] * 2)
        return Q.SpanNearQuery(tuple(T(t) for t in ts),
                               slop=rng.randint(0, 5),
                               in_order=rng.random() < 0.5)
    if kind == "or":
        return Q.SpanOrQuery(tuple(
            _rand_tree(rng, terms, depth - 1)
            for _ in range(rng.randint(2, 3))))
    if kind == "not":
        return Q.SpanNotQuery(_rand_tree(rng, terms, depth - 1),
                              _rand_tree(rng, terms, depth - 1))
    if kind == "first":
        return Q.SpanFirstQuery(_rand_tree(rng, terms, depth - 1),
                                end=rng.randint(1, 10))
    if kind == "range":
        s = rng.randint(0, 4)
        return Q.SpanPositionRangeQuery(_rand_tree(rng, terms, depth - 1),
                                        start=s, end=s + rng.randint(1, 7))
    big = _rand_tree(rng, terms, depth - 1)
    little = _rand_tree(rng, terms, depth - 1)
    if kind == "containing":
        return Q.SpanContainingQuery(big, little)
    return Q.SpanWithinQuery(big, little)


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
def test_randomized_deep_trees(dtype):
    rng = random.Random(20260818)
    terms = TERMS[:6]
    for trial in range(120):
        per_doc = {}
        for doc in range(rng.randint(1, 4)):
            slots = list(range(rng.randint(6, 18)))
            rng.shuffle(slots)
            tp, at = {}, 0
            for t in terms:
                m = rng.randint(0, 3)
                if m:
                    tp[t] = sorted(slots[at:at + m])
                    at += m
            if tp:
                per_doc[doc * 3 + 1] = tp
        if not per_doc:
            continue
        q = _rand_tree(rng, terms, 3)
        _check(per_doc, q, dtype)
