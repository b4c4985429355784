"""Differential proof: vectorized NearSpans over Or-of-term clauses ==
faithful matchers.

kernel extends the near walk (_near_kterm_stream) to clauses that are SpanOr
over term leaves (the SpanMultiTermQueryWrapper-inside-Near shape): a clause's
emission stream becomes the key-sorted union of its member terms' positions.
All member spans have end = start + 1, so the union keeps the monotone-ends
property both closed forms rely on; (start, end, clause-ord) queue ties only
reorder IDENTICAL spans, which cannot change emission values. Exhaustive
small-universe + randomized group shapes, ordered and unordered, float64 and
float32, including same-position duplicates (synonym-stacked postings), all
through the full eval_spans path against the faithful per-doc matchers
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
from tests.stub_segment import segment_from_positions

TERMS = [f"t{j}" for j in range(8)]


def _reference(sc, q):
    return dict(zip(*(x.tolist() for x in
                      sc._spans_per_doc(q, sc._span_candidates(q)))))


def _check(per_doc, doclens, groups, slop, in_order, dtype=np.float64):
    seg, gdf = segment_from_positions(per_doc, doclens)
    n = len(per_doc)
    sc = K.Scorer(seg, bm25.BM25Stats(n, 40 * n, dtype=dtype), gdf)
    sc.dtype = dtype

    def clause(g):
        if len(g) == 1:
            return Q.SpanTermQuery(g[0])
        return Q.SpanOrQuery(tuple(Q.SpanTermQuery(t) for t in g))

    q = Q.SpanNearQuery(tuple(clause(g) for g in groups),
                        slop=slop, in_order=in_order)
    assert sc._span_vec_ok(q), ("group shape must ride the "
                                "vectorized algebra", groups)
    got = dict(zip(*(x.tolist() for x in sc.eval_spans(q))))
    want = _reference(sc, q)
    assert got == want, (per_doc, groups, slop, in_order, got, want)


def test_exhaustive_or_clause_small_universe():
    """Every assignment of slots 0..5 to {t0, t1, t2, filler}, query
    Near([Or(t0, t1), t2]) — both orders, slops 0..3. Covers merged-stream
    pop ties, exhaustion cuts, and chains landing on either member."""
    groups = [("t0", "t1"), ("t2",)]
    for assign in itertools.product(range(4), repeat=6):
        tp = {0: {"t0": [], "t1": [], "t2": []}}
        for slot, which in enumerate(assign):
            if which < 3:
                tp[0][f"t{which}"].append(slot)
        if not (tp[0]["t0"] or tp[0]["t1"]) or not tp[0]["t2"]:
            continue
        doclens = {0: 6}
        for slop in range(4):
            _check(tp, doclens, groups, slop, True)
            _check(tp, doclens, groups, slop, False)


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
@pytest.mark.parametrize("shape", [
    [("t0", "t1"), ("t2",)],                      # 2 clauses, one Or
    [("t0",), ("t1", "t2")],
    [("t0", "t1"), ("t2", "t3")],                 # both Or
    [("t0", "t1"), ("t2",), ("t3", "t4")],        # 3 clauses mixed
    [("t0",), ("t1", "t2", "t3"), ("t4",)],
    [("t0", "t1"), ("t2", "t3"), ("t4", "t5")],   # 3 clauses all Or
])
def test_randomized_multidoc_groups(shape, dtype):
    rng = random.Random(4242 + len(shape) * 10 + len(shape[0]))
    terms = [t for g in shape for t in g]
    for trial in range(25):
        per_doc, doclens = {}, {}
        for doc in range(rng.randint(1, 5)):
            slots = list(range(24))
            rng.shuffle(slots)
            tp, at = {}, 0
            for t in terms:
                cnt = rng.randint(0, 3)
                tp[t] = slots[at:at + cnt]
                at += cnt
            per_doc[doc] = tp
            doclens[doc] = 24
        for slop in (0, 1, 2, 4, 7):
            for in_order in (True, False):
                _check(per_doc, doclens, shape, slop, in_order, dtype)


@pytest.mark.parametrize("in_order", [True, False])
def test_same_position_duplicates_synonym_stack(in_order):
    """Two Or members at the SAME position (synonym-stacked postings):
    duplicate spans pop consecutively and emit twice in the faithful
    queue — the merged stream must reproduce the doubled freq."""
    per_doc = {
        0: {"t0": [2, 5], "t1": [2], "t2": [3, 6]},   # t0/t1 collide at 2
        1: {"t0": [0], "t1": [0], "t2": [1]},
        2: {"t0": [4], "t1": [], "t2": [5]},
    }
    doclens = {0: 8, 1: 8, 2: 8}
    groups = [("t0", "t1"), ("t2",)]
    for slop in range(3):
        _check(per_doc, doclens, groups, slop, in_order)
        _check(per_doc, doclens, groups, slop, in_order, np.float32)


def test_gate_refuses_shared_terms_across_groups():
    """A term appearing in two clauses falls back to the faithful per-doc
    matcher (the walks assume disjoint streams)."""
    per_doc = {0: {"t0": [0, 3], "t1": [1], "t2": [2]}}
    seg, gdf = segment_from_positions(per_doc, {0: 6})
    sc = K.Scorer(seg, bm25.BM25Stats(1, 40, dtype=np.float64), gdf)
    q = Q.SpanNearQuery(
        (Q.SpanOrQuery((Q.SpanTermQuery("t0"), Q.SpanTermQuery("t1"))),
         Q.SpanTermQuery("t0")), slop=3, in_order=True)
    assert not sc._span_vec_ok(q)
    d, f = sc.eval_spans(q)  # still answers through the faithful path
    assert dict(zip(d.tolist(), f.tolist())) == _reference(sc, q)


def test_nested_or_flattens():
    """Near([Or(Or(t0, t1), t2), t3]) rides the vectorized walk (nested Or
    flattens to one merged stream) and equals the faithful per-doc result."""
    per_doc = {0: {"t0": [0], "t1": [2], "t2": [4], "t3": [1, 3, 5]}}
    seg, gdf = segment_from_positions(per_doc, {0: 6})
    sc = K.Scorer(seg, bm25.BM25Stats(1, 40, dtype=np.float64), gdf)
    inner = Q.SpanOrQuery((Q.SpanTermQuery("t0"), Q.SpanTermQuery("t1")))
    outer = Q.SpanOrQuery((inner, Q.SpanTermQuery("t2")))
    for slop in range(4):
        for in_order in (True, False):
            q = Q.SpanNearQuery((outer, Q.SpanTermQuery("t3")),
                                slop=slop, in_order=in_order)
            assert sc._span_vec_ok(q)
            d, f = sc.eval_spans(q)
            assert dict(zip(d.tolist(), f.tolist())) == _reference(sc, q)
