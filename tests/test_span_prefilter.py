"""Vectorized candidate cut before the per-doc span/sloppy matchers.

Soundness: the pair-window cut is a NECESSARY condition, so the engine's
results must equal the faithful per-doc references run over UNCUT candidates
(differential, seeded random docs). Effectiveness: per-doc matcher
invocations drop on corpora where terms co-occur in docs but never close
enough — the exact scenario the cut targets. Only repeated-term shapes still
reach the per-doc matchers (distinct-term shapes run the vectorized walks),
so the effectiveness checks use "alpha beta alpha".
"""

import numpy as np
import pytest

from lucene_7_x_9_x_spark.functions import bm25
from lucene_7_x_9_x_spark.search import kernel as K
from lucene_7_x_9_x_spark.search import query as Q
from lucene_7_x_9_x_spark.search import sloppy as SL
from tests.stub_segment import segment_from_tokens, sloppy_reference


@pytest.fixture(scope="module")
def far_corpus():
    """Docs where 'alpha' occurs twice and 'beta' once, but only some docs
    have beta between the alphas, within slop — plus seeded random filler."""
    rng = np.random.RandomState(7)
    docs = {}
    for i in range(200):
        toks = [f"w{rng.randint(30)}" for _ in range(40)]
        j = rng.randint(10)
        toks[j] = toks[j + 4] = "alpha"
        if i % 3 == 0:
            # close: beta right after the first alpha
            toks[j + 1 + rng.randint(2)] = "beta"
        else:
            toks[35 + rng.randint(5)] = "beta"  # far away
        docs[i] = toks
    return docs


def _scorer(seg, gdf):
    stats = bm25.BM25Stats(200, 200 * 40, dtype=np.float64)
    return K.Scorer(seg, stats, gdf)


def _engine(sc, q):
    if isinstance(q, Q.SpanQuery):
        return sc.eval_spans(q)
    if isinstance(q, Q.MultiPhraseQuery):
        return sc._multi_phrase_freqs(q)
    return sc._phrase_freqs(q)


def _reference(sc, q):
    if isinstance(q, Q.SpanQuery):
        return sc._spans_per_doc(q, sc._span_candidates(q))
    return sloppy_reference(sc, q)


def _cut_vs_uncut(q, docs):
    """(engine docids, matcher calls with the cut, matcher calls without):
    the engine (cut, then per-doc) vs the uncut per-doc reference, each on
    a fresh segment; results must agree."""
    calls = {"n": 0}
    orig_spans, orig_freq = K.Scorer._doc_spans, SL.SloppyPhraseMatcher.freq

    def spy_spans(self, qq, doc):
        calls["n"] += 1
        return orig_spans(self, qq, doc)

    def spy_freq(self, plists, dtype=np.float32):
        calls["n"] += 1
        return orig_freq(self, plists, dtype=dtype)

    K.Scorer._doc_spans = spy_spans
    SL.SloppyPhraseMatcher.freq = spy_freq
    try:
        d_on, f_on = _engine(_scorer(*segment_from_tokens(docs)), q)
        n_on, calls["n"] = calls["n"], 0
        d_off, f_off = _reference(_scorer(*segment_from_tokens(docs)), q)
        n_off = calls["n"]
    finally:
        K.Scorer._doc_spans = orig_spans
        SL.SloppyPhraseMatcher.freq = orig_freq
    assert np.array_equal(d_on, d_off)
    assert np.array_equal(f_on, f_off)
    return d_on, n_on, n_off


def _alpha_beta_alpha_near(slop, in_order):
    return Q.SpanNearQuery((Q.SpanTermQuery("alpha"), Q.SpanTermQuery("beta"),
                            Q.SpanTermQuery("alpha")),
                           slop=slop, in_order=in_order)


def test_span_near_ordered_cut(far_corpus):
    d, n_on, n_off = _cut_vs_uncut(_alpha_beta_alpha_near(2, True),
                                   far_corpus)
    assert d.size > 0
    # every doc has both terms, so without the cut the matcher visits ~200
    # docs; with it, only near-co-occurrence docs survive
    assert n_on < n_off / 2


def test_span_near_unordered_cut(far_corpus):
    d, n_on, n_off = _cut_vs_uncut(_alpha_beta_alpha_near(3, False),
                                   far_corpus)
    assert d.size > 0
    assert n_on < n_off / 2


def test_sloppy_phrase_cut_differential(far_corpus):
    """The window cut halves SloppyPhraseMatcher calls for the per-doc path
    that repeated-term phrases take."""
    q = Q.PhraseQuery(("alpha", "beta", "alpha"), slop=2)
    d, n_on, n_off = _cut_vs_uncut(q, far_corpus)
    assert d.size > 0
    assert n_on < n_off / 2


def test_random_differential_many_shapes():
    rng = np.random.RandomState(11)
    docs = {i: [f"t{rng.randint(8)}" for _ in range(rng.randint(3, 25))]
            for i in range(120)}
    sc = _scorer(*segment_from_tokens(docs))
    shapes = [
        Q.SpanNearQuery((Q.SpanTermQuery("t0"), Q.SpanTermQuery("t1")),
                        slop=1, in_order=True),
        Q.SpanNearQuery((Q.SpanTermQuery("t0"), Q.SpanTermQuery("t1"),
                         Q.SpanTermQuery("t2")), slop=4, in_order=True),
        Q.SpanNearQuery((Q.SpanTermQuery("t3"), Q.SpanTermQuery("t4")),
                        slop=2, in_order=False),
        Q.SpanNearQuery((Q.SpanTermQuery("t3"), Q.SpanTermQuery("t4"),
                         Q.SpanTermQuery("t3")), slop=3, in_order=False),
        Q.PhraseQuery(("t0", "t1"), slop=1),
        Q.PhraseQuery(("t2", "t0"), slop=3),
        Q.PhraseQuery(("t2", "t0", "t2"), slop=3),
        Q.MultiPhraseQuery((("t0", "t1"), ("t2",)), slop=2),
        Q.MultiPhraseQuery((("t0", "t1"), ("t1",)), slop=2),
    ]
    for q in shapes:
        da, fa = _engine(sc, q)
        db, fb = _reference(sc, q)
        assert np.array_equal(da, db), q
        assert np.array_equal(fa, fb), q


def test_unordered_kterm_cut_bound_is_slop_plus_k_minus_1():
    """Regression: the unordered NearSpans window test is max_end -
    top_start - k <= slop, i.e. max(p) - min(p) <= slop + k - 1 — so for
    k >= 3 two ADJACENT clauses may legitimately sit slop+k-1 apart (a
    third clause stretches the window), which a +-(slop+1) adjacent-pair
    cut wrongly removes. Pinned repro: positions t0@5, t1@10, t2@1,
    slop=7, k=3: the span (1, 11) matches (10 - 1 - 3 = 6 <= 7) while
    the t1->t2 adjacent gap is |1-10| = 9 > slop+1 = 8."""
    docs = {0: ["f"] * 24}
    docs[0][5], docs[0][10], docs[0][1] = "t0", "t1", "t2"
    sc = _scorer(*segment_from_tokens(docs))
    q = Q.SpanNearQuery((Q.SpanTermQuery("t0"), Q.SpanTermQuery("t1"),
                         Q.SpanTermQuery("t2")), slop=7, in_order=False)
    cand = sc._span_candidates(q)
    flats = [sc.seg.flat_positions(t) for t in ("t0", "t1", "t2")]
    assert sc._near_window_cut(cand, flats, 7, False).tolist() == [0]
    truth = dict(zip(*(x.tolist() for x in sc._spans_per_doc(q, cand))))
    assert truth, "the span must match without any prefilter"
    assert dict(zip(*(x.tolist() for x in sc.eval_spans(q)))) == truth
