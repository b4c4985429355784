"""Distinct-term positional shapes never reach a per-doc Python matcher.

Every distinct-term sloppy phrase and every flattenable SpanNearQuery (term
or Or-of-terms clauses, ordered or unordered, k=2 and k=3) runs a vectorized
walk over whole-segment position streams. A spy on Scorer._doc_spans and
SloppyPhraseMatcher.freq counts per-doc matcher calls: zero for those
shapes on three corpora — one where the window cut discriminates, and two
where the terms sit adjacent in every doc so the cut keeps every candidate.
A repeated-term shape on the same corpora must still call the matcher,
which shows the spy sees the per-doc path. Results equal the faithful
per-doc references.
"""

import numpy as np
import pytest

from lucene_7_x_9_x_spark.functions import bm25
from lucene_7_x_9_x_spark.search import kernel as K
from lucene_7_x_9_x_spark.search import query as Q
from lucene_7_x_9_x_spark.search import sloppy as SL
from tests.stub_segment import segment_from_tokens, sloppy_reference

N_DOCS, DOC_LEN = 300, 60


def _corpus(kind):
    rng = np.random.RandomState(42)
    docs = {}
    for i in range(N_DOCS):
        toks = [f"w{rng.randint(50)}" for _ in range(DOC_LEN)]
        if kind == "discriminating":
            # new/york/city in every doc, within slop in a third of them
            j = rng.randint(10)
            toks[j] = "new"
            if i % 3 == 0:
                toks[j + 1 + rng.randint(2)] = "york"
                toks[j + 3] = "city"
            else:
                toks[40 + rng.randint(10)] = "york"
                toks[50 + rng.randint(10)] = "city"
        elif kind == "adjacent":
            j = rng.randint(DOC_LEN - 3)
            toks[j], toks[j + 1], toks[j + 2] = "new", "york", "city"
        else:  # adjacent-hi: eight adjacent tuples per doc
            for p in range(8):
                j = 2 + p * 7
                toks[j], toks[j + 1], toks[j + 2] = "new", "york", "city"
        docs[i] = toks
    return docs


def T(t):
    return Q.SpanTermQuery(t)


def _or(*ts):
    return Q.SpanOrQuery(tuple(T(t) for t in ts))


WALK_SHAPES = {
    "sloppy2": Q.PhraseQuery(("new", "york"), slop=2),
    "sloppy3": Q.PhraseQuery(("new", "york", "city"), slop=4),
    "near2_ordered": Q.SpanNearQuery((T("new"), T("york")), slop=2,
                                     in_order=True),
    "near2_unordered": Q.SpanNearQuery((T("new"), T("york")), slop=2,
                                       in_order=False),
    "near3_ordered": Q.SpanNearQuery((T("new"), T("york"), T("city")),
                                     slop=4, in_order=True),
    "near3_unordered": Q.SpanNearQuery((T("new"), T("york"), T("city")),
                                       slop=4, in_order=False),
    "near2_or_group": Q.SpanNearQuery((_or("new", "city"), T("york")),
                                      slop=2, in_order=True),
    "near3_or_group": Q.SpanNearQuery((_or("new", "w1"), T("york"),
                                       T("city")), slop=4, in_order=False),
}


@pytest.fixture(scope="module", params=["discriminating", "adjacent",
                                        "adjacent-hi"])
def segment(request):
    return segment_from_tokens(_corpus(request.param))


def _calls(sc, q):
    """(docids, freqs, per-doc matcher calls) of the engine's evaluation."""
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
        d, f = (sc.eval_spans(q) if isinstance(q, Q.SpanQuery)
                else sc._phrase_freqs(q))
    finally:
        K.Scorer._doc_spans = orig_spans
        SL.SloppyPhraseMatcher.freq = orig_freq
    return d, f, calls["n"]


def _reference(sc, q):
    if isinstance(q, Q.SpanQuery):
        return sc._spans_per_doc(q, sc._span_candidates(q))
    return sloppy_reference(sc, q)


def _scorer(seg, gdf):
    sc = K.Scorer(seg, bm25.BM25Stats(N_DOCS, N_DOCS * DOC_LEN,
                                      dtype=np.float32), gdf)
    sc.dtype = np.float32
    return sc


@pytest.mark.parametrize("shape", sorted(WALK_SHAPES))
def test_distinct_term_shapes_make_no_matcher_calls(segment, shape):
    q = WALK_SHAPES[shape]
    sc = _scorer(*segment)
    d, f, n = _calls(sc, q)
    assert n == 0, (shape, n)
    assert d.size > 0, shape
    rd, rf = _reference(sc, q)
    assert np.array_equal(d, rd) and np.array_equal(f, rf), shape


def test_repeated_term_shape_reaches_the_matcher(segment):
    q = Q.SpanNearQuery((T("new"), T("york"), T("new")), slop=60,
                        in_order=False)
    sc = _scorer(*segment)
    d, f, n = _calls(sc, q)
    assert n > 0
    rd, rf = _reference(sc, q)
    assert np.array_equal(d, rd) and np.array_equal(f, rf)
