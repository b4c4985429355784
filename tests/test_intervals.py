"""Intervals family: minimal-interval algebra + IntervalQuery scoring.

Golden cases hand-traced against the reference iterators
(OrderedIntervalsSource.java, UnorderedIntervalsSource.java,
DisjunctionIntervalsSource.java, BlockIntervalsSource.java), plus a
brute-force differential: the lazy algorithm must emit exactly the minimal
candidate intervals on randomized position sets.
"""

import numpy as np
import pytest

from lucene_7_x_9_x_spark.index.builder import build_index
from lucene_7_x_9_x_spark.search import intervals as IV
from lucene_7_x_9_x_spark.search import query as Q
from lucene_7_x_9_x_spark.search.searcher import IndexSearcher


def _pos(text):
    toks = text.split()
    out = {}
    for i, t in enumerate(toks):
        out.setdefault(t, []).append(i)
    return lambda term: out.get(term, ())


def ivs(src, text):
    return IV.doc_intervals(src, _pos(text))


# ---------------------------------------------------------------------------
# golden per-doc algebra
# ---------------------------------------------------------------------------

def test_term_intervals():
    assert ivs(Q.ITerm("a"), "a b a") == [(0, 0), (2, 2)]
    assert ivs(Q.ITerm("z"), "a b a") == []


def test_ordered_minimality():
    # 'a x a b': (0,3) contains (2,3) -> only the minimal survives
    src = Q.IOrdered((Q.ITerm("a"), Q.ITerm("b")))
    assert ivs(src, "a x a b") == [(2, 3)]
    assert ivs(src, "a b a b") == [(0, 1), (2, 3)]
    assert ivs(src, "b a") == []            # wrong order
    assert ivs(src, "a b") == [(0, 1)]


def test_ordered_three_terms():
    src = Q.IOrdered((Q.ITerm("a"), Q.ITerm("b"), Q.ITerm("c")))
    assert ivs(src, "a b c") == [(0, 2)]
    assert ivs(src, "a c b") == []
    assert ivs(src, "a x b x c") == [(0, 4)]


def test_unordered():
    src = Q.IUnordered((Q.ITerm("a"), Q.ITerm("b")))
    assert ivs(src, "b a") == [(0, 1)]
    assert ivs(src, "a x b") == [(0, 2)]
    # (0,3) and (3,4) overlap but neither contains the other -> both minimal
    assert ivs(src, "b x x a b") == [(0, 3), (3, 4)]


def test_phrase_block():
    src = Q.IPhrase((Q.ITerm("a"), Q.ITerm("b")))
    assert ivs(src, "a b x a b") == [(0, 1), (3, 4)]
    assert ivs(src, "a x b") == []


def test_or_containment_suppression():
    # 'a b': phrase (0,1) CONTAINS term b (1,1) -> only (1,1) emitted
    src = Q.IOr((Q.ITerm("b"), Q.IPhrase((Q.ITerm("a"), Q.ITerm("b")))))
    assert ivs(src, "a b") == [(1, 1)]


def test_maxgaps_and_maxwidth():
    ordered = Q.IOrdered((Q.ITerm("a"), Q.ITerm("b")))
    assert ivs(Q.IMaxGaps(0, ordered), "a x b a b") == [(3, 4)]
    assert ivs(Q.IMaxGaps(1, ordered), "a x b") == [(0, 2)]
    assert ivs(Q.IMaxWidth(2, ordered), "a x b a b") == [(3, 4)]


def test_containing_and_contained_by():
    big = Q.IOrdered((Q.ITerm("a"), Q.ITerm("c")))
    small = Q.ITerm("b")
    # 'a b c': ordered(a,c) == (0,2), contains b@(1,1)
    assert ivs(Q.IContaining(big, small), "a b c") == [(0, 2)]
    assert ivs(Q.IContaining(big, small), "a c b") == []
    assert ivs(Q.IContainedBy(small, big), "a b c") == [(1, 1)]
    assert ivs(Q.IContainedBy(small, big), "b a c") == []


def test_min_extent():
    assert IV.min_extent(Q.ITerm("a")) == 1
    assert IV.min_extent(Q.IOrdered((Q.ITerm("a"), Q.ITerm("b")))) == 2
    assert IV.min_extent(
        Q.IOr((Q.ITerm("a"), Q.IPhrase((Q.ITerm("a"), Q.ITerm("b")))))) == 1
    assert IV.min_extent(
        Q.IMaxGaps(1, Q.IUnordered((Q.ITerm("a"), Q.ITerm("b"),
                                    Q.ITerm("c"))))) == 3


# ---------------------------------------------------------------------------
# brute-force differential: lazy algorithm == minimal candidate set
# ---------------------------------------------------------------------------

def _brute_minimal(cands):
    uniq = sorted(set(cands))
    out = []
    for iv_ in uniq:
        s, e = iv_
        if any(o != iv_ and s <= o[0] and o[1] <= e for o in uniq):
            continue
        out.append(iv_)
    return out


def _brute_ordered(pos_lists):
    def rec(i, prev_end):
        if i == len(pos_lists):
            return [()]
        return [(p,) + rest for p in pos_lists[i] if p > prev_end
                for rest in rec(i + 1, p)]
    return _brute_minimal([(t[0], t[-1]) for t in rec(0, -1)])


def _brute_unordered(pos_lists):
    import itertools
    cands = [(min(t), max(t)) for t in itertools.product(*pos_lists)]
    return _brute_minimal(cands)


@pytest.mark.parametrize("seed", range(20))
def test_differential_ordered_unordered(seed):
    rng = np.random.default_rng(seed)
    n_terms = int(rng.integers(2, 4))
    doclen = int(rng.integers(4, 30))
    toks = rng.choice(list("abcx"), size=doclen)
    text = " ".join(toks)
    terms = [Q.ITerm(t) for t in list("abc")[:n_terms]]
    pos = [_pos(text)(t.term) for t in terms]
    if any(len(p) == 0 for p in pos):
        return
    got_o = ivs(Q.IOrdered(tuple(terms)), text)
    assert sorted(got_o) == _brute_ordered(pos), (text, got_o)
    got_u = ivs(Q.IUnordered(tuple(terms)), text)
    assert sorted(set(got_u)) == _brute_unordered(pos), (text, got_u)


# ---------------------------------------------------------------------------
# end-to-end IntervalQuery through the searcher
# ---------------------------------------------------------------------------

ROWS = [
    (0, "alpha beta gamma delta"),
    (1, "beta alpha gamma"),
    (2, "alpha filler filler beta"),
    (3, "gamma delta alpha"),
    (4, "alpha beta alpha beta"),
    (5, "unrelated words only"),
]


@pytest.fixture()
def searcher(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(ROWS, "doc_id long, text string"),
                "doc_id", "text", d, docs_per_segment=3, int_keys=True,
                term_shards=4)
    return IndexSearcher(spark, d)


def _keys(td):
    return sorted(int(k) for k in td.hits["key"])


def test_interval_query_ordered(searcher):
    q = Q.IntervalQuery(Q.IOrdered((Q.ITerm("alpha"), Q.ITerm("beta"))))
    assert _keys(searcher.search(q, k=10)) == [0, 2, 4]


def test_interval_query_maxgaps(searcher):
    q = Q.IntervalQuery(
        Q.IMaxGaps(0, Q.IOrdered((Q.ITerm("alpha"), Q.ITerm("beta")))))
    assert _keys(searcher.search(q, k=10)) == [0, 4]
    assert searcher.count(q) == 2


def test_interval_query_unordered(searcher):
    q = Q.IntervalQuery(
        Q.IMaxWidth(2, Q.IUnordered((Q.ITerm("alpha"), Q.ITerm("beta")))))
    assert _keys(searcher.search(q, k=10)) == [0, 1, 4]


def test_interval_query_score_saturation(searcher):
    # doc 4: two adjacent (alpha, beta) minimal intervals, each width 2,
    # minExtent 2 -> per-interval 1/1 -> freq 2 -> score = 2/(1+2)
    q = Q.IntervalQuery(Q.IOrdered((Q.ITerm("alpha"), Q.ITerm("beta"))))
    td = searcher.search(q, k=10)
    top = td.hits.iloc[0]
    assert int(top["key"]) == 4
    assert abs(float(top["score"]) - (1.0 - 1.0 / (1.0 + 2.0))) < 1e-6
    # boost scales the saturation output linearly
    td2 = searcher.search(
        Q.IntervalQuery(Q.IOrdered((Q.ITerm("alpha"), Q.ITerm("beta"))),
                        boost=2.0), k=10)
    assert abs(float(td2.hits.iloc[0]["score"])
               - 2.0 * float(top["score"])) < 1e-6


def test_interval_query_sigmoid(searcher):
    q = Q.IntervalQuery(Q.IOrdered((Q.ITerm("alpha"), Q.ITerm("beta"))),
                        pivot=1.0, exp=2.0)
    td = searcher.search(q, k=10)
    top = td.hits.iloc[0]
    f = 2.0
    assert abs(float(top["score"]) - (1.0 - 1.0 / (f ** 2 + 1.0))) < 1e-6


def test_interval_window_cut_preserves_results():
    """The window cut is a necessary condition: on the searcher corpus the
    engine's eval_intervals (cut, then the walk) equals the per-doc
    iterators over UNCUT candidates. Driver-side, because the kernel runs in
    Python workers that never see a driver-side patch of the Scorer."""
    import numpy as np

    from lucene_7_x_9_x_spark.functions import bm25
    from lucene_7_x_9_x_spark.search import kernel as K
    from tests.stub_segment import segment_from_tokens

    seg, gdf = segment_from_tokens({d: text.split() for d, text in ROWS})
    sc = K.Scorer(seg, bm25.BM25Stats(len(ROWS), 20, dtype=np.float32), gdf)
    src = Q.IMaxGaps(1, Q.IOrdered((Q.ITerm("alpha"), Q.ITerm("beta"))))
    cand = sc._interval_candidates(src)
    assert sc._interval_window_cut(src, cand).size < cand.size
    d, f = sc.eval_intervals(Q.IntervalQuery(src))
    rd, rf = sc._intervals_per_doc(src, cand)
    assert d.tolist() == rd.tolist() == [0, 4]
    assert f.tolist() == rf.tolist()


def test_interval_query_multifield(spark, tmp_path):
    d = str(tmp_path / "idx_mf")
    rows = [(0, "alpha beta", "gamma delta"), (1, "gamma delta", "alpha beta")]
    build_index(spark,
                spark.createDataFrame(
                    rows, "doc_id long, title string, body string"),
                "doc_id", None, d, docs_per_segment=4, int_keys=True,
                term_shards=4,
                field_cols={"title": "title", "body": "body"},
                default_field="body")
    s = IndexSearcher(spark, d)
    q = Q.IntervalQuery(Q.IOrdered((Q.ITerm("alpha"), Q.ITerm("beta"))),
                        field="body")
    assert _keys(s.search(q, k=10)) == [1]
    q_title = Q.IntervalQuery(Q.IOrdered((Q.ITerm("alpha"), Q.ITerm("beta"))),
                              field="title")
    assert _keys(s.search(q_title, k=10)) == [0]
