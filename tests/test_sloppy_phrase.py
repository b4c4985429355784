"""SloppyPhraseMatcher port vs the reference's own golden cases.

Docs/queries/expectations transcribed from
solr-8.4.0/lucene/core/src/test/org/apache/lucene/search/TestSloppyPhraseQuery.java
(repeats handling: "A A A" over "X A 1 2 3 A 4 5 6 A Y" needs slop >= 6, etc.)
plus the SloppyPhraseMatcher.java:44-45 javadoc example ("a b"~2 over
"x a b a y" = two matches, distances 0 and 2).
"""

import numpy as np
import pytest

from lucene_7_x_9_x_spark.search.sloppy import SloppyPhraseMatcher


def _freq(doc_text: str, phrase: str, slop: int) -> float:
    toks = doc_text.lower().split()
    terms = phrase.lower().split()
    plists = []
    for t in terms:
        ps = [i for i, w in enumerate(toks) if w == t]
        if not ps:
            return 0.0  # conjunction approximation would not reach matcher
        plists.append(np.asarray(ps, dtype=np.int64))
    m = SloppyPhraseMatcher(list(range(len(terms))),
                            [(t,) for t in terms], slop)
    return m.freq(plists, dtype=np.float32)


S_1 = "A A A"
S_2 = "A 1 2 3 A 4 5 6 A"
DOC_1 = "X " + S_1 + " Y"
DOC_2 = "X " + S_2 + " Y"
DOC_3 = "X " + S_1 + " A Y"
DOC_1_B = "X " + S_1 + " Y N N N N " + S_1 + " Z"
DOC_2_B = "X " + S_2 + " Y N N N N " + S_2 + " Z"
DOC_3_B = "X " + S_1 + " A Y N N N N " + S_1 + " A Y"
DOC_4 = "A A X A X B A X B B A A X B A A"
DOC_5_3 = "H H H X X X H H H X X X H H H"
DOC_5_4 = "H H H H"


def test_doc4_query4_all_slops():
    # QUERY_4 "X A A": only matches DOC_4 with slop >= 1
    for slop in range(30):
        f = _freq(DOC_4, "X A A", slop)
        if slop < 1:
            assert f == 0.0, slop
        else:
            assert f > 0.0, slop


def test_doc1_query1_all_slops_and_monotonicity():
    for slop in range(30):
        f1 = _freq(DOC_1, S_1, slop)
        f2 = _freq(DOC_1_B, S_1, slop)
        assert f1 > 0.0, slop
        assert f2 > f1, slop


def test_doc2_query1_slop_6_or_more():
    for slop in range(30):
        f1 = _freq(DOC_2, S_1, slop)
        if slop < 6:
            assert f1 == 0.0, slop
        else:
            assert f1 > 0.0, slop
            assert _freq(DOC_2_B, S_1, slop) > f1, slop


def test_doc2_query2_all_slops():
    for slop in range(30):
        f1 = _freq(DOC_2, S_2, slop)
        f2 = _freq(DOC_2_B, S_2, slop)
        assert f1 > 0.0, slop
        assert f2 > f1, slop


def test_doc3_query1_all_slops():
    for slop in range(30):
        f1 = _freq(DOC_3, S_1, slop)
        f2 = _freq(DOC_3_B, S_1, slop)
        assert f1 > 0.0, slop
        assert f2 > f1, slop


def test_doc5_lucene3412():
    for slop in range(3):
        assert _freq(DOC_5_4, "H H H H", slop) > 0.0, slop
        assert _freq(DOC_5_3, "H H H H", slop) == 0.0, slop


def test_javadoc_example_two_matches():
    # SloppyPhraseMatcher.java:44-45: "a b"~2 over "x a b a y" matches twice:
    # "a b" (distance 0) and "b a" (distance 2)
    f = _freq("x a b a y", "a b", 2)
    assert f == pytest.approx(np.float32(1.0) + np.float32(1.0 / 3.0))
    # with slop 1 only the exact occurrence counts
    assert _freq("x a b a y", "a b", 1) == pytest.approx(1.0)
    # slop 0: ExactPhrase-equivalent
    assert _freq("x a b a y", "a b", 0) == pytest.approx(1.0)


def test_two_term_closed_form_differential():
    """Matcher vs the independent adjacent-cross-pair closed form used by the
    pytest oracle (search/oracle.py) — random two-term position lists."""
    rng = np.random.RandomState(7)
    for trial in range(300):
        n_a = rng.randint(1, 8)
        n_b = rng.randint(1, 8)
        a = np.unique(rng.randint(0, 30, n_a)).astype(np.int64)
        b = np.unique(rng.randint(0, 30, n_b)).astype(np.int64)
        slop = int(rng.randint(0, 6))
        m = SloppyPhraseMatcher([0, 1], [("t1",), ("t2",)], slop)
        got = m.freq([a, b], dtype=np.float64)
        # closed-form leader walk (independently derived; see oracle.py):
        lists = (sorted(int(p) for p in a), sorted(int(p) - 1 for p in b))
        lead = 0 if (lists[0][0], 0) > (lists[1][0], 1) else 1
        qpos = lists[lead][0]
        want = 0.0
        while True:
            other = lists[1 - lead]
            gap = qpos - max(p for p in other if p <= qpos)
            if gap <= slop:
                want += 1.0 / (1.0 + gap)
            nxt = [p for p in other if p > qpos]
            if not nxt:
                break
            qpos, lead = nxt[0], 1 - lead
        assert got == pytest.approx(want), (a, b, slop)


def test_multi_term_slots_hidden_collision():
    """initFirstTime javadoc (SloppyPhraseMatcher.java:471-473): P1={A,B},
    P2={B,C} over doc 'A C B' — multi-term repeats take the bipartite
    term-group path. Sanity: the obvious sloppy alignments match."""
    # doc "a c b": a@0, c@1, b@2; P1 = union(a,b) = [0,2]; P2 = union(b,c)
    # = [1,2] (actual positions; the matcher applies the query offsets)
    m = SloppyPhraseMatcher([0, 1], [("a", "b"), ("b", "c")], 2)
    f = m.freq([np.asarray([0, 2], np.int64), np.asarray([1, 2], np.int64)],
               dtype=np.float64)
    assert f > 0.0
    assert m.has_multi_term_rpts
    # doc "a b": exact adjacency via slot1=a@0, slot2=b@1
    m2 = SloppyPhraseMatcher([0, 1], [("a", "b"), ("b", "c")], 0)
    f2 = m2.freq([np.asarray([0, 1], np.int64), np.asarray([1], np.int64)],
                 dtype=np.float64)
    assert f2 > 0.0
    # doc "c a": c@0, a@1 -> P1=[1], P2=[0]: reversed, slop 0 -> no match
    m3 = SloppyPhraseMatcher([0, 1], [("a", "b"), ("b", "c")], 0)
    f3 = m3.freq([np.asarray([1], np.int64), np.asarray([0], np.int64)],
                 dtype=np.float64)
    assert f3 == 0.0


def test_multiphrase_sloppy_end_to_end():
    """MultiPhraseQuery slop>0 with multi-term slots (no term repeated
    across slots) runs the k-stream walk over each slot's union stream."""
    from lucene_7_x_9_x_spark.functions import bm25
    from lucene_7_x_9_x_spark.search import kernel as K
    from lucene_7_x_9_x_spark.search import query as Q
    from tests.stub_segment import segment_from_tokens

    docs_text = {0: "fast x sort", 1: "slow sort", 2: "sort fast", 3: "x y z"}
    seg, gdf = segment_from_tokens(
        {did: txt.split() for did, txt in docs_text.items()})
    sc = K.Scorer(seg, bm25.BM25Stats(4, 10, dtype=np.float64), gdf)
    q = Q.MultiPhraseQuery((("fast", "slow"), ("sort",)), slop=2)
    d, f = sc._multi_phrase_freqs(q)
    # doc 0 "fast x sort": matchLength 1 -> 1/2; doc 1 "slow sort": exact ->
    # 1; doc 2 "sort fast": fast adjusted 1 vs sort adjusted -1 ->
    # matchLength 2 -> 1/3 (transposed within slop)
    got = dict(zip(d.tolist(), f.tolist()))
    assert got[0] == pytest.approx(0.5)
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(1.0 / 3.0)
    assert 3 not in got


def test_repeat_group_reinit_across_docs():
    """Matcher state (repeat groups found on the first doc) must keep working
    for subsequent docs fed to the same matcher instance."""
    m = SloppyPhraseMatcher([0, 1, 2], [("a",), ("a",), ("a",)], 6)
    toks1 = DOC_1.lower().split()
    toks2 = DOC_2.lower().split()
    pl1 = np.asarray([i for i, w in enumerate(toks1) if w == "a"], np.int64)
    pl2 = np.asarray([i for i, w in enumerate(toks2) if w == "a"], np.int64)
    f1 = m.freq([pl1, pl1, pl1], dtype=np.float32)
    f2 = m.freq([pl2, pl2, pl2], dtype=np.float32)
    assert f1 > 0.0
    assert f2 > 0.0  # slop 6 is exactly enough for DOC_2 (LUCENE-1310)
    m2 = SloppyPhraseMatcher([0, 1, 2], [("a",), ("a",), ("a",)], 5)
    assert m2.freq([pl1, pl1, pl1], dtype=np.float32) > 0.0
    assert m2.freq([pl2, pl2, pl2], dtype=np.float32) == 0.0
