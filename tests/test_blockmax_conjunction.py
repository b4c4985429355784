"""The one block-max walk (term, OR, AND [+SHOULD], dismax): differential
(pruned == exhaustive, also for searchAfter pages) plus evidence that the walk
actually SKIPS chunks once θ is competitive (WANDScorer.java;
BlockMaxConjunctionScorer.java:30,44; Boolean2ScorerSupplier.java:173)."""

import numpy as np
import pytest

from lucene_7_x_9_x_spark.functions import bm25, codecs, smallfloat
from lucene_7_x_9_x_spark.search import kernel as K
from lucene_7_x_9_x_spark.search import query as Q


def _make_segment(seed=0, max_doc=40_000, terms=("alpha", "beta", "gamma")):
    """Multi-chunk synthetic segment with skewed freq distributions so some
    chunks clearly dominate the bounds."""
    rng = np.random.RandomState(seed)
    rows = {}
    norms = smallfloat.int_to_byte4(
        rng.randint(5, 200, max_doc).astype(np.int64))
    for ti, t in enumerate(terms):
        df = [12_000, 9_000, 5_000][ti % 3]
        docids = np.sort(rng.choice(max_doc, df, replace=False)).astype(np.int64)
        freqs = rng.randint(1, 4, df).astype(np.int64)
        # spike one region per term so chunk bounds differ strongly
        hot = (docids // 4096) == (3 * ti) % 9
        freqs[hot] += 40
        blocks = codecs.encode_posting_list(docids, freqs, norms[docids])
        rows[t] = {"df": df, "ttf": int(freqs.sum()), "blocks": blocks}
    seg = K.SegmentIndex(rows, max_doc)
    stats = bm25.BM25Stats(max_doc, int(norms.astype(np.int64).sum()) * 50,
                           dtype=np.float32)
    gdf = {t: rows[t]["df"] for t in terms}
    return seg, stats, gdf


QUERIES = [
    Q.BooleanQuery(must=(Q.TermQuery("alpha"), Q.TermQuery("beta"))),
    Q.BooleanQuery(must=(Q.TermQuery("alpha"), Q.TermQuery("beta"),
                         Q.TermQuery("gamma"))),
    Q.BooleanQuery(must=(Q.TermQuery("alpha", 2.0),),
                   should=(Q.TermQuery("gamma", 0.5),)),
    Q.DisjunctionMaxQuery((Q.TermQuery("alpha"), Q.TermQuery("gamma")),
                          tie_breaker=0.3),
    Q.DisjunctionMaxQuery((Q.TermQuery("alpha"), Q.TermQuery("beta"),
                           Q.TermQuery("gamma")), tie_breaker=0.0),
    Q.TermQuery("alpha"),
    Q.BooleanQuery(should=(Q.TermQuery("alpha", 1.5), Q.TermQuery("beta"),
                           Q.TermQuery("gamma"))),
]


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_pruned_equals_exhaustive(qi):
    q = QUERIES[qi]
    seg, stats, gdf = _make_segment()
    dp, sp, hp, ep = K.segment_top_k(seg, stats, gdf, q, 10, pruning=True)
    seg2, stats2, gdf2 = _make_segment()
    de, se, he, ee = K.segment_top_k(seg2, stats2, gdf2, q, 10, pruning=False)
    assert (dp == de).all()
    assert (sp == se).all()
    if ep:
        assert hp == he


@pytest.mark.parametrize("qi", [0, 2, 3, 5, 6])
def test_pruning_skips_chunks(qi):
    q = QUERIES[qi]
    seg, stats, gdf = _make_segment()
    counters: dict = {}
    K.segment_top_k(seg, stats, gdf, q, 5, pruning=True,
                    total_hits_threshold=100, counters=counters)
    assert counters["chunks_total"] > 0
    assert counters["chunks_visited"] < counters["chunks_total"], q


def test_conjunction_routing():
    t = Q.TermQuery
    assert K._block_max_shape(t("a", 2.0)) == ([], [("a", 2.0)], None)
    assert K._block_max_shape(QUERIES[0]) == (
        [("alpha", 1.0), ("beta", 1.0)], [], None)
    assert K._block_max_shape(QUERIES[2]) == (
        [("alpha", 2.0)], [("gamma", 0.5)], None)
    assert K._block_max_shape(QUERIES[3]) == (
        [], [("alpha", 1.0), ("gamma", 1.0)], 0.3)
    # OR with msm <= 1 is the WAND shape
    for msm in (0, 1):
        assert K._block_max_shape(Q.BooleanQuery(
            should=(t("a"), t("b")), minimum_should_match=msm)) == (
            [], [("a", 1.0), ("b", 1.0)], None)
    # not eligible: must_not, filter, msm>0 with MUST, msm 2 OR, non-term
    for q in (
        Q.BooleanQuery(must=(t("a"),), must_not=(t("b"),)),
        Q.BooleanQuery(must=(t("a"),), filter=(t("b"),)),
        Q.BooleanQuery(should=(t("a"),), filter=(t("b"),)),
        Q.BooleanQuery(must=(Q.PhraseQuery(("a", "b")),)),
        Q.BooleanQuery(must=(t("a"),), should=(t("b"),),
                       minimum_should_match=1),
        Q.BooleanQuery(should=(t("a"), t("b"), t("c")),
                       minimum_should_match=2),
        Q.DisjunctionMaxQuery((t("a"), Q.PhraseQuery(("a", "b")))),
        Q.PhraseQuery(("a", "b")),
    ):
        assert K._block_max_shape(q) is None, q


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_after_pruned_equals_exhaustive(qi):
    """searchAfter pages through the walk equal the exhaustive path's, for
    three cursor depths and a cursor leaf before, at and after this one."""
    q = QUERIES[qi]
    seg, stats, gdf = _make_segment()
    all_d, all_s, n_hits, _ = K.segment_top_k(seg, stats, gdf, q, 10 ** 9,
                                              pruning=False)
    assert n_hits > 100
    for depth in (9, 100, n_hits // 2):
        a_score, a_doc = float(all_s[depth]), int(all_d[depth])
        for floor in (-1, a_doc, seg.max_doc):
            after = (a_score, floor)
            dp, sp, hp, ep = K.segment_top_k(
                seg, stats, gdf, q, 10, pruning=True,
                total_hits_threshold=100, after=after)
            de, se, he, ee = K.segment_top_k(
                seg, stats, gdf, q, 10, pruning=False, after=after)
            assert dp.size == 10
            assert (dp == de).all() and (sp == se).all(), (depth, floor)
            assert ee and he == n_hits
            if ep:
                assert hp == he


def test_duplicate_term_clauses_keep_their_boosts():
    """Two clauses on one term with different boosts are two scorers: the
    walk must weight (and bound) each with its own boost."""
    t = Q.TermQuery
    for q in (Q.BooleanQuery(should=(t("alpha", 3.0), t("alpha", 0.5))),
              Q.BooleanQuery(must=(t("alpha", 3.0), t("alpha", 0.5))),
              Q.BooleanQuery(must=(t("beta"),),
                             should=(t("alpha", 3.0), t("alpha", 0.5))),
              Q.DisjunctionMaxQuery((t("alpha", 0.5), t("alpha", 3.0)),
                                    tie_breaker=0.2)):
        seg, stats, gdf = _make_segment()
        dp, sp, _, _ = K.segment_top_k(seg, stats, gdf, q, 10, pruning=True,
                                       total_hits_threshold=100)
        de, se, _, _ = K.segment_top_k(seg, stats, gdf, q, 10, pruning=False)
        assert (dp == de).all() and (sp == se).all(), q
