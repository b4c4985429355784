"""End-to-end: build index over the synthetic corpus, run the reference query set
(FIXTURES.md §3 Q1-Q13 shapes), and require rank-identical top-k docIDs AND
float32 BM25 scores vs the independent oracle (CheckHits pattern,
test-framework/.../search/CheckHits.java:85,159). Also differentially checks the
pruned block-max path against the exhaustive path, and runs the CheckIndex analog.
"""

import numpy as np
import pytest

from lucene_7_x_9_x_spark.corpus import generate_corpus, extract_text
from lucene_7_x_9_x_spark.index.builder import build_index
from lucene_7_x_9_x_spark.index.checkindex import check_index
from lucene_7_x_9_x_spark.search import query as Q
from lucene_7_x_9_x_spark.search.searcher import IndexSearcher
from lucene_7_x_9_x_spark.search.oracle import OracleIndex

N_DOCS = 400


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx"))
    corpus = generate_corpus(spark, N_DOCS, seed=42).cache()
    build_index(
        spark, corpus, "url", "text", idx,
        docs_per_segment=150, segments_per_wave=2, term_shards=8,
    )
    searcher = IndexSearcher(spark, idx)
    docs_pd = (
        searcher.docs_df().select("segment_id", "docid", "key").toPandas()
        .merge(
            corpus.selectExpr("url as key", "text").toPandas(), on="key",
        )
    )
    oracle = OracleIndex(docs_pd)
    corpus.unpersist()
    return idx, searcher, oracle


def _mid_df_term(oracle):
    cands = sorted(
        ((len(v), t) for t, v in oracle.postings.items()), reverse=True
    )
    return cands[len(cands) // 4][1]


QUERIES = {}


def _register_queries(oracle):
    mid = _mid_df_term(oracle)
    dfs = sorted(((len(v), t) for t, v in oracle.postings.items()), reverse=True)
    top_terms = [t for _, t in dfs[:6]]
    df1 = next(t for n, t in reversed(dfs) if n == 1)
    return {
        "Q1_term_mid_df": Q.TermQuery(mid),
        "Q2_stopword": Q.TermQuery("the"),
        "Q3_or2": Q.BooleanQuery(should=(Q.TermQuery(top_terms[2]),
                                         Q.TermQuery(top_terms[3]))),
        "Q4_or5_with_stopword": Q.BooleanQuery(should=tuple(
            Q.TermQuery(t) for t in ["the"] + top_terms[1:5])),
        "Q5_and2": Q.BooleanQuery(must=(Q.TermQuery(top_terms[0]),
                                        Q.TermQuery(top_terms[1]))),
        "Q6_and_not": Q.BooleanQuery(
            must=(Q.TermQuery(top_terms[0]), Q.TermQuery(top_terms[1])),
            must_not=(Q.TermQuery(top_terms[2]),)),
        "Q7_must_should": Q.BooleanQuery(
            must=(Q.TermQuery(top_terms[0]),),
            should=(Q.TermQuery(top_terms[3]), Q.TermQuery(top_terms[4]))),
        "Q8_min_should_match": Q.BooleanQuery(
            should=tuple(Q.TermQuery(t) for t in top_terms[1:5]),
            minimum_should_match=2),
        "Q9_df1_singleton": Q.TermQuery(df1),
        "Q10_absent": Q.TermQuery("zzzzabsenttermzzzz"),
        "Q11_ties": Q.TermQuery("twin"),
        "Q12_k_gt_hits": Q.TermQuery(df1),
        "Q13_filter": Q.BooleanQuery(
            should=(Q.TermQuery(top_terms[1]),),
            filter=(Q.TermQuery(top_terms[0]),)),
        "Q_boost": Q.BooleanQuery(should=(
            Q.BoostQuery(Q.TermQuery(top_terms[2]), 2.5),
            Q.TermQuery(top_terms[3]))),
        "Q_dismax": Q.DisjunctionMaxQuery(
            (Q.TermQuery(top_terms[2]), Q.TermQuery(top_terms[3])),
            tie_breaker=0.3),
        "Q_synonym": Q.SynonymQuery((top_terms[2], top_terms[3])),
        "Q_phrase": Q.PhraseQuery(("twin", "document")),
        "Q_phrase_sloppy": Q.PhraseQuery(("twin", "document"), slop=2),
        "Q_phrase_sloppy_wide": Q.PhraseQuery((top_terms[2], top_terms[3]),
                                              slop=4),
        "Q_const": Q.ConstantScoreQuery(Q.TermQuery(top_terms[0]), boost=1.5),
    }


def _assert_equal_topk(got, want, name):
    assert len(got) == len(want), f"{name}: lengths {len(got)} vs {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        assert (g[0], g[1]) == (w[0], w[1]), \
            f"{name} rank {i}: doc {(g[0], g[1])} != {(w[0], w[1])}"
        assert np.float32(g[2]) == np.float32(w[2]), \
            f"{name} rank {i}: score {g[2]!r} != {w[2]!r}"


def test_check_index(spark, built):
    idx, _, _ = built
    assert check_index(spark, idx) == []


def test_corpus_extractor_byte_identical(spark):
    corpus = generate_corpus(spark, 50).toPandas()
    got = extract_text(corpus["html"])
    assert (got == corpus["text"]).all()


def test_reference_query_set_vs_oracle(built):
    _, searcher, oracle = built
    queries = _register_queries(oracle)
    k = 10
    for name, q in queries.items():
        if name == "Q12_k_gt_hits":
            k_use = 50
        else:
            k_use = k
        td = searcher.search(q, k=k_use, fetch_keys=False)
        want, n_hits = oracle.top_k(q, k=k_use)
        got = [(int(r.segment_id), int(r.docid), float(r.score))
               for r in td.hits.itertuples()]
        _assert_equal_topk(got, want, name)
        if td.total_hits_exact:
            assert td.total_hits == n_hits, name


def test_pruned_equals_exhaustive(built):
    _, searcher, oracle = built
    queries = _register_queries(oracle)
    for name, q in queries.items():
        td_p = searcher.search(q, k=10, pruning=True, fetch_keys=False)
        td_e = searcher.search(q, k=10, pruning=False, fetch_keys=False)
        gp = [(int(r.segment_id), int(r.docid), float(r.score))
              for r in td_p.hits.itertuples()]
        ge = [(int(r.segment_id), int(r.docid), float(r.score))
              for r in td_e.hits.itertuples()]
        _assert_equal_topk(gp, ge, name)


def test_pruning_activation_threshold(built):
    """Q13-style: with a tiny totalHitsThreshold pruning must still return the
    same top-k (θ only skips non-competitive blocks)."""
    _, searcher, oracle = built
    q = Q.BooleanQuery(should=(Q.TermQuery("the"), Q.TermQuery("of")))
    td_small = searcher.search(q, k=5, pruning=True, total_hits_threshold=1,
                               fetch_keys=False)
    want, _ = oracle.top_k(q, k=5)
    got = [(int(r.segment_id), int(r.docid), float(r.score))
           for r in td_small.hits.itertuples()]
    _assert_equal_topk(got, want, "threshold1")


def test_match_all_and_count(built):
    _, searcher, oracle = built
    td = searcher.search(Q.MatchAllDocsQuery(), k=5, fetch_keys=False)
    assert td.total_hits == N_DOCS
    assert [r.score for r in td.hits.itertuples()] == [1.0] * 5
    assert searcher.count(Q.TermQuery("the")) == len(oracle.postings["the"])


def test_multi_term_expansion(built):
    _, searcher, oracle = built
    # prefix
    td = searcher.search(Q.PrefixQuery("merg"), k=10, fetch_keys=False)
    want_terms = {t for t in oracle.postings if t.startswith("merg")}
    want_docs = set()
    for t in want_terms:
        want_docs |= {(s, d) for s, d, _, _ in oracle.postings[t]}
    assert td.total_hits == len(want_docs)
    assert all(r.score == 1.0 for r in td.hits.itertuples())
    # fuzzy finds the exact term too
    td2 = searcher.search(Q.FuzzyQuery("merge", max_edits=1), k=10,
                          fetch_keys=False)
    assert td2.total_hits > 0
    # range + wildcard agree with vocabulary filtering
    td3 = searcher.search(Q.TermRangeQuery("spark", "spark", True, True),
                          k=10, fetch_keys=False)
    assert td3.total_hits == len(oracle.postings.get("spark", []))


def test_search_after_pagination(built):
    _, searcher, oracle = built
    q = Q.TermQuery("the")
    page1 = searcher.search(q, k=5, fetch_keys=False)
    last = page1.hits.iloc[-1]
    after = (float(last.score), searcher.seg_ords[int(last.segment_id)],
             int(last.docid))
    page2 = searcher.search(q, k=5, after=after, fetch_keys=False)
    want, _ = oracle.top_k(q, k=10)
    got = [(int(r.segment_id), int(r.docid), float(r.score))
           for r in page2.hits.itertuples()]
    _assert_equal_topk(got, want[5:], "searchAfter")


def test_search_after_pruned_equals_exhaustive(built):
    """Page 2 through the block-max walk equals page 2 through the
    exhaustive path and the oracle, for every block-max shape."""
    _, searcher, oracle = built
    queries = _register_queries(oracle)
    for name in ("Q1_term_mid_df", "Q4_or5_with_stopword", "Q5_and2",
                 "Q7_must_should", "Q_boost", "Q_dismax"):
        q = queries[name]
        last = searcher.search(q, k=5, fetch_keys=False).hits.iloc[-1]
        after = (float(last.score), searcher.seg_ords[int(last.segment_id)],
                 int(last.docid))
        want, _ = oracle.top_k(q, k=10)
        for pruning in (True, False):
            page2 = searcher.search(q, k=5, pruning=pruning, after=after,
                                    total_hits_threshold=1, fetch_keys=False)
            got = [(int(r.segment_id), int(r.docid), float(r.score))
                   for r in page2.hits.itertuples()]
            _assert_equal_topk(got, want[5:], f"{name} pruning={pruning}")


# Two segments (keys 0-1, 2-3); only key 1 holds "gamma", so segment 1 has
# no postings row for it.
GAMMA_ROWS = [(0, "alpha beta"), (1, "alpha gamma"), (2, "beta delta"),
              (3, "delta epsilon")]


@pytest.fixture(scope="module")
def gamma_idx(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("gamma"))
    build_index(spark, spark.createDataFrame(GAMMA_ROWS,
                                             "doc_id long, text string"),
                "doc_id", "text", idx, docs_per_segment=2, int_keys=True,
                term_shards=2)
    return idx


def test_match_all_reaches_segments_without_query_terms(spark, gamma_idx):
    """MatchAllDocsQuery inside a BooleanQuery must evaluate every live
    segment, including one that holds none of the query's terms."""
    from lucene_7_x_9_x_spark.search.queryparser import parse

    s = IndexSearcher(spark, gamma_idx)
    assert len(s.segments) == 2
    gamma = Q.TermQuery("gamma")
    cases = [
        (Q.BooleanQuery(must=(Q.MatchAllDocsQuery(),), must_not=(gamma,)),
         {0, 2, 3}),
        (Q.BooleanQuery(should=(Q.MatchAllDocsQuery(), gamma)),
         {0, 1, 2, 3}),
        (parse("*:* -gamma"), {0, 2, 3}),
    ]
    for q, want in cases:
        td = s.search(q, k=10)
        assert {int(k) for k in td.hits["key"]} == want, q
        assert td.total_hits == len(want), q
        assert s.count(q) == len(want), q
    # the gamma doc outscores the match-all-only docs
    td = s.search(cases[1][0], k=1)
    assert list(td.hits["key"]) == ["1"]


@pytest.fixture(scope="module")
def built7(spark, tmp_path_factory):
    """The same corpus over seven segments: two slices of the search job."""
    idx = str(tmp_path_factory.mktemp("idx7"))
    corpus = generate_corpus(spark, N_DOCS, seed=42).cache()
    build_index(spark, corpus, "url", "text", idx, docs_per_segment=60,
                segments_per_wave=4, term_shards=8)
    searcher = IndexSearcher(spark, idx)
    oracle = OracleIndex(
        searcher.docs_df().select("segment_id", "docid", "key").toPandas()
        .merge(corpus.selectExpr("url as key", "text").toPandas(), on="key"))
    corpus.unpersist()
    return searcher, oracle


def test_two_slices_vs_oracle(built7):
    """Seven segments run as two tasks (five segments, then two); hits,
    scores, totals and counts match the oracle as on the 3-segment index."""
    searcher, oracle = built7
    assert len(searcher.segments) == 7
    assert sorted(len(r.segment_ids)
                  for r in searcher._live_segments.collect()) == [2, 5]
    for name, q in _register_queries(oracle).items():
        k_use = 50 if name == "Q12_k_gt_hits" else 10
        td = searcher.search(q, k=k_use, fetch_keys=False)
        want, n_hits = oracle.top_k(q, k=k_use)
        got = [(int(r.segment_id), int(r.docid), float(r.score))
               for r in td.hits.itertuples()]
        _assert_equal_topk(got, want, name)
        if td.total_hits_exact:
            assert td.total_hits == n_hits, name
        assert searcher.count(q) == n_hits, name
