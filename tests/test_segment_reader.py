"""The one segment reader and the one job shape behind every search entry
point.

* _open_segment (a pyarrow read of one segment's postings directory) yields
  the same term rows as the Spark postings scan _term_scan(q) restricted to
  that segment, for explicit terms and for every pushed term predicate.
* A warm search is one Spark job with no exchange; explain is none.
"""

import pytest

from lucene_7_x_9_x_spark.index.builder import build_index
from lucene_7_x_9_x_spark.index.writer import IndexWriter
from lucene_7_x_9_x_spark.search import query as Q
from lucene_7_x_9_x_spark.search import searcher as S
from lucene_7_x_9_x_spark.search.searcher import IndexSearcher

ROWS = [
    (0, "alpha beta gamma"), (1, "alphabet soup"), (2, "beta delta"),
    (3, "delta epsilon alpha"), (4, "gamma gamma zeta"), (5, "epsilon eta"),
    (6, "theta alpha beta"), (7, "zeta eta theta"), (8, "alpine delta"),
]


@pytest.fixture(scope="module")
def single(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("reader_single"))
    build_index(spark, spark.createDataFrame(ROWS, "doc_id long, text string"),
                "doc_id", "text", d, docs_per_segment=3, int_keys=True,
                term_shards=2)
    return d


@pytest.fixture(scope="module")
def multi(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("reader_multi"))
    rows = [(k, t.split()[0], t) for k, t in ROWS]
    build_index(spark, spark.createDataFrame(
                    rows, "doc_id long, title string, body string"),
                "doc_id", None, d, docs_per_segment=4, int_keys=True,
                term_shards=2, field_cols={"title": "title", "body": "body"},
                default_field="body")
    return d


def _scan_rows(s, eq):
    """term -> row of each segment, from the Spark scan (the reference)."""
    pdf = s._term_scan(eq).toPandas()
    return {int(sid): S._make_segment_index(g, int(sid), *s._seg_ctx).term_rows
            for sid, g in pdf.groupby("segment_id")}


def _check_reader(s, q):
    eq = s._expand_query(q)
    want = _scan_rows(s, eq)
    for sid in s.seg_meta:
        got = S._open_segment(s._seg_ctx, sid, eq).term_rows
        assert got == want.get(sid, {}), (q, sid)
    return sum(len(r) for r in want.values())


SINGLE_QUERIES = [
    Q.TermQuery("alpha"),
    Q.BooleanQuery(should=(Q.TermQuery("beta"), Q.TermQuery("zeta"),
                           Q.TermQuery("absentterm"))),
    Q.PhraseQuery(("alpha", "beta")),
    Q.PrefixQuery("alph"),
    Q.WildcardQuery("*ta"),
    Q.RegexpQuery("e.*a$"),
    Q.TermRangeQuery("delta", "gamma", True, False),
    Q.TermInSetQuery(("eta", "soup", "absentterm")),
    Q.BooleanQuery(must=(Q.TermQuery("delta"),),
                   should=(Q.PrefixQuery("eps"),)),
    Q.MatchAllDocsQuery(),
]


@pytest.mark.parametrize("i", range(len(SINGLE_QUERIES)))
def test_open_segment_rows_equal_term_scan(spark, single, i):
    s = IndexSearcher(spark, single)
    assert len(s.segments) == 3
    n = _check_reader(s, SINGLE_QUERIES[i])
    if isinstance(SINGLE_QUERIES[i], Q.MatchAllDocsQuery):
        assert n == 0  # an empty term list reads no rows
    else:
        assert n > 0


def test_open_segment_rows_equal_term_scan_multi_field(spark, multi):
    s = IndexSearcher(spark, multi)
    assert s.multi_field and len(s.segments) == 3
    for q in [Q.TermQuery("alpha", field="title"), Q.TermQuery("alpha"),
              Q.PrefixQuery("alp", field="title"),
              Q.TermRangeQuery("d", None, True, False, field="title"),
              Q.WildcardQuery("e*", field="body")]:
        assert _check_reader(s, q) > 0, q


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("idle", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_search_is_one_job_and_explain_none(spark, single):
    IndexWriter(spark, single, int_keys=True).delete_documents_by_keys([3])
    s = IndexSearcher(spark, single)
    assert len(s.segments) == 3 and s._del_spec is not None
    q = Q.BooleanQuery(should=(Q.TermQuery("alpha"), Q.TermQuery("delta")))
    cold = s.search(q, k=10)
    td, n = _jobs(spark, "reader-warm-search", lambda: s.search(q, k=10))
    assert n == 1
    assert td.hits.equals(cold.hits)
    assert {int(k) for k in td.hits["key"]} == {0, 2, 6, 8}
    top = td.hits.iloc[0]
    ex, n = _jobs(spark, "reader-explain", lambda: s.explain(
        q, int(top.segment_id), int(top.docid)))
    assert n == 0
    assert ex["value"] == pytest.approx(float(top.score), rel=1e-6)
    # the match and score frames share the shape: no exchange in the plan
    for df in (s.matches_df(q), s.scores_df(q)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "LocalTableScan" in plan
