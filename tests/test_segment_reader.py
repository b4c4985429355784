"""The one segment reader and the one job shape behind every search entry
point.

* _open_segment (a pyarrow read of one segment's postings directory) yields
  the same term rows as the Spark postings scan _term_scan(q) restricted to
  that segment, for explicit terms and for every pushed term predicate.
* _global_stats (driver-side pyarrow reads) equals a Spark sum over the
  postings table; _slices groups segments as IndexSearcher.slices does.
* A search on a fresh searcher is one Spark job with one task per slice,
  term stats cost no job, a warm search has no exchange, explain is none.
"""

import pytest
from pyspark.sql import functions as F

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


def _job_tasks(spark, group, fn):
    """fn() and, per Spark job it ran, the task count of each stage."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("idle", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    return out, [[st.getStageInfo(i).numTasks
                  for i in st.getJobInfo(j).stageIds]
                 for j in sorted(st.getJobIdsForGroup(group))]


def _jobs(spark, group, fn):
    out, jobs = _job_tasks(spark, group, fn)
    return out, len(jobs)


def _stats_by_spark(s, terms):
    """The reference term stats: a Spark sum over the live postings."""
    rows = (s.postings_df().where(F.col("term").isin(list(terms)))
            .groupBy("term").agg(F.sum("df").alias("df"),
                                 F.sum("ttf").alias("ttf")).collect())
    found = {r["term"]: (int(r["df"]), int(r["ttf"])) for r in rows}
    return {t: found.get(t, (0, 0)) for t in terms}


@pytest.mark.parametrize("fixture", ["single", "multi"])
def test_global_stats_equal_spark_sum(spark, request, fixture):
    s = IndexSearcher(spark, request.getfixturevalue(fixture))
    assert len(s.segments) == 3
    per_seg = {}
    for r in s.postings_df().select("term", "segment_id").collect():
        per_seg.setdefault(r["term"], set()).add(r["segment_id"])
    partial = sorted(t for t, segs in per_seg.items() if len(segs) < 3)
    # some terms are summed over segments, some are missing from segments
    assert partial and any(len(segs) > 1 for segs in per_seg.values())
    terms = sorted(per_seg) + ["absentterm", "zzz-absent"]
    want = _stats_by_spark(s, terms)
    assert s._global_stats(terms) == want
    assert want["absentterm"] == (0, 0)
    # a fresh searcher, asked a few terms at a time, agrees too (the memo)
    s2 = IndexSearcher(spark, request.getfixturevalue(fixture))
    assert s2._global_stats(partial[:2] + ["absentterm"]) == {
        t: want[t] for t in partial[:2] + ["absentterm"]}
    assert s2._global_stats(terms) == want


def _seg_ids(slices):
    return sorted(i for sl in slices for i in sl)


def test_slices_follow_lucene_rules():
    big, cap = S.MAX_DOCS_PER_SLICE, S.MAX_SEGMENTS_PER_SLICE
    assert (big, cap) == (250_000, 5)
    # small segments: groups of at most five, by max_doc descending
    segs = [(i, 10 + i) for i in range(12)]
    out = S._slices(segs)
    assert out == [[11, 10, 9, 8, 7], [6, 5, 4, 3, 2], [1, 0]]
    # a segment above the doc cap is a slice alone, wherever it sits
    segs = [(0, 5), (1, big + 1), (2, 7), (3, big * 2), (4, 6)]
    assert S._slices(segs) == [[3], [1], [2, 4, 0]]
    # a slice closes once it holds MORE than the doc cap
    segs = [(0, big // 2), (1, big // 2), (2, 3), (3, 2), (4, 1)]
    assert S._slices(segs) == [[0, 1, 2], [3, 4]]
    # equal max_doc keeps leaf order; every segment lands exactly once
    segs = [(5, 100), (3, 100), (9, 100), (1, 200)]
    assert S._slices(segs) == [[1, 5, 3, 9]]
    for n in (1, 4, 5, 6, 11, 40):
        segs = [(i, (i * 7919) % 300_001) for i in range(n)]
        out = S._slices(segs)
        assert _seg_ids(out) == list(range(n))
        for sl in out:
            docs = [dict(segs)[i] for i in sl]
            assert docs == sorted(docs, reverse=True)
            assert len(sl) <= cap
            assert len(sl) == 1 or sum(docs[:-1]) <= big


@pytest.fixture(scope="module")
def deleted(spark, single):
    """The single-field index with key 3 deleted (a delete gen on one of its
    three segments)."""
    IndexWriter(spark, single, int_keys=True).delete_documents_by_keys([3])
    return single


def test_fresh_search_is_one_job_with_one_task(spark, deleted):
    s = IndexSearcher(spark, deleted)
    assert len(s.segments) == 3 and s._del_spec is not None
    q = Q.BooleanQuery(should=(Q.TermQuery("alpha"), Q.TermQuery("delta")))
    td, jobs = _job_tasks(spark, "reader-fresh-search",
                          lambda: s.search(q, k=10))
    assert jobs == [[1]]  # no term-stats job; three segments, one slice
    assert {int(k) for k in td.hits["key"]} == {0, 2, 6, 8}
    n, jobs = _job_tasks(spark, "reader-count", lambda: s.count(q))
    assert n == 4 and len(jobs) == 1
    rows, jobs = _job_tasks(spark, "reader-scores",
                            lambda: s.scores_df(q).collect())
    assert len(rows) == 4 and len(jobs) == 1
    stats, n = _jobs(spark, "reader-stats", lambda: s._global_stats(
        ["zeta", "soup", "absentterm"]))
    assert n == 0
    assert stats == {"zeta": (2, 2), "soup": (1, 1), "absentterm": (0, 0)}


def test_open_and_first_search_past_listing_threshold(spark,
                                                      tmp_path_factory):
    """40 segments is past Spark's 32-path parallel-listing threshold: an
    eager Spark view of the postings or docs would cost jobs at open."""
    d = str(tmp_path_factory.mktemp("reader_forty"))
    rows = [(i, f"w{i % 7} common") for i in range(40)]
    build_index(spark, spark.createDataFrame(rows, "doc_id long, text string"),
                "doc_id", "text", d, docs_per_segment=1, int_keys=True,
                term_shards=2)

    def open_and_search():
        s = IndexSearcher(spark, d)
        return s, s.search(Q.TermQuery("w3"), k=10)

    (s, td), n = _jobs(spark, "reader-forty", open_and_search)
    assert len(s.segments) == 40 and n == 1
    assert sorted(int(k) for k in td.hits["key"]) == [3, 10, 17, 24, 31, 38]
    assert td.total_hits == 6


def test_warm_search_is_one_job_and_explain_none(spark, deleted):
    s = IndexSearcher(spark, deleted)
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
