"""IndexWriter analog: incremental adds, deletes (.liv), updates, merge purge.

Oracle pattern: after every mutation, engine results must equal a brute-force
numpy BM25 oracle over the logical surviving corpus (CheckHits-style
differential, test-framework/.../search/CheckHits.java:85)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_7_x_9_x_spark.index.builder import build_index
from lucene_7_x_9_x_spark.index.checkindex import check_index
from lucene_7_x_9_x_spark.index.merge import execute_merge, maybe_merge
from lucene_7_x_9_x_spark.index.writer import IndexWriter, load_deletes
from lucene_7_x_9_x_spark.search import query as Q
from lucene_7_x_9_x_spark.search.searcher import IndexSearcher


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = [
    (0, "spark index engine"),
    (1, "spark merge policy"),
    (2, "table scan spark"),
    (3, "merge sort table"),
    (4, "spark spark spark table"),
    (5, "lonely document"),
    (6, "index table merge"),
    (7, "spark table merge index"),
]


@pytest.fixture()
def idx(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, _mk_docs(spark, BASE), "doc_id", "text", d,
                docs_per_segment=3, int_keys=True, term_shards=4)
    return d


def _hit_keys(searcher, q, k=20):
    td = searcher.search(q, k=k)
    return [int(r.key) for r in td.hits.itertuples()]


def test_delete_by_keys_hides_docs(spark, idx):
    w = IndexWriter(spark, idx, int_keys=True, docs_per_segment=3)
    before = _hit_keys(IndexSearcher(spark, idx), Q.TermQuery("spark"))
    assert set(before) == {0, 1, 2, 4, 7}
    n = w.delete_documents_by_keys([0, 4])
    assert n == 2
    s = IndexSearcher(spark, idx)
    after = _hit_keys(s, Q.TermQuery("spark"))
    assert set(after) == {1, 2, 7}
    # stats unchanged until merge (Lucene: deletes don't touch df/norms)
    assert s.doc_count == 8
    # count() and match-all respect deletes
    assert s.count(Q.MatchAllDocsQuery()) == 6
    assert s.count(Q.TermQuery("spark")) == 3


def test_delete_is_idempotent(spark, idx):
    w = IndexWriter(spark, idx, int_keys=True)
    assert w.delete_documents_by_keys([3]) == 1
    assert w.delete_documents_by_keys([3]) == 0
    assert IndexSearcher(spark, idx).count(Q.TermQuery("sort")) == 0


def test_delete_by_query(spark, idx):
    w = IndexWriter(spark, idx, int_keys=True)
    n = w.delete_documents(Q.TermQuery("merge"))
    assert n == 4  # docs 1, 3, 6, 7
    s = IndexSearcher(spark, idx)
    assert s.count(Q.TermQuery("merge")) == 0
    assert set(_hit_keys(s, Q.TermQuery("spark"))) == {0, 2, 4}


def test_add_documents_new_segment(spark, idx):
    w = IndexWriter(spark, idx, int_keys=True, docs_per_segment=3)
    new = w.add_documents(
        _mk_docs(spark, [(100, "spark fresh addition"),
                         (101, "another fresh doc")]), "doc_id", "text")
    assert new  # new segment ids
    s = IndexSearcher(spark, idx)
    assert 100 in _hit_keys(s, Q.TermQuery("spark"))
    assert set(_hit_keys(s, Q.TermQuery("fresh"))) == {100, 101}
    assert s.doc_count == 10
    assert check_index(spark, idx) == []


def test_update_documents_atomic_replace(spark, idx):
    w = IndexWriter(spark, idx, int_keys=True)
    w.update_documents(
        _mk_docs(spark, [(5, "lonely no more spark")]), "doc_id", "text")
    s = IndexSearcher(spark, idx)
    assert 5 in _hit_keys(s, Q.TermQuery("spark"))
    assert s.count(Q.TermQuery("lonely")) == 1  # new version only
    assert s.count(Q.MatchAllDocsQuery()) == 8  # replaced, not added


def test_bulk_update_large_key_batch(spark, tmp_path):
    """A bulk update through a >10k-key batch: target resolution must be a
    distributed semi-join (no driver-collected key list, no isin literal —
    the Common-Crawl-partition refresh shape)."""
    d = str(tmp_path / "bulk")
    n = 12_000
    src = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta doc "), F.col("id")).alias("text"))
    build_index(spark, src, "doc_id", "text", d,
                docs_per_segment=4096, int_keys=True, term_shards=8)
    w = IndexWriter(spark, d, int_keys=True, docs_per_segment=4096)
    upd = spark.range(10_500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("gamma doc "), F.col("id")).alias("text"))
    w.update_documents(upd, "doc_id", "text")
    s = IndexSearcher(spark, d)
    assert s.count(Q.MatchAllDocsQuery()) == n
    assert s.count(Q.TermQuery("gamma")) == 10_500
    assert s.count(Q.TermQuery("alpha")) == n - 10_500
    # the resolution plan is a join, not a giant literal
    plan = w._resolve_batch_targets(
        upd, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_merge_purges_deletes_and_compacts(spark, idx):
    w = IndexWriter(spark, idx, int_keys=True)
    w.delete_documents_by_keys([1, 3, 4])
    cat_segs = [s["segment_id"]
                for s in __import__("lucene_7_x_9_x_spark.index.catalog",
                                    fromlist=["IndexCatalog"])
                .IndexCatalog(idx).live_segments()]
    new_id = execute_merge(spark, idx, cat_segs)
    s = IndexSearcher(spark, idx)
    assert [seg["segment_id"] for seg in s.segments] == [new_id]
    # stats now reflect the purge
    assert s.count(Q.MatchAllDocsQuery()) == 5
    assert s.doc_count == 5
    assert load_deletes(spark, idx, {new_id}) == {}
    # docids are compacted + dense
    docs = s.docs_df().toPandas().sort_values("docid")
    assert list(docs["docid"]) == list(range(5))
    assert set(_hit_keys(s, Q.TermQuery("spark"))) == {0, 2, 7}
    assert check_index(spark, idx) == []
    # scores equal a fresh index over the surviving corpus (CheckHits)
    surviving = [r for r in BASE if r[0] not in (1, 3, 4)]
    import tempfile
    ref_dir = tempfile.mkdtemp(prefix="refidx_")
    build_index(spark, _mk_docs(spark, surviving), "doc_id", "text", ref_dir,
                docs_per_segment=3, int_keys=True, term_shards=4)
    ref = IndexSearcher(spark, ref_dir)
    got = s.search(Q.TermQuery("spark"), k=10).hits
    want = ref.search(Q.TermQuery("spark"), k=10).hits
    assert [int(k) for k in got["key"]] == [int(k) for k in want["key"]]
    np.testing.assert_array_equal(got["score"].values, want["score"].values)


def test_maybe_merge_reclaims_deletes(spark, idx):
    w = IndexWriter(spark, idx, int_keys=True)
    w.delete_documents_by_keys([0, 1, 2])
    merges = maybe_merge(spark, idx)
    s = IndexSearcher(spark, idx)
    assert s.count(Q.MatchAllDocsQuery()) == 5
    if merges:  # if policy chose to merge, deletes must be gone
        assert sum(seg.get("del_count", 0) for seg in s.segments) == 0


def test_delete_by_query_with_match_all_clause(spark, tmp_path):
    """deleteDocuments(*:* -gamma) deletes every doc without gamma, in the
    segment that holds gamma and in the one that holds none of it."""
    d = str(tmp_path / "gamma")
    rows = [(0, "alpha beta"), (1, "alpha gamma"), (2, "beta delta"),
            (3, "delta epsilon")]
    build_index(spark, _mk_docs(spark, rows), "doc_id", "text", d,
                docs_per_segment=2, int_keys=True, term_shards=2)
    assert len(IndexSearcher(spark, d).segments) == 2
    w = IndexWriter(spark, d, int_keys=True)
    q = Q.BooleanQuery(must=(Q.MatchAllDocsQuery(),),
                       must_not=(Q.TermQuery("gamma"),))
    assert w.delete_documents(q) == 3
    s = IndexSearcher(spark, d)
    assert _hit_keys(s, Q.MatchAllDocsQuery()) == [1]
    assert s.count(Q.MatchAllDocsQuery()) == 1
