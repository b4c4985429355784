"""IndexWriter.addIndexes(Directory...) analog: file-level segment import."""

import os
import shutil

import numpy as np
import pytest

from lucene_7_x_9_x_spark.index.builder import build_index
from lucene_7_x_9_x_spark.index.catalog import IndexCatalog
from lucene_7_x_9_x_spark.index.checkindex import check_index
from lucene_7_x_9_x_spark.index.merge import execute_merge
from lucene_7_x_9_x_spark.index.writer import IndexWriter
from lucene_7_x_9_x_spark.search import query as Q
from lucene_7_x_9_x_spark.search.searcher import IndexSearcher

A_ROWS = [(0, "spark index merge"), (1, "spark query")]
B_ROWS = [(10, "spark segment copy"), (11, "other text entirely"),
          (12, "spark spark spark")]


def _build(spark, tmp_path, name, rows, **kw):
    d = str(tmp_path / name)
    build_index(spark, spark.createDataFrame(rows, "doc_id long, text string"),
                "doc_id", "text", d, docs_per_segment=2, int_keys=True,
                term_shards=2, **kw)
    return d


def test_add_indexes_imports_segments(spark, tmp_path):
    da = _build(spark, tmp_path, "a", A_ROWS)
    db = _build(spark, tmp_path, "b", B_ROWS)
    w = IndexWriter(spark, da, int_keys=True)
    new_ids = w.add_indexes(db)
    assert len(new_ids) == 2  # b had 3 docs at 2/segment
    assert check_index(spark, da) == []
    s = IndexSearcher(spark, da)
    td = s.search(Q.TermQuery("spark"), k=10)
    keys = sorted(int(k) for k in td.hits["key"])
    assert keys == [0, 1, 10, 12]
    # combined stats: N and avgdl now span both corpora
    assert s.doc_count == 5


def test_add_indexes_scores_match_rebuild(spark, tmp_path):
    """Imported-segment scores equal a from-scratch index with the same
    segment layout (same per-segment docids -> same BM25 inputs)."""
    da = _build(spark, tmp_path, "a2", A_ROWS)
    db = _build(spark, tmp_path, "b2", B_ROWS)
    IndexWriter(spark, da, int_keys=True).add_indexes(db)
    dc = _build(spark, tmp_path, "c2", A_ROWS + B_ROWS)
    sa = IndexSearcher(spark, da)
    sc = IndexSearcher(spark, dc)
    ta = sa.search(Q.TermQuery("spark"), k=10).hits
    tc = sc.search(Q.TermQuery("spark"), k=10).hits
    assert list(ta["key"]) == list(tc["key"])
    np.testing.assert_allclose(ta["score"].values, tc["score"].values,
                               rtol=1e-6)


def test_add_indexes_rejects_mismatch(spark, tmp_path):
    da = _build(spark, tmp_path, "a3", A_ROWS)
    db = _build(spark, tmp_path, "b3", B_ROWS, codec="pfor")
    w = IndexWriter(spark, da, int_keys=True)
    with pytest.raises(ValueError, match="codec"):
        w.add_indexes(db)
    # pending deletes on the source are refused
    dd = _build(spark, tmp_path, "d3", B_ROWS)
    IndexWriter(spark, dd, int_keys=True).delete_documents_by_keys([10])
    with pytest.raises(ValueError, match="deletes"):
        w.add_indexes(dd)


def test_add_indexes_refuses_index_options_mismatch(spark, tmp_path):
    """A positions index's segments carry no offsets channel: importing them
    into an offsets index would leave a snapshot whose segments disagree on
    it, so add_indexes refuses before copying anything."""
    da = _build(spark, tmp_path, "a7", A_ROWS, index_options="offsets")
    db = _build(spark, tmp_path, "b7", B_ROWS, index_options="positions")
    cat = IndexCatalog(da)
    head, live = cat.head(), cat.live_segments()
    with IndexWriter(spark, da, int_keys=True) as w:
        with pytest.raises(ValueError, match="index options"):
            w.add_indexes(db)
    cat = IndexCatalog(da)
    assert cat.head() == head
    assert cat.live_segments() == live


def test_merge_refuses_mixed_offsets_channels(spark, tmp_path):
    """Segments without an offsets channel beside segments with one (here a
    source whose catalog records offsets its segments lack, which
    add_indexes cannot tell from the catalog); CheckIndex must flag them,
    naming both sides, and execute_merge must refuse them before any commit
    instead of zero-filling the missing offsets."""
    da = _build(spark, tmp_path, "a6", A_ROWS, index_options="offsets")
    db = _build(spark, tmp_path, "b6", B_ROWS, index_options="positions")
    shutil.copy(os.path.join(da, "_catalog", "indexoptions.json"),
                os.path.join(db, "_catalog", "indexoptions.json"))
    own = [s["segment_id"] for s in IndexCatalog(da).live_segments()]
    with IndexWriter(spark, da, int_keys=True) as w:
        new_ids = w.add_indexes(db)
    assert [v for v in check_index(spark, da) if "offsets" in v] == [
        f"mixed offsets channel: segments {sorted(own)} have it, "
        f"segments {sorted(new_ids)} do not"]
    cat = IndexCatalog(da)
    head, live = cat.head(), cat.live_segments()
    with pytest.raises(ValueError, match="offsets channel"):
        execute_merge(spark, da, [s["segment_id"] for s in live])
    cat = IndexCatalog(da)
    assert cat.head() == head
    assert cat.live_segments() == live
