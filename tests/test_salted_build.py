"""A salted build (docid-range sub-lists per term, folded back per segment)
stores the same postings as an unsalted one and searches identically, and it
leaves the shared postings schema untouched."""

import pytest

from lucene_7_x_9_x_spark.corpus import generate_corpus
from lucene_7_x_9_x_spark.functions.codecs import decode_blocks
from lucene_7_x_9_x_spark.index import schema as S
from lucene_7_x_9_x_spark.index.builder import build_index
from lucene_7_x_9_x_spark.search import query as Q
from lucene_7_x_9_x_spark.search.searcher import IndexSearcher

N_DOCS = 600


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    corpus = generate_corpus(spark, N_DOCS, seed=11).cache()
    fields = S.POSTINGS_SCHEMA.fieldNames()
    out = {}
    for name, salt in (("plain", None), ("salted", 64)):
        idx = str(tmp_path_factory.mktemp(name))
        build_index(spark, corpus, "url", "text", idx, docs_per_segment=400,
                    segments_per_wave=2, term_shards=4,
                    salt_bucket_docs=salt)
        out[name] = idx
    corpus.unpersist()
    return out, fields


def _decoded(spark, idx):
    rows = spark.read.parquet(f"{idx}/postings").toPandas()
    out = {}
    for r in rows.itertuples():
        blocks = [b if isinstance(b, dict) else b.asDict() for b in r.blocks]
        d, f, nb, pos = decode_blocks(blocks, want_positions=True)
        out[(int(r.segment_id), r.term)] = (
            int(r.df), int(r.ttf), d.tolist(), f.tolist(), nb.tolist(),
            pos.tolist())
    return out


def test_salted_postings_equal_unsalted(spark, indexes):
    (idx, fields) = indexes
    plain, salted = _decoded(spark, idx["plain"]), _decoded(spark, idx["salted"])
    assert len({s for s, _ in plain}) == 2
    assert plain.keys() == salted.keys()
    for key, want in plain.items():
        assert salted[key] == want, key
    # the salted encode must not leak its helper columns into the shared
    # module schema (StructType.add mutates in place)
    assert S.POSTINGS_SCHEMA.fieldNames() == fields
    assert fields == ["segment_id", "term", "df", "ttf", "blocks"]


def test_salted_search_equals_unsalted(spark, indexes):
    idx, _ = indexes
    searchers = [IndexSearcher(spark, idx[n]) for n in ("plain", "salted")]
    for q in (Q.TermQuery("the"),
              Q.BooleanQuery(should=(Q.TermQuery("the"), Q.TermQuery("of"))),
              Q.BooleanQuery(must=(Q.TermQuery("the"), Q.TermQuery("of"))),
              Q.PhraseQuery(("of", "the"))):
        a, b = (s.search(q, k=20) for s in searchers)
        assert a.total_hits > 0, q
        assert a.total_hits == b.total_hits, q
        cols = ["segment_id", "docid", "key", "score"]
        assert a.hits[cols].values.tolist() == b.hits[cols].values.tolist(), q
