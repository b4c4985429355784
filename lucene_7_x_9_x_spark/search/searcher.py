"""Distributed IndexSearcher: Spark orchestration around the numpy kernels.

Retrace of IndexSearcher.search (SURVEY §3.2): query AST -> fixpoint rewrite
(multi-term nodes expand against the term dictionary WITH DataFrame predicates,
never a doc scan) -> global stats resolution on the driver (df summed over
segments, exactly as TermStates.build aggregates one seekExact per leaf,
TermQuery.java:140-141) -> one Spark job with one task per slice of segments
(IndexSearcher.slices and its per-slice bulkScorer loop,
IndexSearcher.java:221-296) -> driver-side TopDocs.merge with (score desc,
segment order, docid) tie-break (TopDocs.java:80-83).

Term statistics: _global_stats reads the (term, df, ttf) rows of the query's
terms from each live segment's postings directory with pyarrow and a pushed
`term IN (...)` filter, sums them per term and memoizes them for the
searcher's life. No Spark job: the postings files already hold each
segment's term-sorted statistics, so no sidecar copies them.

Job shape: every search entry point (search, matches_df, scores_df, count)
maps a small per-segment function over one DataFrame with a row per slice
(_slices: segments by max_doc descending, a segment above
MAX_DOCS_PER_SLICE alone, smaller ones grouped up to that many docs or
MAX_SEGMENTS_PER_SLICE segments). It is a local relation, so the plan has
no exchange, each slice is one Python task that loops over its segments,
and every live segment gets evaluated (MatchAllDocsQuery clauses reach
segments that hold none of the query's terms). A task's cost is mostly
PySpark's fixed per-task Python set-up, not the kernel, so a search on a
fresh searcher over small segments is one job with one task. Each segment
is opened with _open_segment: a pyarrow read of its postings directory with
the same pushed filter (index/livedocs.py). search's tasks also read the
keys of their local top-k from their own docs file; the driver receives
<= k rows per segment. explain opens one segment the same way on the
driver. The Spark views of the term dictionary and docs (postings_df,
docs_df) are built on first use: no search entry point reads them.
"""

from __future__ import annotations

import functools
import json
import os
from dataclasses import dataclass
from typing import Optional

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..fields import FIELD_RANGE_END, FIELD_SEP
from ..functions import bm25
from ..functions.similarities import NEEDS_TTF, make_similarity
from ..index.catalog import IndexCatalog, read_live_partitions
from ..index.livedocs import (DeleteSpec, _dataset_table,
                               load_segment_field_norms)
from . import kernel as K
from . import query as Q
from .rewrite import rewrite as _rewrite_tree


def _edit_distance(a: str, b: str) -> int:
    """Exact Levenshtein distance (small driver-side inputs only: fuzzy
    candidates are short terms, the set is maxExpansions-bounded)."""
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _make_stats(stats_args: dict):
    """Similarity from serialized stats args; multi-field indexes get a
    PerFieldStats resolver (one similarity per field over THAT field's
    N/sumTotalTermFreq — BM25Similarity.java:74-90 field statistics)."""
    dtype = np.float32 if stats_args["dtype"] == "float32" else np.float64
    sim = stats_args.get("similarity", "bm25")
    term_ttf = stats_args.get("term_ttf")
    base = make_similarity(sim, stats_args["doc_count"],
                           stats_args["sum_ttf"], stats_args["k1"],
                           stats_args["b"], dtype, term_ttf=term_ttf)
    fs = stats_args.get("field_stats")
    if fs:
        by_field = {
            f: make_similarity(sim, dc, st, stats_args["k1"],
                               stats_args["b"], dtype, term_ttf=term_ttf)
            for f, (dc, st) in fs.items()
        }
        return K.PerFieldStats(by_field, base)
    return base


# per-segment task outputs (mapInPandas schemas)
_MATCH_OUT = "segment_id int not null, docid int not null"
_SCORE_OUT = _MATCH_OUT + ", score double not null"
_KERNEL_OUT = (_SCORE_OUT
               + ", hits bigint not null, exact boolean not null, key string")

_POSTINGS_COLS = ["term", "df", "ttf", "blocks"]


@dataclass
class TopDocs:
    """(rank, segment_id, docid, key, score) + totalHits lower bound."""
    hits: pd.DataFrame
    total_hits: int
    total_hits_exact: bool


def _make_segment_index(pdf: pd.DataFrame, seg_id: int, seg_meta, del_spec,
                        norms_ctx) -> "K.SegmentIndex":
    """SegmentIndex over one segment's posting rows (columns term, df, ttf,
    blocks: a pandas frame, or an Arrow table's to_pydict()).

    Deletes are read task-locally for THIS segment only (the .liv analog —
    del_spec carries just gen lists + which-segments flags, never docid
    arrays; index/livedocs.py). Full-field norms load the same way on demand
    (.nvd analog, FieldMaskingSpanQuery path)."""
    rows = {
        term: {"df": df, "ttf": ttf,
               "blocks": [b.asDict() if hasattr(b, "asDict") else b
                          for b in blocks]}
        for term, df, ttf, blocks in zip(pdf["term"], pdf["df"], pdf["ttf"],
                                         pdf["blocks"])
    }
    deleted = del_spec.deleted_for(seg_id) if del_spec is not None else None
    loader = None
    if norms_ctx is not None:
        index_dir, seg_waves, multi_field = norms_ctx
        max_doc = seg_meta[seg_id]

        def loader(fld, _sid=seg_id, _md=max_doc):
            return load_segment_field_norms(
                index_dir, seg_waves[_sid], _sid, fld, _md, multi_field)
    return K.SegmentIndex(rows, seg_meta[seg_id], deleted=deleted,
                          norms_loader=loader)


def _segment_path(ctx, root: str, seg_id: int) -> str:
    """`<index>/<root>/wave=W/segment_id=S`: one segment's own directory."""
    index_dir, seg_waves, _ = ctx[2]
    return os.path.join(index_dir, root, f"wave={seg_waves[seg_id]}",
                        f"segment_id={seg_id}")


def _open_segment(ctx, seg_id: int, q: Q.Query) -> "K.SegmentIndex":
    """The one segment reader: query q's SegmentIndex for segment seg_id,
    read from that segment's postings directory only (a per-leaf scorer
    opens only its leaf's files). ctx = (seg_meta, del_spec, norms_ctx), the
    trailing arguments of _make_segment_index.

    The explicit terms ride a pushed `term IN (...)` filter. A query with
    TermPredicateQuery nodes reads the segment's rows and keeps the terms
    its predicates accept, with the same p.matches() the kernel re-applies;
    the rows equal _term_scan(q) restricted to the segment."""
    terms = Q.collect_terms(q)
    preds = Q.collect_predicates(q)
    flt = None if preds else pc.field("term").isin(
        pa.array(sorted(terms), pa.string()))
    tbl = _dataset_table(_segment_path(ctx, "postings", seg_id),
                         _POSTINGS_COLS, filter=flt)
    if tbl is not None and preds:
        tbl = tbl.filter(pa.array(
            [t in terms or any(p.matches(t) for p in preds)
             for t in tbl.column("term").to_pylist()], pa.bool_()))
    cols = ({c: [] for c in _POSTINGS_COLS} if tbl is None
            else tbl.to_pydict())
    return _make_segment_index(cols, seg_id, *ctx)


def _segment_keys(ctx, seg_id: int, docids: np.ndarray) -> list:
    """Keys of `docids` (same order) from the segment's own docs file: the
    task's key fetch, bounded by its local top-k."""
    if not docids.size:
        return []
    tbl = _dataset_table(
        _segment_path(ctx, "docs", seg_id), ["docid", "key"],
        filter=pc.field("docid").isin(pa.array(docids, pa.int32())))
    found = {} if tbl is None else dict(zip(
        tbl.column("docid").to_pylist(), tbl.column("key").to_pylist()))
    return [found.get(int(d)) for d in docids]


# IndexSearcher.MAX_DOCS_PER_SLICE / MAX_SEGMENTS_PER_SLICE
MAX_DOCS_PER_SLICE = 250_000
MAX_SEGMENTS_PER_SLICE = 5


def _slices(segments) -> list[list[int]]:
    """IndexSearcher.slices: group (segment_id, max_doc) pairs, given in
    leaf order, into the segment-id lists one task each searches. Segments
    go by max_doc descending (ties keep leaf order); one above
    MAX_DOCS_PER_SLICE is a slice alone, and smaller ones fill a slice until
    it holds more than MAX_DOCS_PER_SLICE docs or MAX_SEGMENTS_PER_SLICE
    segments."""
    out, group, docs = [], None, 0
    for seg_id, max_doc in sorted(segments, key=lambda s: -s[1]):
        if max_doc > MAX_DOCS_PER_SLICE:
            out.append([seg_id])
            continue
        if group is None:
            group = []
            out.append(group)
        group.append(seg_id)
        docs += max_doc
        if len(group) >= MAX_SEGMENTS_PER_SLICE or docs > MAX_DOCS_PER_SLICE:
            group, docs = None, 0
    return out


class IndexSearcher:
    def __init__(self, spark: SparkSession, index_dir: str,
                 dtype=np.float32, k1: float = bm25.K1, b: float = bm25.B,
                 similarity: str = "bm25",
                 include_soft_deleted: bool = False):
        self.spark = spark
        self.cat = IndexCatalog(index_dir)
        self._snapshot = self.cat.snapshot()  # point-in-time view (NRT refresh
        # = construct a new searcher; this one keeps reading its snapshot)
        self.segments = self._snapshot["segments"] if self._snapshot else []
        if not self.segments:
            raise ValueError(f"no committed snapshot under {index_dir}")
        # FieldInfos analog: written once by a multi-field build_index; absent
        # on single-field indexes (bare terms, one global stats scope)
        fi_path = os.path.join(index_dir, "_catalog", "fieldinfos.json")
        self.fieldinfos = None
        if os.path.exists(fi_path):
            with open(fi_path) as fh:
                self.fieldinfos = json.load(fh)
        # IndexOptions gate (FieldInfo.getIndexOptions): positional queries
        # are refused when the index stores no positions
        io_path = os.path.join(index_dir, "_catalog", "indexoptions.json")
        self.index_options = "positions"
        self.omit_norms = False
        if os.path.exists(io_path):
            with open(io_path) as fh:
                rec = json.load(fh)
            self.index_options = rec["index_options"]
            self.omit_norms = bool(rec["omit_norms"])
        # index sort (IndexWriterConfig.setIndexSort): docids within each
        # segment follow this field's order — sorted search can early-stop
        is_path = os.path.join(index_dir, "_catalog", "indexsort.json")
        self.index_sort = None
        if os.path.exists(is_path):
            with open(is_path) as fh:
                rec = json.load(fh)
            self.index_sort = (rec["col"], bool(rec["ascending"]))
        self.multi_field = bool(self.fieldinfos)
        self.default_field = (self.fieldinfos or {}).get(
            "default_field", "text")
        self.fields = (self.fieldinfos or {}).get(
            "fields", [self.default_field])
        self.field_totals: dict = {}
        if self.multi_field:
            for s in self.segments:
                for f, fs in (s.get("field_stats") or {}).items():
                    dc, st_ = self.field_totals.get(f, (0, 0))
                    self.field_totals[f] = (dc + fs["doc_count"],
                                            st_ + fs["sum_ttf"])
        self.doc_count = sum(s["doc_count"] for s in self.segments)
        self.sum_ttf = sum(s["sum_ttf"] for s in self.segments)
        if self.multi_field and self.default_field in self.field_totals:
            # the default similarity scope is the default FIELD's statistics
            self.doc_count, self.sum_ttf = self.field_totals[
                self.default_field]
        self.seg_meta = {s["segment_id"]: s["max_doc"] for s in self.segments}
        # SegmentInfos order: a merged segment carries ord = min of its
        # participants' ords (applyMergeChanges replaces in place), so
        # equal-score tie order and searchAfter cursors survive merges
        # exactly as in Lucene; pre-ord snapshots fall back to segment_id.
        self.seg_ords = {s["segment_id"]: i for i, s in enumerate(
            sorted(self.segments,
                   key=lambda x: (x.get("ord", x["segment_id"]),
                                  x["segment_id"])))}
        self.dtype = dtype
        self.k1, self.b = k1, b
        self.similarity = similarity
        self._index_dir = index_dir
        live = [(s["wave"], s["segment_id"]) for s in self.segments]
        self._seg_ids = [s for _, s in live]
        self._seg_waves = {s: w for w, s in live}
        # Deletes are NOT collected to the driver: each kernel task reads its
        # own segment's delete files (.liv analog, index/livedocs.py). The
        # spec shipped in closures is a few ints per segment. Soft deletes
        # are hidden by the default reader (SoftDeletesDirectoryReaderWrapper)
        # and visible with include_soft_deleted=True (history reads).
        self.include_soft_deleted = include_soft_deleted
        self._del_spec = DeleteSpec.from_snapshot(
            index_dir, self._snapshot, include_soft=include_soft_deleted)
        # (seg_meta, del_spec, norms_ctx): what _open_segment needs, a few
        # ints per segment, shipped in every task closure
        self._seg_ctx = (self.seg_meta, self._del_spec, self._norms_ctx())
        # one row per slice, segments in leaf order: every search entry
        # point maps a per-segment function over it (a local relation: no
        # exchange, one task per slice up to the core count, every segment
        # evaluated)
        self._live_segments = spark.createDataFrame(
            pd.DataFrame({"segment_ids": _slices(sorted(
                self.seg_meta.items(), key=lambda s: self.seg_ords[s[0]]))}),
            "segment_ids array<int>")
        self._df_cache: dict = {}
        self.del_counts = {s["segment_id"]: s.get("del_count", 0)
                           for s in self.segments}

    # --- term dictionary ----------------------------------------------------
    # Spark views of the live partitions, read by direct path (SegmentInfos.
    # files analog, no O(#segments) literal expressions in the plan). Built
    # on first use: listing and schema inference cost Spark jobs, and no
    # search entry point reads them.
    @functools.cached_property
    def _postings(self) -> DataFrame:
        return read_live_partitions(self.spark, self._index_dir, "postings",
                                    self.segments)

    @functools.cached_property
    def _docs(self) -> DataFrame:
        return read_live_partitions(self.spark, self._index_dir, "docs",
                                    self.segments)

    def postings_df(self) -> DataFrame:
        return self._postings

    def docs_df(self) -> DataFrame:
        return self._docs

    @property
    def has_term_vectors(self) -> bool:
        """True when the index was built with store_term_vectors=True
        (a tvd/ sidecar exists — FieldInfo.hasVectors analog)."""
        return os.path.isdir(os.path.join(self._index_dir, "tvd"))

    def term_vectors_df(self) -> DataFrame:
        """(segment_id, docid, tv) rows of the stored term vectors —
        TermVectorsReader as a DataFrame; filter pushdown addresses one
        doc's row just like the .tvx docid index."""
        if not self.has_term_vectors:
            raise ValueError(
                "index was not built with store_term_vectors=True")
        return self.spark.read.parquet(
            os.path.join(self._index_dir, "tvd"))

    def term_vector(self, segment_id: int, docid: int) -> list:
        """One doc's stored (term, freq, positions) vector
        (IndexReader.getTermVector analog; Fields->Terms walk flattened).
        Partition pruning on segment_id + a row-group-pruned docid predicate
        reach the scan — no full-table read."""
        rows = (self.term_vectors_df()
                .where((F.col("segment_id") == int(segment_id))
                       & (F.col("docid") == int(docid)))
                .select("tv").collect())
        if not rows:
            return []
        return sorted(((t["term"], t["freq"], list(t["positions"]))
                       for t in rows[0]["tv"]), key=lambda x: x[0])

    # --- in-place numeric DocValues (docValuesGen overlay) --------------------
    def dv_updates_df(self) -> DataFrame | None:
        """(segment_id, docid, field, value) committed in-place DocValues
        updates visible to THIS reader's snapshot, newest generation wins
        (the docValuesGen overlay a Lucene reader applies per segment)."""
        from ..index.writer import dv_updates_df
        gens = (self._snapshot or {}).get("dv_gens", [])
        if not gens:
            return None
        return dv_updates_df(self.spark, self._index_dir,
                             {s["segment_id"] for s in self.segments},
                             gens=gens)

    def numeric_docvalues(self, field: str, base: DataFrame,
                          key_col: str, value_col: str) -> DataFrame:
        """(segment_id, docid, value) of a numeric doc-values field: the base
        values come from a columnar doc-store table joined by key (the
        SURVEY-sanctioned parquet-columns-as-DocValues mapping), overlaid
        with any committed in-place updates for `field`
        (IndexWriter.updateNumericDocValue read path). Distributed joins
        only — the overlay is newest-gen-collapsed upstream."""
        d = self.docs_df().select("segment_id", "docid", "key")
        b = base.select(F.col(key_col).cast("string").alias("key"),
                        F.col(value_col).cast("long").alias("_base"))
        out = d.join(b, "key", "left")
        upd = self.dv_updates_df()
        if upd is None:
            return out.select("segment_id", "docid",
                              F.col("_base").alias("value"))
        upd = (upd.where(F.col("field") == field)
               .select("segment_id", "docid", F.col("value").alias("_upd")))
        return (out.join(upd, ["segment_id", "docid"], "left")
                .select("segment_id", "docid",
                        F.coalesce("_upd", "_base").alias("value")))

    def binary_docvalues(self, field: str, base: DataFrame,
                         key_col: str, value_col: str) -> DataFrame:
        """(segment_id, docid, value) of a binary/BytesRef doc-values field
        (demos BinaryDocValuesTest family): base payloads come from a
        columnar doc-store table joined by key, overlaid with committed
        in-place updates (IndexWriter.updateBinaryDocValue read path,
        value_str channel), newest generation winning."""
        d = self.docs_df().select("segment_id", "docid", "key")
        b = base.select(F.col(key_col).cast("string").alias("key"),
                        F.col(value_col).cast("string").alias("_base"))
        out = d.join(b, "key", "left")
        upd = self.dv_updates_df()
        if upd is None:
            return out.select("segment_id", "docid",
                              F.col("_base").alias("value"))
        upd = (upd.where((F.col("field") == field)
                         & F.col("value_str").isNotNull())
               .select("segment_id", "docid",
                       F.col("value_str").alias("_upd")))
        return (out.join(upd, ["segment_id", "docid"], "left")
                .select("segment_id", "docid",
                        F.coalesce("_upd", "_base").alias("value")))

    def _field_prefix(self, field: str | None) -> str:
        """The encoded-term prefix of a leaf's field ('' = bare terms).

        Multi-field index: every term is qualified (None -> default field).
        Single-field index: the default field stays bare; an EXPLICIT other
        field still gets a prefix — the encoded term cannot exist in a
        bare-term dictionary, so the leaf matches nothing (Lucene: querying
        an absent field matches no docs)."""
        if self.multi_field:
            return (field or self.default_field) + FIELD_SEP
        if field is not None and field != self.default_field:
            return field + FIELD_SEP
        return ""

    def _expand_query(self, q: Q.Query) -> Q.Query:
        """Field-qualify leaf terms and rewrite MultiTermQuery nodes
        (MultiTermQuery.java:66-100). Also the IndexOptions gate: a positional
        query against a DOCS/DOCS_AND_FREQS index fails here the way Lucene's
        ExactPhraseMatcher throws IllegalStateException.

        Every leaf's terms become '<field>\\x1fterm'-encoded here (per-field
        postings/stats resolution downstream is driven by the term string
        alone). CONSTANT_SCORE rewrites (prefix/wildcard/regexp/range, the
        8.x default) become TermPredicateQuery nodes — the predicate is
        pushed into the postings scan and re-applied executor-side; NO term
        list is ever materialized on the driver (the automaton-over-FST scale
        guard). Scored rewrites (fuzzy) expand driver-side but capped at
        maxExpansions by descending docFreq (TopTermsRewrite.java), so the
        collect is bounded at 50 rows regardless of dictionary size."""
        if (self.index_options not in ("positions", "offsets")
                and Q.requires_positions(q)):
            raise ValueError(
                f"cannot run {type(q).__name__}: index was built with "
                f"index_options={self.index_options!r} (no position data); "
                "Lucene: IllegalStateException 'field was indexed without "
                "position data'")

        def expand(node):
            if isinstance(node, Q.TermQuery):
                pfx = self._field_prefix(node.field)
                if pfx:
                    return Q.TermQuery(pfx + node.term, node.boost)
                return node
            if isinstance(node, Q.PhraseQuery):
                pfx = self._field_prefix(node.field)
                if pfx:
                    return Q.PhraseQuery(
                        tuple(pfx + t for t in node.terms), node.slop,
                        node.boost)
                return node
            if isinstance(node, Q.MultiPhraseQuery):
                pfx = self._field_prefix(node.field)
                if pfx:
                    return Q.MultiPhraseQuery(
                        tuple(tuple(pfx + t for t in slot)
                              for slot in node.slots),
                        node.slop, node.boost)
                return node
            if isinstance(node, Q.SynonymQuery):
                pfx = self._field_prefix(node.field)
                if pfx:
                    return Q.SynonymQuery(
                        tuple(pfx + t for t in node.terms), node.boost)
                return node
            if isinstance(node, Q.PrefixQuery):
                pfx = self._field_prefix(node.field)
                return Q.ConstantScoreQuery(
                    Q.TermPredicateQuery("prefix", (pfx + node.prefix,)),
                    boost=node.boost)
            if isinstance(node, Q.WildcardQuery):
                import fnmatch
                import re as _re
                pfx = self._field_prefix(node.field)
                pat = fnmatch.translate(node.pattern)
                if pfx:
                    pat = _re.escape(pfx) + pat
                return Q.ConstantScoreQuery(
                    Q.TermPredicateQuery("regex", (pat,)),
                    boost=node.boost)
            if isinstance(node, Q.RegexpQuery):
                import re as _re
                pfx = self._field_prefix(node.field)
                return Q.ConstantScoreQuery(
                    Q.TermPredicateQuery(
                        "regex",
                        (f"^{_re.escape(pfx)}(?:{node.regexp})$",)),
                    boost=node.boost)
            if isinstance(node, Q.TermRangeQuery):
                pfx = self._field_prefix(node.field)
                lo, hi = node.lower, node.upper
                inc_lo, inc_hi = node.include_lower, node.include_upper
                if pfx:
                    # unbounded ends clamp to the FIELD's term range: all the
                    # field's terms sort in [pfx, field+'\\x20')
                    lo, inc_lo = ((pfx + lo, inc_lo) if lo is not None
                                  else (pfx, True))
                    hi, inc_hi = ((pfx + hi, inc_hi) if hi is not None
                                  else (pfx[:-1] + FIELD_RANGE_END, False))
                return Q.ConstantScoreQuery(
                    Q.TermPredicateQuery(
                        "range", (lo, hi, inc_lo, inc_hi)),
                    boost=node.boost)
            if isinstance(node, Q.TermInSetQuery):
                # terms are user-given: no dictionary lookup needed at all
                pfx = self._field_prefix(node.field)
                return Q.ConstantScoreQuery(
                    Q.TermInSetQuery(
                        tuple(sorted(pfx + t for t in node.terms))),
                    boost=node.boost)
            if isinstance(node, Q.FuzzyQuery):
                terms = self._fuzzy_terms(node)
                if not terms:
                    return Q.MatchNoDocsQuery()
                # TopTermsBlendedFreqScoringRewrite: per-term boost =
                # 1 - ed/min(|cand|,|target|) (FuzzyTermsEnum.java:262-270,
                # exact match -> 1.0), top-maxExpansions kept by (boost desc,
                # term asc) — the ScoreTermQueue order — then blended with
                # max-df stats (BlendedTermQuery.adjustFrequencies)
                from ..fields import bare_term
                scored = []
                for enc in terms:
                    bare = bare_term(enc)
                    ed = _edit_distance(bare, node.term)
                    sim = (1.0 if ed == 0
                           else 1.0 - ed / min(len(bare), len(node.term)))
                    scored.append((enc, sim))
                scored.sort(key=lambda x: (-x[1], x[0]))
                top = sorted(scored[:node.max_expansions])
                return Q.BlendedTermQuery(tuple(top), boost=node.boost)
            if isinstance(node, Q.SpanTermQuery):
                pfx = self._field_prefix(node.field)
                if pfx:
                    return Q.SpanTermQuery(pfx + node.term, node.boost)
                return node
            if isinstance(node, Q.FieldMaskingSpanQuery):
                inner = expand(node.query)
                if self.multi_field:
                    return Q.FieldMaskingSpanQuery(inner, node.field,
                                                   node.boost)
                return inner  # single-field index: the mask is a no-op
            if isinstance(node, Q.SpanMultiTermQueryWrapper):
                # TopTermsSpanBooleanQueryRewrite: expand the wrapped
                # MultiTermQuery (via its own rewrite) to a SpanOrQuery of
                # SpanTermQueries, capped at max_expansions by descending
                # docFreq (bounded driver collect — the fuzzy-path guard)
                ex = expand(node.query)
                if (isinstance(ex, Q.ConstantScoreQuery)
                        and isinstance(ex.query, Q.TermPredicateQuery)):
                    terms = self._matching_terms(ex.query,
                                                 node.max_expansions)
                elif (isinstance(ex, Q.ConstantScoreQuery)
                        and isinstance(ex.query, Q.TermInSetQuery)):
                    terms = list(ex.query.terms)
                elif isinstance(ex, Q.BlendedTermQuery):
                    terms = [t for t, _ in ex.terms_boosts]
                else:
                    terms = []
                return Q.SpanOrQuery(
                    tuple(Q.SpanTermQuery(t) for t in sorted(terms)),
                    node.boost)
            if isinstance(node, (Q.SpanNearQuery, Q.SpanOrQuery)):
                import dataclasses
                return dataclasses.replace(
                    node, clauses=tuple(expand(c) for c in node.clauses))
            if isinstance(node, Q.SpanNotQuery):
                return Q.SpanNotQuery(expand(node.include),
                                      expand(node.exclude), node.boost)
            if isinstance(node, (Q.SpanFirstQuery, Q.SpanPositionRangeQuery)):
                import dataclasses
                return dataclasses.replace(node, match=expand(node.match))
            if isinstance(node, (Q.SpanContainingQuery, Q.SpanWithinQuery)):
                import dataclasses
                return dataclasses.replace(node, big=expand(node.big),
                                           little=expand(node.little))
            if isinstance(node, Q.IntervalQuery):
                pfx = self._field_prefix(node.field)
                if pfx:
                    import dataclasses
                    return dataclasses.replace(node, source=Q.map_interval_terms(
                        node.source, lambda t: pfx + t))
                return node
            if isinstance(node, Q.BooleanQuery):
                return Q.BooleanQuery(
                    tuple(expand(s) for s in node.must),
                    tuple(expand(s) for s in node.should),
                    tuple(expand(s) for s in node.must_not),
                    tuple(expand(s) for s in node.filter),
                    node.minimum_should_match, node.boost)
            if isinstance(node, Q.DisjunctionMaxQuery):
                return Q.DisjunctionMaxQuery(
                    tuple(expand(s) for s in node.queries), node.tie_breaker)
            if isinstance(node, Q.BoostQuery):
                return Q.BoostQuery(expand(node.query), node.boost)
            if isinstance(node, Q.ConstantScoreQuery):
                return Q.ConstantScoreQuery(expand(node.query), node.boost)
            return node

        return _rewrite_tree(expand(q))

    def _fuzzy_terms(self, node: Q.FuzzyQuery) -> list:
        """Matching terms of the fuzzy edit ball — the scored-rewrite
        candidate set. Returns ENCODED terms; the edit distance is computed
        on the bare term (the field prefix restricts the scan to the field's
        dictionary range). The collect is bounded at 20x maxExpansions by
        descending docFreq as a driver-memory guard (Lucene's enum walks the
        full automaton; the guard only matters for pathological
        dictionaries); the final maxExpansions cut by boost happens in
        _expand_query."""
        c = F.col("term")
        td = self._postings
        fpfx = self._field_prefix(node.field)
        bare = (F.expr(f"substring(term, {len(fpfx) + 1})") if fpfx else c)
        pre = node.term[: node.prefix_length]
        if fpfx + pre:
            td = td.where(c.startswith(fpfx + pre))
        td = td.where(
            (F.abs(F.length(bare) - len(node.term)) <= node.max_edits)
            & (F.levenshtein(bare, F.lit(node.term)) <= node.max_edits))
        rows = (td.groupBy("term").agg(F.sum("df").alias("df"))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(node.max_expansions * 20).collect())
        return [r["term"] for r in rows]

    def _matching_terms(self, p: Q.TermPredicateQuery, cap: int) -> list:
        """Dictionary terms matching a pushed predicate, top-`cap` by global
        docFreq desc then term asc (TopTermsRewrite priority-queue order).
        The predicate filters inside the postings scan (row-group pruned for
        prefix/range); only <= cap aggregated rows reach the driver."""
        rows = (self._postings.where(self._predicate_col(p))
                .groupBy("term").agg(F.sum("df").alias("df"))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(cap).collect())
        return [r["term"] for r in rows]

    def _predicate_col(self, p: Q.TermPredicateQuery):
        """The same predicate as p.matches(), as a pushable Column filter."""
        c = F.col("term")
        if p.kind == "prefix":
            return c.startswith(p.args[0])
        if p.kind == "regex":
            # rlike is find()-semantics (unanchored): pattern 's.*\Z' would
            # match 'fast' at offset 2. p.matches() uses re.match (start-
            # anchored) and every produced pattern ends in \Z or $, so the
            # explicit start anchor makes the scan filter EXACT — required
            # by _matching_terms, whose df-ordered cap must never be
            # consumed by false positives.
            return c.rlike("^(?:" + p.args[0] + ")")
        if p.kind == "range":
            lo, hi, inc_lo, inc_hi = p.args
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (c >= lo if inc_lo else c > lo)
            if hi is not None:
                cond = cond & (c <= hi if inc_hi else c < hi)
            return cond
        raise ValueError(p.kind)

    def _term_scan(self, q: Q.Query) -> DataFrame:
        """Spark postings scan of exactly what the query needs: explicit
        terms via IN OR'd with pushed-down predicate filters for
        TermPredicateQuery nodes. Searches read through _open_segment
        instead; this scan is its reference (tests, and the kernel replay in
        perfbench/tracing.py)."""
        terms = Q.collect_terms(q)
        preds = Q.collect_predicates(q)
        cond = F.col("term").isin(list(terms)) if terms else F.lit(False)
        for p in preds:
            cond = cond | self._predicate_col(p)
        return self._postings.where(cond)

    def _global_stats(self, terms) -> dict:
        """Cross-segment (docFreq, totalTermFreq) per term (TermStates.build:
        one seekExact per leaf, on the searching thread). Read on the driver
        from each live segment's postings directory with the pushed
        `term IN (...)` filter, at most one (term, df, ttf) row per segment
        and term, summed here; no Spark job. Memoized: the index is
        immutable per searcher, so repeated terms across queries hit the
        cache with no invalidation. Both stats ride the same rows — ttf
        costs nothing extra and LM/DFR similarities need it."""
        if not terms:
            return {}
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            flt = pc.field("term").isin(pa.array(sorted(missing), pa.string()))
            found = {t: (0, 0) for t in missing}
            for seg_id in self._seg_ids:
                tbl = _dataset_table(
                    _segment_path(self._seg_ctx, "postings", seg_id),
                    ["term", "df", "ttf"], filter=flt)
                if tbl is None:
                    continue
                for t, df, ttf in zip(*(tbl.column(c).to_pylist()
                                        for c in ("term", "df", "ttf"))):
                    d0, t0 = found[t]
                    found[t] = (d0 + df, t0 + ttf)
            self._df_cache.update(found)
        return {t: self._df_cache[t] for t in terms}

    def _global_df(self, terms) -> dict:
        return {t: df for t, (df, _) in self._global_stats(terms).items()}

    def _global_ttf(self, terms) -> dict:
        return {t: ttf for t, (_, ttf) in self._global_stats(terms).items()}

    def _stats_args(self, terms=None) -> dict:
        d = {
            "doc_count": self.doc_count, "sum_ttf": self.sum_ttf,
            "k1": self.k1, "b": self.b, "similarity": self.similarity,
            "dtype": "float32" if self.dtype == np.float32 else "float64",
        }
        if self.multi_field:
            d["field_stats"] = {f: [dc, st] for f, (dc, st)
                                in self.field_totals.items()}
        if terms and self.similarity in NEEDS_TTF:
            # per-term totalTermFreq for the query's terms only (LM/DFR);
            # same single driver round-trip as the df resolution
            d["term_ttf"] = self._global_ttf(terms)
        return d

    # --- entry points ---------------------------------------------------------
    def search(self, q: Q.Query, k: int = 10, pruning: bool = True,
               total_hits_threshold: int = K.TOTAL_HITS_THRESHOLD,
               after: Optional[tuple] = None, fetch_keys: bool = True) -> TopDocs:
        q = self._expand_query(q)
        if isinstance(q, Q.MatchNoDocsQuery):
            return TopDocs(pd.DataFrame(
                columns=["rank", "segment_id", "docid", "key", "score"]), 0, True)
        terms = Q.collect_terms(q)
        gdf = self._global_df(terms)
        stats_args = self._stats_args(terms)
        ctx, seg_ords = self._seg_ctx, self.seg_ords

        def top_k(seg_id: int) -> pd.DataFrame:
            seg = _open_segment(ctx, seg_id, q)
            stats = _make_stats(stats_args)
            if after is None:
                d, s, hits, exact = K.segment_top_k(
                    seg, stats, gdf, q, k, pruning=pruning,
                    total_hits_threshold=total_hits_threshold)
            else:
                d, s = K.Scorer(seg, stats, gdf).eval_scored(
                    K._push_boost(q, 1.0))
                hits, exact = int(d.size), True
                a_score, a_ord, a_doc = after
                my_ord = seg_ords[seg_id]
                sf = s.astype(np.float64)
                keep = (sf < a_score) | (
                    (sf == a_score)
                    & ((my_ord > a_ord) | ((my_ord == a_ord) & (d > a_doc)))
                )
                d, s = K.top_k_from_scored(d[keep], s[keep], k)
            return pd.DataFrame({
                "segment_id": np.full(d.size, seg_id, dtype=np.int32),
                "docid": d.astype(np.int32),
                "score": s.astype(np.float64),
                "hits": np.full(d.size, hits, dtype=np.int64),
                "exact": np.full(d.size, exact, dtype=bool),
                "key": (_segment_keys(ctx, seg_id, d) if fetch_keys
                        else [None] * d.size),
            })

        out = self._per_segment(top_k, _KERNEL_OUT).toPandas()
        per_seg = out.drop_duplicates("segment_id")
        merged = K.merge_top_k(
            [
                (int(sid), g["docid"].values, g["score"].values)
                for sid, g in out.groupby("segment_id")
            ],
            k,
            seg_ords=self.seg_ords,
        )
        hits = pd.DataFrame(merged, columns=["segment_id", "docid", "score"])
        hits.insert(0, "rank", np.arange(1, len(hits) + 1))
        if fetch_keys:
            keys = dict(zip(zip(out["segment_id"].tolist(),
                                out["docid"].tolist()), out["key"]))
            hits.insert(3, "key", [keys[sd] for sd in zip(
                hits["segment_id"].tolist(), hits["docid"].tolist())])
        return TopDocs(hits, int(per_seg["hits"].sum()),
                       bool(per_seg["exact"].all()))

    def _per_segment(self, fn, schema: str) -> DataFrame:
        """fn(segment_id) -> pandas frame, mapped over the live segments:
        one Spark stage with no exchange and one task per slice, each task
        looping over its slice's segments and reading their own files."""
        def run(batches):
            for pdf in batches:
                for ids in pdf["segment_ids"]:
                    for seg_id in ids:
                        yield fn(int(seg_id))
        return self._live_segments.mapInPandas(run, schema)

    def _norms_ctx(self):
        """Closure-safe context for task-local full-field norm reads."""
        return (self._index_dir, self._seg_waves, self.multi_field)

    def _hidden_count(self, s: dict) -> int:
        """Docs of segment s this reader must not see (hard + hidden soft)."""
        n = s.get("del_count", 0)
        if not self.include_soft_deleted:
            n += s.get("soft_del_count", 0)
        return n

    def _live_docs_df(self) -> DataFrame:
        """docs rows minus deleted (liv-filtered view; hides soft-deleted
        unless the reader includes them)."""
        d = self._docs
        if self._del_spec is not None:
            from ..index.writer import deletes_df
            frames = [deletes_df(
                self.spark, self._index_dir, set(self._seg_ids),
                gens=self._snapshot.get("delete_gens", []))]
            if not self.include_soft_deleted:
                frames.append(deletes_df(
                    self.spark, self._index_dir, set(self._seg_ids),
                    gens=self._snapshot.get("soft_delete_gens", []),
                    kind="soft_deletes"))
            frames = [f for f in frames if f is not None]
            dd = frames[0] if frames else None
            for f in frames[1:]:
                dd = dd.unionByName(f)
            if dd is not None:
                d = d.join(
                    dd.withColumnRenamed("segment_id", "ds")
                      .withColumnRenamed("docid", "dd"),
                    (F.col("segment_id").cast("int") == F.col("ds"))
                    & (F.col("docid").cast("int") == F.col("dd")),
                    "left_anti")
        return d

    def parallel_field_df(self, name: str) -> DataFrame:
        """(segment_id, docid, value) rows of a parallel field added AFTER
        indexing (IndexWriter.add_parallel_field — the ParallelLeafReader
        demo's per-segment parallel index). Read by direct live-segment
        partition paths like every other sidecar; joining on
        (segment_id, docid) is the DataFrame form of ParallelLeafReader
        zipping two leaf readers doc-by-doc. Raises if any live segment is
        missing the field (the demo refuses a stale parallel reader — call
        IndexWriter.refresh_parallel_field for new flush/merge segments)."""
        base = os.path.join(self._index_dir, "parallel", name)
        paths, missing = [], []
        for s in self.segments:
            p = os.path.join(base, f"segment_id={s['segment_id']}")
            (paths if os.path.isdir(p) else missing).append(
                p if os.path.isdir(p) else s["segment_id"])
        if missing:
            raise ValueError(
                f"parallel field {name!r} missing for segments {missing}; "
                "run IndexWriter.refresh_parallel_field after flush/merge")
        if not paths:
            raise ValueError(f"no parallel field {name!r} under {base}")
        return self.spark.read.option("basePath", base).parquet(*paths)

    def sorted_index_topk(self, k: int, query=None,
                          key_as_long: bool = True) -> DataFrame:
        """Early-terminating sorted search over an index-sorted index —
        TopFieldCollector's canEarlyTerminate path (TopFieldCollector.java
        ~`canEarlyTerminate(sort, indexSort)`; demos TestEarlyTerminal.java,
        IndexSortTest.java, NumericDocValuesTopNOptimization.java).

        Because docids within each segment ARE the sort order, a segment's
        top-k is its FIRST k live docids:
          * match-all: the scan reads only `docid < k + max(del_count)` rows
            per segment — a pushed parquet predicate over docid-sorted files,
            so row groups past the prefix are never read (the early
            termination is in the SCAN, not just the collector);
          * with a filter query: the match set is capped to its k earliest
            docids per segment before any value sort (the collector stops
            after k hits per leaf — the scan still iterates matches, exactly
            as Lucene's filtered sorted search does).
        The ≤ k·n_segments candidates then merge by (sort_value, key) —
        TopDocs.merge over pre-sorted leaves. Returns a DataFrame
        (key, sort_value) of the global top-k in sort order."""
        if self.index_sort is None:
            raise ValueError("index was not built with index_sort")
        _, asc = self.index_sort
        key_expr = (F.col("key").cast("long") if key_as_long
                    else F.col("key"))
        if query is None:
            # deleted docs occupy docid slots; widening the prefix by the
            # worst per-segment delete count keeps k live docs reachable
            bound = k + max((self._hidden_count(s) for s in self.segments),
                            default=0)
            cand = (self._live_docs_df()
                    .where(F.col("docid") < bound)
                    .select("segment_id", "docid", "key", "sort_value"))
        else:
            m = self.matches_df(query).select("segment_id", "docid")
            cand = m.join(
                self._docs.select("segment_id", "docid", "key", "sort_value"),
                ["segment_id", "docid"])
        w = Window.partitionBy("segment_id").orderBy("docid")
        per_seg = (cand.withColumn("_rn", F.row_number().over(w))
                   .where(F.col("_rn") <= k))
        ordv = (F.col("sort_value").asc() if asc
                else F.col("sort_value").desc())
        return (per_seg
                .orderBy(ordv, key_expr.asc())
                .limit(k)
                .select(key_expr.alias("key"), "sort_value"))

    def explain(self, q: Q.Query, segment_id: int, docid: int) -> dict:
        """IndexSearcher.explain analog: score decomposition tree for one hit.

        Driver-side, no Spark job once the query's stats are cached: opens
        ONE segment with the reader the search tasks use (_open_segment),
        then runs the kernel's explain — the value is bit-identical to the
        score search() would produce for that doc."""
        q = self._expand_query(q)
        terms = Q.collect_terms(q)
        gdf = self._global_df(terms)
        stats = _make_stats(self._stats_args(terms))
        seg = _open_segment(self._seg_ctx, int(segment_id), q)
        return K.explain(seg, stats, gdf, q, docid)

    def count(self, q: Q.Query) -> int:
        """TotalHitCountCollector analog (TotalHitCountCollector.java):
        match-only evaluation — no norm decode, no BM25 arithmetic in the
        plan, just the match-set cardinality. Each task returns one count
        per segment and the driver sums them: one job, no exchange."""
        q = self._expand_query(q)
        if isinstance(q, Q.MatchNoDocsQuery):
            return 0
        if isinstance(q, Q.MatchAllDocsQuery):
            return sum(s["max_doc"] - self._hidden_count(s)
                       for s in self.segments)
        match = self._match_fn(q)

        def n(seg_id: int) -> pd.DataFrame:
            return pd.DataFrame({"n": [match(seg_id).size]})

        return int(self._per_segment(n, "n bigint not null")
                   .toPandas()["n"].sum())

    def matches_df(self, q: Q.Query) -> DataFrame:
        """Distributed (segment_id, docid) match set — composes with DataFrame
        ops for grouping / faceting / field-sort (SURVEY §2.5: all Spark
        built-ins once the match set exists)."""
        match = self._match_fn(self._expand_query(q))

        def matches(seg_id: int) -> pd.DataFrame:
            d = match(seg_id)
            return pd.DataFrame({
                "segment_id": np.full(d.size, seg_id, dtype=np.int32),
                "docid": d.astype(np.int32),
            })

        return self._per_segment(matches, _MATCH_OUT)

    def _match_fn(self, q: Q.Query):
        """seg_id -> matching docids of the expanded query q, closure-safe
        for the per-segment tasks of count and matches_df."""
        terms = Q.collect_terms(q)
        gdf = self._global_df(terms)
        stats_args = self._stats_args(terms)
        ctx = self._seg_ctx

        def match(seg_id: int) -> np.ndarray:
            seg = _open_segment(ctx, seg_id, q)
            return K.Scorer(seg, _make_stats(stats_args), gdf).eval_match(
                K._push_boost(q, 1.0))

        return match

    def scores_df(self, q: Q.Query) -> DataFrame:
        """Distributed exhaustive (segment_id, docid, score) — the bulk-scoring
        path (BooleanScorer analog): no top-k, full match set with scores."""
        q = self._expand_query(q)
        terms = Q.collect_terms(q)
        gdf = self._global_df(terms)
        stats_args = self._stats_args(terms)
        ctx = self._seg_ctx

        def scores(seg_id: int) -> pd.DataFrame:
            seg = _open_segment(ctx, seg_id, q)
            d, s = K.Scorer(seg, _make_stats(stats_args), gdf).eval_scored(
                K._push_boost(q, 1.0))
            return pd.DataFrame({
                "segment_id": np.full(d.size, seg_id, dtype=np.int32),
                "docid": d.astype(np.int32),
                "score": s.astype(np.float64),
            })

        return self._per_segment(scores, _SCORE_OUT)
