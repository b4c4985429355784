"""Per-segment scoring kernels (pure numpy — no Spark imports; unit-testable).

Two execution paths over the same compressed postings:

  * exhaustive: decode every posting of every query term, dense-accumulate —
    the CheckHits-style reference path (test-framework/.../search/CheckHits.java:85).
  * pruned: one chunked block-max walk (_block_max_top_k) — the vectorized
    analog of block-max WAND / MAXSCORE (WANDScorer.java:55-106,239-347;
    BlockMaxConjunctionScorer.java; ImpactsDISI.java:100-136) — for every
    term, SHOULD-of-terms, MUST-of-terms [+SHOULD] and dismax-of-terms query.
    The docid space is cut into fixed chunks; each chunk's upper bound
    combines the clauses' max block impacts overlapping it by the shape's
    rule (Σ, or max + tie·(Σ − max) for dismax); eligible chunks are visited
    in descending bound order and skipped once the bound falls below the
    running top-k threshold θ (only after totalHitsThreshold=1000 hits have
    been counted, IndexSearcher.java:105 semantics). Pruning can only skip
    non-competitive work, so top-k (docids AND scores) is identical to the
    exhaustive path — enforced by differential tests.

Both paths take searchAfter pages as one more mask on the collected docs
(score below the cursor's, or equal with docid past the leaf's floor);
`hits` still counts every match.

Float rounding mirrors Lucene exactly in float32 mode (see functions/bm25.py):
per-term scores f32; conjunction/disjunction sums accumulate f64 then cast f32
(ConjunctionScorer.java:60-66, WANDScorer.java:481-490); ReqOptSum adds in f32
(ReqOptSumScorer.java:255-265); DisjunctionMax = (float)(max + tie*(sum-max))
(DisjunctionMaxScorer semantics).
"""

from __future__ import annotations

import heapq
from typing import Dict, Tuple

import numpy as np

from ..fields import FIELD_SEP, bare_term, field_of
from ..functions import bm25
from ..functions.codecs import decode_blocks, split_positions
from . import intervals as IV
from . import query as Q

TOTAL_HITS_THRESHOLD = 1000  # IndexSearcher.java:105
CHUNK = 4096


class PerFieldStats:
    """Similarity dispatch by the term's field prefix (multi-field indexes).

    Lucene's BM25 statistics are per field: N = docs *with the field*, avgdl =
    the field's sumTotalTermFreq / docCount (BM25Similarity.java:74-90 uses
    CollectionStatistics of one field). Terms arrive 'field\\x1fterm'-encoded
    (fields.py), so the field — and therefore its stats object — is recovered
    from the term string alone. Single-field indexes keep passing a bare
    BM25Stats; ``resolve()`` makes both shapes uniform."""

    def __init__(self, by_field: Dict[str, bm25.BM25Stats],
                 default: bm25.BM25Stats):
        self.by_field = by_field
        self.default = default
        self.dtype = default.dtype

    def for_term(self, term: str):
        i = term.find(FIELD_SEP)
        if i >= 0:
            return self.by_field.get(term[:i], self.default)
        return self.default


def _stats_for(stats, term: str):
    """Field-resolved similarity for one (encoded) term."""
    ft = getattr(stats, "for_term", None)
    return ft(term) if ft is not None else stats


def _weight_for(st, term: str, df: int, boost: float):
    """Term weight; similarities that need the TERM identity (LM/DFR resolve
    per-term totalTermFreq from their term_ttf map) get it, the rest keep the
    plain (df, boost) interface."""
    f = getattr(st, "weight_for_term", None)
    return f(term, df, boost) if f is not None else st.weight(df, boost)


def _multi_weight_for(st, terms, dfs, boost: float):
    f = getattr(st, "multi_term_weight_for_terms", None)
    return (f(terms, dfs, boost) if f is not None
            else st.multi_term_weight(dfs, boost))


def _synonym_weight_for(st, terms, df: int, boost: float):
    f = getattr(st, "synonym_weight", None)
    return f(terms, df, boost) if f is not None else st.weight(df, boost)


class SegmentIndex:
    """Lazily-decoded postings of one segment for the terms of one query.

    ``deleted`` is the segment's live-docs complement (the .liv bitset analog,
    blog/Lucene/索引文件/liv): a sorted int64 array of deleted docids, applied
    as a mask at decode time. Mirroring Lucene, deletes suppress *matches* but
    do NOT adjust df/ttf/norm statistics until the segment is merged."""

    def __init__(self, term_rows: Dict[str, dict], max_doc: int,
                 deleted: np.ndarray | None = None, norms_loader=None):
        # term_rows: term -> {"df": int, "ttf": int, "blocks": [block dicts]}
        # norms_loader: optional callable(field) -> dense uint8 norm array of
        # the WHOLE segment (.nvd analog) or None; used when norms are needed
        # for docs outside the decoded postings (FieldMaskingSpanQuery).
        self.term_rows = term_rows
        self.max_doc = int(max_doc)
        self._norms_loader = norms_loader
        self._full_norms: Dict[str, np.ndarray] = {}
        self.deleted = (np.asarray(deleted, dtype=np.int64)
                        if deleted is not None and len(deleted) else None)
        self._decoded: Dict[str, Tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        self._positions: Dict[str, list] = {}
        # dense norm cache PER FIELD ('' = the single/default field): norms
        # are field statistics (.nvd is per field in Lucene), so a boolean
        # query mixing title and body terms must not overwrite one field's
        # lengths with the other's
        self._dense_norms: Dict[str, np.ndarray] = {}
        self._blk_cache: Dict[Tuple[str, int], tuple] = {}

    def has(self, term: str) -> bool:
        return term in self.term_rows

    def _live_mask(self, docids: np.ndarray) -> np.ndarray:
        return ~np.isin(docids, self.deleted, assume_unique=False)

    def live_docids(self) -> np.ndarray:
        """All live docids of the segment (MatchAllDocs domain)."""
        d = np.arange(self.max_doc, dtype=np.int64)
        if self.deleted is None:
            return d
        return np.setdiff1d(d, self.deleted, assume_unique=True)

    def decode(self, term: str):
        if term not in self._decoded:
            if term not in self.term_rows:
                empty = np.zeros(0, dtype=np.int64)
                self._decoded[term] = (empty, empty.copy(),
                                       np.zeros(0, dtype=np.uint8))
            else:
                d, f, n = decode_blocks(self.term_rows[term]["blocks"])
                fld = field_of(term)
                dn = self._dense_norms.get(fld)
                if dn is None:
                    dn = self._dense_norms[fld] = np.zeros(
                        self.max_doc, dtype=np.uint8)
                dn[d] = n
                if self.deleted is not None:
                    keep = self._live_mask(d)
                    d, f, n = d[keep], f[keep], n[keep]
                self._decoded[term] = (d, f, n)
        return self._decoded[term]

    def positions(self, term: str):
        """Per-posting position arrays, aligned with decode(term)[0]."""
        if term not in self._positions:
            if term not in self.term_rows:
                self._positions[term] = []
            else:
                d, f, n, flat = decode_blocks(self.term_rows[term]["blocks"],
                                              want_positions=True)
                plists = split_positions(flat, f)
                if self.deleted is not None:
                    keep = self._live_mask(d)
                    plists = [p for p, k in zip(plists, keep) if k]
                self._positions[term] = plists
        return self._positions[term]

    def norms_for(self, docids: np.ndarray, term: str = "") -> np.ndarray:
        """Norm bytes for docids in the FIELD of ``term`` (any term of the
        field; '' = the single/default field). Valid for docids whose
        postings in that field were decoded.

        A bare field marker ('field\\x1f', produced only by
        FieldMaskingSpanQuery stats resolution) demands the field's COMPLETE
        norms: matched docids come from the REAL field's postings, so the
        masked field's painted norms may miss them — route through the full
        .nvd-analog read instead (FieldMaskingSpanQuery.java:66-72)."""
        if term.endswith(FIELD_SEP):
            return self.full_field_norms(field_of(term))[docids]
        dn = self._dense_norms.get(field_of(term))
        if dn is None:
            return np.zeros(len(docids), dtype=np.uint8)
        return dn[docids]

    def full_field_norms(self, fld: str) -> np.ndarray:
        """Dense norm bytes of EVERY doc of the segment for one field (the
        .nvd read). Raises rather than silently scoring with zero norms when
        no loader can supply them (round-3 defect: a masked field with no
        decoded term scored with wrong doc lengths)."""
        dn = self._full_norms.get(fld)
        if dn is None:
            if self._norms_loader is not None:
                dn = self._norms_loader(fld)
            if dn is None:
                raise ValueError(
                    f"full norms for field {fld!r} unavailable: no norms "
                    "loader (FieldMaskingSpanQuery needs the masked field's "
                    "complete norms)")
            self._full_norms[fld] = dn
        return dn

    def flat_positions(self, term: str):
        """(docids repeated per position, flat positions) — the whole
        segment's position stream of a term, for vectorized phrase algebra."""
        plists = self.positions(term)
        d, _, _ = self.decode(term)
        if not plists:
            z = np.zeros(0, dtype=np.int64)
            return z, z.copy()
        lens = np.fromiter((len(p) for p in plists), dtype=np.int64,
                           count=len(plists))
        return np.repeat(d, lens), np.concatenate(plists).astype(np.int64)

    # --- per-block lazy decode for the pruned path -------------------------
    def block_meta(self, term: str):
        blocks = self.term_rows[term]["blocks"]
        first = np.array([b["first_doc"] for b in blocks], dtype=np.int64)
        last = np.array([b["last_doc"] for b in blocks], dtype=np.int64)
        mf = np.array([b["max_freq"] for b in blocks], dtype=np.int64)
        mn = np.array([b["min_norm"] for b in blocks], dtype=np.int64)
        return first, last, mf, mn

    def decode_block(self, term: str, bi: int):
        key = (term, bi)
        if key not in self._blk_cache:
            d, f, n = decode_blocks([self.term_rows[term]["blocks"][bi]])
            if self.deleted is not None:
                keep = self._live_mask(d)
                d, f, n = d[keep], f[keep], n[keep]
            self._blk_cache[key] = (d, f, n)
        return self._blk_cache[key]


def _span_stats_term(q: Q.Query) -> str:
    """Encoded term whose field prefix drives Similarity/norms resolution
    for a span tree — SpanQuery.getField() semantics: the MASKED field for
    FieldMaskingSpanQuery (collection stats + norms of the masked field,
    term statistics of the real field, FieldMaskingSpanQuery.java:66-72);
    otherwise the first clause's field."""
    if isinstance(q, Q.FieldMaskingSpanQuery):
        return q.field + FIELD_SEP
    if isinstance(q, Q.SpanTermQuery):
        return q.term
    if isinstance(q, (Q.SpanNearQuery, Q.SpanOrQuery)):
        for c in q.clauses:
            try:
                return _span_stats_term(c)
            except IndexError:
                continue  # clause with no terms (empty wrapper expansion)
        raise IndexError("span tree has no term clauses")
    if isinstance(q, Q.SpanNotQuery):
        return _span_stats_term(q.include)
    if isinstance(q, (Q.SpanFirstQuery, Q.SpanPositionRangeQuery)):
        return _span_stats_term(q.match)
    if isinstance(q, (Q.SpanContainingQuery, Q.SpanWithinQuery)):
        return _span_stats_term(q.big)
    raise TypeError(type(q))


def _push_boost(q: Q.Query, factor: float) -> Q.Query:
    """Propagate boosts to leaves, as Lucene does at Weight-creation time
    (Weight trees receive boost*parentBoost; BoostQuery.java)."""
    if factor == 1.0 and not isinstance(q, Q.BoostQuery):
        pass
    if isinstance(q, Q.BoostQuery):
        return _push_boost(q.query, factor * q.boost)
    if isinstance(q, Q.TermQuery):
        return Q.TermQuery(q.term, q.boost * factor)
    if isinstance(q, Q.PhraseQuery):
        return Q.PhraseQuery(q.terms, q.slop, q.boost * factor)
    if isinstance(q, Q.MultiPhraseQuery):
        return Q.MultiPhraseQuery(q.slots, q.slop, q.boost * factor)
    if isinstance(q, Q.SynonymQuery):
        return Q.SynonymQuery(q.terms, q.boost * factor)
    if isinstance(q, Q.BlendedTermQuery):
        return Q.BlendedTermQuery(q.terms_boosts, q.boost * factor)
    if isinstance(q, Q.ConstantScoreQuery):
        return Q.ConstantScoreQuery(q.query, q.boost * factor)
    if isinstance(q, Q.MatchAllDocsQuery):
        return Q.MatchAllDocsQuery(q.boost * factor)
    if isinstance(q, Q.BooleanQuery):
        return Q.BooleanQuery(
            tuple(_push_boost(s, factor) for s in q.must),
            tuple(_push_boost(s, factor) for s in q.should),
            q.must_not,  # never scored
            q.filter,    # never scored
            q.minimum_should_match,
        )
    if isinstance(q, Q.DisjunctionMaxQuery):
        return Q.DisjunctionMaxQuery(
            tuple(_push_boost(s, factor) for s in q.queries), q.tie_breaker
        )
    if isinstance(q, (Q.SpanQuery, Q.IntervalQuery)) and factor != 1.0:
        import dataclasses
        return dataclasses.replace(q, boost=q.boost * factor)
    return q


class Scorer:
    """Evaluates a rewritten, boost-pushed query tree over one segment."""

    def __init__(self, seg: SegmentIndex, stats: bm25.BM25Stats,
                 global_df: Dict[str, int]):
        self.seg = seg
        self.stats = stats
        self.gdf = global_df
        self.dtype = stats.dtype

    # ---- scored evaluation: returns (docids asc, scores dtype) ------------
    def eval_scored(self, q: Q.Query):
        dt = self.dtype
        seg = self.seg
        if isinstance(q, Q.TermQuery):
            st = _stats_for(self.stats, q.term)
            d, f, n = seg.decode(q.term)
            if d.size == 0:
                return d, np.zeros(0, dtype=dt)
            w = _weight_for(st, q.term, self.gdf.get(q.term, 0), q.boost)
            return d, st.score(f, n, w)
        if isinstance(q, Q.SynonymQuery):
            # pseudo-stats: df = max(member dfs), freq = sum (SynonymQuery.java:233-247)
            st = _stats_for(self.stats, q.terms[0])
            freq_acc = np.zeros(seg.max_doc, dtype=np.int64)
            mask = np.zeros(seg.max_doc, dtype=bool)
            for t in q.terms:
                d, f, _ = seg.decode(t)
                freq_acc[d] += f
                mask[d] = True
            docids = np.flatnonzero(mask)
            if docids.size == 0:
                return docids, np.zeros(0, dtype=dt)
            df = max((self.gdf.get(t, 0) for t in q.terms), default=0)
            w = _synonym_weight_for(st, q.terms, df, q.boost)
            return docids, st.score(
                freq_acc[docids], seg.norms_for(docids, q.terms[0]), w)
        if isinstance(q, Q.BlendedTermQuery):
            # BlendedTermQuery.BOOLEAN_REWRITE: per-term TermQuery scores with
            # the blend's MAX df (adjustFrequencies), own boost; disjunction
            # sum accumulates f64 then casts (BooleanQuery SHOULD semantics)
            st = _stats_for(self.stats, q.terms_boosts[0][0])
            df_blend = max((self.gdf.get(t, 0) for t, _ in q.terms_boosts),
                           default=0)
            acc = np.zeros(seg.max_doc, dtype=np.float64)
            mask = np.zeros(seg.max_doc, dtype=bool)
            for t, b in q.terms_boosts:
                d, f, n = seg.decode(t)
                if d.size == 0:
                    continue
                w = _weight_for(st, t, df_blend, b * q.boost)
                acc[d] += st.score(f, n, w).astype(np.float64)
                mask[d] = True
            docids = np.flatnonzero(mask)
            return docids, acc[docids].astype(dt)
        if isinstance(q, Q.PhraseQuery):
            st = _stats_for(self.stats, q.terms[0])
            docids, pfreqs = self._phrase_freqs(q)
            if docids.size == 0:
                return docids, np.zeros(0, dtype=dt)
            w = _multi_weight_for(
                st, q.terms, [self.gdf.get(t, 0) for t in q.terms], q.boost)
            return docids, st.score(
                pfreqs, self.seg.norms_for(docids, q.terms[0]), w)
        if isinstance(q, Q.MultiPhraseQuery):
            st = _stats_for(self.stats, q.slots[0][0])
            docids, pfreqs = self._multi_phrase_freqs(q)
            if docids.size == 0:
                return docids, np.zeros(0, dtype=dt)
            # idf summed over ALL terms of all slots, in slot-then-term order
            # (MultiPhraseQuery weight resolves stats of every term)
            all_terms = [t for slot in q.slots for t in slot]
            w = _multi_weight_for(
                st, all_terms, [self.gdf.get(t, 0) for t in all_terms],
                q.boost)
            return docids, st.score(
                pfreqs, self.seg.norms_for(docids, q.slots[0][0]), w)
        if isinstance(q, Q.ConstantScoreQuery):
            d = self.eval_match(q.query)
            return d, np.full(d.size, dt(q.boost), dtype=dt)
        if isinstance(q, Q.MatchAllDocsQuery):
            d = seg.live_docids()
            return d, np.full(d.size, dt(q.boost), dtype=dt)
        if isinstance(q, Q.MatchNoDocsQuery):
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=dt)
        if isinstance(q, Q.DisjunctionMaxQuery):
            mx = np.full(seg.max_doc, -np.inf, dtype=np.float64)
            sm = np.zeros(seg.max_doc, dtype=np.float64)
            mask = np.zeros(seg.max_doc, dtype=bool)
            for sub in q.queries:
                d, s = self.eval_scored(sub)
                np.maximum.at(mx, d, s.astype(np.float64))
                sm[d] += s.astype(np.float64)
                mask[d] = True
            docids = np.flatnonzero(mask)
            tie = q.tie_breaker
            sc = (mx[docids] + (sm[docids] - mx[docids]) * tie).astype(dt)
            return docids, sc
        if isinstance(q, Q.SpanQuery):
            # SpanWeight: stats over ALL clause terms (buildSimWeight gathers
            # every term's TermStatistics); freq = SpanScorer's slop-adjusted
            # sloppy freq, sum over spans of 1/(1+width)
            # (SpanScorer.java:118)
            span_ts = sorted(Q.span_terms(q))
            if not span_ts:
                # e.g. a SpanMultiTermQueryWrapper that expanded to nothing
                return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=dt)
            # getField() semantics: stats/norms resolve by the tree's field
            # (the masked field under FieldMaskingSpanQuery), term df by each
            # term's real field
            stats_term = _span_stats_term(q)
            st = _stats_for(self.stats, stats_term)
            d, f = self.eval_spans(q)
            if d.size == 0:
                return d, np.zeros(0, dtype=dt)
            w = _multi_weight_for(
                st, span_ts, [self.gdf.get(t, 0) for t in span_ts], q.boost)
            return d, st.score(f, seg.norms_for(d, stats_term), w)
        if isinstance(q, Q.IntervalQuery):
            # IntervalScorer.score: simScorer over the interval freq — no
            # norms, no BM25; maxScore = boost (IntervalScorer.java:95-98)
            d, f = self.eval_intervals(q)
            if d.size == 0:
                return d, np.zeros(0, dtype=dt)
            if q.exp is None:
                # SaturationFunction: weight * (1 - pivot/(pivot + freq)),
                # float math in parity mode (IntervalScoreFunction.java:70-77)
                fv = f.astype(dt)
                pivot = dt(q.pivot)
                sc = (dt(q.boost) * (dt(1.0) - pivot / (pivot + fv)))
                return d, sc.astype(dt)
            # SigmoidFunction: double pow, then the whole product cast to
            # float (IntervalScoreFunction.java:118-126)
            pivot_pa = float(q.pivot) ** float(q.exp)
            fv = f.astype(dt).astype(np.float64)
            sc64 = q.boost * (1.0 - pivot_pa / (np.power(fv, q.exp) + pivot_pa))
            return d, sc64.astype(dt)
        if isinstance(q, Q.BooleanQuery):
            return self._eval_bool(q)
        if isinstance(q, (Q.TermInSetQuery, Q.TermPredicateQuery)):
            # only reachable unwrapped in tests; constant score 1*boost
            d = self.eval_match(q)
            return d, np.full(d.size, dt(q.boost), dtype=dt)
        raise TypeError(f"unsupported query node: {type(q).__name__}")

    def _eval_bool(self, q: Q.BooleanQuery):
        dt = self.dtype
        max_doc = self.seg.max_doc
        req = list(q.must) + list(q.filter)
        if req:
            mask = np.ones(max_doc, dtype=bool)
            for sub in req:
                m = np.zeros(max_doc, dtype=bool)
                m[self.eval_match(sub)] = True
                mask &= m
        else:
            mask = None
        # scores of MUST clauses: double-accumulated, cast to float (Conjunction)
        req_score = np.zeros(max_doc, dtype=np.float64)
        for sub in q.must:
            d, s = self.eval_scored(sub)
            req_score[d] += s.astype(np.float64)
        # SHOULD clauses: double-accumulated sum + match count
        opt_score = np.zeros(max_doc, dtype=np.float64)
        opt_cnt = np.zeros(max_doc, dtype=np.int32)
        for sub in q.should:
            d, s = self.eval_scored(sub)
            opt_score[d] += s.astype(np.float64)
            opt_cnt[d] += 1
        msm = q.minimum_should_match
        if mask is not None:
            if msm > 0:
                mask &= opt_cnt >= msm
        else:
            mask = opt_cnt >= max(1, msm)
        for sub in q.must_not:
            mask[self.eval_match(sub)] = False
        docids = np.flatnonzero(mask)
        if q.must and q.should:
            # ReqOptSum: float32 req + float32 opt (ReqOptSumScorer.java:255-265)
            r = req_score[docids].astype(dt)
            o = opt_score[docids].astype(dt)
            has_opt = opt_cnt[docids] > 0
            sc = r.copy()
            sc[has_opt] = (r[has_opt] + o[has_opt]).astype(dt)
        elif q.must:
            sc = req_score[docids].astype(dt)
        elif q.should:
            sc = opt_score[docids].astype(dt)
        else:  # filter-only: constant 0 score (FilterScorer semantics)
            sc = np.zeros(docids.size, dtype=dt)
        return docids, sc

    # ---- unscored match evaluation ----------------------------------------
    def eval_match(self, q: Q.Query) -> np.ndarray:
        seg = self.seg
        if isinstance(q, Q.TermQuery):
            return seg.decode(q.term)[0]
        if isinstance(q, (Q.SynonymQuery,)):
            mask = np.zeros(seg.max_doc, dtype=bool)
            for t in q.terms:
                mask[seg.decode(t)[0]] = True
            return np.flatnonzero(mask)
        if isinstance(q, Q.BlendedTermQuery):
            mask = np.zeros(seg.max_doc, dtype=bool)
            for t, _ in q.terms_boosts:
                mask[seg.decode(t)[0]] = True
            return np.flatnonzero(mask)
        if isinstance(q, Q.TermInSetQuery):
            mask = np.zeros(seg.max_doc, dtype=bool)
            for t in q.terms:
                mask[seg.decode(t)[0]] = True
            return np.flatnonzero(mask)
        if isinstance(q, Q.TermPredicateQuery):
            # the scan filter already restricted arriving terms; re-apply the
            # predicate so terms pulled for OTHER query nodes don't leak in
            mask = np.zeros(seg.max_doc, dtype=bool)
            for t in seg.term_rows:
                if q.matches(t):
                    mask[seg.decode(t)[0]] = True
            return np.flatnonzero(mask)
        if isinstance(q, Q.PhraseQuery):
            return self._phrase_freqs(q)[0]
        if isinstance(q, Q.MultiPhraseQuery):
            return self._multi_phrase_freqs(q)[0]
        if isinstance(q, Q.ConstantScoreQuery):
            return self.eval_match(q.query)
        if isinstance(q, Q.MatchAllDocsQuery):
            return seg.live_docids()
        if isinstance(q, Q.MatchNoDocsQuery):
            return np.zeros(0, dtype=np.int64)
        if isinstance(q, Q.DisjunctionMaxQuery):
            mask = np.zeros(seg.max_doc, dtype=bool)
            for sub in q.queries:
                mask[self.eval_match(sub)] = True
            return np.flatnonzero(mask)
        if isinstance(q, Q.BooleanQuery):
            return self._eval_bool_match(q)
        if isinstance(q, Q.SpanQuery):
            return self.eval_spans(q)[0]
        if isinstance(q, Q.IntervalQuery):
            return self.eval_intervals(q)[0]
        raise TypeError(f"unsupported query node: {type(q).__name__}")

    def _eval_bool_match(self, q: Q.BooleanQuery) -> np.ndarray:
        """Match-only boolean evaluation: set algebra over eval_match sets,
        zero scoring arithmetic (the count()/TotalHitCountCollector path —
        no norm decode, no BM25)."""
        max_doc = self.seg.max_doc
        req = list(q.must) + list(q.filter)
        if req:
            mask = np.ones(max_doc, dtype=bool)
            for sub in req:
                m = np.zeros(max_doc, dtype=bool)
                m[self.eval_match(sub)] = True
                mask &= m
        else:
            mask = None
        msm = q.minimum_should_match
        if q.should and (mask is None or msm > 0):
            opt_cnt = np.zeros(max_doc, dtype=np.int32)
            for sub in q.should:
                opt_cnt[self.eval_match(sub)] += 1
            if mask is not None:
                mask &= opt_cnt >= msm
            else:
                mask = opt_cnt >= max(1, msm)
        elif mask is None:
            mask = np.zeros(max_doc, dtype=bool)
        for sub in q.must_not:
            mask[self.eval_match(sub)] = False
        return np.flatnonzero(mask)

    # ---- phrase matching (ExactPhraseMatcher / SloppyPhraseMatcher) --------
    _POS_SHIFT = 32  # (docid << 32) + position composite keys

    def _pair_window_cut(self, cand: np.ndarray, flats: list,
                         lo_off: int, hi_off: int) -> np.ndarray:
        """Shrink ``cand`` to docs where every ADJACENT pair of position
        streams admits an alignment b in [a+lo_off, a+hi_off] — a vectorized
        NECESSARY condition (each pairwise gap of any real match is bounded
        by the total slop), run as one searchsorted sweep over composite
        (doc<<32)+pos keys before the vectorized walks or the faithful
        per-doc matchers. Never removes a matching doc; the survivors still
        go through the exact walk or matcher. (Negative lo_off can in principle reach into the previous
        doc's key range only for positions within slop of 2^32 — far beyond
        any real doc length.)"""
        sh = self._POS_SHIFT
        alive = cand
        for (dA, pA), (dB, pB) in zip(flats, flats[1:]):
            if alive.size == 0:
                return alive
            kA = (dA << sh) + pA          # ascending: docs asc, pos asc
            kB = (dB << sh) + pB
            lo = np.searchsorted(kB, kA + lo_off, side="left")
            ok = lo < kB.size
            hit = np.zeros(kA.size, dtype=bool)
            hit[ok] = kB[lo[ok]] <= (kA[ok] + hi_off)
            alive = alive[np.isin(alive, dA[hit])]
        return alive

    def _exact_phrase_keys(self, slot_flats):
        """Vectorized ExactPhraseMatcher over a whole segment: composite
        (doc<<32)+start keys of every exact-phrase match.

        slot_flats: per phrase slot j, (docids-repeated, flat positions) of
        the slot's term (or slot union). A phrase start at (doc, p) exists iff
        every slot j has a position p+j in doc, i.e. the composite keys
        (doc<<32)+(pos-j) intersect across slots — one sorted-set intersect
        chain instead of a per-doc Python loop (ExactPhraseMatcher.java
        semantics, whole-segment at once)."""
        sh = self._POS_SHIFT
        keys = None
        for j, (dd, pp) in enumerate(slot_flats):
            if j:
                m = pp >= j  # position < offset can't start a phrase
                dd, pp = dd[m], pp[m]
            kj = (dd << sh) + (pp - j)
            keys = kj if keys is None else np.intersect1d(
                keys, kj, assume_unique=True)
            if keys.size == 0:
                break
        return (np.zeros(0, dtype=np.int64) if keys is None else keys)

    def _exact_phrase_counts(self, slot_flats):
        """(docs, exact-phrase freqs): the match keys folded per doc."""
        keys = self._exact_phrase_keys(slot_flats)
        docs, counts = np.unique(keys >> self._POS_SHIFT, return_counts=True)
        return docs, counts.astype(np.float64)

    def _sloppy_counts(self, cand, slot_maps, terms_per_pp, slop: int):
        """SloppyPhraseMatcher path: per candidate doc (conjunction-filtered,
        the rare slop>0 case), run the faithful matcher; freq is the float
        sum of 1/(1+matchLength) per match (PhraseScorer.java:76-79)."""
        from .sloppy import SloppyPhraseMatcher
        matcher = SloppyPhraseMatcher(
            list(range(len(terms_per_pp))), terms_per_pp, slop)
        acc_dt = (np.float32 if self.dtype == np.float32 else np.float64)
        out_docs, out_freqs = [], []
        for doc in cand:
            plists = []
            for per_term in slot_maps:
                ps = []
                for d, plist in per_term:
                    i = int(np.searchsorted(d, doc))
                    if i < d.size and d[i] == doc:
                        ps.append(np.asarray(plist[i], dtype=np.int64))
                merged = (np.unique(np.concatenate(ps)) if ps
                          else np.zeros(0, dtype=np.int64))
                plists.append(merged)
            if any(p.size == 0 for p in plists):
                continue
            pf = matcher.freq(plists, dtype=acc_dt)
            if pf > 0:
                out_docs.append(int(doc))
                out_freqs.append(pf)
        return (np.asarray(out_docs, dtype=np.int64),
                np.asarray(out_freqs, dtype=np.float64))

    def _sloppy_counts_kterm(self, cand, slop: int, flats: list):
        """Vectorized SloppyPhraseMatcher for k >= 2 PhrasePositions with no
        term repeated (``flats``: per phrase slot, in offset order, the
        (docids, positions) stream of its term, or of a MultiPhraseQuery
        slot's deduped member union — see _sloppy_kterm_walk) over
        candidate docs that hold every slot — zero per-doc Python (the
        repeats machinery never engages when no term repeats, so the greedy
        is the whole algorithm).

        With no repeats, each iteration of the greedy in
        SloppyPhraseMatcher.java:165-197 is one CYCLE of a k-stream leapfrog:
        pop the least phrase position p0 (PhraseQueue tie-break position →
        offset → ord == first-hit of np.argmin, offsets ascending), read the
        second-least position nxt, and crawl the popped stream through its
        positions <= nxt. While it crawls, `end` (the max current position)
        is frozen — every visited position is <= nxt <= end — so the
        minimized matchLength is end - p*, where p* is the stream's LAST
        position <= nxt: one predecessor searchsorted replaces the crawl. A
        match of length end - p* is emitted iff <= slop; the stream's new
        position is its first > nxt (which may raise end), and when none
        exists in the doc the walk retires after that final emission check
        (the `while advance(pp)` exit path returning matchLength <= slop).

        The cycle runs for ALL candidate docs simultaneously — one masked
        searchsorted per stream per cycle over composite
        (doc<<32)+(pos-offset) keys, per-doc states retiring as walks end.
        Per-doc emissions happen in cycle order, so a stable sort by doc
        index preserves the matcher's sequential order and the np.add.at
        reproduces freq += 1/(1+matchLength) in the scoring dtype bit-exactly
        (SloppyPhraseMatcher.java:160-162, PhraseScorer.java:76-79).
        Differential proof vs the faithful matcher:
        test_sloppy_vectorized.py (k=2: every subset pair of positions 0..5,
        randomized multi-doc) and test_sloppy_kterm_vectorized.py
        (exhaustive 3-term small-universe + randomized k in 3..5), both
        dtypes."""
        sh = self._POS_SHIFT
        offs = len(flats)  # keeps pos - j nonnegative in the low bits
        keys = [(d << sh) + p - j + offs for j, (d, p) in enumerate(flats)]
        return self._sloppy_kterm_walk(cand, slop, keys)

    def _sloppy_kterm_walk(self, cand, slop: int, keys: list):
        """The cycle engine behind _sloppy_counts_kterm, over prepared
        per-slot composite key streams (already offset-shifted; for
        MultiPhraseQuery slots: the deduped union of the member terms'
        streams, the UnionPostingsEnum analog — valid whenever no TERM
        repeats across slots, because the repeats machinery never engages
        and the greedy sees exactly the unioned position list the faithful
        per-doc path feeds it)."""
        sh = self._POS_SHIFT
        k = len(keys)
        base = cand << sh
        pos = np.empty((k, cand.size), dtype=np.int64)
        for j in range(k):
            i0 = np.searchsorted(keys[j], base)
            pos[j] = keys[j][i0] - base  # cand docs contain every term
        end = pos.max(axis=0)
        idx = np.arange(cand.size)
        em_idx, em_len = [], []
        while idx.size:
            cur = np.argmin(pos, axis=0)  # first hit == PhraseQueue order
            nxt = np.partition(pos, 1, axis=0)[1]
            pstar = np.empty(idx.size, dtype=np.int64)
            alive = np.zeros(idx.size, dtype=bool)
            succ = np.empty(idx.size, dtype=np.int64)
            for j in range(k):
                m = cur == j
                if not m.any():
                    continue
                kj = keys[j]
                tgt = base[m] + nxt[m] + 1  # first key with pos > nxt
                r = np.searchsorted(kj, tgt, side="left")
                pstar[m] = kj[r - 1] - base[m]  # same doc: cur key <= tgt-1
                a = r < kj.size
                sv = kj[np.minimum(r, kj.size - 1)]
                a &= (sv >> sh) == (base[m] >> sh)
                succ[m] = sv - base[m]
                alive[m] = a
            ml = end - pstar
            emit = ml <= slop
            if emit.any():
                em_idx.append(idx[emit])
                em_len.append(ml[emit])
            if not alive.any():
                break
            curk = cur[alive]
            pos = pos[:, alive]
            newp = succ[alive]
            pos[curk, np.arange(curk.size)] = newp
            end = np.maximum(end[alive], newp)
            base = base[alive]
            idx = idx[alive]
        if not em_idx:
            z = np.zeros(0, dtype=np.int64)
            return z, z.astype(np.float64)
        ei = np.concatenate(em_idx)
        el = np.concatenate(em_len)
        order = np.argsort(ei, kind="stable")  # per-doc cycle order kept
        ei, el = ei[order], el[order]
        acc_dt = (np.float32 if self.dtype == np.float32 else np.float64)
        w = acc_dt(1.0) / (acc_dt(1.0) + el.astype(acc_dt))
        freq = np.zeros(cand.size, dtype=acc_dt)
        np.add.at(freq, ei, w)  # unbuffered, sequential in order
        hit = freq > 0
        return cand[hit], freq[hit].astype(np.float64)

    def _phrase_freqs(self, q: Q.PhraseQuery):
        terms = q.terms
        if q.slop == 0:
            flats = [self.seg.flat_positions(t) for t in terms]
            return self._exact_phrase_counts(flats)
        max_doc = self.seg.max_doc
        cnt = np.zeros(max_doc, dtype=np.int32)
        for t in set(terms):
            cnt[self.seg.decode(t)[0]] += 1
        cand = np.flatnonzero(cnt == len(set(terms)))
        if cand.size == 0:
            return cand, np.zeros(0, dtype=np.float64)
        # adjacent slots of a real sloppy match satisfy
        # |(p_{i+1}-(i+1)) - (p_i-i)| <= slop, i.e. b in [a+1-slop,
        # a+1+slop] — cut candidates vectorized before either matcher
        flats = [self.seg.flat_positions(t) for t in terms]
        cand = self._pair_window_cut(cand, flats, 1 - q.slop, 1 + q.slop)
        if cand.size == 0:
            return cand, np.zeros(0, dtype=np.float64)
        if len(terms) >= 2 and len(set(terms)) == len(terms):
            return self._sloppy_counts_kterm(cand, q.slop, flats)
        # repeated terms engage the repeats machinery: faithful per-doc
        slot_maps = [[(self.seg.decode(t)[0], self.seg.positions(t))]
                     for t in terms]
        return self._sloppy_counts(cand, slot_maps,
                                   [(t,) for t in terms], q.slop)

    def _slot_union_flat(self, slot):
        """(docids, positions) of a MultiPhraseQuery slot: the sorted,
        deduped union of its member terms' streams — the UnionPostingsEnum
        analog."""
        sh = self._POS_SHIFT
        parts = [self.seg.flat_positions(t) for t in slot]
        dd = np.concatenate([p[0] for p in parts])
        pp = np.concatenate([p[1] for p in parts])
        keys = np.unique((dd << sh) + pp)
        return keys >> sh, keys & ((1 << sh) - 1)

    def _multi_phrase_freqs(self, q: Q.MultiPhraseQuery):
        """MultiPhraseQuery matcher: per phrase position i, the posting union
        of slots[i] (UnionPostingsEnum analog); freq = number of alignments
        p such that every slot matches at p+i (exact), or the sloppy matcher
        over the unioned position lists (slop > 0)."""
        seg = self.seg
        flats = [self._slot_union_flat(slot) for slot in q.slots]
        if q.slop == 0:
            return self._exact_phrase_counts(flats)
        max_doc = seg.max_doc
        # candidate docs: contain >= 1 term of EVERY slot
        mask = np.ones(max_doc, dtype=bool)
        for slot in q.slots:
            m = np.zeros(max_doc, dtype=bool)
            for t in slot:
                m[seg.decode(t)[0]] = True
            mask &= m
        cand = self._pair_window_cut(np.flatnonzero(mask), flats,
                                     1 - q.slop, 1 + q.slop)
        if cand.size == 0:
            return cand, np.zeros(0, dtype=np.float64)
        all_terms = [t for slot in q.slots for t in slot]
        if len(set(all_terms)) == len(all_terms) and len(q.slots) >= 2:
            # no term repeats across slots -> the repeats machinery never
            # engages and the k-stream walk applies, with each slot's stream
            # = the deduped union of its member terms' positions
            return self._sloppy_counts_kterm(cand, q.slop, flats)
        slot_maps = [[(seg.decode(t)[0], seg.positions(t)) for t in slot]
                     for slot in q.slots]
        return self._sloppy_counts(cand, slot_maps, list(q.slots), q.slop)

    # ---- spans family (o.a.l/search/spans/) -------------------------------
    # Spans are (start, end, width) triples in Lucene iteration order
    # ((start, end) nondecreasing, duplicates preserved); width is what
    # SpanScorer's slop factor consumes (SpanScorer.java:118:
    # freq += 1.0/(1.0 + spans.width()), accumulated in float).

    def _span_candidates(self, q: Q.SpanQuery) -> np.ndarray:
        """Docs that can possibly produce spans (structural prefilter)."""
        seg = self.seg
        if isinstance(q, Q.SpanTermQuery):
            return seg.decode(q.term)[0]
        if isinstance(q, Q.SpanOrQuery):
            mask = np.zeros(seg.max_doc, dtype=bool)
            for c in q.clauses:
                mask[self._span_candidates(c)] = True
            return np.flatnonzero(mask)
        if isinstance(q, Q.SpanNearQuery):
            mask = np.ones(seg.max_doc, dtype=bool)
            for c in q.clauses:
                m = np.zeros(seg.max_doc, dtype=bool)
                m[self._span_candidates(c)] = True
                mask &= m
            return np.flatnonzero(mask)
        if isinstance(q, Q.SpanNotQuery):
            return self._span_candidates(q.include)
        if isinstance(q, (Q.SpanFirstQuery, Q.SpanPositionRangeQuery)):
            return self._span_candidates(q.match)
        if isinstance(q, (Q.SpanContainingQuery, Q.SpanWithinQuery)):
            # ConjunctionSpans over (big, little): both must have spans
            mask = np.zeros(seg.max_doc, dtype=bool)
            mask[self._span_candidates(q.big)] = True
            m2 = np.zeros(seg.max_doc, dtype=bool)
            m2[self._span_candidates(q.little)] = True
            return np.flatnonzero(mask & m2)
        if isinstance(q, Q.FieldMaskingSpanQuery):
            return self._span_candidates(q.query)
        raise TypeError(type(q))

    @staticmethod
    def _near_ordered(per_clause: list, slop: int) -> list:
        """NearSpansOrdered.java:60-121 port: iterate clause-0 spans; advance
        each later clause's pointer (monotonic, never reset) to the first span
        with start >= previous clause's end; width = sum of gaps; match when
        width <= slop, emitting (first.start, last.end, width)."""
        out = []
        n = len(per_clause)
        ptr = [0] * n
        for (s0, e0, _w0) in per_clause[0]:
            prev_end = e0
            width = 0
            ok = True
            for ci in range(1, n):
                lst = per_clause[ci]
                while ptr[ci] < len(lst) and lst[ptr[ci]][0] < prev_end:
                    ptr[ci] += 1
                if ptr[ci] >= len(lst):
                    return out  # a clause exhausted -> no further matches
                s, e, _w = lst[ptr[ci]]
                width += s - prev_end
                prev_end = e
            if ok and width <= slop:
                out.append((s0, prev_end, width))
        return out

    @staticmethod
    def _near_unordered(per_clause: list, slop: int) -> list:
        """NearSpansUnordered.java port: window of one span per clause ordered
        by (start, end); match when maxEnd - top.start - totalLength <= slop,
        emitting (top.start, maxEnd, maxEnd - top.start); advance the top."""
        n = len(per_clause)
        if any(not lst for lst in per_clause):
            return []
        ptr = [0] * n
        cur = [per_clause[i][0] for i in range(n)]
        total_len = sum(e - s for s, e, _ in cur)
        max_end = max(e for _, e, _ in cur)
        out = []
        while True:
            ti = min(range(n), key=lambda i: (cur[i][0], cur[i][1]))
            top_start = cur[ti][0]
            if max_end - top_start - total_len <= slop:
                out.append((top_start, max_end, max_end - top_start))
            ptr[ti] += 1
            if ptr[ti] >= len(per_clause[ti]):
                return out
            s_old, e_old, _ = cur[ti]
            cur[ti] = per_clause[ti][ptr[ti]]
            total_len += (cur[ti][1] - cur[ti][0]) - (e_old - s_old)
            if cur[ti][1] > max_end:
                max_end = cur[ti][1]

    def _doc_spans(self, q: Q.SpanQuery, doc: int) -> list:
        """(start, end, width) spans of q in one doc, Lucene iteration order."""
        if isinstance(q, Q.SpanTermQuery):
            d, _, _ = self.seg.decode(q.term)
            i = int(np.searchsorted(d, doc))
            if i >= d.size or d[i] != doc:
                return []
            # TermSpans.width() == 0
            return [(int(p), int(p) + 1, 0)
                    for p in self.seg.positions(q.term)[i]]
        if isinstance(q, Q.SpanOrQuery):
            # disjunction by (start, end) priority queue — duplicates kept
            out = []
            for c in q.clauses:
                out.extend(self._doc_spans(c, doc))
            out.sort(key=lambda s: (s[0], s[1]))
            return out
        if isinstance(q, Q.SpanFirstQuery):
            # SpanFirstQuery == SpanPositionRangeQuery(match, 0, end)
            return [s for s in self._doc_spans(q.match, doc)
                    if s[0] < q.end and s[1] <= q.end]
        if isinstance(q, Q.SpanPositionRangeQuery):
            # acceptPosition (SpanPositionRangeQuery.java:41-48); spans with
            # start >= end terminate the doc (sorted -> plain filter)
            return [s for s in self._doc_spans(q.match, doc)
                    if s[0] < q.end and s[0] >= q.start and s[1] <= q.end]
        if isinstance(q, Q.SpanNotQuery):
            inc = self._doc_spans(q.include, doc)
            exc = self._doc_spans(q.exclude, doc)
            return [s for s in inc
                    if not any(s[0] < e_end and e_start < s[1]
                               for (e_start, e_end, _w) in exc)]
        if isinstance(q, Q.SpanContainingQuery):
            # ContainSpans via SpanContainingQuery.java:70-90: iterate big,
            # advance little to the first span with start >= big.start, match
            # when big.end >= little.end (emit big)
            big = self._doc_spans(q.big, doc)
            little = self._doc_spans(q.little, doc)
            out = []
            li = 0
            for (bs, be, bw) in big:
                while li < len(little) and little[li][0] < bs:
                    li += 1
                if li >= len(little):
                    break  # little exhausted in doc
                if be >= little[li][1]:
                    out.append((bs, be, bw))
            return out
        if isinstance(q, Q.SpanWithinQuery):
            # SpanWithinQuery.java:80-100: iterate little, advance big to the
            # first span with end >= little.end, match when big.start <=
            # little.start (emit little)
            big = self._doc_spans(q.big, doc)
            little = self._doc_spans(q.little, doc)
            out = []
            bi = 0
            for (ls, le, lw) in little:
                while bi < len(big) and big[bi][1] < le:
                    bi += 1
                if bi >= len(big):
                    break
                if big[bi][0] <= ls:
                    out.append((ls, le, lw))
            return out
        if isinstance(q, Q.SpanNearQuery):
            per_clause = [self._doc_spans(c, doc) for c in q.clauses]
            if any(not ps for ps in per_clause):
                return []
            if q.in_order:
                return self._near_ordered(per_clause, q.slop)
            return self._near_unordered(per_clause, q.slop)
        if isinstance(q, Q.FieldMaskingSpanQuery):
            # positions come from the REAL field's postings; only scoring
            # (stats/norms field) sees the mask (_span_stats_term)
            return self._doc_spans(q.query, doc)
        raise TypeError(type(q))

    _EMPTY_STREAM = (np.zeros(0, dtype=np.int64),) * 4

    def _fold_span_stream(self, docs: np.ndarray, widths: np.ndarray):
        """SpanScorer.setFreqCurrentDoc fold over an emission stream: freq
        += 1/(1 + width) per span, in emission order, into the scoring-dtype
        accumulator (float32 in Lucene-parity mode). NOTE the weight stays
        float64 even in float32 mode: the SpanScorer fold adds a DOUBLE
        1/(1+width) to the float accumulator (unlike SloppyPhraseMatcher,
        which pre-rounds the weight to float) — the mixed-dtype unbuffered
        np.add.at reproduces f32(f64(acc) + w) per emission."""
        acc_dt = (np.float32 if self.dtype == np.float32 else np.float64)
        acc = np.zeros(self.seg.max_doc, dtype=acc_dt)
        np.add.at(acc, docs, 1.0 / (1.0 + widths.astype(np.float64)))
        out = np.flatnonzero(acc > 0)
        return out, acc[out].astype(np.float64)

    @staticmethod
    def _flat_in(cand: np.ndarray, d: np.ndarray, p: np.ndarray):
        """The rows of a flat (docids, positions) stream whose doc is in the
        sorted candidate array ``cand``."""
        i = np.searchsorted(cand, d)
        m = (i < cand.size) & (cand[np.minimum(i, cand.size - 1)] == d)
        return d[m], p[m]

    def _near_kterm_stream(self, cand: np.ndarray, flats: list, slop: int,
                           in_order: bool):
        """Vectorized NearSpans emissions (docs, starts, ends, widths) for
        k >= 2 clauses, per-doc emission order. ``flats`` holds, per clause,
        the (docids, positions) stream of a term, or of an Or-of-terms
        clause (the key-sorted union of its members, _group_flat_positions);
        no term appears in two clauses.

        ORDERED (NearSpansOrdered.java:60-121): the later clauses' pointers
        are monotone and every per-clause constraint start >= prev_end is
        monotone in the previous clause's landing spot, so each clause-0
        position a independently yields the chain s_i = first clause-i
        position >= prev_end (prev_end = s_{i-1}+1), width = sum of gaps,
        emitting iff width <= slop; a clause exhausting mid-doc invalidates
        exactly the a's whose chain has no landing spot. One searchsorted
        per later clause for ALL clause-0 positions at once; kA order ==
        emission order.

        UNORDERED (the window queue): pops happen in merged (position,
        clause-ord) order; at the pop of position p of clause ti the other
        clauses' window spans sit at m_j = their first position AFTER (p,ti)
        in that order (ties pop lower ords first), so the emission test is
        max(p, max_j m_j) + 1 - p - k <= slop with span width
        max(p, max_j m_j) + 1 - p. A clause popping its LAST position ends
        the doc after its own emission check, so exactly the pops at or
        before the doc's earliest exhaustion event E = min_j (last_j, j)
        participate. k(k-1) partner searchsorteds + one boundary sweep, all
        docs at once; a global sort by pop key reproduces the merged
        emission order for the float fold.

        Differential proof vs the faithful matchers:
        test_span_near_vectorized.py (k=2),
        test_span_near_kterm_vectorized.py (k=3..5) and
        test_span_near_group_vectorized.py (Or-of-terms clauses)."""
        sh = self._POS_SHIFT
        k = len(flats)
        restricted = (self._flat_in(cand, d, p) for d, p in flats)
        flats = [(d, p, (d << sh) + p) for d, p in restricted]
        if any(f[2].size == 0 for f in flats):
            return self._EMPTY_STREAM

        if in_order:
            dA, pA, kA = flats[0]
            ok = np.ones(kA.size, dtype=bool)
            prev_end = kA + 1
            width = np.zeros(kA.size, dtype=np.int64)
            for ci in range(1, k):
                kc = flats[ci][2]
                r = np.searchsorted(kc, prev_end, side="left")
                a = r < kc.size
                sv = kc[np.minimum(r, kc.size - 1)]
                a &= (sv >> sh) == (kA >> sh)
                ok &= a
                width = np.where(ok, width + sv - prev_end, width)
                prev_end = sv + 1
            emit = ok & (width <= slop)
            # kA is (doc, pos)-sorted == emission order; end = last chain
            # landing spot + 1
            ends = (prev_end - (dA << sh))[emit]
            return dA[emit], pA[emit], ends, width[emit]
        # earliest exhaustion event per doc: E = min_j (last_j, j)
        ekey = np.full(cand.size, np.iinfo(np.int64).max, dtype=np.int64)
        for j in range(k):
            kj = flats[j][2]
            lo = np.searchsorted(kj, cand << sh)
            hi = np.searchsorted(kj, (cand + 1) << sh)
            has = hi > lo
            last = np.where(has, kj[np.maximum(hi, 1) - 1], 0)
            ej = np.where(has, last * k + j, -1)
            # docs missing a clause never pop at all
            ekey = np.where(has, np.minimum(ekey, ej), -1)
        em_keys, em_docs, em_starts, em_width = [], [], [], []
        for ti in range(k):
            dt_, pt_, kt = flats[ti]
            di = np.searchsorted(cand, dt_)
            popkey = kt * k + ti
            valid = popkey <= ekey[di]
            mmax = np.zeros(kt.size, dtype=np.int64)
            for j in range(k):
                if j == ti:
                    continue
                kj = flats[j][2]
                tgt = kt + (1 if j < ti else 0)
                r = np.searchsorted(kj, tgt, side="left")
                a = r < kj.size
                mv = kj[np.minimum(r, kj.size - 1)]
                a &= (mv >> sh) == (kt >> sh)
                valid &= a
                mmax = np.maximum(mmax, mv)
            wid = np.maximum(mmax, kt) + 1 - kt
            emit = valid & (wid - k <= slop)
            em_keys.append(popkey[emit])
            em_docs.append(dt_[emit])
            em_starts.append(pt_[emit])
            em_width.append(wid[emit])
        keys_e = np.concatenate(em_keys)
        docs_e = np.concatenate(em_docs)
        starts_e = np.concatenate(em_starts)
        wid_e = np.concatenate(em_width)
        order = np.argsort(keys_e, kind="stable")  # merged pop order
        return (docs_e[order], starts_e[order], (starts_e + wid_e)[order],
                wid_e[order])

    def _group_flat_positions(self, group):
        """flat_positions of a term OR the (key-sorted, duplicates-kept)
        union of a tuple of terms — the emission stream of a SpanOr over
        width-0 term leaves. All member spans have end = start + 1, so the
        union keeps the monotone-ends property the near walks' closed forms
        rely on (the SpanOr queue's (start, end, clause-ord) tie order only
        reorders IDENTICAL (start, end) spans, which cannot change any
        emission value)."""
        if len(group) == 1:
            return self.seg.flat_positions(group[0])
        parts = [self.seg.flat_positions(t) for t in group]
        d = np.concatenate([x[0] for x in parts])
        p = np.concatenate([x[1] for x in parts])
        o = np.argsort((d << self._POS_SHIFT) + p, kind="stable")
        return d[o], p[o]

    @staticmethod
    def _near_group(c) -> "tuple | None":
        """Flatten a SpanNearQuery clause to its term tuple when it is a
        width-0 stream: a term leaf, or a SpanOr over such (recursively) —
        the SpanMultiTermQueryWrapper-inside-Near shape. None otherwise."""
        if isinstance(c, Q.SpanTermQuery):
            return (c.term,)
        if isinstance(c, Q.SpanOrQuery):
            subs = [Scorer._near_group(x) for x in c.clauses]
            if any(s is None for s in subs):
                return None
            return tuple(t for s in subs for t in s)
        return None

    def _span_vec_ok(self, q: Q.SpanQuery) -> bool:
        """True when the whole span tree evaluates through the vectorized
        stream algebra: term leaves, Near over >= 2 clauses that are terms
        or Or-of-terms groups with no term shared between clauses (the walk
        assumes disjoint streams), and every span combinator recursing."""
        if isinstance(q, Q.SpanTermQuery):
            return True
        if isinstance(q, Q.SpanNearQuery):
            groups = [self._near_group(c) for c in q.clauses]
            if any(g is None for g in groups) or len(groups) < 2:
                return False
            terms = [t for g in groups for t in g]
            return len(set(terms)) == len(terms)
        if isinstance(q, Q.SpanOrQuery):
            return all(self._span_vec_ok(c) for c in q.clauses)
        if isinstance(q, Q.SpanNotQuery):
            return (self._span_vec_ok(q.include)
                    and self._span_vec_ok(q.exclude))
        if isinstance(q, (Q.SpanFirstQuery, Q.SpanPositionRangeQuery)):
            return self._span_vec_ok(q.match)
        if isinstance(q, (Q.SpanContainingQuery, Q.SpanWithinQuery)):
            return self._span_vec_ok(q.big) and self._span_vec_ok(q.little)
        if isinstance(q, Q.FieldMaskingSpanQuery):
            return self._span_vec_ok(q.query)
        return False

    def _span_streams_vec(self, q: Q.SpanQuery, cand: np.ndarray):
        """(docs, starts, ends, widths) emission stream of q restricted to
        candidate docs — global order: docs ascending, per-doc order: the
        faithful _doc_spans emission order (which is (start, end)-sorted at
        every node: term starts are distinct per doc, Or sorts, filters and
        the big/little pointers preserve order).

        Each combinator is the closed form of its per-doc pointer loop over
        composite (doc << 32) + position keys: doc-dominance makes one
        global searchsorted (or running max) equal the per-doc monotone
        pointer in every doc at once. The Within pointer skips bigs with
        end < little.end and never rewinds, so after any prefix of littles
        it sits at the first big whose end reaches the RUNNING MAX of
        little ends seen so far (induction: a smaller target can't move a
        pointer that already cleared a larger one) — one searchsorted over
        the running max of big composite ends. SpanNot's overlap test is a
        prefix query: excludes with start < include.end form a composite
        prefix, and overlap exists iff that prefix's running-max end passes
        include.start (earlier docs' maxima sit below doc << 32 and can
        never trigger). Reference behavior contracts: SpanNotQuery.java,
        SpanContainingQuery.java:70-90, SpanWithinQuery.java:80-100,
        SpanPositionRangeQuery.java:41-48. Differential proof:
        test_span_streams_vectorized.py."""
        sh = self._POS_SHIFT
        if isinstance(q, Q.SpanTermQuery):
            d, p = self._flat_in(cand, *self.seg.flat_positions(q.term))
            return d, p, p + 1, np.zeros(p.size, dtype=np.int64)
        if isinstance(q, Q.SpanNearQuery):
            # each clause is a term or an Or-of-terms (checked by
            # _span_vec_ok): its emission stream is the key-sorted union of
            # member positions, so the walk runs unchanged on merged streams
            groups = [self._near_group(c) for c in q.clauses]
            flats = [self._group_flat_positions(g) for g in groups]
            sub = self._near_window_cut(cand, flats, q.slop, q.in_order)
            if sub.size == 0:
                return self._EMPTY_STREAM
            return self._near_kterm_stream(sub, flats, q.slop, q.in_order)
        if isinstance(q, Q.SpanOrQuery):
            parts = [self._span_streams_vec(c, cand) for c in q.clauses]
            d = np.concatenate([x[0] for x in parts])
            s = np.concatenate([x[1] for x in parts])
            e = np.concatenate([x[2] for x in parts])
            w = np.concatenate([x[3] for x in parts])
            # per-doc stable sort by (start, end); ties keep clause order
            # (the disjunction queue pops equal spans in clause order)
            order = np.lexsort((e, s, d))
            return d[order], s[order], e[order], w[order]
        if isinstance(q, Q.SpanFirstQuery):
            d, s, e, w = self._span_streams_vec(q.match, cand)
            m = (s < q.end) & (e <= q.end)
            return d[m], s[m], e[m], w[m]
        if isinstance(q, Q.SpanPositionRangeQuery):
            d, s, e, w = self._span_streams_vec(q.match, cand)
            m = (s < q.end) & (s >= q.start) & (e <= q.end)
            return d[m], s[m], e[m], w[m]
        if isinstance(q, Q.SpanNotQuery):
            d, s, e, w = self._span_streams_vec(q.include, cand)
            xd, xs, xe, _xw = self._span_streams_vec(q.exclude, cand)
            if xd.size == 0 or d.size == 0:
                return d, s, e, w
            xcs = (xd << sh) + xs
            xrm = np.maximum.accumulate((xd << sh) + xe)
            j = np.searchsorted(xcs, (d << sh) + e, side="left")
            keep = (j == 0) | (xrm[np.maximum(j, 1) - 1] <= (d << sh) + s)
            return d[keep], s[keep], e[keep], w[keep]
        if isinstance(q, Q.SpanContainingQuery):
            bd, bs, be, bw = self._span_streams_vec(q.big, cand)
            ld, ls, le, _lw = self._span_streams_vec(q.little, cand)
            if bd.size == 0 or ld.size == 0:
                return self._EMPTY_STREAM
            # per big span: partner little = first with start >= big.start
            # (the per-doc pointer is monotone in the sorted big starts);
            # emit big when that little ends inside it
            lcs = (ld << sh) + ls
            j = np.searchsorted(lcs, (bd << sh) + bs, side="left")
            ok = j < lcs.size
            jj = np.minimum(j, lcs.size - 1)
            ok &= ld[jj] == bd
            ok &= ((ld[jj] << sh) + le[jj]) <= ((bd << sh) + be)
            return bd[ok], bs[ok], be[ok], bw[ok]
        if isinstance(q, Q.SpanWithinQuery):
            bd, bs, be, _bw = self._span_streams_vec(q.big, cand)
            ld, ls, le, lw = self._span_streams_vec(q.little, cand)
            if bd.size == 0 or ld.size == 0:
                return self._EMPTY_STREAM
            brm = np.maximum.accumulate((bd << sh) + be)
            tgt = np.maximum.accumulate((ld << sh) + le)
            j = np.searchsorted(brm, tgt, side="left")
            ok = j < brm.size
            jj = np.minimum(j, brm.size - 1)
            ok &= bd[jj] == ld
            ok &= bs[jj] <= ls
            return ld[ok], ls[ok], le[ok], lw[ok]
        if isinstance(q, Q.FieldMaskingSpanQuery):
            # positions come from the REAL field's postings; only scoring
            # sees the mask (_span_stats_term)
            return self._span_streams_vec(q.query, cand)
        raise TypeError(type(q))

    def _near_window_cut(self, cand: np.ndarray, flats: list, slop: int,
                         in_order: bool) -> np.ndarray:
        """Pair-window cut for a Near over clause streams ``flats``: any
        emitted span bounds every adjacent clause pair's gap. Ordered: gaps
        sum to <= slop, so b in [a+1, a+1+slop]. Unordered: the window test
        max_end - top_start - k <= slop bounds max(p)-min(p) <= slop+k-1, so
        |b-a| <= slop+k-1 — NOT slop+1: for k >= 3 two adjacent clauses may
        sit far apart while a third stretches the window."""
        if in_order:
            return self._pair_window_cut(cand, flats, 1, 1 + slop)
        ub = slop + len(flats) - 1
        return self._pair_window_cut(cand, flats, -ub, ub)

    def eval_spans(self, q: Q.SpanQuery):
        """(docids asc, sloppy freqs) over the segment. freq = sum over spans
        of 1/(1 + width), accumulated in the scoring dtype exactly like
        SpanScorer.setFreqCurrentDoc (float32 in Lucene-parity mode)."""
        cand = self._span_candidates(q)
        if cand.size and self._span_vec_ok(q):
            d, _s, _e, w = self._span_streams_vec(q, cand)
            return self._fold_span_stream(d, w)
        if (isinstance(q, Q.SpanNearQuery) and len(q.clauses) > 1
                and all(isinstance(c, Q.SpanTermQuery) for c in q.clauses)):
            # flat term-span near with a repeated term: vectorized cut
            # before the faithful per-doc span algebra
            flats = [self.seg.flat_positions(c.term) for c in q.clauses]
            cand = self._near_window_cut(cand, flats, q.slop, q.in_order)
        return self._spans_per_doc(q, cand)

    def _spans_per_doc(self, q: Q.SpanQuery, cand: np.ndarray):
        """Faithful per-doc reference: (docids, freqs) of q over ``cand``
        through _doc_spans, the NearSpans/ContainSpans pointer ports. The
        engine reaches it only for trees _span_vec_ok refuses (a term shared
        between Near clauses, non-flattenable Near clauses); differential
        tests run it over uncut candidates."""
        acc_dt = (np.float32 if self.dtype == np.float32 else np.float64)
        docs, freqs = [], []
        for doc in cand:
            spans = self._doc_spans(q, int(doc))
            if spans:
                f = acc_dt(0.0)
                for (_s, _e, w) in spans:
                    f = acc_dt(f + (1.0 / (1.0 + w)))
                docs.append(int(doc))
                freqs.append(float(f))
        return (np.asarray(docs, dtype=np.int64),
                np.asarray(freqs, dtype=np.float64))

    # ---- intervals family (search/intervals.py) ---------------------------

    def _interval_candidates(self, src) -> np.ndarray:
        """Docs that can possibly produce intervals (structural prefilter;
        the role of ConjunctionDISI / DisjunctionDISIApproximation)."""
        seg = self.seg
        if isinstance(src, Q.ITerm):
            return seg.decode(src.term)[0]
        if isinstance(src, (Q.IOrdered, Q.IUnordered, Q.IPhrase)):
            mask = np.ones(seg.max_doc, dtype=bool)
            for s in src.sources:
                m = np.zeros(seg.max_doc, dtype=bool)
                m[self._interval_candidates(s)] = True
                mask &= m
            return np.flatnonzero(mask)
        if isinstance(src, Q.IOr):
            mask = np.zeros(seg.max_doc, dtype=bool)
            for s in src.sources:
                mask[self._interval_candidates(s)] = True
            return np.flatnonzero(mask)
        if isinstance(src, (Q.IMaxGaps, Q.IMaxWidth)):
            return self._interval_candidates(src.source)
        if isinstance(src, (Q.IContaining, Q.IContainedBy)):
            m1 = np.zeros(seg.max_doc, dtype=bool)
            m1[self._interval_candidates(src.big)] = True
            m2 = np.zeros(seg.max_doc, dtype=bool)
            m2[self._interval_candidates(src.small)] = True
            return np.flatnonzero(m1 & m2)
        raise TypeError(type(src))

    def _interval_window_cut(self, src, cand: np.ndarray) -> np.ndarray:
        """Vectorized NECESSARY-condition cut for gap-bounded all-term shapes
        (same trick as the span/sloppy families): any emitted interval bounds
        every adjacent position-stream pair's distance, so a composite-key
        searchsorted sweep removes non-candidates before the vectorized walk
        or the per-doc algebra."""
        if cand.size == 0:
            return cand

        def all_terms(s):
            return (isinstance(s, (Q.IOrdered, Q.IUnordered, Q.IPhrase))
                    and len(s.sources) > 1
                    and all(isinstance(c, Q.ITerm) for c in s.sources))

        inner, bound = src, None
        if isinstance(src, Q.IMaxGaps):
            inner, bound = src.source, ("gaps", src.gaps)
        elif isinstance(src, Q.IMaxWidth):
            inner, bound = src.source, ("width", src.width)
        if not all_terms(inner):
            return cand
        n = len(inner.sources)
        flats = [self.seg.flat_positions(c.term) for c in inner.sources]
        if isinstance(inner, Q.IPhrase):
            return self._pair_window_cut(cand, flats, 1, 1)
        if isinstance(inner, Q.IOrdered):
            if bound is None:
                return cand  # unbounded gaps: conjunction cut is all we have
            hi = 1 + bound[1] if bound[0] == "gaps" else bound[1] - 1
            if hi < 1:
                return np.zeros(0, dtype=np.int64)
            return self._pair_window_cut(cand, flats, 1, hi)
        # unordered: any two positions inside a qualifying interval differ by
        # at most width-1; width <= n + gaps (single-term subs)
        if bound is None:
            return cand
        w = n + bound[1] if bound[0] == "gaps" else bound[1]
        if w < n:
            return np.zeros(0, dtype=np.int64)
        return self._pair_window_cut(cand, flats, -(w - 1), w - 1)

    def _doc_positions(self, term: str, doc: int):
        d, _, _ = self.seg.decode(term)
        i = int(np.searchsorted(d, doc))
        if i >= d.size or d[i] != doc:
            return ()
        return self.seg.positions(term)[i]

    def _interval_counts_vec(self, src, cand: np.ndarray):
        """Vectorized minimal-interval evaluation for the all-term-leaf
        shapes (ordered / unordered / phrase, optionally under one
        maxgaps/maxwidth filter) — zero per-doc Python. Returns None when
        the shape isn't covered (per-doc algebra runs instead).

        Closed forms (differentially proven vs the faithful iterators in
        test_intervals_vectorized.py):

        ORDERED (OrderedIntervalsSource minimal semantics): the candidate
        for each first-term position a is the strict chain
        c_i = first pos_i > c_{i-1}; chain ends are monotone in a, so the
        minimal set is exactly the candidates whose SUCCESSOR (next valid a
        in the doc) lands on a strictly larger chain end — equal ends mean
        the later, shorter interval contains out the earlier one.

        UNORDERED (UnorderedIntervalsSource pq + right-extreme): with term
        leaves, positions are distinct, so at emission every sub sits at its
        first position >= the window start a, the window end is
        W(a) = max_j (first pos_j >= a), W is monotone in a, and the same
        successor dedup yields the minimal set (the pq's skipped `continue`
        iterations are exactly the equal-W candidates).

        Both have gaps = length - k (positions distinct), so a maxgaps g
        filter is length <= g + k and maxwidth w is length <= w, applied to
        the minimal set AFTER dedup (IntervalFilter wraps the minimizing
        iterator). PHRASE (BlockIntervalsSource): fixed-length adjacency ==
        the exact-phrase intersect chain; every match is minimal.

        CONTAINING / CONTAINED_BY: minimal sets are non-nested, so both
        starts AND ends ascend per doc; the FilteringIntervalIterator's
        monotone partner pointer is then one searchsorted — containing: the
        first small with ss >= bs or se >= be is the only candidate (skipped
        smalls fit no later big); contained_by: the first big with be >= se
        is the only candidate (earlier bigs end too soon, later ones start
        no earlier).

        freq = sum over emitted intervals (ascending start) of
        1/max(length - minExtent + 1, 1), folded in the scoring dtype
        exactly like the per-doc path (IntervalScorer.ensureFreq)."""
        sh = self._POS_SHIFT
        acc_dt = (np.float32 if self.dtype == np.float32 else np.float64)
        mext = IV.min_extent(src)
        if isinstance(src, (Q.IContaining, Q.IContainedBy)):
            big = self._minimal_set_vec(src.big, cand)
            small = self._minimal_set_vec(src.small, cand)
            if big is None or small is None:
                return None
            bd, bsk, bek = big
            sd, ssk, sek = small
            if bd.size == 0 or sd.size == 0:
                z = np.zeros(0, dtype=np.int64)
                return z, z.astype(np.float64)
            if isinstance(src, Q.IContaining):
                # FilteringIntervalIterator: smalls advance while
                # (ss < bs and se < be); the stop index is the first small
                # with ss >= bs OR se >= be (skipped smalls can contain no
                # later big either); emit the big iff that small fits inside
                iA = np.searchsorted(ssk, bsk, side="left")
                iB = np.searchsorted(sek, bek, side="left")
                idx = np.minimum(iA, iB)
                ok = idx < sd.size
                ix = np.minimum(idx, max(sd.size - 1, 0))
                ok &= sd.size > 0
                ok = ok & (sd[ix] == bd) & (ssk[ix] >= bsk) & (sek[ix] <= bek)
                dd, starts, ends = bd[ok], bsk[ok], bek[ok]
            else:
                # emit the small iff the first big with be >= se starts at
                # or before it (ends ascend, so earlier bigs end too soon
                # and later bigs start no earlier)
                iB = np.searchsorted(bek, sek, side="left")
                ok = iB < bd.size
                ix = np.minimum(iB, max(bd.size - 1, 0))
                ok &= bd.size > 0
                ok = ok & (bd[ix] == sd) & (bsk[ix] <= ssk)
                dd, starts, ends = sd[ok], ssk[ok], sek[ok]
        else:
            ms = self._minimal_set_vec(src, cand)
            if ms is None:
                return None
            dd, starts, ends = ms
        if dd.size == 0:
            z = np.zeros(0, dtype=np.int64)
            return z, z.astype(np.float64)
        length = (ends - starts) + 1  # same doc: high bits cancel
        w = 1.0 / np.maximum(length - mext + 1, 1).astype(np.float64)
        acc = np.zeros(self.seg.max_doc, dtype=acc_dt)
        np.add.at(acc, dd, w)  # rows ascend by (doc, start): fold order kept
        docs = np.flatnonzero(acc > 0)
        return docs, acc[docs].astype(np.float64)

    def _minimal_set_vec(self, src, cand: np.ndarray):
        """(docids, start keys, end keys) of src's minimal intervals over
        cand docs — rows sorted by (doc, start) with per-doc STRICTLY
        ascending starts and ends (minimal sets are non-nested), keys
        composite (doc<<32)+pos. None when the shape isn't covered."""
        sh = self._POS_SHIFT

        def _keys_in(term):
            d, p = self._flat_in(cand, *self.seg.flat_positions(term))
            return d, (d << sh) + p

        if isinstance(src, Q.ITerm):
            d, kk = _keys_in(src.term)
            return d, kk, kk
        if isinstance(src, (Q.IMaxGaps, Q.IMaxWidth)):
            inner = src.source
            ms = self._minimal_set_vec(inner, cand)
            if ms is None:
                return None
            dd, starts, ends = ms
            length = (ends - starts) + 1
            if isinstance(src, Q.IMaxWidth):
                keep = length <= src.width
            else:
                # gaps = length - minExtent for all-term-leaf sources
                # (positions of distinct leaves are distinct in this index)
                def leaves_ok(s):
                    return isinstance(s, Q.ITerm) or (
                        isinstance(s, (Q.IOrdered, Q.IUnordered, Q.IPhrase))
                        and all(isinstance(c, Q.ITerm) for c in s.sources))
                if not leaves_ok(inner):
                    return None
                keep = (length - IV.min_extent(inner)) <= src.gaps
            return dd[keep], starts[keep], ends[keep]
        if isinstance(src, Q.IOr):
            parts = [self._minimal_set_vec(s, cand) for s in src.sources]
            if any(p is None for p in parts):
                return None
            dd = np.concatenate([p[0] for p in parts])
            ss = np.concatenate([p[1] for p in parts])
            ee = np.concatenate([p[2] for p in parts])
            if dd.size == 0:
                return dd, ss, ee
            order = np.lexsort((ee, ss))  # composite keys: doc-dominant
            dd, ss, ee = dd[order], ss[order], ee[order]
            # the same interval surfacing from two subs emits once
            # (the queue pops the second as containing the first)
            dup = np.zeros(ss.size, dtype=bool)
            dup[1:] = (ss[1:] == ss[:-1]) & (ee[1:] == ee[:-1])
            dd, ss, ee = dd[~dup], ss[~dup], ee[~dup]
            # DisjunctionIntervalsSource (queue by end asc, start desc,
            # suppressing intervals that contain the last emission) emits
            # exactly the containment-minimal antichain of the union: the
            # lazy last-emission check is complete because emission starts
            # and ends both strictly ascend, so containing ANY earlier
            # emission implies containing the last (intervals.py:273-332).
            # In (start, end)-sorted distinct rows, X strictly contains a
            # LATER row iff some suffix end <= X.end (equal starts sort
            # ascending ends, so their suffix ends exceed X's), and an
            # EARLIER row iff one shares X's start; later-doc suffix ends
            # sit above doc<<32 and never trigger.
            first = np.ones(ss.size, dtype=bool)
            first[1:] = ss[1:] != ss[:-1]
            sufmin = np.empty(ee.size, dtype=np.int64)
            sufmin[-1] = np.iinfo(np.int64).max
            if ee.size > 1:
                sufmin[:-1] = np.minimum.accumulate(ee[::-1])[::-1][1:]
            keep = first & (sufmin > ee)
            return dd[keep], ss[keep], ee[keep]
        if not (isinstance(src, (Q.IOrdered, Q.IUnordered, Q.IPhrase))
                and all(isinstance(s, Q.ITerm) for s in src.sources)):
            return None
        terms = [s.term for s in src.sources]
        k = len(terms)
        if isinstance(src, Q.IPhrase):
            flats = [self.seg.flat_positions(t) for t in terms]
            keys = self._exact_phrase_keys(flats)
            dd = keys >> sh
            m = np.isin(dd, cand)
            keys, dd = keys[m], dd[m]
            return dd, keys, keys + (k - 1)
        if k < 2 or len(set(terms)) != k:
            return None  # repeated terms: shared streams, keep per-doc
        flats = [_keys_in(t) for t in terms]
        if any(f[1].size == 0 for f in flats):
            z = np.zeros(0, dtype=np.int64)  # a clause absent from cand:
            return z, z.copy(), z.copy()     # no intervals anywhere
        if isinstance(src, Q.IOrdered):
            dA, kA = flats[0]
            ok = np.ones(kA.size, dtype=bool)
            prev = kA
            for ci in range(1, k):
                kc = flats[ci][1]
                r = np.searchsorted(kc, prev + 1, side="left")
                a = r < kc.size
                sv = kc[np.minimum(r, kc.size - 1)]
                a &= (sv >> sh) == (kA >> sh)
                ok &= a
                prev = sv
            starts, ends, dd = kA[ok], prev[ok], dA[ok]
        else:  # IUnordered
            dd = np.concatenate([f[0] for f in flats])
            aa = np.concatenate([f[1] for f in flats])
            order = np.argsort(aa, kind="stable")
            dd, aa = dd[order], aa[order]
            ok = np.ones(aa.size, dtype=bool)
            ww = np.zeros(aa.size, dtype=np.int64)
            for j in range(k):
                kj = flats[j][1]
                r = np.searchsorted(kj, aa, side="left")
                a = r < kj.size
                mv = kj[np.minimum(r, kj.size - 1)]
                a &= (mv >> sh) == (aa >> sh)
                ok &= a
                ww = np.maximum(ww, mv)
            starts, ends, dd = aa[ok], ww[ok], dd[ok]
        if starts.size == 0:
            return starts, starts, starts
        # minimal-set dedup: drop a candidate whose successor (same doc,
        # next valid start) has an EQUAL end — rows are (doc, start)-sorted
        # and invalid rows form a per-doc suffix, so adjacency is preserved
        keep = np.ones(starts.size, dtype=bool)
        same_doc = dd[:-1] == dd[1:]
        keep[:-1] = ~same_doc | (ends[1:] > ends[:-1])
        return dd[keep], starts[keep], ends[keep]

    def eval_intervals(self, q: "Q.IntervalQuery"):
        """(docids asc, interval freqs) over the segment. freq = sum over
        minimal intervals of 1/max(length - minExtent + 1, 1), accumulated in
        the scoring dtype (IntervalScorer.ensureFreq, float32 `freq` field)."""
        src = q.source
        cand = self._interval_candidates(src)
        cand = self._interval_window_cut(src, cand)
        if cand.size:
            out = self._interval_counts_vec(src, cand)
            if out is not None:
                return out
        return self._intervals_per_doc(src, cand)

    def _intervals_per_doc(self, src, cand: np.ndarray):
        """Faithful per-doc reference: (docids, freqs) of the interval
        source over ``cand`` through the lazy iterators of intervals.py.
        The engine reaches it only for sources _interval_counts_vec refuses
        (repeated terms, non-term leaves under ordered/unordered, maxgaps
        over an or); differential tests run it over uncut candidates."""
        acc_dt = (np.float32 if self.dtype == np.float32 else np.float64)
        mext = IV.min_extent(src)
        docs, freqs = [], []
        for doc in cand:
            di = int(doc)
            ivs = IV.doc_intervals(
                src, lambda t: self._doc_positions(t, di))
            if ivs:
                f = acc_dt(0.0)
                for (s, e) in ivs:
                    f = acc_dt(f + 1.0 / max((e - s + 1) - mext + 1, 1))
                docs.append(di)
                freqs.append(float(f))
        return (np.asarray(docs, dtype=np.int64),
                np.asarray(freqs, dtype=np.float64))


# ---------------------------------------------------------------------------
# top-k collection
# ---------------------------------------------------------------------------

def top_k_from_scored(docids: np.ndarray, scores: np.ndarray, k: int):
    """HitQueue order: score desc, docid asc (HitQueue.java:74-78)."""
    if docids.size == 0:
        return docids, scores
    if docids.size > k:
        order = np.lexsort((docids, -scores.astype(np.float64)))[:k]
    else:
        order = np.lexsort((docids, -scores.astype(np.float64)))
    return docids[order], scores[order]


def segment_top_k(seg: SegmentIndex, stats: bm25.BM25Stats,
                  global_df: Dict[str, int], q: Q.Query, k: int,
                  pruning: bool = True,
                  total_hits_threshold: int = TOTAL_HITS_THRESHOLD,
                  counters: dict | None = None, after: tuple | None = None):
    """Per-segment search. Returns (docids, scores, hits, hits_exact).

    With pruning, every shape _block_max_shape accepts (term, SHOULD-of-terms,
    MUST-of-terms [+SHOULD], dismax-of-terms) runs the one block-max walk,
    which provably returns the exhaustive top-k; everything else (and
    pruning=False, the reference) scores exhaustively.
    after=(score, doc_floor) is searchAfter on this leaf: only docs scoring
    below `score`, or equal to it with docid > doc_floor, are collected;
    `hits` still counts every match. counters (optional dict) receives
    chunks_total/chunks_visited for pruning-rate telemetry."""
    q = _push_boost(q, 1.0)
    if pruning:
        shape = _block_max_shape(q)
        if shape is not None:
            return _block_max_top_k(seg, stats, global_df, *shape, k,
                                    total_hits_threshold, counters, after)
    docids, scores = Scorer(seg, stats, global_df).eval_scored(q)
    hits = int(docids.size)
    if after is not None:
        keep = _after_mask(docids, scores, after)
        docids, scores = docids[keep], scores[keep]
    d, s = top_k_from_scored(docids, scores, k)
    return d, s, hits, True


def _after_mask(docids: np.ndarray, scores: np.ndarray, after):
    """searchAfter's competitive test within one leaf (TopScoreDocCollector's
    paging collector: score desc, then docid asc past the cursor)."""
    a_score, doc_floor = after
    sf = scores.astype(np.float64)
    return (sf < a_score) | ((sf == a_score) & (docids > doc_floor))


def _block_max_shape(q: Q.Query):
    """(must, should, tie) of [(term, boost)] lists when q is a block-max
    eligible shape, else None:
      * TermQuery, or SHOULD-of-terms with msm<=1 -> ([], terms, None)
        (WAND, Boolean2ScorerSupplier.java:204)
      * MUST-of-terms [+ SHOULD-of-terms], msm=0, no must_not/filter
        -> (must, should, None) (BlockMaxConjunctionScorer + ReqOptSum,
        chosen for scored MUST at Boolean2ScorerSupplier.java:173)
      * dismax of terms -> ([], terms, tie_breaker)"""
    def flat(clauses):
        return [(c.term, c.boost) for c in clauses]
    if isinstance(q, Q.TermQuery):
        return [], [(q.term, q.boost)], None
    if isinstance(q, Q.DisjunctionMaxQuery):
        if all(isinstance(c, Q.TermQuery) for c in q.queries):
            return [], flat(q.queries), q.tie_breaker
        return None
    if (not isinstance(q, Q.BooleanQuery) or q.must_not or q.filter
            or not all(isinstance(c, Q.TermQuery)
                       for c in (*q.must, *q.should))):
        return None
    if q.must and q.minimum_should_match == 0:
        return flat(q.must), flat(q.should), None
    if not q.must and q.should and q.minimum_should_match <= 1:
        return [], flat(q.should), None
    return None


def _paint_chunk_bounds(n_chunks: int, c0: np.ndarray, c1: np.ndarray,
                        bmax: np.ndarray):
    """Range max-paint of per-block score bounds onto chunks. Dense postings
    (the perf-critical many-block case) put each 128-doc block inside one
    4096-doc chunk, so those scatter in one np.maximum.at; only straddling
    blocks (sparse terms — few blocks) take the per-block loop."""
    tb = np.zeros(n_chunks, dtype=np.float64)
    hb = np.zeros(n_chunks, dtype=bool)
    single = c0 == c1
    if single.any():
        idx = c0[single]
        np.maximum.at(tb, idx, bmax[single].astype(np.float64))
        hb[idx] = True
    for i in np.flatnonzero(~single):
        a, b2 = int(c0[i]), int(c1[i])
        tb[a: b2 + 1] = np.maximum(tb[a: b2 + 1], np.float64(bmax[i]))
        hb[a: b2 + 1] = True
    return tb, hb


def _chunk_bounds(seg: SegmentIndex, stats, gdf, terms, n_chunks: int):
    """Per-clause chunk upper bounds from the block-max metadata, one
    (term, field stats, weight, (first, last) block docids, bound float64
    [n_chunks], has-block bool[n_chunks]) per (term, boost) clause present
    in the segment."""
    out = []
    for t, boost in terms:
        if not seg.has(t):
            continue
        st_t = _stats_for(stats, t)
        w = _weight_for(st_t, t, gdf.get(t, 0), boost)
        first, last, mf, mn = seg.block_meta(t)
        tb, hb = _paint_chunk_bounds(n_chunks, first // CHUNK, last // CHUNK,
                                     st_t.score(mf, mn, w))
        out.append((t, st_t, w, (first, last), tb, hb))
    return out


def _accum_chunk(seg, clauses, lo, hi, mx=None):
    """Decode each clause's blocks overlapping [lo, hi) into dense chunk
    arrays: (float64 score sum — Lucene's double-sum —, int32 match count).
    mx, when given, receives the per-doc max clause score (dismax)."""
    acc = np.zeros(hi - lo, dtype=np.float64)
    cnt = np.zeros(hi - lo, dtype=np.int32)
    for t, st_t, w, (first, last), _, _ in clauses:
        for bi in np.flatnonzero((first < hi) & (last >= lo)):
            d, f, n = seg.decode_block(t, int(bi))
            sel = (d >= lo) & (d < hi)
            if not sel.any():
                continue
            i = d[sel] - lo
            s = st_t.score(f[sel], n[sel], w).astype(np.float64)
            acc[i] += s
            cnt[i] += 1
            if mx is not None:
                np.maximum.at(mx, i, s)
    return acc, cnt


def _block_max_top_k(seg: SegmentIndex, stats, gdf: Dict[str, int],
                     must, should, tie, k: int, threshold: int,
                     counters: dict | None = None, after=None):
    """The chunked block-max walk for every pruned shape. A chunk is
    eligible when every MUST term has a block in it (any SHOULD term's,
    without MUST); its bound combines the clauses' block maxima as Σ, or
    max + tie·(Σ − max) for dismax — a valid upper bound of each doc's
    score. Chunks are visited in descending bound order and skipped once the
    bound falls below θ after totalHitsThreshold hits are counted. Scores
    reproduce the exhaustive path bit-for-bit: f64 sums cast to dtype,
    ReqOptSum adds the two casts (ReqOptSumScorer.java:255-265), dismax casts
    max + tie·(sum − max)."""
    dt = stats.dtype
    max_doc = seg.max_doc
    n_chunks = (max_doc + CHUNK - 1) // CHUNK
    req = _chunk_bounds(seg, stats, gdf, must, n_chunks)
    opt = _chunk_bounds(seg, stats, gdf, should, n_chunks)
    if n_chunks == 0 or len(req) < len(must) or not (req or opt):
        return (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=dt), 0, True)
    bounds = np.zeros(n_chunks, dtype=np.float64)
    for *_, tb, _ in req + opt:
        bounds += tb
    if tie is not None:
        mx = np.max([tb for *_, tb, _ in opt], axis=0)
        bounds = mx + (bounds - mx) * tie
    if req:
        eligible = np.logical_and.reduce([hb for *_, hb in req])
    else:
        eligible = np.logical_or.reduce([hb for *_, hb in opt])
    order = [int(c) for c in np.argsort(-bounds, kind="stable")
             if eligible[c]]
    if counters is not None:
        counters["chunks_total"] = counters.get("chunks_total", 0) + len(order)
    top_d = np.zeros(0, dtype=np.int64)
    top_s = np.zeros(0, dtype=dt)
    hits, exact, theta = 0, True, -np.inf
    for c in order:
        if hits >= threshold and top_d.size >= k and bounds[c] < theta:
            exact = False
            break
        if counters is not None:
            counters["chunks_visited"] = counters.get("chunks_visited", 0) + 1
        lo, hi = c * CHUNK, min((c + 1) * CHUNK, max_doc)
        if req:
            r_acc, r_cnt = _accum_chunk(seg, req, lo, hi)
            local = np.flatnonzero(r_cnt == len(req))
            if local.size == 0:
                continue
            cs = r_acc[local].astype(dt)
            if opt:
                o_acc, o_cnt = _accum_chunk(seg, opt, lo, hi)
                has_o = o_cnt[local] > 0
                cs[has_o] = (cs[has_o] + o_acc[local][has_o].astype(dt)
                             ).astype(dt)
        else:
            dmx = (None if tie is None
                   else np.full(hi - lo, -np.inf, dtype=np.float64))
            acc, cnt = _accum_chunk(seg, opt, lo, hi, dmx)
            local = np.flatnonzero(cnt)
            cs = acc[local] if tie is None else (
                dmx[local] + (acc[local] - dmx[local]) * tie)
            cs = cs.astype(dt)
        if local.size == 0:
            continue
        hits += int(local.size)
        cd = local + lo
        if after is not None:
            keep = _after_mask(cd, cs, after)
            cd, cs = cd[keep], cs[keep]
        top_d, top_s = top_k_from_scored(np.concatenate([top_d, cd]),
                                         np.concatenate([top_s, cs]), k)
        if top_d.size >= k:
            theta = float(top_s[-1])
    return top_d, top_s, hits, exact


def explain(seg: SegmentIndex, stats: bm25.BM25Stats, gdf: Dict[str, int],
            q: Q.Query, docid: int) -> dict:
    """Score decomposition for one (segment, docid) — the Explanation tree
    analog (BM25Similarity.java:267-294 / Explanation.java). The `value` at
    every node is produced by the SAME kernel arithmetic as search, so
    explain(q, d)["value"] == the hit's score bit-for-bit."""
    q = _push_boost(q, 1.0)
    scorer = Scorer(seg, stats, gdf)

    def node(sub: Q.Query) -> dict:
        d, s = scorer.eval_scored(sub)
        i = np.searchsorted(d, docid)
        matched = bool(i < d.size and d[i] == docid)
        value = float(s[i]) if matched else 0.0
        if isinstance(sub, Q.TermQuery):
            fld = field_of(sub.term, "text")
            shown = bare_term(sub.term)
            if not matched:
                return {"value": 0.0, "match": False,
                        "description": f"no matching term {shown!r}"}
            st_t = _stats_for(stats, sub.term)
            if not isinstance(st_t, bm25.BM25Stats):
                return {"value": value, "match": True,
                        "description": f"weight({fld}:{shown} in {docid}) "
                                       f"[{type(st_t).__name__}]"}
            dd, ff, nn = seg.decode(sub.term)
            j = int(np.searchsorted(dd, docid))
            freq = int(ff[j])
            norm_b = int(nn[j])
            n = gdf.get(sub.term, 0)
            N = st_t.doc_count
            idf_v = float(bm25.idf(n, N, dtype=st_t.dtype))
            from ..functions.smallfloat import BYTE4_DECODE_TABLE
            dl = int(BYTE4_DECODE_TABLE[norm_b])
            return {
                "value": value, "match": True,
                "description": f"weight({fld}:{shown} in {docid}) "
                               f"[BM25Similarity], computed as boost * idf * tf",
                "details": [
                    {"value": sub.boost, "description": "boost"},
                    {"value": idf_v,
                     "description": "idf, computed as log(1 + (N - n + 0.5) / "
                                    "(n + 0.5))",
                     "details": [
                         {"value": n, "description":
                          "n, number of documents containing term"},
                         {"value": N, "description":
                          "N, total number of documents with field"}]},
                    {"value": value / (sub.boost * idf_v) if idf_v else 0.0,
                     "description": "tf, computed as freq / (freq + k1 * (1 - "
                                    "b + b * dl / avgdl))",
                     "details": [
                         {"value": freq, "description": "freq"},
                         {"value": st_t.k1, "description": "k1"},
                         {"value": st_t.b, "description": "b"},
                         {"value": dl, "description":
                          "dl, length of field (quantized via SmallFloat)"},
                         {"value": float(st_t.avgdl), "description":
                          "avgdl, average length of field"}]},
                ],
            }
        out = {"value": value, "match": matched,
               "description": f"{type(sub).__name__}, sum/combination of:"}
        children = []
        if isinstance(sub, Q.BooleanQuery):
            children = list(sub.must) + list(sub.should)
        elif isinstance(sub, Q.DisjunctionMaxQuery):
            children = list(sub.queries)
        elif isinstance(sub, (Q.PhraseQuery, Q.SynonymQuery)):
            out["description"] = (f"{type(sub).__name__}"
                                  f"({' '.join(sub.terms)}), multi-term score")
        elif isinstance(sub, Q.ConstantScoreQuery):
            out["description"] = f"ConstantScore(boost={sub.boost})"
        if children:
            out["details"] = [node(c) for c in children]
        return out

    return node(q)


def merge_top_k(per_segment, k: int, seg_ords=None):
    """Cross-segment TopDocs.merge analog: score desc, then segment order, then
    docid (TopDocs.java:80-83). per_segment: [(segment_id, docids, scores)].

    seg_ords: optional {segment_id: position-in-SegmentInfos}. After a merge
    the merged segment replaces its participants at the FIRST participant's
    position (SegmentInfos.applyMergeChanges), so segment order is the
    catalog's `ord`, not numeric segment_id; None falls back to segment_id
    (correct for never-merged indexes)."""
    key = ((lambda x: (seg_ords[x[0]], x[0])) if seg_ords is not None
           else (lambda x: x[0]))
    rows = []
    for seg_ord, (segment_id, d, s) in enumerate(
            sorted(per_segment, key=key)):
        for i in range(len(d)):
            rows.append((-float(s[i]), seg_ord, int(d[i]), int(segment_id),
                         float(s[i])))
    rows = heapq.nsmallest(k, rows)
    return [(segment_id, docid, score) for (_, _, docid, segment_id, score)
            in rows]
