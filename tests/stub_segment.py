"""In-memory segments for driver-side kernel tests (no Spark).

``segment_from_positions`` and ``segment_from_tokens`` encode real postings
blocks (docids, freqs, norms, positions) into a ``SegmentIndex`` plus its
global df map, so tests drive the same decode path the engine uses.
``FlatStubSeg`` serves only ``flat_positions``, for calling a walk directly.
``sloppy_reference`` runs the faithful per-doc sloppy matcher over uncut
candidates.
"""

from __future__ import annotations

import numpy as np

from lucene_7_x_9_x_spark.functions import smallfloat
from lucene_7_x_9_x_spark.functions.codecs import encode_posting_list
from lucene_7_x_9_x_spark.search import kernel as K
from lucene_7_x_9_x_spark.search import query as Q


def segment_from_positions(per_doc: dict, doclens: dict):
    """{docid: {term: [positions]}} -> (SegmentIndex, {term: df}).

    Positions MAY overlap across terms (synonym-stacked postings); norms
    come from ``doclens`` ({docid: length}); max_doc is the largest docid
    + 1."""
    norms = {d: int(smallfloat.int_to_byte4([n])[0])
             for d, n in doclens.items()}
    postings = {}
    for docid, tp in per_doc.items():
        for t, ps in tp.items():
            if len(ps):
                postings.setdefault(t, []).append(
                    (docid, len(ps), sorted(ps)))
    rows, gdf = {}, {}
    for t, lst in postings.items():
        lst.sort()
        d = np.array([x[0] for x in lst], dtype=np.int64)
        f = np.array([x[1] for x in lst], dtype=np.int64)
        nb = np.array([norms[x[0]] for x in lst], dtype=np.uint8)
        ps = [np.array(x[2], dtype=np.int64) for x in lst]
        rows[t] = {"df": int(d.size), "ttf": int(f.sum()),
                   "blocks": encode_posting_list(d, f, nb, ps)}
        gdf[t] = int(d.size)
    return K.SegmentIndex(rows, max(per_doc) + 1), gdf


def segment_from_tokens(docs_tokens: dict):
    """{docid: [token, ...]} -> (SegmentIndex, {term: df}); a token's
    position is its index, a doc's length its token count."""
    per_doc = {}
    for docid, toks in docs_tokens.items():
        tp = per_doc[docid] = {}
        for pos, t in enumerate(toks):
            tp.setdefault(t, []).append(pos)
    return segment_from_positions(
        per_doc, {d: len(toks) for d, toks in docs_tokens.items()})


def lengths_of(per_doc: dict) -> dict:
    """Doc lengths that just cover every position of {docid: {term: ps}}."""
    return {d: max((p for ps in tp.values() for p in ps), default=0) + 1
            for d, tp in per_doc.items()}


def sloppy_reference(sc, q):
    """(docids, freqs) of a sloppy PhraseQuery or MultiPhraseQuery through
    the faithful SloppyPhraseMatcher (Scorer._sloppy_counts) over every doc
    holding a term of each slot — no window cut, no walk."""
    seg = sc.seg
    slots = (q.slots if isinstance(q, Q.MultiPhraseQuery)
             else [(t,) for t in q.terms])
    mask = np.ones(seg.max_doc, dtype=bool)
    for slot in slots:
        m = np.zeros(seg.max_doc, dtype=bool)
        for t in slot:
            m[seg.decode(t)[0]] = True
        mask &= m
    slot_maps = [[(seg.decode(t)[0], seg.positions(t)) for t in slot]
                 for slot in slots]
    return sc._sloppy_counts(np.flatnonzero(mask), slot_maps, list(slots),
                             q.slop)


class FlatStubSeg:
    """flat_positions-only segment stub: {docid: {term: sorted positions}}."""

    def __init__(self, docs: dict):
        self.docs = docs

    def flat_positions(self, term):
        dd, pp = [], []
        for doc in sorted(self.docs):
            ps = self.docs[doc].get(term, ())
            dd.extend([doc] * len(ps))
            pp.extend(ps)
        return (np.asarray(dd, dtype=np.int64),
                np.asarray(pp, dtype=np.int64))
