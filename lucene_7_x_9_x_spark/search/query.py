"""Query AST — the analog of Lucene's immutable Query tree.

Covers the operator inventory of SURVEY §2.3: Term, Boolean (MUST / SHOULD /
FILTER / MUST_NOT / minimumNumberShouldMatch, BooleanQuery.java), Phrase
(PhraseQuery.java), Synonym (SynonymQuery.java), DisjunctionMax
(DisjunctionMaxQuery.java:47-69), Boost/ConstantScore, MatchAll/MatchNo, and the
MultiTermQuery family (Prefix/Wildcard/Regexp/Fuzzy/TermRange/TermInSet) which the
rewriter expands against the term dictionary (MultiTermQuery.java:66-100 —
CONSTANT_SCORE rewrite, the 8.x default).

All nodes are frozen dataclasses (hashable, picklable into Arrow UDF closures).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Tuple

MAX_CLAUSE_COUNT = 1024  # BooleanQuery.java:45


class Query:
    pass


@dataclass(frozen=True)
class TermQuery(Query):
    term: str
    boost: float = 1.0
    field: str | None = None  # None = the index's default field


@dataclass(frozen=True)
class BooleanQuery(Query):
    must: Tuple[Query, ...] = ()
    should: Tuple[Query, ...] = ()
    must_not: Tuple[Query, ...] = ()
    filter: Tuple[Query, ...] = ()
    minimum_should_match: int = 0
    boost: float = 1.0

    def __post_init__(self):
        n = len(self.must) + len(self.should) + len(self.must_not) + len(self.filter)
        if n > MAX_CLAUSE_COUNT:
            raise ValueError(f"maxClauseCount exceeded: {n} > {MAX_CLAUSE_COUNT}")


@dataclass(frozen=True)
class PhraseQuery(Query):
    terms: Tuple[str, ...]
    slop: int = 0
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class MultiPhraseQuery(Query):
    """Phrase with alternative terms per position (MultiPhraseQuery.java):
    slots[i] is the set of terms accepted at phrase position i."""
    slots: Tuple[Tuple[str, ...], ...]
    slop: int = 0
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class SynonymQuery(Query):
    terms: Tuple[str, ...]
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class BlendedTermQuery(Query):
    """BlendedTermQuery.BOOLEAN_REWRITE analog (BlendedTermQuery.java:42-60,
    adjustFrequencies): a SHOULD-disjunction of per-term TermQuery clauses
    where every clause scores with the BLENDED docFreq (max df across the
    set) and its own boost. This is FuzzyQuery's scored-rewrite target
    (TopTermsBlendedFreqScoringRewrite, MultiTermQuery.java:198-234) — the
    per-term boosts carry the edit-distance similarity."""
    terms_boosts: Tuple[Tuple[str, float], ...]
    boost: float = 1.0


@dataclass(frozen=True)
class DisjunctionMaxQuery(Query):
    queries: Tuple[Query, ...]
    tie_breaker: float = 0.0


@dataclass(frozen=True)
class BoostQuery(Query):
    query: Query
    boost: float


@dataclass(frozen=True)
class ConstantScoreQuery(Query):
    query: Query
    boost: float = 1.0


@dataclass(frozen=True)
class MatchAllDocsQuery(Query):
    boost: float = 1.0


@dataclass(frozen=True)
class MatchNoDocsQuery(Query):
    pass


# ---- MultiTermQuery family (expanded by rewrite.py against the term dict) ----

@dataclass(frozen=True)
class PrefixQuery(Query):
    prefix: str
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class WildcardQuery(Query):
    pattern: str  # * = any run, ? = single char (WildcardQuery.java:43-52)
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class RegexpQuery(Query):
    regexp: str
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class FuzzyQuery(Query):
    term: str
    max_edits: int = 2
    prefix_length: int = 0
    boost: float = 1.0
    max_expansions: int = 50  # FuzzyQuery.java:57 defaultMaxExpansions
    field: str | None = None


@dataclass(frozen=True)
class TermRangeQuery(Query):
    lower: str | None
    upper: str | None
    include_lower: bool = True
    include_upper: bool = True
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class TermInSetQuery(Query):
    terms: Tuple[str, ...]
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class TermPredicateQuery(Query):
    """INTERNAL: constant-score MultiTermQuery rewrite target that carries the
    term PREDICATE instead of a materialized term list, so prefix/wildcard/
    regexp/range expansion never leaves the executors (no driver collect, no
    million-literal isin — the scale guard Lucene gets from automata +
    maxClauseCount, MultiTermQuery.java:66-100). The same predicate is applied
    twice: the per-segment reader keeps the postings rows it accepts
    (Spark-side expansions push it as a Column filter instead) and the
    kernel re-evaluates it on the terms that arrive.

    kind: 'prefix' (args=(prefix,)), 'regex' (args=(anchored_pattern,)),
    'range' (args=(lower, upper, include_lower, include_upper))."""
    kind: str
    args: tuple
    boost: float = 1.0

    def matches(self, term: str) -> bool:
        if self.kind == "prefix":
            return term.startswith(self.args[0])
        if self.kind == "regex":
            import re
            return re.match(self.args[0], term) is not None
        if self.kind == "range":
            lo, hi, inc_lo, inc_hi = self.args
            if lo is not None and (term < lo or (term == lo and not inc_lo)):
                return False
            if hi is not None and (term > hi or (term == hi and not inc_hi)):
                return False
            return True
        raise ValueError(self.kind)


# ---- Spans family (o.a.l/search/spans/, SURVEY §2.3) ----------------------
# A span is a (start, end) position interval in one doc; span queries compose
# interval algebra over the positions stored in the postings.

class SpanQuery(Query):
    pass


@dataclass(frozen=True)
class SpanTermQuery(SpanQuery):
    term: str
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class SpanNearQuery(SpanQuery):
    """Clauses within `slop` total slack; ordered or unordered
    (SpanNearQuery.java)."""
    clauses: Tuple[SpanQuery, ...]
    slop: int = 0
    in_order: bool = True
    boost: float = 1.0


@dataclass(frozen=True)
class SpanOrQuery(SpanQuery):
    clauses: Tuple[SpanQuery, ...]
    boost: float = 1.0


@dataclass(frozen=True)
class SpanNotQuery(SpanQuery):
    """Spans of `include` that do not overlap any span of `exclude`
    (SpanNotQuery.java)."""
    include: SpanQuery
    exclude: SpanQuery
    boost: float = 1.0


@dataclass(frozen=True)
class SpanFirstQuery(SpanQuery):
    """Spans of `match` ending at position <= `end` (SpanFirstQuery.java)."""
    match: SpanQuery
    end: int
    boost: float = 1.0


@dataclass(frozen=True)
class SpanPositionRangeQuery(SpanQuery):
    """Spans of `match` with start >= start and end <= end
    (SpanPositionRangeQuery.java:41-48)."""
    match: SpanQuery
    start: int
    end: int
    boost: float = 1.0


@dataclass(frozen=True)
class SpanContainingQuery(SpanQuery):
    """Spans from `big` that contain at least one span of `little`
    (SpanContainingQuery.java)."""
    big: SpanQuery
    little: SpanQuery
    boost: float = 1.0


@dataclass(frozen=True)
class SpanWithinQuery(SpanQuery):
    """Spans from `little` that fall inside a span of `big`
    (SpanWithinQuery.java)."""
    big: SpanQuery
    little: SpanQuery
    boost: float = 1.0


@dataclass(frozen=True)
class FieldMaskingSpanQuery(SpanQuery):
    """Evaluate `query` against its real field's positions but report (and
    score with) `field`: collection stats + norms of the masked field, term
    statistics of the real field (FieldMaskingSpanQuery.java:30-72 javadoc).
    Lets SpanNear/SpanOr compose across fields with aligned positions."""
    query: SpanQuery
    field: str
    boost: float = 1.0


@dataclass(frozen=True)
class SpanMultiTermQueryWrapper(SpanQuery):
    """Wrap a MultiTermQuery (prefix/wildcard/regexp/fuzzy/range) for use in
    span contexts; the searcher rewrites it to a SpanOrQuery over matching
    SpanTermQueries (SpanMultiTermQueryWrapper.java:41-44,155-169).
    Documented divergence: the reference's default rewrite accepts ALL
    matching terms (an unbounded expansion); we use the TopTerms variant
    (TopTermsSpanBooleanQueryRewrite) with `max_expansions` as the priority-
    queue size — the bounded-collect scale guard the fuzzy path already uses."""
    query: Query
    max_expansions: int = 64
    boost: float = 1.0


# ---- Intervals family (o.a.l.queries.intervals, 8.x; SURVEY §2.3) ---------
# Source tree mirrors the Intervals factory surface (Intervals.java):
# term / phrase / ordered / unordered / or / maxgaps / maxwidth /
# containing / containedBy. Evaluation lives in search/intervals.py.

class IntervalsSource:
    pass


@dataclass(frozen=True)
class ITerm(IntervalsSource):
    """Intervals.term(): one interval [p, p] per position."""
    term: str


@dataclass(frozen=True)
class IPhrase(IntervalsSource):
    """Intervals.phrase(): strict adjacency block (BlockIntervalsSource)."""
    sources: Tuple[IntervalsSource, ...]


@dataclass(frozen=True)
class IOrdered(IntervalsSource):
    """Intervals.ordered(): minimal in-order non-overlapping conjunction."""
    sources: Tuple[IntervalsSource, ...]


@dataclass(frozen=True)
class IUnordered(IntervalsSource):
    """Intervals.unordered(): minimal any-order conjunction (overlaps OK)."""
    sources: Tuple[IntervalsSource, ...]


@dataclass(frozen=True)
class IOr(IntervalsSource):
    """Intervals.or(): disjunction with containment suppression."""
    sources: Tuple[IntervalsSource, ...]


@dataclass(frozen=True)
class IMaxGaps(IntervalsSource):
    """Intervals.maxgaps(): keep intervals whose gaps() <= gaps."""
    gaps: int
    source: IntervalsSource


@dataclass(frozen=True)
class IMaxWidth(IntervalsSource):
    """Intervals.maxwidth(): keep intervals with end - start + 1 <= width."""
    width: int
    source: IntervalsSource


@dataclass(frozen=True)
class IContaining(IntervalsSource):
    """Intervals.containing(): big intervals containing a small interval."""
    big: IntervalsSource
    small: IntervalsSource


@dataclass(frozen=True)
class IContainedBy(IntervalsSource):
    """Intervals.containedBy(): small intervals inside a big interval."""
    small: IntervalsSource
    big: IntervalsSource


@dataclass(frozen=True)
class IntervalQuery(Query):
    """IntervalQuery.java: matches docs where `source` produces >= 1 minimal
    interval; score = boost * saturation(freq) with freq the sloppy interval
    frequency (IntervalScorer.java:62-72). `exp=None` -> saturation function
    with `pivot` (default 1, IntervalQuery.java:76); exp set -> sigmoid."""
    source: IntervalsSource
    pivot: float = 1.0
    exp: float | None = None
    boost: float = 1.0
    field: str | None = None


def interval_terms(src: IntervalsSource) -> set:
    if isinstance(src, ITerm):
        return {src.term}
    if isinstance(src, (IPhrase, IOrdered, IUnordered, IOr)):
        out: set = set()
        for s in src.sources:
            out |= interval_terms(s)
        return out
    if isinstance(src, (IMaxGaps, IMaxWidth)):
        return interval_terms(src.source)
    if isinstance(src, (IContaining, IContainedBy)):
        return interval_terms(src.big) | interval_terms(src.small)
    raise TypeError(type(src))


def map_interval_terms(src: IntervalsSource, fn) -> IntervalsSource:
    """Rebuild the source tree with every ITerm's term mapped through `fn`
    (field qualification in the searcher's rewrite)."""
    if isinstance(src, ITerm):
        return ITerm(fn(src.term))
    if isinstance(src, (IPhrase, IOrdered, IUnordered, IOr)):
        subs = tuple(map_interval_terms(s, fn) for s in src.sources)
        return type(src)(subs)
    if isinstance(src, IMaxGaps):
        return IMaxGaps(src.gaps, map_interval_terms(src.source, fn))
    if isinstance(src, IMaxWidth):
        return IMaxWidth(src.width, map_interval_terms(src.source, fn))
    if isinstance(src, IContaining):
        return IContaining(map_interval_terms(src.big, fn),
                           map_interval_terms(src.small, fn))
    if isinstance(src, IContainedBy):
        return IContainedBy(map_interval_terms(src.small, fn),
                            map_interval_terms(src.big, fn))
    raise TypeError(type(src))


def span_terms(q: "SpanQuery") -> set:
    if isinstance(q, SpanTermQuery):
        return {q.term}
    if isinstance(q, (SpanNearQuery, SpanOrQuery)):
        out: set = set()
        for c in q.clauses:
            out |= span_terms(c)
        return out
    if isinstance(q, SpanNotQuery):
        return span_terms(q.include) | span_terms(q.exclude)
    if isinstance(q, (SpanFirstQuery, SpanPositionRangeQuery)):
        return span_terms(q.match)
    if isinstance(q, (SpanContainingQuery, SpanWithinQuery)):
        return span_terms(q.big) | span_terms(q.little)
    if isinstance(q, FieldMaskingSpanQuery):
        return span_terms(q.query)
    raise TypeError(type(q))


MULTI_TERM_TYPES = (PrefixQuery, WildcardQuery, RegexpQuery, FuzzyQuery,
                    TermRangeQuery, TermInSetQuery)


def collect_terms(q: Query) -> set:
    """All postings terms a (rewritten) query needs."""
    if isinstance(q, TermQuery):
        return {q.term}
    if isinstance(q, (PhraseQuery, SynonymQuery)):
        return set(q.terms)
    if isinstance(q, BlendedTermQuery):
        return {t for t, _ in q.terms_boosts}
    if isinstance(q, MultiPhraseQuery):
        return {t for slot in q.slots for t in slot}
    if isinstance(q, TermInSetQuery):
        return set(q.terms)
    if isinstance(q, BooleanQuery):
        out = set()
        for sub in q.must + q.should + q.must_not + q.filter:
            out |= collect_terms(sub)
        return out
    if isinstance(q, DisjunctionMaxQuery):
        out = set()
        for sub in q.queries:
            out |= collect_terms(sub)
        return out
    if isinstance(q, (BoostQuery, ConstantScoreQuery)):
        return collect_terms(q.query)
    if isinstance(q, SpanQuery):
        return span_terms(q)
    if isinstance(q, IntervalQuery):
        return interval_terms(q.source)
    return set()


def requires_positions(q: Query) -> bool:
    """True when evaluating q needs the positions channel. Mirrors the set of
    queries whose scorers call PostingsEnum.nextPosition: Phrase/MultiPhrase
    (ExactPhraseMatcher/SloppyPhraseMatcher), the Spans family, and interval
    queries. Lucene throws IllegalStateException('field \"f\" was indexed
    without position data') when such a query meets an IndexOptions.DOCS[_AND
    _FREQS] field (PhraseQuery.java / ExactPhraseMatcher); the searcher raises
    the analog before planning a doomed scan."""
    if isinstance(q, (PhraseQuery, MultiPhraseQuery, SpanQuery,
                      IntervalQuery)):
        return True
    if isinstance(q, BooleanQuery):
        return any(requires_positions(sub) for sub in
                   q.must + q.should + q.must_not + q.filter)
    if isinstance(q, DisjunctionMaxQuery):
        return any(requires_positions(sub) for sub in q.queries)
    if isinstance(q, (BoostQuery, ConstantScoreQuery)):
        return requires_positions(q.query)
    return False


def collect_predicates(q: Query) -> list:
    """All TermPredicateQuery nodes of a (rewritten) query — their predicates
    must be OR-ed into the postings scan filter."""
    if isinstance(q, TermPredicateQuery):
        return [q]
    if isinstance(q, BooleanQuery):
        out = []
        for sub in q.must + q.should + q.must_not + q.filter:
            out.extend(collect_predicates(sub))
        return out
    if isinstance(q, DisjunctionMaxQuery):
        out = []
        for sub in q.queries:
            out.extend(collect_predicates(sub))
        return out
    if isinstance(q, (BoostQuery, ConstantScoreQuery)):
        return collect_predicates(q.query)
    return []
