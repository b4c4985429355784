"""The benchmark's two workloads, driven through the engine's public API.

search-static  batch-built one-segment index, one searcher, an untimed
               warm-up over every query term and shape, then a single-client
               closed loop of seeded, shuffled rounds over that query list.
nrt-update     small base index plus one re-crawl update batch (two segments,
               deletes in the base), then rounds of: new searcher (as after a
               refresh, so its term-stats cache is cold) -> visibility search
               -> boolean AND, exact phrase and sloppy phrase on terms drawn
               fresh for the round.

With --trace 1 both workloads end with a write probe (update batches until
two segments were added, reopen, visibility search, execute_merge of the
added segments, reopen) so the writer, commit and merge layers are measured
in every traced run; the untraced run does not time writes (see README.md).

Every search result is checked (checks.py) against the oracle (oracle.py) or
the stated properties; a failed check counts its operation as failed.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import threading
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import synth
from cpu import tree_cpu_s
import tracing
from oracle import OracleIndex, sloppy_phrase_match, tokenize

from lucene_7_x_9_x_spark.index.builder import build_index
from lucene_7_x_9_x_spark.index.catalog import IndexCatalog
from lucene_7_x_9_x_spark.index.merge import execute_merge
from lucene_7_x_9_x_spark.index.writer import IndexWriter
from lucene_7_x_9_x_spark.search import query as Q
from lucene_7_x_9_x_spark.search.searcher import IndexSearcher

N_STATIC = 2000     # search-static base corpus (1 segment at 4096 docs/seg)
N_NRT = 1000        # nrt-update base corpus (1 segment)
BATCH = 100         # update batch: half new keys, half re-crawled keys
NRT_SLOP = 2        # slop of nrt-update's sloppy phrase
# Nominal wall of one timed round on the 4-core reference host. A run times
# round(--seconds / nominal) whole rounds, at least one: the same number in
# every run, whatever the host's speed at the time, so every run's means
# cover the same searches at the same point of the JIT's warm-up.
STATIC_ROUND_S = 7.0    # 12 searches
NRT_ROUND_S = 4.0       # a new searcher and 4 searches
WARM_HELPERS = 2    # extra warm-up clients beside the main one (see warm_up)
NRT_HELPER_ROUNDS = 2   # nrt-update warm-up rounds per client
TOP_K = checks.TOP_K


def to_query(spec) -> Q.Query:
    kind = spec[0]
    terms = lambda ts: tuple(Q.TermQuery(t) for t in ts)  # noqa: E731
    if kind == "term":
        return Q.TermQuery(spec[1])
    if kind == "or":
        return Q.BooleanQuery(should=terms(spec[1]))
    if kind == "and":
        return Q.BooleanQuery(must=terms(spec[1]), must_not=terms(spec[2]))
    if kind == "msm":
        return Q.BooleanQuery(should=terms(spec[1]),
                              minimum_should_match=spec[2])
    if kind == "dismax":
        return Q.DisjunctionMaxQuery(terms(spec[1]), tie_breaker=spec[2])
    if kind == "prefix":
        return Q.PrefixQuery(spec[1])
    if kind == "phrase":
        return Q.PhraseQuery(tuple(spec[1]), slop=spec[2])
    if kind == "span":
        return Q.SpanNearQuery(tuple(Q.SpanTermQuery(t) for t in spec[1]),
                               slop=spec[2], in_order=spec[3])
    raise ValueError(spec)


class LiveDocs:
    """The benchmark's own record of every live document's current text."""

    def __init__(self, docs: dict[int, str]):
        self.text = dict(docs)
        self.version = {k: 0 for k in docs}
        self.tokens = {k: tokenize(t) for k, t in docs.items()}
        self.sets = {k: set(v) for k, v in self.tokens.items()}
        self.next_key = max(docs) + 1

    def __len__(self) -> int:
        return len(self.text)

    def next_batch(self, rng, vocab, n: int):
        """n // 2 re-crawls of live keys and n // 2 new keys, as
        ({key: text}, {key: version}, re-crawled keys, new keys)."""
        keys = sorted(self.text)
        recrawl = [keys[i] for i in rng.choice(len(keys), n // 2,
                                               replace=False)]
        new = list(range(self.next_key, self.next_key + n - n // 2))
        versions = {k: self.version[k] + 1 for k in recrawl}
        versions.update({k: 0 for k in new})
        batch = {k: synth.doc_text(rng, vocab, k, v)
                 for k, v in versions.items()}
        return batch, versions, recrawl, new

    def apply(self, batch: dict[int, str], versions: dict[int, int]) -> None:
        for k, t in batch.items():
            self.text[k] = t
            self.version[k] = versions[k]
            self.tokens[k] = tokenize(t)
            self.sets[k] = set(self.tokens[k])
        self.next_key = max(self.next_key, max(batch) + 1)

    def has_all(self, key: int, terms) -> bool:
        return key in self.sets and all(t in self.sets[key] for t in terms)

    def has_phrase(self, key: int, terms) -> bool:
        if not self.has_all(key, terms):
            return False
        toks, n = self.tokens[key], len(terms)
        return any(tuple(toks[i:i + n]) == tuple(terms)
                   for i in range(len(toks) - n + 1))

    def has_sloppy(self, key: int, terms, slop: int) -> bool:
        if not self.has_all(key, terms):
            return False
        pos: dict[str, list[int]] = {}
        for i, t in enumerate(self.tokens[key]):
            pos.setdefault(t, []).append(i)
        return sloppy_phrase_match(pos, terms, slop)

    def count(self, holds) -> int:
        return sum(1 for k in self.text if holds(k))

    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.text.values())


class Update:
    """One applied update batch and the visibility search that proves it:
    a re-crawled key's new-version token, its old-version token and a new
    key's token must return exactly the re-crawled and the new key."""

    def __init__(self, live: LiveDocs, rng, vocab, n: int):
        self.batch, self.versions, self.recrawl, self.new = live.next_batch(
            rng, vocab, n)
        self.old_version = {k: live.version[k] for k in self.recrawl}

    def vis_spec(self, rng):
        k1 = self.recrawl[int(rng.integers(len(self.recrawl)))]
        k2 = self.new[int(rng.integers(len(self.new)))]
        spec = ("or", (synth.unique_token(k1, self.versions[k1]),
                       synth.unique_token(k1, self.old_version[k1]),
                       synth.unique_token(k2, 0)))
        return spec, lambda h, t, e: checks.check_exact_keys(h, t, e,
                                                             {k1, k2})


class Bench:
    """One run: operations, their checks, timings and the metrics."""

    def __init__(self, spark, spark_start_s: float, work: str, seed: int,
                 seconds: float, tracer: "tracing.Tracer | None"):
        self.spark = spark
        self.spark_start_s = spark_start_s
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.seconds = seconds
        self.tracer = tracer
        self.index_dir = os.path.join(work, "index")
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.n_ops = 0
        self._lock = threading.Lock()   # counters, while warm-up helpers run
        self.lat = {"bool": [], "phrase": []}       # wall s per search
        self.cpu = {"bool": [], "phrase": []}       # CPU s per search
        self.timed_search_ops: list[str] = []
        self.build_wall = 0.0
        self.build_cpu = 0.0
        self.build_op = None
        self.merge_op = None
        self.merge_docs = 0
        self.update_ops: list[str] = []
        self.open_walls: list[float] = []
        self.setup_s = 0.0
        self.loop_s = 0.0
        self.n_batches = 0
        self.build_docs = 0
        self.build_files = 0
        self.base_ids: list[int] = []
        self.replays: list = []     # (searcher, spec) of timed searches

    # --- operations ------------------------------------------------------------
    def op(self, name: str, fn):
        """Run fn as one counted operation: (result, wall seconds, op id);
        its CPU seconds (every process of the engine) go to self.last_cpu."""
        with self._lock:
            self.n_ops += 1
            self.attempted += 1
            op_id = f"{name}-{self.n_ops}"
        tr = self.tracer
        if tr:
            tr.begin(op_id, name)
        c0 = tree_cpu_s()
        t0 = time.time()
        try:
            if tr:
                with tr.span(name):
                    result = fn()
            else:
                result = fn()
        finally:
            t1 = time.time()
            self.last_cpu = tree_cpu_s() - c0
            if tr:
                tr.end(op_id, name, t0, t1)
        return result, t1 - t0, op_id

    def rounds(self, nominal_s: float) -> int:
        return max(1, round(self.seconds / nominal_s))

    def verdict(self, err: str | None, what) -> None:
        if err is not None:
            with self._lock:
                self.failed += 1
                self.correct = False
            print(f"CHECK FAILED {what!r}: {err}", file=sys.stderr, flush=True)

    def raised(self, what) -> None:
        """An operation that raised: failed, but its output was not wrong."""
        traceback.print_exc()
        print(f"OPERATION FAILED {what!r}", file=sys.stderr, flush=True)
        with self._lock:
            self.failed += 1

    @staticmethod
    def _hits(td):
        hits = [(int(k), float(s)) for k, s in zip(td.hits["key"],
                                                   td.hits["score"])]
        return hits, td.total_hits, td.total_hits_exact

    def search(self, searcher, spec, check, timed: bool):
        """One top-10 search; check(hits, total, exact) -> error or None."""
        q = to_query(spec)
        try:
            td, wall, op_id = self.op("search", lambda: searcher.search(
                q, k=TOP_K))
        except Exception:
            self.raised(spec)
            return
        self.verdict(check(*self._hits(td)), spec)
        if timed:
            self.lat[synth.family(spec)].append(wall)
            self.cpu[synth.family(spec)].append(self.last_cpu)
            self.timed_search_ops.append(op_id)
            if self.tracer and all(s != spec for _, s in self.replays):
                self.replays.append((searcher, spec))

    def warm_up(self, main, helper_rounds) -> None:
        """Untimed warm-up. The JVM's JIT keeps cutting a search's CPU for
        about 60 searches, so a sequential warm-up that fits in a run leaves
        the timed loop on a slope whose height differs from run to run.
        WARM_HELPERS extra clients on their own threads therefore run
        helper_rounds (a list per helper of [(spec, check), ...] rounds, each
        on a new IndexSearcher) while main() runs on this thread. Helper
        results are checked and counted; nothing here is timed or traced."""
        def helper(rounds):
            for queries in rounds:
                with self._lock:
                    self.attempted += 1
                try:
                    searcher = IndexSearcher(self.spark, self.index_dir)
                except Exception:
                    self.raised("open")
                    continue
                for spec, check in queries:
                    with self._lock:
                        self.attempted += 1
                    try:
                        td = searcher.search(to_query(spec), k=TOP_K)
                    except Exception:
                        self.raised(spec)
                        continue
                    self.verdict(check(*self._hits(td)), spec)

        threads = [threading.Thread(target=helper, args=(r,))
                   for r in helper_rounds]
        for t in threads:
            t.start()
        try:
            main()
        finally:
            for t in threads:
                t.join()

    def write_input(self, name: str, docs: dict[int, str]):
        path = os.path.join(self.work, "input", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.table({"key": pa.array(list(docs), pa.int64()),
                                 "text": pa.array(list(docs.values()))}),
                       path)
        return self.spark.read.schema("key long, text string").parquet(path)

    def build(self, docs: dict[int, str]) -> None:
        df = self.write_input("base", docs)
        _, wall, self.build_op = self.op("build", lambda: build_index(
            self.spark, df, "key", "text", self.index_dir))
        self.build_wall = wall
        self.build_cpu = self.last_cpu
        self.build_docs = len(docs)
        self.build_files = sum(
            sum(1 for f in files if f.endswith(".parquet"))
            for root in ("docs", "postings")
            for _, _, files in os.walk(os.path.join(self.index_dir, root)))
        self.base_ids = self.segment_ids()

    def segment_ids(self) -> list[int]:
        return [s["segment_id"] for s in IndexCatalog(
            self.index_dir).live_segments()]

    def open(self, live: LiveDocs | None = None):
        """A new IndexSearcher; with live, its document count is checked."""
        searcher, wall, _ = self.op("open", lambda: IndexSearcher(
            self.spark, self.index_dir))
        self.open_walls.append(wall)
        if live is not None:
            n = searcher.count(Q.MatchAllDocsQuery())
            self.verdict(None if n == len(live) else
                         f"live count {n}, want {len(live)}", "open")
        return searcher

    def update(self, writer, live: LiveDocs, vocab) -> Update:
        """update_documents of one re-crawl batch."""
        upd = Update(live, self.rng, vocab, BATCH)
        self.n_batches += 1
        df = self.write_input(f"batch{self.n_batches}", upd.batch)
        _, _, op_id = self.op("update", lambda: writer.update_documents(
            df, "key", "text"))
        self.update_ops.append(op_id)
        live.apply(upd.batch, upd.versions)
        return upd

    def merge(self, seg_ids: list[int], live: LiveDocs):
        """execute_merge; the merged segment must replace its inputs, and a
        reopened searcher must count every live document."""
        cat = IndexCatalog(self.index_dir)
        segs = {s["segment_id"]: s for s in cat.live_segments()}
        self.merge_docs = sum(segs[s]["max_doc"] for s in seg_ids)
        new_id, _, self.merge_op = self.op("merge", lambda: execute_merge(
            self.spark, self.index_dir, seg_ids))
        now = set(self.segment_ids())
        self.verdict(None if new_id in now and not now & set(seg_ids) else
                     f"live segments {sorted(now)} after merging {seg_ids}",
                     "merge")
        self.open(live)

    def write_probe(self, live: LiveDocs, vocab) -> None:
        """Traced runs only: update batches until two segments were added,
        reopen, visibility search, merge of the added segments."""
        with IndexWriter(self.spark, self.index_dir) as writer:
            while True:
                upd = self.update(writer, live, vocab)
                added = [s for s in self.segment_ids()
                         if s not in self.base_ids]
                if len(added) >= 2:
                    break
        searcher = self.open()
        self.search(searcher, *upd.vis_spec(self.rng), timed=False)
        self.merge(added, live)

    @staticmethod
    def settle() -> None:
        """End of set-up: move every object made so far out of the garbage
        collector's reach, so timed searches do not pay for sweeping the
        corpus and oracle."""
        gc.collect()
        gc.freeze()

    # --- results -----------------------------------------------------------------
    def index_bytes(self) -> int:
        """Bytes of the docs and postings files of the live segments."""
        total = 0
        for s in IndexCatalog(self.index_dir).live_segments():
            for root in ("docs", "postings"):
                d = os.path.join(self.index_dir, root, f"wave={s['wave']}",
                                 f"segment_id={s['segment_id']}")
                for dirpath, _, files in os.walk(d):
                    total += sum(os.path.getsize(os.path.join(dirpath, f))
                                 for f in files)
        return total

    def end_to_end(self, live: LiveDocs) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "build_docs_per_cpu_s": (
                self.build_docs / self.build_cpu, "docs/cpu-s"),
            "index_bytes_per_text_byte": (
                self.index_bytes() / live.text_bytes(), "B/B"),
            # means, not medians: every run times whole rounds, so each
            # family's mix of shapes is the same in every run, and a mean of
            # a few mixed shapes does not jump from one shape's cost to
            # another's as a median of them does
            "bool_query_cpu_s": (statistics.fmean(self.cpu["bool"]), "cpu-s"),
            "phrase_query_cpu_s": (
                statistics.fmean(self.cpu["phrase"]), "cpu-s"),
        }

    def wall_times(self) -> dict:
        """Wall-clock figures of the same operations, printed beside the
        metrics: on a shared host they swing with CPU steal."""
        walls = self.lat["bool"] + self.lat["phrase"]
        return {
            "build_docs_per_s": self.build_docs / self.build_wall,
            "bool_query_p50_s": tracing.median(self.lat["bool"]),
            "phrase_query_p50_s": tracing.median(self.lat["phrase"]),
            "queries_per_s": len(walls) / sum(walls),
            "timed_searches": len(walls),
            "spark_start_s": self.spark_start_s,
            "build_s": self.build_wall,
            "timed_loop_s": self.loop_s,
        }


# --- workloads -----------------------------------------------------------------

def search_static(b: Bench):
    rng = b.rng
    vocab = synth.make_vocab(rng)
    docs = synth.make_corpus(rng, vocab, N_STATIC)
    orc = OracleIndex(docs)
    specs = synth.static_queries(rng, vocab, list(docs.values()))
    index_of = {k: i for i, k in enumerate(orc.keys)}
    doc_of = index_of.__getitem__
    slop_totals: dict[tuple, dict[int, int]] = {}

    def make_check(spec):
        kind = spec[0]
        if kind == "prefix":
            p = spec[1]
            n = orc.prefix_count(p)
            return lambda h, t, e: checks.check_constant(
                h, t, e, n, lambda k: orc.prefix_match(doc_of(k), p))
        if kind in ("phrase", "span") and (kind == "span" or spec[2] > 0):
            if kind == "phrase":
                holds = lambda k: orc.sloppy_match(  # noqa: E731
                    doc_of(k), spec[1], spec[2])
            else:
                holds = lambda k: orc.span_match(  # noqa: E731
                    doc_of(k), spec[1], spec[2], spec[3])
            key = (kind, spec[1]) + tuple(spec[3:])

            def check(h, t, e):
                err = checks.check_predicate(h, holds)
                if err is None and e:
                    slop_totals.setdefault(key, {})[spec[2]] = t
                    err = checks.check_slop_monotone(slop_totals[key])
                return err
            return check
        scores = orc.scores(spec)
        return lambda h, t, e: checks.check_scored(h, t, e, scores, doc_of)

    check_of = [make_check(s) for s in specs]
    # Warm-up: one OR over every query term fills the searcher's term-stats
    # cache for the whole list, then the first query of each other shape
    # runs its plan and kernel path once.
    all_terms = tuple(sorted({t for s in specs for t in synth.terms_of(s)}))
    warm = {("or",): (("or", all_terms), make_check(("or", all_terms)))}
    for spec, check in zip(specs, check_of):
        warm.setdefault(synth.shape(spec), (spec, check))

    pairs = list(zip(specs, check_of))
    helper_rounds = [[pairs[i:] + pairs[:i]]
                     for i in range(1, 1 + WARM_HELPERS * 5, 5)]

    b.build(docs)
    searcher = b.open()
    t0 = time.time()

    def main():
        for spec, check in warm.values():
            b.search(searcher, spec, check, timed=False)
    b.warm_up(main, helper_rounds)
    b.setup_s = (b.spark_start_s + b.build_wall + b.open_walls[-1]
                 + (time.time() - t0))
    b.settle()

    t_start = time.time()
    for _ in range(b.rounds(STATIC_ROUND_S)):
        for i in rng.permutation(len(specs)):
            b.search(searcher, specs[i], check_of[i], timed=True)
    b.loop_s = time.time() - t_start

    live = LiveDocs(docs)
    if b.tracer:
        b.write_probe(live, vocab)
    return live, docs


def nrt_update(b: Bench):
    rng = b.rng
    vocab = synth.make_vocab(rng)
    docs = synth.make_corpus(rng, vocab, N_NRT)
    live = LiveDocs(docs)
    common = set(vocab.band((synth.HIGH_RANKS[0], synth.MID_RANKS[1])))
    high = vocab.band(synth.HIGH_RANKS)
    mid = vocab.band(synth.MID_RANKS)

    def round_specs(upd: Update) -> list:
        """A visibility search and three reads on terms drawn for this
        round, as [(spec, check)]; every hit's current text must hold the
        terms. Call after the update is applied to live."""
        out = [upd.vis_spec(rng)]
        must = (str(rng.choice(high)), str(rng.choice(mid)))
        n_and = live.count(lambda k: live.has_all(k, must))
        out.append((("and", must, ()), lambda h, t, e: checks.check_required(
            h, t, e, n_and, lambda k: live.has_all(k, must))))
        phrase = synth.common_bigram(rng, list(upd.batch.values()), common)
        n_ph = live.count(lambda k: live.has_phrase(k, phrase))
        out.append((("phrase", phrase, 0), lambda h, t, e:
                    checks.check_required(h, t, e, n_ph, lambda k:
                                          live.has_phrase(k, phrase))))
        sloppy = synth.pick(rng, high, 2)
        n_sl = live.count(lambda k: live.has_sloppy(k, sloppy, NRT_SLOP))
        out.append((("phrase", sloppy, NRT_SLOP), lambda h, t, e:
                    checks.check_required(h, t, e, n_sl, lambda k:
                                          live.has_sloppy(k, sloppy,
                                                          NRT_SLOP))))
        return out

    def round_(upd: Update, timed: bool) -> None:
        """A new searcher, then one round of searches on it."""
        searcher = b.open()
        for spec, check in round_specs(upd):
            b.search(searcher, spec, check, timed)

    b.build(docs)
    t0 = time.time()
    with IndexWriter(b.spark, b.index_dir) as writer:
        upd = b.update(writer, live, vocab)
    b.open(live)
    helper_rounds = [[round_specs(upd) for _ in range(NRT_HELPER_ROUNDS)]
                     for _ in range(WARM_HELPERS)]

    def main():
        for _ in range(NRT_HELPER_ROUNDS):
            round_(upd, timed=False)
    b.warm_up(main, helper_rounds)
    b.setup_s = b.spark_start_s + b.build_wall + (time.time() - t0)
    b.settle()

    t_start = time.time()
    for _ in range(b.rounds(NRT_ROUND_S)):
        round_(upd, timed=True)
    b.loop_s = time.time() - t_start

    if b.tracer:
        b.write_probe(live, vocab)
    return live, docs


WORKLOADS = {"search-static": search_static, "nrt-update": nrt_update}
