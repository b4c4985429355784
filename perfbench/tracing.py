"""Traced-run instruments, all taken from outside the engine.

* Spans: wall-clock intervals recorded around calls into the engine's public
  functions. The benchmark's own calls get spans directly; a few inner calls
  (builder.index_wave, IndexCatalog.commit, kernel.merge_top_k) are wrapped
  for the duration of the run and restored afterwards.
* Spark counters: each operation runs under its own Spark job group; after it
  ends, its jobs and stages are read from Spark's status store (works with
  the UI disabled).
* Driver-side replays and micro-measurements for layers that run inside
  Spark tasks (the scoring kernel) or below a single call (analysis, codecs).

Spans and per-operation counters stay in memory and are written as one JSON
file when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

IDLE_GROUP = "bench-idle"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self.ops: dict[str, dict] = {}
        self._restore: list = []

    # --- spans ----------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if threading.current_thread() is not threading.main_thread():
            yield               # warm-up helper threads are not traced
            return
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.time(), "end": None,
                           "parent": self._stack[-1] if self._stack else None,
                           "op": self.op_id})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def child_time(self, op_id: str, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["op"] == op_id and s["name"] == name
                   and s["end"] is not None)

    # --- operations -------------------------------------------------------------
    def begin(self, op_id: str, name: str) -> None:
        self.op_id = op_id
        self.sc.setJobGroup(op_id, name)

    def end(self, op_id: str, name: str, start: float, end: float) -> None:
        self.sc.setJobGroup(IDLE_GROUP, "")
        self.op_id = None
        rec = {"name": name, "start": start, "end": end, "wall": end - start}
        rec.update(self._spark_counters(op_id, start, end))
        self.ops[op_id] = rec

    def _as_list(self, seq):
        return list(self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def _spark_counters(self, group: str, start: float, end: float) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = self.sc.statusTracker().getJobIdsForGroup(group)
        out = {"jobs": len(jobs), "tasks": 0, "input_records": 0,
               "input_bytes": 0, "shuffle_write_bytes": 0, "task_busy_s": 0.0}
        intervals = []
        for jid in jobs:
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1000.0,
                                  done.get().getTime() / 1000.0))
            for sid in self._as_list(job.stageIds()):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:   # py4j error: stage never submitted
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["input_records"] += st.inputRecords()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["task_busy_s"] += st.executorRunTime() / 1000.0
        out["job_covered_s"] = _union(intervals, start, end)
        return out

    # --- wrappers around inner engine calls -----------------------------------
    def install(self) -> None:
        from lucene_7_x_9_x_spark.index import builder, catalog, writer
        from lucene_7_x_9_x_spark.search import kernel

        def wrap(owner, attr, span_name, also=()):
            orig = getattr(owner, attr)

            def traced(*a, **k):
                with self.span(span_name):
                    return orig(*a, **k)
            for o in (owner, *also):
                self._restore.append((o, attr, getattr(o, attr)))
                setattr(o, attr, traced)

        wrap(builder, "index_wave", "build.index_wave", also=(writer,))
        wrap(catalog.IndexCatalog, "commit", "catalog.commit")
        wrap(kernel, "merge_top_k", "kernel.merge_top_k")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": self.ops}, fh)


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- driver-side replays and micro-measurements ------------------------------

def replay_kernel(searcher, query, k: int = 10):
    """Re-run kernel.segment_top_k on the Spark driver over each segment's scanned
    posting rows: (seconds inside segment_top_k, chunk counters)."""
    from lucene_7_x_9_x_spark.search import kernel as K
    from lucene_7_x_9_x_spark.search import query as Q
    from lucene_7_x_9_x_spark.search import searcher as S

    eq = searcher._expand_query(query)
    terms = Q.collect_terms(eq)
    gdf = searcher._global_df(terms)
    stats = S._make_stats(searcher._stats_args(terms))
    pdf = searcher._term_scan(eq).toPandas()
    spent, counters = 0.0, {}
    for sid, g in pdf.groupby("segment_id"):
        seg = S._make_segment_index(g, int(sid), searcher.seg_meta,
                                    searcher._del_spec, searcher._norms_ctx())
        t0 = time.perf_counter()
        K.segment_top_k(seg, stats, gdf, eq, k, counters=counters)
        spent += time.perf_counter() - t0
    return spent, counters


def _timed_reps(fn, reps: int = 5) -> list[float]:
    """Per-repetition (work / second) of fn() -> work."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        work = fn()
        out.append(work / (time.perf_counter() - t0))
    return out


def micro_tokenize(texts: list[str]) -> list[float]:
    from lucene_7_x_9_x_spark.analysis.tokenizer import STANDARD

    def once():
        return sum(len(STANDARD.tokenize(t)) for t in texts)
    return _timed_reps(once)


def micro_encode(oracle, n_docs: int = 1000, n_terms: int = 200) -> list[float]:
    """encode_posting_list over the posting lists of the n_terms most frequent
    terms in the first n_docs oracle documents (positions included)."""
    from lucene_7_x_9_x_spark.functions.codecs import encode_posting_list

    per: dict[str, list] = defaultdict(list)
    for d in range(min(n_docs, oracle.n)):
        for t, ps in oracle.positions(d).items():
            per[t].append((d, ps))
    terms = sorted(per, key=lambda t: (-len(per[t]), t))[:n_terms]
    lists = []
    for t in terms:
        docs = np.array([d for d, _ in per[t]], dtype=np.int64)
        freqs = np.array([len(p) for _, p in per[t]], dtype=np.int64)
        pos = np.array([x for _, p in per[t] for x in p], dtype=np.int64)
        lists.append((docs, freqs, oracle.norm[docs].astype(np.uint8), pos))
    n_postings = sum(lst[0].size for lst in lists)

    def once():
        for docs, freqs, norms, pos in lists:
            encode_posting_list(docs, freqs, norms, positions=pos)
        return n_postings
    return _timed_reps(once)


def micro_decode(index_dir: str, segments: list[dict],
                 n_terms: int = 20) -> list[float]:
    """decode_blocks (with positions) over the blocks of each live segment's
    n_terms highest-df terms, read straight from the postings files."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from lucene_7_x_9_x_spark.functions.codecs import decode_blocks

    blocks, n_postings = [], 0
    for s in segments:
        path = os.path.join(index_dir, "postings", f"wave={s['wave']}",
                            f"segment_id={s['segment_id']}")
        tbl = pq.read_table(path, columns=["df", "blocks"])
        top = pc.sort_indices(tbl, [("df", "descending")])[:n_terms]
        tbl = tbl.take(top)
        n_postings += int(pc.sum(tbl["df"]).as_py())
        blocks.extend(tbl["blocks"].to_pylist())

    def once():
        for b in blocks:
            decode_blocks(b, want_positions=True)
        return n_postings
    return _timed_reps(once)


def median(xs) -> float:
    return float(statistics.median(xs))
