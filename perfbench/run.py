"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload search-static --seed 1 --seconds 6 \
        --trace 0

Run from the repository root. Everything the run writes (index, inputs,
Spark scratch, trace file) stays under ./.bench_work and ./.bench_out; the
index and scratch are deleted at the end. With --trace 0 the last stdout
line holds the end-to-end metrics, with --trace 1 the per-layer metrics (the
traced run's own end-to-end numbers go on an earlier `e2e_under_trace` line).
Two lines before the result are not metrics: `wall` holds wall-clock
figures of the same operations, and `host` records nproc, load, steal, the
calibration loop and the git sha, so host drift can be told from a code
change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

PACKAGE = "lucene_7_x_9_x_spark"


# --- host facts -----------------------------------------------------------------

def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def calibration_s() -> float:
    """A fixed single-thread Python loop; its time tracks host speed."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t0


def git_sha(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.isfile(head):
        return "none"
    with open(head) as fh:
        ref = fh.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(root, ".git", ref[5:])
    if os.path.isfile(path):
        with open(path) as fh:
            return fh.read().strip()
    packed = os.path.join(root, ".git", "packed-refs")
    if os.path.isfile(packed):
        with open(packed) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref[5:]):
                    return line.split()[0]
    return "unknown"


class HostFacts:
    def __init__(self, root: str):
        self.root = root
        self.cpu0 = _cpu_times()
        self.calib0 = calibration_s()
        self.load0 = os.getloadavg()[0]

    def finish(self) -> dict:
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self.cpu0, cpu1)]
        return {
            "nproc": os.cpu_count(),
            "load1_start": round(self.load0, 2),
            "load1_end": round(os.getloadavg()[0], 2),
            "steal_frac": round(delta[7] / max(1, sum(delta)), 4),
            "calib_start_s": round(self.calib0, 4),
            "calib_end_s": round(calibration_s(), 4),
            "git_sha": git_sha(self.root),
        }


# --- environment -------------------------------------------------------------------

def prepare_env(root: str, work: str) -> None:
    """Keep Spark and Python scratch inside the checkout and let Spark's
    Python workers import the engine from it."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile
    tempfile.tempdir = tmp
    sys.path.insert(0, root)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


# --- per-layer metrics (traced run) ------------------------------------------------

def per_layer(b, tr, base_docs: dict) -> dict:
    import tracing as T
    from lucene_7_x_9_x_spark.index.catalog import IndexCatalog
    from oracle import OracleIndex
    from workloads import to_query

    med = T.median
    ops = tr.ops

    def span_walls(name, op_ids=None):
        return [s["end"] - s["start"] for s in tr.spans
                if s["name"] == name and s["end"] is not None
                and (op_ids is None or s["op"] in op_ids)]

    sample = dict(list(base_docs.items())[:1000])
    segs = IndexCatalog(b.index_dir).live_segments()
    build, merge = ops[b.build_op], ops[b.merge_op]
    upd = [(o, ops[o]) for o in b.update_ops]
    qs = [ops[o] for o in b.timed_search_ops]
    score_s, ratios = [], []
    for searcher, spec in b.replays:
        spent, c = T.replay_kernel(searcher, to_query(spec))
        score_s.append(spent)
        if c.get("chunks_total"):
            ratios.append(c.get("chunks_visited", 0) / c["chunks_total"])
    return {
        "analysis.tokens_per_s": (
            med(T.micro_tokenize(list(sample.values())[:300])), "tokens/s"),
        "codecs.encode_postings_per_s": (
            med(T.micro_encode(OracleIndex(sample))), "postings/s"),
        "codecs.decode_postings_per_s": (
            med(T.micro_decode(b.index_dir, segs)), "postings/s"),
        "build.index_wave_s": (med(span_walls("build.index_wave")), "s"),
        "build.jobs": (build["jobs"], "count"),
        "build.shuffle_bytes_per_doc": (
            build["shuffle_write_bytes"] / b.build_docs, "B/doc"),
        "build.task_busy_s": (build["task_busy_s"], "s"),
        "build.files_written": (b.build_files, "count"),
        "catalog.commit_s": (med(span_walls("catalog.commit")), "s"),
        "writer.update_s": (med([o["wall"] for _, o in upd]), "s"),
        "writer.jobs_per_update": (med([o["jobs"] for _, o in upd]), "count"),
        "writer.delete_resolve_s": (med([
            o["wall"] - tr.child_time(i, "build.index_wave")
            - tr.child_time(i, "catalog.commit") for i, o in upd]), "s"),
        "search.open_s": (med(b.open_walls), "s"),
        "search.wall_s_per_query": (med([q["wall"] for q in qs]), "s"),
        "search.jobs_per_query": (med([q["jobs"] for q in qs]), "count"),
        "search.tasks_per_query": (med([q["tasks"] for q in qs]), "count"),
        "search.rows_read_per_query": (
            med([q["input_records"] for q in qs]), "rows"),
        "search.bytes_read_per_query": (
            med([q["input_bytes"] for q in qs]), "B"),
        "search.shuffle_bytes_per_query": (
            med([q["shuffle_write_bytes"] for q in qs]), "B"),
        "search.task_busy_s_per_query": (
            med([q["task_busy_s"] for q in qs]), "s"),
        "search.driver_s_per_query": (
            med([q["wall"] - q["job_covered_s"] for q in qs]), "s"),
        "kernel.score_s_per_query": (med(score_s), "s"),
        "kernel.blocks_visited_ratio": (med(ratios), "ratio"),
        "kernel.merge_top_k_s": (med(span_walls(
            "kernel.merge_top_k", set(b.timed_search_ops))), "s"),
        "merge.jobs": (merge["jobs"], "count"),
        "merge.shuffle_bytes_per_doc": (
            merge["shuffle_write_bytes"] / b.merge_docs, "B/doc"),
        "merge.task_busy_s": (merge["task_busy_s"], "s"),
    }


def _as_json(metrics: dict) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["search-static", "nrt-update"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # SIGTERM unwinds through the finally below: Spark and its JVM stop and
    # the scratch directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = tracer = None
    try:
        prepare_env(root, work)
        host = HostFacts(root)
        from lucene_7_x_9_x_spark.session import get_spark
        import tracing
        import workloads

        t0 = time.time()
        spark = get_spark("perfbench")
        spark_start_s = time.time() - t0
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            tracer = tracing.Tracer(spark)
            tracer.install()
        b = workloads.Bench(spark, spark_start_s, work, args.seed,
                            args.seconds, tracer)
        live, base_docs = workloads.WORKLOADS[args.workload](b)
        metrics = b.end_to_end(live)
        walls = b.wall_times()
        if tracer:
            tracer.uninstall()
            print("e2e_under_trace " + json.dumps(_as_json(metrics)))
            metrics = per_layer(b, tracer, base_docs)
            tracer.write(os.path.join(
                root, ".bench_out", f"trace-{args.workload}-{args.seed}.json"))
    finally:
        try:
            if tracer:
                tracer.uninstall()
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print("wall " + json.dumps(walls))
    print("host " + json.dumps(host.finish()))
    print(json.dumps({"correct": b.correct, "attempted": b.attempted,
                      "failed": b.failed, "metrics": _as_json(metrics)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
