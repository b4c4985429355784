"""Steadiness command: repeat each workload and summarise every metric.

    python3 perfbench/steady.py --runs 10 --sets 2 --seconds 6
    python3 perfbench/steady.py --runs 3 --sets 1 --trace   # + traced runs

Runs `perfbench/run.py` as a fresh process per (set, run, workload), seeds
seed0 + set * runs + run, workloads interleaved. For each end-to-end metric
and set it prints the median, the quartiles (statistics.quantiles, n=4) and
the spread (q3 - q1) / median; with two sets, the shift of the second median
against the first in the metric's worse direction. With --trace every run is
repeated traced, and the per-layer medians plus the tracing overhead (traced
end-to-end median / untraced median - 1) are printed too. Raw results go to
.bench_out/steady-<time>.json. Bounds in BENCHMARK.json are set from this
output (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}")
    out = {"workload": workload, "seed": seed, "trace": trace, "wall": wall,
           "result": json.loads(lines[-1])}
    for line in lines[:-1]:
        tag, _, rest = line.partition(" ")
        if tag in ("host", "e2e_under_trace"):
            out[tag] = json.loads(rest)
        elif tag == "wall":
            out["wall_times"] = {k: {"value": v} for k, v in json.loads(rest).items()}
    return out


def spread(vals: list[float]) -> tuple[float, float, float, float]:
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return med, q1, q3, (q3 - q1) / med


def better_of() -> dict:
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


def summarise(runs: list[dict], key: str, spec: dict) -> None:
    workloads = sorted({r["workload"] for r in runs})
    sets = sorted({r["set"] for r in runs})
    for w in workloads:
        print(f"\n== {w} ({key})")
        print(f"{'metric':34s} " + " ".join(
            f"{'med' + str(s):>11s} {'q1':>10s} {'q3':>10s} {'spread':>7s}"
            for s in sets) + ("  shift  bound" if len(sets) > 1 else ""))
        names = sorted({m for r in runs if r["workload"] == w
                        for m in _metrics(r, key)})
        for name in names:
            cols, meds = [], []
            for s in sets:
                vals = [_metrics(r, key)[name]["value"] for r in runs
                        if r["workload"] == w and r["set"] == s
                        and name in _metrics(r, key)]
                if len(vals) < 2:
                    cols.append(f"{vals[0] if vals else float('nan'):11.4g}"
                                f" {'':>10s} {'':>10s} {'':>7s}")
                    meds.append(vals[0] if vals else float("nan"))
                    continue
                med, q1, q3, sp = spread(vals)
                meds.append(med)
                cols.append(f"{med:11.4g} {q1:10.4g} {q3:10.4g} {sp:7.3f}")
            line = f"{name:34s} " + " ".join(cols)
            if len(sets) > 1 and name in spec:
                sign = 1 if spec[name]["better"] == "lower" else -1
                shift = sign * (meds[-1] - meds[0]) / meds[0]
                line += f" {shift:+6.3f} {spec[name].get('bound', '')}"
            print(line)
        fails = [(r["result"]["attempted"], r["result"]["failed"],
                  r["result"]["correct"]) for r in runs if r["workload"] == w]
        print(f"(attempted, failed, correct) per run: {fails}")


def _metrics(r: dict, key: str) -> dict:
    return r["result"]["metrics"] if key == "result" else r.get(key, {})


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default="search-static,nrt-update")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    spec = better_of()
    runs, traced = [], []
    for s in range(args.sets):
        for i in range(args.runs):
            seed = args.seed0 + s * args.runs + i
            for w in workloads:
                r = run_once(w, seed, args.seconds, 0)
                r["set"] = s
                runs.append(r)
                print(f"set {s} run {i} {w} seed {seed}: {r['wall']:.0f}s "
                      f"host {r.get('host')}", file=sys.stderr, flush=True)
                if args.trace:
                    t = run_once(w, seed, args.seconds, 1)
                    t["set"] = s
                    traced.append(t)
    summarise(runs, "result", spec)
    summarise(runs, "wall_times", spec)
    if traced:
        summarise(traced, "result", spec)
        summarise(traced, "e2e_under_trace", spec)
        print("\n== tracing overhead (traced e2e median / untraced - 1)")
        for w in workloads:
            for name in sorted(runs[0]["result"]["metrics"]):
                a = [r["result"]["metrics"][name]["value"] for r in runs
                     if r["workload"] == w]
                t = [r["e2e_under_trace"][name]["value"] for r in traced
                     if r["workload"] == w]
                print(f"{w:14s} {name:28s} "
                      f"{statistics.median(t) / statistics.median(a) - 1:+.3f}")
    walls = [r["wall"] for r in runs]
    print(f"\nrun wall: median {statistics.median(walls):.1f}s, "
          f"max {max(walls):.1f}s, total {sum(walls):.0f}s")
    out = os.path.join(os.path.dirname(HERE), ".bench_out",
                       f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"runs": runs, "traced": traced}, fh, indent=1)
    print(f"raw results: {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
