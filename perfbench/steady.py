#!/usr/bin/env python3
"""Steadiness check: run sets of benchmark runs of the same code and
compare them.

    python3 perfbench/steady.py [--sets 2] [--runs 10] [--workloads a,b] [--trace 0]
                                [--first-set 1]

Each run uses its own seed (set k, run i -> seed 1000*k + i; sets are
numbered from --first-set, so a later invocation can add fresh sets). For every
workload and metric it prints the median, the first and third quartile
(Python's `statistics.quantiles(values, n=4)`), the spread
(Q3 - Q1) / median of each set, and the gap between the medians of the
first and last set as a share of the first; it also prints each set's
share of failed operations. Bounds in BENCHMARK.json are read from this
output: a metric's spread and its set-to-set gap must stay inside its
bound. The raw results, with each run's host telemetry and per-pass
times, go to `.bench_build/perfbench/steady-<first set>.json`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"run {workload} seed {seed} exited with {r.returncode}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".bench_build", "perfbench", "run", "record.json")) as f:
        rec = json.load(f)
    res["record"] = {k: rec[k] for k in ("host", "setup_s", "pass_s", "passes")}
    return res


def stats(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--first-set", type=int, default=1)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    results = {}
    for w in a.workloads.split(","):
        results[w] = []
        for k in range(a.first_set, a.first_set + a.sets):
            runs = []
            for i in range(a.runs):
                res = run_once(w, 1000 * k + i, a.seconds, a.trace)
                print(f"{w} set {k} run {i + 1}: " + " ".join(
                    f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()), flush=True)
                runs.append(res)
            results[w].append(runs)
    out = os.path.join(ROOT, ".bench_build", "perfbench", f"steady-{a.first_set}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(results, f, indent=1)

    print(f"\n{'workload':14} {'metric':28} {'set':>3} {'median':>11} {'q1':>11} {'q3':>11} "
          f"{'spread':>7} {'gap':>7} {'bound':>6}")
    for w, sets in results.items():
        for k, runs in enumerate(sets):
            share = [r["failed"] / r["attempted"] for r in runs]
            print(f"{w:14} {'failed share':28} {a.first_set + k:>3} {statistics.median(share):11.4g} "
                  f"{min(share):11.4g} {max(share):11.4g}")
        for name in sets[0][0]["metrics"]:
            first = None
            for k, runs in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in runs]
                med, q1, q3 = stats(vals)
                first = med if first is None else first
                spread = (q3 - q1) / med if med else float("nan")
                gap = (med - first) / first if first else float("nan")
                b = bounds.get(name)
                print(f"{w:14} {name:28} {a.first_set + k:>3} {med:11.5g} {q1:11.5g} {q3:11.5g} "
                      f"{spread:7.3f} {gap:7.3f} {'' if b is None else b:>6}")


if __name__ == "__main__":
    main()
