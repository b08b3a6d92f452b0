#!/usr/bin/env python3
"""Steadiness tool: runs each workload repeatedly, one seed per run, and
prints each end-to-end metric's median and quartile spread (the distance
between the first and third quartiles as a share of the median), held to
the metric's bound in BENCHMARK.json. With --sets 2 it makes two sets of
runs, interleaved run by run so that a slow phase of the host falls on
both, and also holds the change of each median between the sets to the
bound.

    python3 perfbench/steady.py --runs 10 --sets 2 [--workload W ...] [--first-seed 1]

Every metric, `setup_s` included, is held to its bound: a spread at or
below a third of the bound is steady, above the bound the metric cannot
gate a change. Exits 1 if any bound is broken. Results also go to
perfbench/work/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def worsening(first, second, better):
    """How much worse `second` is than `first`, as a share of `first`
    (negative when it is better)."""
    change = (second - first) / first if first else 0.0
    return change if better == "lower" else -change


def verdict(spread_, bound):
    return "steady" if spread_ <= bound / 3 else "within bound" if spread_ <= bound else "UNSTEADY"


def run_once(workload, seed, seconds, trace=0):
    """One benchmark run; returns its result line and wall seconds."""
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    if r.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1]), time.time() - t0


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per workload and set")
    ap.add_argument("--sets", type=int, default=1, help="interleaved sets of runs")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable); default: all in BENCHMARK.json")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    spec = {m["name"]: m for m in bench["end_to_end"]}
    # values[w][set][metric] -> list; set s uses seeds first_seed + s*runs + i
    values = {w: [{k: [] for k in spec} for _ in range(a.sets)] for w in workloads}
    failed = {w: 0 for w in workloads}
    walls = {w: [] for w in workloads}
    for i in range(a.runs):
        for w in workloads:
            for s in range(a.sets):
                seed = a.first_seed + s * a.runs + i
                res, wall = run_once(w, seed, bench["run_seconds"])
                walls[w].append(wall)
                failed[w] += res["failed"]
                for k in spec:
                    values[w][s][k].append(res["metrics"][k]["value"])
                print(f"{w} set={s + 1} seed={seed} wall={wall:.1f}s correct={res['correct']} "
                      + " ".join(f"{k}={res['metrics'][k]['value']:.4g}" for k in spec), flush=True)

    ok = True
    report = {}
    for w in workloads:
        report[w] = {"failed_ops": failed[w], "wall_s": walls[w], "metrics": {}}
        print(f"\n{w}: {a.sets} x {a.runs} runs, {failed[w]} failed ops, wall per run "
              f"median {statistics.median(walls[w]):.1f}s max {max(walls[w]):.1f}s")
        for k, m in spec.items():
            b = m["bound"]
            sets = [dict(zip(("median", "spread"), spread(values[w][s][k])), values=values[w][s][k])
                    for s in range(a.sets)]
            for st in sets:
                st["verdict"] = verdict(st["spread"], b)
                ok &= st["spread"] <= b
            line = "  ".join(f"set {s + 1}: median {st['median']:>10.5g} spread {st['spread']:7.2%} "
                             f"{st['verdict']}" for s, st in enumerate(sets))
            entry = {"bound": b, "sets": sets}
            if a.sets > 1:
                worse = worsening(sets[0]["median"], sets[-1]["median"], m["better"])
                entry["median_worsening"] = worse
                ok &= worse <= b
                line += f"  | set {a.sets} vs 1: {worse:+7.2%} worse " + \
                        ("agree" if worse <= b else "DISAGREE")
            report[w]["metrics"][k] = entry
            print(f"  {k:<14} bound {b:.0%}  {line}")
        print(flush=True)
    print("all bounds met" if ok else "SOME BOUNDS BROKEN")
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    with open(os.path.join(HERE, "work", "steady.json"), "w") as f:
        json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
