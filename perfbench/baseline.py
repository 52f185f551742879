#!/usr/bin/env python3
"""Measure the committed baseline: two sets of untraced runs, one traced run.

    python3 perfbench/baseline.py

Run it from the repository root. For every workload in BENCHMARK.json it
makes two sets of ten untraced runs of `run_seconds` each (set A: seeds
1-10, set B: seeds 11-20; set A of every workload runs before set B), then
one traced run (seed 1). It rewrites `perfbench/baseline/` from scratch:

- `baseline.json`: per workload, every run (set, seed, wall s, rounds,
  regime, whether other work on the machine inflated it, and each
  metric's value and sample count); per end-to-end metric and set the
  median, quartiles and spread = (q3 - q1) / median over all ten runs,
  inflated ones included; how much worse set B's median is than set A's;
  the per-layer values of the traced run and the tracing overhead
  (traced value / median of all untraced runs - 1);
- `traced-<workload>.json`: the traced run's full record.
"""
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import run as bench  # noqa: E402

RUNS = 10
SETS = {"A": 1, "B": 1 + RUNS}   # set name -> first seed
OUT = os.path.join(BENCH, "baseline")


def one(workload, seed, seconds, trace, sidecar=None):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if sidecar:
        cmd += ["--sidecar", sidecar]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1]), wall


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "runs": len(values)}


def main():
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    workloads = [w["name"] for w in spec["workloads"]]
    runs = {w: [] for w in workloads}
    for name, first in SETS.items():
        for w in workloads:
            for seed in range(first, first + RUNS):
                detail, res, wall = one(w, seed, seconds, 0)
                reg = detail["regime"]
                runs[w].append({
                    "set": name, "seed": seed, "wall_s": wall, "rounds": detail["rounds"],
                    "regime": reg, "inflated": bench.inflated(reg),
                    "values": {k: m["value"] for k, m in res["metrics"].items()},
                    "sample_counts": {k: detail["sample_counts"][k] for k in res["metrics"]}})
                print(f"{name} {w} seed {seed}: {wall:.0f}s rounds {detail['rounds']} "
                      f"steal {reg['steal_share']} load {reg['load_inflation']}", file=sys.stderr)

    os.makedirs(OUT, exist_ok=True)
    report = {"seconds": seconds, "runs_per_set": RUNS,
              "sets": {n: [f, f + RUNS - 1] for n, f in SETS.items()}, "workloads": {}}
    for w in workloads:
        e2e = {}
        for m in spec["end_to_end"]:
            k = m["name"]
            per = {n: stats([r["values"][k] for r in runs[w] if r["set"] == n]) for n in SETS}
            a, b = per["A"]["median"], per["B"]["median"]
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            e2e[k] = {"unit": m["unit"], "bound": m["bound"], "sets": per,
                      "b_worse_than_a": worse}
        sidecar = os.path.join(OUT, f"traced-{w}.json")
        _, traced, twall = one(w, 1, seconds, 1, sidecar=sidecar)
        with open(sidecar) as fh:
            traced_e2e = json.load(fh)["metrics"]["_end_to_end"]
        report["workloads"][w] = {
            "end_to_end": e2e,
            "per_layer": {k: m["value"] for k, m in traced["metrics"].items()},
            "tracing_overhead": {k: v / statistics.median(r["values"][k] for r in runs[w]) - 1
                                 for k, v in traced_e2e.items()},
            "traced_run_wall_s": twall,
            "inflated_runs": [f"{r['set']}:{r['seed']}" for r in runs[w] if r["inflated"]],
            "runs": runs[w],
        }
        print(json.dumps({w: {k: [round(v["sets"]["A"]["spread"], 3), round(v["sets"]["B"]["spread"], 3),
                                  round(v["b_worse_than_a"], 3)] for k, v in e2e.items()}}),
              file=sys.stderr)
    with open(os.path.join(OUT, "baseline.json"), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
