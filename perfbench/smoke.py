#!/usr/bin/env python3
"""The benchmark's own test: one timed round of every workload at sf 0.001.

    python3 perfbench/smoke.py

Run it from the repository root. Each workload runs untraced and traced
(`--seconds 0`: the cold round plus one timed round) on a tiny generated
fixture, with every output check on. It fails if a run exits non-zero,
reports a failed operation, or misses a metric named in BENCHMARK.json.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def main():
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {0: {m["name"] for m in spec["end_to_end"]},
            1: {m["name"] for m in spec["per_layer"]}}
    bad = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                 "--seed", "7", "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            if p.returncode != 0:
                bad.append(f"{w} trace {trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            missing = want[trace] - set(res["metrics"])
            if not res["correct"] or res["failed"] or missing:
                bad.append(f"{w} trace {trace}: correct={res['correct']} "
                           f"failed={res['failed']} missing={sorted(missing)}")
            print(f"ok {w} trace {trace}: attempted {res['attempted']}", file=sys.stderr)
    if bad:
        sys.exit("\n".join(bad))


if __name__ == "__main__":
    main()
