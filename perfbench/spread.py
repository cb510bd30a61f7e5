#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
spread: the distance between the first and third quartiles of its values
as a share of their median, beside a third of the metric's bound.

    python3 perfbench/spread.py --workload W [--workload W2 ...] --seeds 10
        [--first-seed 1] [--trace 0]

Run it from the root of a source checkout. Every run's result line is
appended to .bench_build/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    log = os.path.join(ROOT, ".bench_build", "spread.jsonl")
    ok = True
    for w in a.workload:
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", a.trace],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: run failed with status {p.returncode}")
                ok = False
                continue
            res = json.loads(lines[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, **res}) + "\n")
            if not res["correct"]:
                print(f"{w} seed {seed}: {res['failed']} of {res['attempted']} operations failed")
                ok = False
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            s = spread(vs)
            b = bounds.get(k)
            # setup_s is held to its bound only through its median across
            # sets of runs, not through its spread within one set: a run
            # sets up once, in a fresh JVM, and a repeat set-up would cost
            # a whole JVM start (and on store_mixed a whole table) per run.
            flag = "" if b is None else "median only" if k == "setup_s" else ("ok" if s < b / 3 else "WIDE")
            if flag == "WIDE":
                ok = False
            print(f"{w:14s} {k:28s} median {statistics.median(vs):10.4f} "
                  f"spread {s:6.3f}  bound/3 {b / 3 if b else float('nan'):6.3f} {flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
