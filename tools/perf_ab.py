#!/usr/bin/env python3
"""A/B the benchmark between two source checkouts in alternating pairs.

    python3 tools/perf_ab.py --base DIR --change DIR --workload W [--workload W2 ...]
        [--pairs 10] [--first-seed 1] [--trace 0|1] [--log FILE]

Pair i runs `perfbench/run.py` with seed first-seed+i once in each checkout;
even pairs run the base first, odd pairs the change first, so a drift of
the host over time does not favour one side. Every run's result line
and full record are appended to --log (default: perf_ab.jsonl in the
working directory).

For each metric of the result lines (the end-to-end ones, or the per-layer
ones with --trace 1) that is not zero throughout, and for each query's
median warm wall (`wall.<query>`, from the `detail.query_walls` of the
full record line before the result, when the workload reports it), it
prints each side's median and quartiles, how many pairs the change won
(by the metric's direction in the change's BENCHMARK.json; a tie is not a
win), and whether the gap between the medians exceeds the distance
between the base's quartiles. Exit status is non-zero when a run failed or reported failed
operations.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(vs):
    if len(vs) < 2:
        return vs[0], vs[0], vs[0]
    q1, q2, q3 = statistics.quantiles(vs, n=4)
    return q1, q2, q3


def run(checkout, workload, seed, seconds, trace):
    """One perfbench run in `checkout`: its (record, result) lines, or None on failure."""
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", trace],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  {checkout}: {workload} seed {seed} failed with status {p.returncode}", flush=True)
        return None
    return (json.loads(lines[-2]) if len(lines) > 1 else {}), json.loads(lines[-1])


def query_walls(record):
    """Each query's median warm wall in one run, as `wall.<query>` metrics."""
    walls = record.get("detail", {}).get("query_walls") or {}
    return {f"wall.{q}": {"value": statistics.median(ws)} for q, ws in walls.items() if ws}


def report(workload, pairs, better):
    """Print one line per metric over the complete (base, change) pairs."""
    names = sorted({k for b, c in pairs for k in b["metrics"] if k in c["metrics"]})
    for k in names:
        base = [b["metrics"][k]["value"] for b, _ in pairs]
        change = [c["metrics"][k]["value"] for _, c in pairs]
        if not any(base + change):
            continue  # a layer this workload leaves idle
        lower = better.get(k, "lower") == "lower"
        won = sum(1 for b, c in zip(base, change) if (c < b if lower else c > b))
        b1, b2, b3 = quartiles(base)
        c1, c2, c3 = quartiles(change)
        gap = b2 - c2 if lower else c2 - b2
        print(f"{workload:13s} {k:34s} base {b2:12.4f} [{b1:.4f}, {b3:.4f}]  "
              f"change {c2:12.4f} [{c1:.4f}, {c3:.4f}]  won {won}/{len(pairs)}  "
              f"gap {gap:+.4f} {'>' if gap > b3 - b1 else '<='} base IQR {b3 - b1:.4f}", flush=True)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--log", default="perf_ab.jsonl")
    a = ap.parse_args(argv)
    base, change = os.path.abspath(a.base), os.path.abspath(a.change)
    with open(os.path.join(change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    ok = True
    for w in a.workload:
        pairs = []
        for i in range(a.pairs):
            seed = a.first_seed + i
            sides = [("base", base), ("change", change)]
            if i % 2:
                sides.reverse()
            got = {}
            for side, checkout in sides:
                out = run(checkout, w, seed, spec["run_seconds"], a.trace)
                record, res = out if out else (None, None)
                with open(a.log, "a") as f:
                    f.write(json.dumps({"side": side, "checkout": checkout, "workload": w,
                                        "seed": seed, "trace": int(a.trace), "result": res,
                                        "record": record}) + "\n")
                if res is None:
                    ok = False
                    continue
                if not res["correct"]:
                    print(f"  {side}: {w} seed {seed}: {res['failed']} of "
                          f"{res['attempted']} operations failed", flush=True)
                    ok = False
                got[side] = {**res, "metrics": {**res["metrics"], **query_walls(record)}}
            if len(got) == 2:
                pairs.append((got["base"], got["change"]))
            print(f"  {w} pair {i + 1}/{a.pairs} (seed {seed}, {sides[0][0]} first) done", flush=True)
        if pairs:
            report(w, pairs, better)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
