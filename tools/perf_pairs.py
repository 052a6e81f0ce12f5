#!/usr/bin/env python3
"""Alternating parent/change perfbench pairs, with each metric's spread and wins.

Usage:

    python3 tools/perf_pairs.py <parent-checkout> <change-checkout> \
        --workload stream_ingest --seeds 201-210 [--seconds 12] [--trace 0] [--out runs.json]

For each seed, runs `perfbench/run.py` once in each checkout, switching which
side goes first from pair to pair. Then prints, per metric: each side's median
and quartiles, the pairs the change won (ties count for neither) and whether a
gain could be claimed: the change wins at least nine tenths of the pairs and
the medians differ by more than the distance between the parent's quartiles.
Whether lower or higher is better comes from the change checkout's
BENCHMARK.json (lower when a metric is not listed there).

Each checkout builds its own benchmark jar on its first run (see
perfbench/README.md), so build both before timing, or drop the first pair.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.exit(f"perf_pairs: {checkout} seed {seed} failed ({p.returncode}):\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions(checkout):
    try:
        with open(os.path.join(checkout, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        return {}
    return {m["name"]: m.get("better", "lower")
            for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def parse_seeds(s):
    a, _, b = s.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a or a-b, one pair per seed")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--out", help="write every run's result to this JSON file")
    args = ap.parse_args()

    runs = {"parent": [], "change": []}
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            checkout = args.parent if side == "parent" else args.change
            r = run(checkout, args.workload, seed, args.seconds, args.trace)
            runs[side].append(r)
            m = r["metrics"]
            print(f"seed {seed} {side:6s} failed={r['failed']}/{r['attempted']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(m.items())),
                  file=sys.stderr, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)

    better = directions(args.change)
    pairs = len(runs["parent"])
    names = sorted(set(runs["parent"][0]["metrics"]) & set(runs["change"][0]["metrics"]))
    print(f"{args.workload}: {pairs} pairs, seeds {args.seeds}, {args.seconds:g} s")
    print(f"{'metric':34s} {'parent median [q1, q3]':>28s} {'change median [q1, q3]':>28s}"
          f" {'won':>6s}  gain")
    for name in names:
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        lower = better.get(name, "lower") == "lower"
        won = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
        pq, cq = quartiles(p), quartiles(c)
        gain = won >= 0.9 * pairs and abs(cq[1] - pq[1]) > pq[2] - pq[0] and \
            (cq[1] < pq[1] if lower else cq[1] > pq[1])
        fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
        print(f"{name:34s} {fmt(pq):>28s} {fmt(cq):>28s} {won:>3d}/{pairs:<2d}  "
              f"{'yes' if gain else 'no'}")
    failed = {s: sum(r["failed"] for r in rs) for s, rs in runs.items()}
    attempted = {s: sum(r["attempted"] for r in rs) for s, rs in runs.items()}
    print(f"failed ops: parent {failed['parent']}/{attempted['parent']}, "
          f"change {failed['change']}/{attempted['change']}")


if __name__ == "__main__":
    main()
