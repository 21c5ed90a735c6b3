#!/usr/bin/env python3
"""A/B the repository benchmark between two checkouts.

    python3 scripts/bench_ab.py --parent DIR --change DIR --workload W --pairs N
                                [--seed0 S] [--trace 0|1] [--out FILE]

Each pair runs `python3 perfbench/run.py --workload W --seed S --seconds 5`
once in each checkout, on the same seed (S = seed0 + pair index). The
order alternates: even pairs run the parent first, odd pairs the change
first, so a host that speeds up or slows down within a pair (or a run
that warms the file cache for the next) does not favour one side.

Prints, per metric, the parent and change medians, the median of the
per-pair change/parent ratios, how many pairs favour the change (by the
metric's `better` direction in BENCHMARK.json), and the parent's
quartile spread (Q3 - Q1) / median. With --trace 1 the per-layer metrics
are compared instead of the end-to-end ones. --out keeps every run's
JSON line.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "5", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        sys.exit(f"bench_ab: {checkout} seed {seed} exited with code {proc.returncode}")
    return json.loads(lines[-1])


def directions(checkout, trace):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["better"] for m in spec["per_layer" if trace else "end_to_end"]}


def spread(xs):
    if len(xs) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q3 - q1) / med if med else float("nan")


def pairs(args):
    runs = []
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "order": order}
        for side in order:
            pair[side] = run(getattr(args, side), args.workload, seed, args.trace)
            r = pair[side]
            print(f"pair {i} seed {seed} {side}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']}", file=sys.stderr, flush=True)
        runs.append(pair)
    return runs


def summarize(runs, better):
    print(f"{len(runs)} pairs, seeds {', '.join(str(p['seed']) for p in runs)}")
    print(f"{'metric':40} {'parent':>11} {'change':>11} {'ratio':>7} {'favour':>7} {'spread':>7}")
    for name, dirn in better.items():
        ps = [p["parent"]["metrics"].get(name, {}).get("value") for p in runs]
        cs = [p["change"]["metrics"].get(name, {}).get("value") for p in runs]
        # a layer the workload does not exercise reads 0 on both sides
        if any(v is None for v in ps + cs) or not any(ps + cs):
            continue
        ratios = [c / p for p, c in zip(ps, cs) if p]
        wins = sum((c < p) if dirn == "lower" else (c > p) for p, c in zip(ps, cs))
        ratio = statistics.median(ratios) if ratios else float("nan")
        print(f"{name:40} {statistics.median(ps):11.4g} {statistics.median(cs):11.4g} "
              f"{ratio:7.3f} {wins:3}/{len(runs):<3} {spread(ps):7.3f}")
    bad = [(p["seed"], s) for p in runs for s in ("parent", "change")
           if not p[s]["correct"] or p[s]["failed"]]
    print("every run correct with 0 failed operations" if not bad
          else f"runs with failures (seed, side): {bad}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--seed0", type=int, default=0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    runs = pairs(args)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    summarize(runs, directions(args.change, args.trace))


if __name__ == "__main__":
    main()
