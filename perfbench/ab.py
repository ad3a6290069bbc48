#!/usr/bin/env python3
"""Paired A/B comparison of two source trees on one workload.

Runs `python3 perfbench/run.py` alternately in a parent tree and a change
tree, `--pairs` times (at least 10), each run for BENCHMARK.json's
`run_seconds`. Both runs of pair i use seed i, and the side that runs first
alternates from pair to pair. For every end-to-end metric of the change
tree's BENCHMARK.json it prints each side's median and quartiles, how many
pairs the change won, and a verdict:

  better / worse  the change wins (loses) at least 9 pairs in 10, and the
                  medians differ by more than the parent's IQR;
  unresolved      either side's IQR, as a share of its median, exceeds the
                  metric's bound: too noisy to decide;
  no difference   otherwise.

Usage:
  python3 perfbench/ab.py --parent DIR --change DIR --workload W
      [--pairs 10]

Both trees need the benchmark (perfbench/run.py); give each its own
checkout, e.g. `git worktree add ../parent HEAD~1`.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def run_once(tree, workload, seed, seconds):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"ab: benchmark failed in {tree} (seed {seed}, exit {r.returncode})")
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise SystemExit(f"ab: {tree} gave wrong results (seed {seed}): {result}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """Paired values (index i is pair i) -> (verdict, change wins)."""
    n = len(parent)
    wins = sum((c < p) if better == "lower" else (c > p) for p, c in zip(parent, change))
    losses = sum((c > p) if better == "lower" else (c < p) for p, c in zip(parent, change))
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    if (p3 - p1) > bound * abs(pm) or (c3 - c1) > bound * abs(cm):
        return "unresolved", wins
    need = math.ceil(0.9 * n)
    if abs(cm - pm) > (p3 - p1):
        if wins >= need:
            return "better", wins
        if losses >= need:
            return "worse", wins
    return "no difference", wins


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args(argv)
    if args.pairs < 10:
        raise SystemExit("ab: at least 10 pairs")
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]

    runs = {"parent": [], "change": []}
    for seed in range(1, args.pairs + 1):
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        for side in order:
            tree = args.parent if side == "parent" else args.change
            runs[side].append(run_once(tree, args.workload, seed, seconds))
        print(f"pair {seed}/{args.pairs} done", file=sys.stderr, flush=True)

    print(f"{args.workload}: {args.pairs} pairs")
    print(f"{'metric':24} {'parent median [q1, q3]':34} {'change median [q1, q3]':34} "
          f"{'wins':>5}  verdict")
    for m in bench["end_to_end"]:
        name = m["name"]
        p = [r[name] for r in runs["parent"]]
        c = [r[name] for r in runs["change"]]
        v, wins = verdict(p, c, m["better"], m["bound"])
        p1, pm, p3 = quartiles(p)
        c1, cm, c3 = quartiles(c)
        print(f"{name:24} {pm:10.4g} [{p1:.4g}, {p3:.4g}]{'':8} "
              f"{cm:10.4g} [{c1:.4g}, {c3:.4g}]{'':8} {wins:>3}/{args.pairs}  {v}")


if __name__ == "__main__":
    main()
