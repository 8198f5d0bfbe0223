"""A/B command: alternates two builds of the program for N pairs and
prints, per workload and end-to-end metric, both sides' median and
quartiles, B's win count and a verdict.

    python3 perfbench/ab.py --a DIR_A --b DIR_B [--pairs 10]
                            [--workloads w1,w2] [--seed 1000]

DIR_A and DIR_B are two source trees of the program (A is the parent).
Each is built into its own .bench_build/ by run.py. Pair i runs both sides
on seed `--seed + i`; A runs first in even pairs and B in odd ones. The
run length, metric directions and bounds are read from BENCHMARK.json.

Verdict rules (fewer than 10 pairs: always "unresolved"):
* "B better": B wins at least 9 of 10 pairs (ties count for neither) and
  the medians differ by more than A's interquartile range (IQR).
* "unresolved": A's IQR is wider than the metric's bound, unless every B
  run reads better than every A run.
* "B worse": B's median is worse than A's by more than the bound.
* otherwise "within bound".
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(repo, workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
         "--repo", repo], check=True, stdout=subprocess.PIPE, text=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(a, b, better, bound):
    sign = 1 if better == "higher" else -1
    wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
    qa, qb = quartiles(a), quartiles(b)
    iqr_a = qa[2] - qa[0]
    diff = sign * (qb[1] - qa[1])
    if len(a) < 10:
        v = "unresolved (fewer than 10 pairs)"
    elif wins >= 0.9 * len(a) and diff > iqr_a:
        v = "B better"
    elif iqr_a > bound * abs(qa[1]) and not (
            min(sign * y for y in b) > max(sign * x for x in a)):
        v = "unresolved"
    elif -diff > bound * abs(qa[1]):
        v = "B worse"
    else:
        v = "within bound"
    return wins, qa, qb, v


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--a", required=True)
    p.add_argument("--b", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--workloads", default=None)
    p.add_argument("--seed", type=int, default=1000)
    args = p.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    seconds = spec["run_seconds"]
    for w in workloads:
        res = {"A": [], "B": []}
        for i in range(args.pairs):
            sides = [("A", args.a), ("B", args.b)]
            for side, repo in (sides if i % 2 == 0 else sides[::-1]):
                res[side].append(run(repo, w, args.seed + i, seconds))
                r = res[side][-1]
                print(f"{w} pair {i} {side}: failed {r['failed']}/{r['attempted']}",
                      file=sys.stderr)
        print(f"\n{w} ({args.pairs} pairs)")
        print(f"  {'metric':<14} {'A q1/median/q3':>30} {'B q1/median/q3':>30}"
              f" {'B wins':>7}  verdict")
        for m in spec["end_to_end"]:
            a = [r["metrics"][m["name"]]["value"] for r in res["A"]]
            b = [r["metrics"][m["name"]]["value"] for r in res["B"]]
            wins, qa, qb, v = verdict(a, b, m["better"], m["bound"])
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"  {m['name']:<14} {fmt(qa):>30} {fmt(qb):>30}"
                  f" {wins:>4}/{len(a)}  {v}")
        for side in ("A", "B"):
            f = sum(r["failed"] for r in res[side])
            n = sum(r["attempted"] for r in res[side])
            print(f"  {side}: {f} of {n} ops failed")


if __name__ == "__main__":
    main()
