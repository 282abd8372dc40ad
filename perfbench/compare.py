#!/usr/bin/env python3
"""Run comparer.

Reads result records (the lines run.py appends to perfbench/.out/runs.jsonl)
and reports, for each workload and metric:

  one set    median, first and third quartile, and the spread (quartile
             distance as a share of the median) against the metric's bound
             in BENCHMARK.json;
  two sets   (parent first, change second) each side's median and
             quartiles, the pair win rate of the change, and a verdict:
               gain        the change wins at least 9/10 of the pairs (ties
                           count for neither) and the medians differ by more
                           than the parent's quartile distance;
               regression  the change's median is worse than the parent's by
                           more than the bound;
               unresolved  the parent's spread exceeds the bound, unless
                           every change run beats every parent run;
               no change   otherwise.
Pairs are runs of the same workload and seed, in the order they appear.
For traced records it also reports the tracing overhead: the traced run's
wall time (trace.wall_s) against the untraced runs' wall_s median.

Usage: python3 perfbench/compare.py RUNS.jsonl [CHANGE_RUNS.jsonl]
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m for m in SPEC["end_to_end"]}


def load(path):
    """{(workload, trace): {metric: [(seed, value), ...]}}"""
    out = defaultdict(lambda: defaultdict(list))
    for line in Path(path).read_text().splitlines():
        if not line.strip():
            continue
        r = json.loads(line)
        for name, m in r["result"]["metrics"].items():
            out[(r["workload"], r["trace"])][name].append((r["seed"], m["value"]))
    return out


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def spread(vals):
    q1, q2, q3 = quartiles(vals)
    return (q3 - q1) / q2 if q2 else float("inf")


def better(name, a, b):
    """Whether value a is better than value b for metric `name`."""
    lower = BOUNDS.get(name, {}).get("better", "lower") == "lower"
    return a < b if lower else a > b


def one_set(runs):
    for (workload, trace), metrics in sorted(runs.items()):
        if trace:
            continue
        print(f"== {workload} ({len(next(iter(metrics.values())))} runs)")
        for name, pts in sorted(metrics.items()):
            vals = [v for _, v in pts]
            q1, q2, q3 = quartiles(vals)
            bound = BOUNDS.get(name, {}).get("bound")
            s = spread(vals)
            flag = "" if bound is None else ("ok" if s <= bound else "OVER BOUND")
            print(f"  {name:12s} median {q2:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {s:6.3f}  bound {bound}  {flag}")
    overhead(runs)


def overhead(runs):
    for (workload, trace), metrics in sorted(runs.items()):
        if not trace or "trace.wall_s" not in metrics:
            continue
        untraced = runs.get((workload, 0), {}).get("wall_s")
        if not untraced:
            continue
        t = statistics.median(v for _, v in metrics["trace.wall_s"])
        u = statistics.median(v for _, v in untraced)
        print(f"== {workload} tracing overhead: traced wall {t:.3f} s vs untraced "
              f"{u:.3f} s = {100 * (t - u) / u:+.1f}%")


def two_sets(parent, change):
    for key in sorted(set(parent) & set(change)):
        workload, trace = key
        if trace:
            continue
        print(f"== {workload}")
        for name in sorted(set(parent[key]) & set(change[key])):
            p = parent[key][name]
            c = change[key][name]
            pv = [v for _, v in p]
            cv = [v for _, v in c]
            pq, cq = quartiles(pv), quartiles(cv)
            by_seed = defaultdict(list)
            for seed, v in p:
                by_seed[seed].append(v)
            wins = losses = 0
            for seed, v in c:
                if by_seed[seed]:
                    pvv = by_seed[seed].pop(0)
                    wins += better(name, v, pvv)
                    losses += better(name, pvv, v)
            pairs = max(1, min(len(p), len(c)))
            bound = BOUNDS.get(name, {}).get("bound", 0.0)
            worse = -1 if better(name, cq[1], pq[1]) else 1
            change_frac = worse * abs(cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
            if wins >= 0.9 * pairs and abs(cq[1] - pq[1]) > pq[2] - pq[0] and worse < 0:
                verdict = "gain"
            elif spread(pv) > bound and not all(better(name, x, y) for x in cv for y in pv):
                verdict = "unresolved"
            elif change_frac > bound:
                verdict = "regression"
            else:
                verdict = "no change"
            print(f"  {name:12s} parent {pq[1]:12.4f} [{pq[0]:.4f}, {pq[2]:.4f}]  "
                  f"change {cq[1]:12.4f} [{cq[0]:.4f}, {cq[2]:.4f}]  "
                  f"wins {wins}/{pairs} losses {losses}  {verdict}")


if __name__ == "__main__":
    if len(sys.argv) == 2:
        one_set(load(sys.argv[1]))
    else:
        two_sets(load(sys.argv[1]), load(sys.argv[2]))
