#!/usr/bin/env python3
"""Summarize the per-rep `[bench-rep]` stderr lines of a graft.Bench run:
per query, the min wall across reps and, at that rep, its jobs, tasks,
task run/CPU/GC seconds and density (task run seconds per wall second).
High density marks a CPU-dense query (optimize per-task work); many jobs
at low density mark a latency-bound one (optimize job/stage/exchange
count); run far above CPU marks blocked tasks (a lock or I/O wait).

Usage: python3 scripts/benchdebug.py /tmp/bench.log [topN]
"""
import re
import sys

pat = re.compile(
    r"\[bench-rep\] (\S+) rep=(\d+) sec=([\d.]+) jobs=(\d+) stages=(\d+) "
    r"tasks=(\d+) runSec=([\d.]+) cpuSec=([\d.]+) gcSec=([\d.]+)")


def main(path, topn=60):
    reps = {}
    for line in open(path, errors="replace"):
        m = pat.search(line)
        if m:
            reps.setdefault(m.group(1), []).append(
                (float(m.group(3)), int(m.group(4)), int(m.group(6)),
                 float(m.group(7)), float(m.group(8)), float(m.group(9))))
    rows = []
    for q, rs in reps.items():
        wall, jobs, tasks, run, cpu, gc = min(rs, key=lambda r: r[0])
        rows.append((q, wall, jobs, tasks, run, cpu, run / max(wall, 1e-9),
                     gc, max(r[0] for r in rs) - wall))
    rows.sort(key=lambda r: -r[1])
    tot = sum(r[1] for r in rows)
    print(f"n={len(rows)} total(min)={tot:.1f}s")
    print(f"{'query':36s} {'wall':>7s} {'jobs':>5s} {'tasks':>6s} "
          f"{'run':>8s} {'cpu':>8s} {'dens':>5s} {'gc':>5s} {'sprd':>6s}")
    for q, w, jobs, tasks, run, cpu, d, gc, spread in rows[:topn]:
        print(f"{q:36s} {w:7.3f} {jobs:5d} {tasks:6d} {run:8.2f} "
              f"{cpu:8.2f} {d:5.1f} {gc:5.2f} {spread:6.2f}")


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 60)
