#!/usr/bin/env python3
"""Self-test of the benchmark's generators and output checkers.

Usage (from the root of a checkout): python3 perfbench/selftest.py

Checks, printing one PASS/FAIL line each and exiting 1 on any failure:
  - the sync generator: the same seed gives a byte-identical
    Validations.tableChecksum, every transaction lies in one block, and the
    hot-token share and the unsupported and unpriced fractions come out as
    specified;
  - the sync checker: a clean sync passes, and a sink copy with one row
    removed, or with one row landed twice, fails exactly one operation;
  - the query checker: real outputs match their DuckDB oracles, and a copy
    with one perturbed value fails exactly that query;
  - the table generator: the same seed gives identical tables.
"""
import os
import shutil
import sys
import tempfile
from pathlib import Path

import pandas as pd

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import check  # noqa: E402
import gen  # noqa: E402
import syncgen  # noqa: E402
import run  # noqa: E402


def main():
    ok = True

    def expect(name, cond, detail):
        nonlocal ok
        print(f"{'PASS' if cond else 'FAIL'} {name}: {detail}")
        ok = ok and cond

    cp = run.build()
    tables = gen.fixed_tables(str(BENCH / ".cache"))
    work = BENCH / ".work" / f"selftest-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        a = gen.tables(0.001, 5)
        b = gen.tables(0.001, 5)
        expect("table generator is seeded", all(a[t].equals(b[t]) for t in a),
               f"{len(a)} tables compared")

        spec = dict(syncgen.SYNC, batches=12)
        for name, seed in (("gen-a", 7), ("gen-b", 7), ("gen-c", 8)):
            syncgen.write(str(work / "inputs" / name), spec, seed)
        code = run.run_java(["selftest", work / "harness", len(os.sched_getaffinity(0)),
                             work / "inputs", tables], cp, work / "harness.log")
        print((work / "harness.log").read_text().count("\n"), "harness log lines;",
              "harness checks:")
        for line in (work / "harness.log").read_text().splitlines():
            if line.startswith(("PASS", "FAIL")):
                print("  " + line)
        expect("harness self-test", code == 0, f"exit {code}")

        small = os.path.join(tables, "sf0.001")
        outs = str(work / "harness" / "outputs")
        clean = check.failures(small, outs, gen.tables_key())
        expect("real query outputs match their oracles", clean == {}, str(clean))

        bad = Path(tempfile.mkdtemp(dir=work))
        shutil.copytree(outs, bad, dirs_exist_ok=True)
        victim = bad / "q01_pricing_summary"
        df = pd.concat(pd.read_parquet(f) for f in sorted(victim.glob("*.parquet")))
        shutil.rmtree(victim)
        victim.mkdir()
        col = next(c for c in df.columns if df[c].dtype.kind in "if")
        df.iloc[0, df.columns.get_loc(col)] += 1
        df.to_parquet(victim / "part-0.parquet")
        planted = check.failures(small, str(bad), gen.tables_key())
        expect("one perturbed query output fails exactly that query",
               list(planted) == ["q01_pricing_summary"], str(planted))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
