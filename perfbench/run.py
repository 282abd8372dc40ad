#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one result line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload sync_enrich --seed 1 --seconds 30 --trace 0

Compiles the engine and the harness once per source state (sbt, offline),
then launches the run as a plain `java` process on the compiled classpath.
The query workload gets its tables from perfbench/gen.py; its outputs are
checked against the DuckDB oracle by perfbench/check.py after the timed
part. The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1). Every result line is also appended to
perfbench/.out/runs.jsonl, and a traced run's spans are kept in
perfbench/.out/spans-<workload>-<seed>.jsonl.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import check  # noqa: E402
import gen  # noqa: E402
import syncgen  # noqa: E402

WORKLOADS = ("sync_enrich", "etl_queries")
JAVA_TIMEOUT_S = 170
ARCHIVE = BENCH / "target" / "perfbench.jsa"
UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
         "rows_per_s": "1/s", "cpu_s": "s"}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "B/row" if name.endswith("_per_row") else "B"
    if name.endswith("_per_row") or name.endswith("_per_row_out"):
        return "ns/row" if "ns" in name else "1/row"
    if name.endswith("_growth") or name.endswith("_per_batch"):
        return "ratio"
    return "count"


def sources():
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def spark_jars():
    """The Spark jars directory the engine's own build compiles against."""
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if m:
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("cannot find the Spark jars: no unmanagedBase in build.sbt, no SPARK_HOME")


def build():
    """Compile once per source state, package the classes as a jar and
    record a class-data-sharing archive of a warm-up run (it halves JVM
    and Spark start-up for every later run); returns the classpath."""
    digest = hashlib.sha256()
    for p in sources():
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = BENCH / "target" / "perfbench.stamp"
    if stamp.exists():
        key, cp = stamp.read_text().split("\n", 1)
        if key == digest.hexdigest():
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Dperfbench.sparkJars={spark_jars()}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, stdin=subprocess.DEVNULL, timeout=840)
    classes = BENCH / "target" / "scala-2.13" / "classes"
    cps = [l for l in out.stdout.splitlines() if str(classes) in l and not l.startswith("[")]
    if out.returncode != 0 or not cps:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    # class-data sharing needs jars, not directories, on the classpath
    jar = BENCH / "target" / "perfbench.jar"
    with zipfile.ZipFile(jar, "w") as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    cp = cps[-1].replace(str(classes), str(jar))
    ARCHIVE.unlink(missing_ok=True)
    work = BENCH / ".work" / f"train-{os.getpid()}"
    try:
        syncgen.write(str(work / "inputs" / "warm"), syncgen.SYNC_WARM, 0)
        run_java(["train", work / "harness", len(os.sched_getaffinity(0)), work / "inputs",
                  gen.fixed_tables(str(BENCH / ".cache"))], cp, work / "train.log",
                 [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stamp.write_text(digest.hexdigest() + "\n" + cp)
    return cp


def run_java(args, cp, log, jvm=()):
    # temporary files (Spark's shuffle and broadcast blocks, the engine's
    # temporary directories) go beside the log, inside the checkout
    tmp = Path(log).parent / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", *jvm]
    if not jvm and ARCHIVE.exists():
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    for mod in ADD_OPENS:
        cmd += ["--add-opens", f"{mod}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + [str(a) for a in args]
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness timed out after {JAVA_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:  # timed out or interrupted: stop the JVM
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        raise SystemExit("engine sources not found: run from the root of a checkout")

    # a terminated run still removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    cp = build()
    cpus = len(os.sched_getaffinity(0))
    work = BENCH / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t0 = time.perf_counter()
        if a.workload == "sync_enrich":
            inputs = str(work / "inputs")
            syncgen.write(os.path.join(inputs, "timed"), syncgen.SYNC, a.seed)
            syncgen.write(os.path.join(inputs, "warm"), syncgen.SYNC_WARM, a.seed + 1)
        else:
            inputs = tables = gen.fixed_tables(str(BENCH / ".cache"))
        gen_s = time.perf_counter() - t0
        # the work is fixed so that two commits do the same work: --seconds
        # is the nominal length of the timed part, not a cut-off
        code = run_java([a.workload, a.seed, a.trace, work / "harness", cpus, inputs],
                        cp, work / "harness.log")
        (BENCH / ".out").mkdir(exist_ok=True)
        shutil.copy(work / "harness.log", BENCH / ".out" / f"harness-{a.workload}.log")
        result_file = work / "harness" / "result.json"
        if code != 0 or not result_file.exists():
            sys.stderr.write((work / "harness.log").read_text()[-4000:])
            raise SystemExit(f"harness exited with {code}")
        res = json.loads(result_file.read_text())
        run = res["run"]
        failed_ops = set(filter(None, run["failed_ops"].split(",")))
        if a.workload != "sync_enrich":
            bad = check.failures(os.path.join(tables, "sf0.1"),
                                 str(work / "harness" / "outputs"), gen.tables_key())
            for name, why in bad.items():
                sys.stderr.write(f"[perfbench] {name} does not match its oracle: {why}\n")
            failed_ops |= set(bad)
        names = [n for n in run["op_names"].split(",") if n]
        if not names:
            raise SystemExit("the harness ran no operations")
        attempted = len(names)
        failed = len(failed_ops)
        e2e = res["e2e"]
        e2e["setup_s"] += gen_s
        if a.trace:
            layer = res["layer"]
            metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layer.items())}
            spans = work / "harness" / "spans.jsonl"
            if spans.exists():
                shutil.copy(spans, BENCH / ".out" / f"spans-{a.workload}-{a.seed}.jsonl")
        else:
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in sorted(e2e.items())}
        line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}
        with open(BENCH / ".out" / "runs.jsonl", "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                "failed_ops": sorted(failed_ops),
                                "op_names": names,
                                "op_seconds": res["op_seconds"], "result": line}) + "\n")
        print(json.dumps(line))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
