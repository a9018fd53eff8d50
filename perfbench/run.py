#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Usage (from the repository root):
    python3 perfbench/run.py --workload <ingest_backlog|queries> --seed <n> --seconds <s> --trace <0|1>
        [--inject none|corrupt|drop|meter|fingerprint]

Builds the engine together with the benchmark harness (once per source
state), generates the seeded inputs, runs one workload in a fresh JVM on
local[nproc], checks its outputs and prints one JSON object as the last
line of standard output:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. Exits non-zero when an
output is wrong, a run is invalid, or anything fails. Every file it
writes lives under .bench_build/ in the repository root: traced runs
leave their spans in .bench_build/traces/<workload>-<seed>.jsonl, and
PERFBENCH_KEEP=<file> saves the run's full result record (both metric
sets, cycle and warm-up times, notes).
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
SPARK_JARS = "/opt/spark/jars"
WORKLOADS = ["ingest_backlog", "queries"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

SBT_FLAGS = ["--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "-Dsbt.override.build.repos=true", "-Dsbt.offline=true"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [p for d in (ROOT / "src" / "main", BENCH / "src")
             for p in sorted(d.rglob("*")) if p.is_file()]
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    BUILD.mkdir(exist_ok=True)
    stamp_file = BUILD / "build.stamp"
    stamp = source_stamp()
    if CLASSES.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    flags = SBT_FLAGS + ([f"-Dsbt.repository.config={repos}"] if repos.exists() else [])
    with open(BUILD / "build.log", "w") as log:
        r = subprocess.run(["sbt", *flags, "compile", "Compile / copyResources"], cwd=BENCH, env=env, stdout=log,
                           stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write((BUILD / "build.log").read_text()[-4000:])
        fail("build failed")
    stamp_file.write_text(stamp)


def run_jvm(args, work, tables, t0_ms):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Query runs compile only with C1: a run lasts about half a minute,
    # far short of the C2 warm-up of hundreds of distinct query code
    # paths (passes kept shortening by a quarter inside the timed
    # region), while C1 code is steady after one pass. Ingest runs keep
    # C2: their few per-record loops reach it during the warm-up cycles.
    jit = ["-XX:TieredStopAtLevel=1"] if args.workload == "queries" else []
    # Compiler threads that live as long as the JVM, so that their CPU
    # can be taken out of the program's (see Cpu.scala). A code cache
    # large enough for every generated class of a run: with the C1-only
    # default of 48 MB the queries filled it by the fourth pass, and the
    # flush and recompile that followed cost that pass half again its CPU.
    cmd = ["java", *ADD_OPENS, *jit, "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:ReservedCodeCacheSize=1g",
           "-Xmx4g", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main",
           args.workload, str(args.seed), str(args.seconds), str(args.trace),
           str(work), str(tables), str(t0_ms), args.inject]
    log_path = work / "jvm.log"
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(log_path.read_text()[-4000:])
        fail(f"JVM exited with {p.returncode}")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", default="none", choices=["none", "corrupt", "drop", "meter", "fingerprint"])
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    build()
    t0_ms = int(time.time() * 1000)
    work = BUILD / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        tables = work / "tables"
        if args.workload == "queries":
            sys.path.insert(0, str(BENCH))
            import tables as gen
            gen.generate(args.seed, tables)
        res = run_jvm(args, work, tables, t0_ms)
        problems = []
        if res["verify_dir"]:
            import oracle
            problems += oracle.check(tables, pathlib.Path(res["verify_dir"]))
        failed = res["failed"] + len(problems)
        attempted = max(res["attempted"], failed, 1)
        print(f"perfbench: set-up phases (s) {res['setup_phases']}", file=sys.stderr)
        for n in res["notes"]:
            print(f"perfbench: {n}", file=sys.stderr)
        for pr in problems:
            print(f"perfbench: oracle: {pr}", file=sys.stderr)
        if res["invalid"]:
            print(f"perfbench: INVALID RUN: {res['invalid']}", file=sys.stderr)
        keep = os.environ.get("PERFBENCH_KEEP")
        if keep:
            pathlib.Path(keep).write_text(json.dumps(res, indent=1))
        if args.trace:
            traces = BUILD / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(work / "trace.jsonl", traces / f"{args.workload}-{args.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = res["layers"] if args.trace else res["e2e"]
    metrics = {}
    for d in declared:
        v = measured.get(d["name"], {"value": 0.0})["value"]
        metrics[d["name"]] = {"value": v if v is not None else 0.0, "unit": d["unit"]}
    correct = failed == 0 and not res["invalid"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
