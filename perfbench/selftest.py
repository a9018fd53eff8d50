#!/usr/bin/env python3
"""Self-test of the benchmark's own checks.

Usage (from the repository root):
    python3 perfbench/selftest.py

Each case injects one fault and expects the run to fail: a non-zero
exit, `"correct": false` and at least one failed operation, so that a
broken run can never read as a fast one. The last case runs the
benchmark in a directory that holds only BENCHMARK.json and the
benchmark's own files; it must exit non-zero without printing a result.
"""
import json
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
CASES = [("ingest_backlog", "corrupt"),  # one payload decodes to the wrong content
         ("ingest_backlog", "drop"),     # one committed record goes missing
         ("ingest_backlog", "meter"),    # a PipelineMetrics meter misses one record
         ("queries", "fingerprint")]  # one execution returns a wrong result


def run(cwd, workload, inject):
    return subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                           "--seed", "7", "--seconds", "2", "--trace", "0", "--inject", inject],
                          cwd=cwd, capture_output=True, text=True, timeout=300)


def main():
    bad = 0
    for workload, inject in CASES:
        p = run(ROOT, workload, inject)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        r = json.loads(last)
        ok = p.returncode != 0 and r.get("correct") is False and r.get("failed", 0) >= 1
        print(f"{'ok  ' if ok else 'FAIL'} {workload} --inject {inject}: exit {p.returncode}, "
              f"correct {r.get('correct')}, failed {r.get('failed')}/{r.get('attempted')}")
        bad += not ok

    bare = ROOT / ".bench_build" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench", ignore=shutil.ignore_patterns("target"))
    p = run(bare, "ingest_backlog", "none")
    ok = p.returncode != 0 and not p.stdout.strip()
    print(f"{'ok  ' if ok else 'FAIL'} bare directory: exit {p.returncode}, "
          f"stdout {'empty' if not p.stdout.strip() else 'not empty'}")
    bad += not ok
    shutil.rmtree(bare, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
