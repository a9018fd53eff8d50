#!/usr/bin/env python3
"""Steadiness, warm-up drift and tracing-overhead report for the benchmark.

Usage (from the repository root):
    python3 perfbench/steady.py [--seeds 10] [--workloads a,b] [--out perfbench/STEADINESS.md]

Runs every workload untraced once per seed (seeds 1 to --seeds) and
traced on seeds 1 and 2, each run in its own process through run.py
with BENCHMARK.json's run_seconds, then reports per workload and
end-to-end metric:
  - the median and quartiles over the untraced runs, and the spread
    (third minus first quartile, as a share of the median) against the
    metric's bound in BENCHMARK.json;
  - the same for the wall-time figures of the same runs (the `wall.*`
    per-layer metrics, which every run computes), which have no bound;
  - warm-up drift: how much more program CPU the first timed cycle
    (drain pair or pass) of a run took than the rest of its timed
    cycles, and how much more the last warm-up cycle took;
  - tracing overhead: traced minus untraced medians of each metric;
  - wall time per run, and the total it projects for 4 + 22 runs per
    workload.
"""
import argparse
import json
import os
import pathlib
import statistics
import subprocess
import sys
import time

ROOT = pathlib.Path.cwd()
OUT = ROOT / ".bench_build" / "steady"
TRACED_SEEDS = 2


def run(workload, seed, seconds, trace):
    keep = OUT / f"{workload}-{seed}-{trace}.json"
    keep.unlink(missing_ok=True)
    env = dict(os.environ, PERFBENCH_KEEP=str(keep))
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       env=env, capture_output=True, text=True)
    wall = time.time() - t0
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    line = json.loads(last)
    full = json.loads(keep.read_text()) if keep.exists() else {}
    ok = p.returncode == 0 and line.get("correct") is True
    if not ok:
        sys.stderr.write(f"run {workload} seed {seed} trace {trace} failed:\n{p.stderr[-2000:]}\n")
    return {"ok": ok, "wall": wall, "line": line, "full": full}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    OUT.mkdir(parents=True, exist_ok=True)

    lines = [f"# Steadiness report", "",
             f"{args.seeds} untraced runs per workload (seeds 1–{args.seeds}), "
             f"{TRACED_SEEDS} traced (seeds 1–{TRACED_SEEDS}), {seconds} s each, on "
             f"{os.cpu_count()} CPUs, all made by one invocation of steady.py.", ""]
    walls = []
    all_ok = True
    for w in names:
        runs = [run(w, s, seconds, 0) for s in range(1, args.seeds + 1)]
        traced = [run(w, s, seconds, 1) for s in range(1, TRACED_SEEDS + 1)]
        fresh = [r["wall"] for r in runs + traced]
        walls += fresh
        all_ok &= all(r["ok"] for r in runs + traced)
        lines += [f"## {w}", "",
                  f"Runs correct: {sum(r['ok'] for r in runs)}/{len(runs)} untraced, "
                  f"{sum(r['ok'] for r in traced)}/{len(traced)} traced. "
                  f"Wall per run: median {statistics.median(fresh):.1f} s.", "",
                  "| metric | unit | median | Q1 | Q3 | spread | bound | traced median | tracing overhead |",
                  "|---|---|---|---|---|---|---|---|---|"]
        for m in spec["end_to_end"]:
            xs = [r["line"]["metrics"][m["name"]]["value"] for r in runs if r["line"].get("metrics")]
            ts = [r["full"]["e2e"][m["name"]]["value"] for r in traced if r["full"].get("e2e")]
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else float("nan")
            tmed = statistics.median(ts) if ts else float("nan")
            over = (tmed - med) / med if ts and med else float("nan")
            lines.append(f"| {m['name']} | {m['unit']} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                         f"{spread:.3f} | {m['bound']} | {tmed:.4g} | {over:+.3f} |")
        for m in spec["per_layer"]:
            if not m["name"].startswith("wall."):
                continue
            xs = [r["full"]["layers"][m["name"]]["value"] for r in runs
                  if m["name"] in r["full"].get("layers", {})]
            if xs:
                q1, med, q3 = quartiles(xs)
                lines.append(f"| {m['name']} | {m['unit']} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                             f"{(q3 - q1) / med if med else float('nan'):.3f} | – | | |")
        drift, warm_gap = [], []
        for r in runs:
            c = r["full"].get("cycles_cpu_s") or []
            if len(c) >= 2:
                rest = statistics.median(c[1:])
                drift.append(c[0] / rest - 1)
                warm = r["full"].get("warmup_cpu_s") or []
                if warm:
                    warm_gap.append(warm[-1] / statistics.median(c) - 1)
        if drift:
            lines += ["", f"Warm-up drift (program CPU): the first timed cycle took "
                          f"{statistics.median(drift):+.3f} (median over runs; range {min(drift):+.3f} "
                          f"to {max(drift):+.3f}) against the rest of its run; the last warm-up cycle "
                          f"took {statistics.median(warm_gap):+.3f} against the timed median."]
        lines.append("")
    per_run = statistics.mean(walls) if walls else 0
    total = (4 + 22 * len(spec["workloads"])) * per_run
    lines += [f"Mean wall per run {per_run:.1f} s; {4 + 22 * len(spec['workloads'])} runs "
              f"project to {total:.0f} s.", ""]
    text = "\n".join(lines)
    print(text)
    if args.out:
        pathlib.Path(args.out).write_text(text)
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
