#!/usr/bin/env python3
"""Steadiness check: run one workload K times, one fresh process per
run and another seed each time, and print per metric the median, the
quartiles and the spread (interquartile range over median) beside the
bound ``BENCHMARK.json`` sets.

    python3 perfbench/steady.py --workload corpus_dedup --runs 10
    python3 perfbench/steady.py --workload files_nightly --runs 5 --overhead

``--overhead`` alternates untraced and traced runs and reports the
tracing overhead: how much lower the traced run's job throughput
(``compiler.rows_per_s``) is than the untraced ``rows_per_s``.
Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["seed"] = seed
    return res


def cpu_ticks() -> list[int]:
    """Host-wide user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def summarize(results: list[dict], bounds: dict[str, float]) -> None:
    names = sorted({k for r in results for k in r["metrics"]})
    if bounds:
        for r in results:
            print(f"seed {r['seed']:>3}: " + "  ".join(
                f"{k}={r['metrics'][k]['value']:.4g}" for k in names if k in bounds
            ) + f"  attempted={r['attempted']} wall={r['wall_s']:.1f}s")
    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for name in names:
        vals = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        b = bounds.get(name)
        flag = "" if b is None or spread < b / 3 else ("  <-- over bound/3" if spread < b else "  <-- OVER BOUND")
        print(
            f"{name:40s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} "
            f"{'' if b is None else f'{b:6.2f}'}{flag}"
        )
    att = sum(r["attempted"] for r in results)
    fail = sum(r["failed"] for r in results)
    walls = [r["wall_s"] for r in results]
    print(
        f"runs {len(results)}, job runs attempted {att}, failed {fail}, all correct "
        f"{all(r['correct'] for r in results)}, process wall median {statistics.median(walls):.1f}s "
        f"max {max(walls):.1f}s"
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--trace", action="store_true", help="traced runs only")
    ap.add_argument("--overhead", action="store_true", help="alternate untraced and traced runs")
    args = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = range(args.seed_base, args.seed_base + args.runs)
    plain, traced = [], []
    t0 = cpu_ticks()
    for seed in seeds:
        if not args.trace:
            plain.append(one_run(args.workload, seed, seconds, 0))
        if args.trace or args.overhead:
            traced.append(one_run(args.workload, seed, seconds, 1))
    print(f"== {args.workload}: seeds {seeds.start}..{seeds.stop - 1}, {seconds}s per run")
    with open("/proc/loadavg") as f:
        print(f"load average at end: {f.read().split()[:3]}")
    d = [b - a for a, b in zip(t0, cpu_ticks())]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    # steal: time the hypervisor gave this machine's CPUs to other guests
    print(f"cpu steal during the runs: {d[7] / max(1, busy + d[7]):.3f} of busy+steal time")
    if plain:
        summarize(plain, bounds)
    if traced:
        print("-- traced runs")
        summarize(traced, {})
    if plain and traced:
        untraced = statistics.median(r["metrics"]["rows_per_s"]["value"] for r in plain)
        with_trace = statistics.median(r["metrics"]["compiler.rows_per_s"]["value"] for r in traced)
        print(f"tracing overhead: {1 - with_trace / untraced:+.3f} of untraced rows_per_s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
