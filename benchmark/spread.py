#!/usr/bin/env python3
"""Run one workload N times and print each metric's spread.

    python3 benchmark/spread.py --workload crawl_polite --runs 10 [--seed0 1]
        [--same-seed] [--seconds 10] [--trace] [--out spread.json]

Runs are fresh processes, one after another, seeds seed0, seed0+1, ...
(or seed0 every time with --same-seed).  For each metric it prints the
median, the quartiles (statistics.quantiles(n=4)) and the IQR as a
share of the median — the evidence the bounds in BENCHMARK.json are set
against.  With --trace it also makes N traced runs and prints the
tracing overhead: traced median of the timed work (trace.work_s) minus
the untraced median (work_s); traced and untraced runs alternate.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    return out


def summarize(results: list[dict]) -> dict:
    out = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                     else (vals[0], vals[0], vals[0]))
        out[name] = {
            "unit": results[0]["metrics"][name]["unit"], "median": med,
            "q1": q1, "q3": q3, "iqr_frac": (q3 - q1) / med if med else 0.0,
            "values": vals,
        }
    return out


def print_table(title: str, summary: dict) -> None:
    print(f"\n{title}")
    print(f"{'metric':48} {'unit':>8} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8}")
    for name, s in summary.items():
        print(f"{name:48} {s['unit']:>8} {s['median']:12.4f} {s['q1']:12.4f} "
              f"{s['q3']:12.4f} {s['iqr_frac']:8.4f}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--same-seed", action="store_true")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    if args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]

    seeds = [args.seed0 + (0 if args.same_seed else i) for i in range(args.runs)]
    report = {"workload": args.workload, "seeds": seeds}
    modes = (0, 1) if args.trace else (0,)
    # traced and untraced runs alternate, so a change in the host's
    # speed during the set does not land on one mode only
    results = {trace: [] for trace in modes}
    for s in seeds:
        for trace in modes:
            r = run_once(args.workload, s, args.seconds, trace)
            results[trace].append(r)
            print(f"seed {s} trace {trace}: correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} "
                  f"wall={r['wall_s']:.1f}s", flush=True)
    for trace in modes:
        summary = summarize(results[trace])
        report["traced" if trace else "untraced"] = summary
        report.setdefault("wall_s", []).extend(r["wall_s"] for r in results[trace])
        report.setdefault("correct", []).extend(r["correct"] for r in results[trace])
        print_table(f"{args.workload}, {'traced' if trace else 'untraced'}, "
                    f"{len(results[trace])} runs", summary)
    if args.trace:
        over = (report["traced"]["trace.work_s"]["median"]
                - report["untraced"]["work_s"]["median"])
        report["tracing_overhead_s"] = over
        print(f"\ntracing overhead: {over:.4f} s "
              f"({over / report['untraced']['work_s']['median']:.2%} of work_s)")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
