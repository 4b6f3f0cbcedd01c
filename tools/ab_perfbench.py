#!/usr/bin/env python3
"""Interleaved A/B of the pipeline benchmark between two checkouts.

    python3 tools/ab_perfbench.py --parent /path/to/parent --change /path/to/change \
        --workload join_hotspot --seeds 1,2,3,4,5 --pairs 5 [--raw out.jsonl]

Builds the benchmark in both checkouts first, so no timed run pays for the
compile. Then runs `perfbench/run.py --trace 0` once per side per pair, one
JVM at a time, alternating parent and change; the side that runs first swaps
from pair to pair (parent first in even pairs), so neither side always runs
on a host the other just warmed. Pair i uses seed i of `--seeds` (cycling).
Prints one line per run (seed, wall seconds, end-to-end metrics, host steal),
then per side the median and IQR/median of each end-to-end metric, and the
per-pair change/parent ratio of tiles_per_s. A run that exits non-zero or
whose result is not `correct` counts as failed: it is left out of the medians
and ratios, and the summary prints each side's number of failed runs. `--raw`
also appends every run's result JSON, with its side, seed and wall time, to a
file.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

METRICS = ("setup_s", "tiles_per_s", "field_rmse", "peak_rss_mb", "tiles_ok_frac")


def build(checkout):
    subprocess.run([sys.executable, "perfbench/build.py"], cwd=checkout, check=True,
                   stdout=subprocess.DEVNULL)


def run_once(checkout, workload, seed, seconds):
    """One benchmark run; returns (result dict or None, host dict, wall s, exit code)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    host = next((json.loads(l[5:]) for l in lines if l.startswith("host ")), {})
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    return result, host, wall, p.returncode


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3,4,5", help="comma-separated, cycled over pairs")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--raw", help="append each run's result JSON to this file")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    sides = (("parent", os.path.abspath(a.parent)), ("change", os.path.abspath(a.change)))
    for _, checkout in sides:
        build(checkout)

    values = {side: {m: [] for m in METRICS} for side, _ in sides}
    failed = {side: 0 for side, _ in sides}
    ratios = []
    for i in range(a.pairs):
        seed = seeds[i % len(seeds)]
        tps = {}
        for side, checkout in (sides if i % 2 == 0 else sides[::-1]):
            result, host, wall, code = run_once(checkout, a.workload, seed, a.seconds)
            metrics = {k: v["value"] for k, v in (result or {}).get("metrics", {}).items()}
            if a.raw:
                with open(a.raw, "a") as fh:
                    fh.write(json.dumps({"workload": a.workload, "side": side, "pair": i, "seed": seed,
                                         "wall_s": round(wall, 1), "exit": code, "host": host,
                                         "result": result}) + "\n")
            shown = " ".join(f"{m}={metrics[m]:.6g}" for m in METRICS if m in metrics)
            ok = code == 0 and (result or {}).get("correct") is True
            print(f"pair {i} seed {seed} {side:6s} exit {code} wall {wall:5.1f} s {shown} "
                  f"steal {host.get('steal_pct', float('nan')):.1f}%" + ("" if ok else " FAILED"),
                  flush=True)
            if not ok:
                failed[side] += 1
                continue
            for m in METRICS:
                if m in metrics:
                    values[side][m].append(metrics[m])
            tps[side] = metrics.get("tiles_per_s")
        if tps.get("parent") and tps.get("change"):
            ratios.append(tps["change"] / tps["parent"])

    print(f"\n{a.workload}: {a.pairs} pairs, seeds {a.seeds}; failed runs: "
          + ", ".join(f"{side} {failed[side]}" for side, _ in sides))
    print(f"{'metric':14s} {'side':6s} {'median':>12s} {'IQR/median':>11s}  runs")
    for m in METRICS:
        for side, _ in sides:
            xs = values[side][m]
            if not xs:
                continue
            q1, q2, q3 = quartiles(xs)
            spread = (q3 - q1) / q2 if q2 else float("nan")
            print(f"{m:14s} {side:6s} {q2:12.6g} {spread:11.3f}  {len(xs)}")
    if ratios:
        wins = sum(r > 1 for r in ratios)
        print("tiles_per_s change/parent per pair: " + " ".join(f"{r:.3f}" for r in ratios)
              + f"  (median {statistics.median(ratios):.3f}, change higher in {wins}/{len(ratios)})")


if __name__ == "__main__":
    main()
