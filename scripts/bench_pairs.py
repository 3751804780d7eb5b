#!/usr/bin/env python3
"""Compare two checkouts on one connector-sync benchmark workload.

Usage:
    python3 scripts/bench_pairs.py <parent_dir> <change_dir> <workload> <n>
        [--seconds 10] [--first-seed 11]

Runs n pairs of `python3 perfbench/run.py --trace 0`, one run in each
checkout per pair with the same seed (first-seed, first-seed + 1, ...),
alternating which side goes first. Each run happens in its own checkout,
so each builds and caches its own classes there. For every end-to-end
metric in the change's BENCHMARK.json it prints each side's median and
quartiles and the number of pairs the change won, then lists any failed
run (non-zero exit, no result line, "correct": false or a failed op).
Give each commit its own fresh checkout: copying a built target/ to a
second directory lets one copy's incremental compiler delete the other's
classes.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    """One benchmark run; returns (metrics dict or None, failure text)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        tail = proc.stderr.strip().splitlines()[-1:] or [""]
        return None, f"exit {proc.returncode}: {tail[0]}"
    res = json.loads(lines[-1])
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    if not res.get("correct") or res.get("failed", 0) > 0:
        return metrics, (f"correct={res.get('correct')} "
                         f"failed={res.get('failed')}/{res.get('attempted')}")
    return metrics, None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("workload")
    ap.add_argument("n", type=int)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--first-seed", type=int, default=11)
    args = ap.parse_args()

    with open(os.path.join(args.change_dir, "BENCHMARK.json")) as fh:
        end_to_end = json.load(fh)["end_to_end"]
    sides = {"parent": args.parent_dir, "change": args.change_dir}
    results = []  # per pair: {side: metrics or None}
    failures = []
    for i in range(args.n):
        seed = args.first_seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {}
        for side in order:
            metrics, failure = run_once(sides[side], args.workload, seed,
                                        args.seconds)
            pair[side] = None if failure else metrics
            if failure:
                failures.append(f"pair {i + 1} seed {seed} {side}: {failure}")
            print(f"[pairs] {i + 1}/{args.n} seed {seed} {side}: "
                  + (failure or f"sync_s={metrics.get('sync_s', 0):.3f}"),
                  file=sys.stderr, flush=True)
        results.append(pair)

    ok = [p for p in results if p["parent"] and p["change"]]
    print(f"{args.workload}: {len(ok)} complete pairs of {args.n}, "
          f"run_seconds={args.seconds:g}")
    print(f"{'metric':<26} {'parent median [q1, q3]':>32} "
          f"{'change median [q1, q3]':>32} {'change won':>10}")
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        if not ok or name not in ok[0]["parent"]:
            continue
        cols = []
        for side in ("parent", "change"):
            q1, med, q3 = quartiles([p[side][name] for p in ok])
            cols.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}]")
        won = sum(1 for p in ok if (p["change"][name] < p["parent"][name])
                  == lower and p["change"][name] != p["parent"][name])
        print(f"{name:<26} {cols[0]:>32} {cols[1]:>32} "
              f"{won:>5}/{len(ok)}")
    if failures:
        print("failed runs:")
        for f in failures:
            print(f"  {f}")
    else:
        print("failed runs: none")


if __name__ == "__main__":
    main()
