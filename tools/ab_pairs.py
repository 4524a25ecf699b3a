#!/usr/bin/env python3
"""Alternating parent/change pairs of one perfbench workload.

    python3 tools/ab_pairs.py --parent ../base --change . --workload mock_flf \
        --pairs 10 --seed 401 [--seconds 12] [--trace 0] [--log DIR]

Runs `python3 perfbench/run.py` in two separate checkouts, one pair per
seed (seed, seed + 1, ...), with the side that runs first alternating: the
parent first in odd pairs, the change first in even ones. Each checkout
builds and caches its own program under its own `perfbench/.work/`.
Prints each pair's end-to-end metrics (`end_to_end` in BENCHMARK.json),
then per metric each side's median and quartiles, the change's wins,
whether the gap between the medians exceeds the parent's quartile spread,
and a no-regression verdict against the metric's bound. The bound is a
share of the parent's median (perfbench/README.md): the change regresses
when its median is worse than the parent's by more than that share, and
the verdict is "unresolved" when the parent's quartile spread is a larger
share of its median than the bound, unless every run of the change reads
better than every run of the parent. Exits 1 if any run fails or reports
failed operations.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    END_TO_END = {m["name"]: m for m in json.load(fh)["end_to_end"]}
METRICS = tuple(END_TO_END)


def run(checkout, args, seed, log):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if log:
        with open(log, "w") as fh:
            fh.write(p.stdout + p.stderr)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{checkout} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    res = json.loads(lines[-1])
    return res["failed"], {m: res["metrics"][m]["value"] for m in METRICS}


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(base, new, metric):
    """No regression, regression or unresolved, as the module docstring says."""
    bound, lower = metric["bound"], metric["better"] == "lower"
    q1, med, q3 = quartiles(base)
    new_med = statistics.median(new)
    if (max(new) < min(base)) if lower else (min(new) > max(base)):
        return "no regression (every change run better than every parent run)"
    if (q3 - q1) / med > bound:
        return f"unresolved (parent spread {(q3 - q1) / med:.3f} of its median > bound {bound})"
    ok = new_med <= med * (1 + bound) if lower else new_med >= med * (1 - bound)
    return f"{'no regression' if ok else 'REGRESSION'} (bound {bound} of the parent median)"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", help="directory for each run's output")
    args = ap.parse_args()
    if args.pairs < 2:
        ap.error("--pairs must be at least 2 to give quartiles")
    if args.log:
        os.makedirs(args.log, exist_ok=True)

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    got = {side: {m: [] for m in METRICS} for side in sides}
    failed = 0
    print(f"{args.workload}: {args.pairs} pairs from seed {args.seed}, parent first in odd pairs")
    print("pair seed  first   " + "  ".join(f"{m} parent/change" for m in METRICS))
    for k in range(args.pairs):
        seed = args.seed + k
        order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
        for side in order:
            log = os.path.join(args.log, f"{args.workload}_{seed}_{side}.txt") if args.log else None
            f, metrics = run(sides[side], args, seed, log)
            failed += f
            for m in METRICS:
                got[side][m].append(metrics[m])
        print(f"{k + 1:4d} {seed:5d}  {order[0]:6s}  " + "  ".join(
            f"{got['parent'][m][-1]:.3f}/{got['change'][m][-1]:.3f}" for m in METRICS), flush=True)

    for m in METRICS:
        base, new = got["parent"][m], got["change"][m]
        q1, med, q3 = quartiles(base)
        n1, new_med, n3 = quartiles(new)
        wins = sum(c < b for b, c in zip(base, new))
        gap = med - new_med
        print(f"{m}: median {med:.3f} -> {new_med:.3f} s (x{new_med / med:.3f}), change won "
              f"{wins}/{len(base)}, quartiles parent {q1:.3f}-{q3:.3f} (spread {q3 - q1:.3f}), "
              f"change {n1:.3f}-{n3:.3f}; median gap {gap:.3f} "
              f"{'>' if gap > q3 - q1 else '<='} parent spread")
        print(f"{m}: {verdict(base, new, END_TO_END[m])}")
    print(f"failed operations: {failed}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
