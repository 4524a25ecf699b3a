#!/usr/bin/env python3
"""Per-layer diff of two trace files written by `run.py --trace 1`.

Usage: python3 perfbench/diff_trace.py BASE.json NEW.json

Prints every per-layer metric of the two runs side by side with the
ratio NEW / BASE. A metric missing from one file shows as "-"; a ratio
over a zero base shows as "-".
"""
import json
import sys


def load(path):
    with open(path) as fh:
        t = json.load(fh)
    return t, t["per_layer"]


def main(base_path, new_path):
    base, a = load(base_path)
    new, b = load(new_path)
    print(f"base: {base['run_id']} ({base_path})")
    print(f"new:  {new['run_id']} ({new_path})")
    for key in ("program_source_sha256", "git_commit", "nproc", "master", "jvm_xmx", "seed"):
        va, vb = base["markers"].get(key, "-"), new["markers"].get(key, "-")
        print(f"  {key}: {va}" + ("" if va == vb else f" -> {vb}"))
    width = max(len(k) for k in list(a) + list(b))
    print(f"{'metric':{width}}  {'unit':6} {'base':>12} {'new':>12} {'new/base':>9}")
    for name in list(a) + [k for k in b if k not in a]:
        ma, mb = a.get(name), b.get(name)
        unit = (ma or mb)["unit"]
        va = f"{ma['value']:.6g}" if ma else "-"
        vb = f"{mb['value']:.6g}" if mb else "-"
        ratio = f"{mb['value'] / ma['value']:.3f}" if ma and mb and ma["value"] else "-"
        print(f"{name:{width}}  {unit:6} {va:>12} {vb:>12} {ratio:>9}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
