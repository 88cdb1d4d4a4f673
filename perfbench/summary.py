#!/usr/bin/env python3
"""Median, quartiles and spread (interquartile distance over median) of
each metric across runs, from the files runs leave in .bench_out/:

    python3 perfbench/summary.py .bench_out/elt_pipeline-seed*-trace0.json
"""
import json
import sys
from collections import defaultdict

sys.dont_write_bytecode = True

import stats  # noqa: E402


def main(paths):
    values = defaultdict(list)
    for p in paths:
        with open(p) as f:
            for name, (value, unit) in json.load(f)["metrics"].items():
                values[(name, unit)].append(value)
    for (name, unit), xs in sorted(values.items()):
        if len(xs) < 2:
            print(f"{name:34s} n={len(xs)} value={xs[0]:.4g} {unit}")
            continue
        q1, q2, q3 = stats.quartiles(xs)
        spread = (q3 - q1) / q2 if q2 else float("nan")
        print(f"{name:34s} n={len(xs)} median={q2:.4g} q1={q1:.4g} q3={q3:.4g} "
              f"spread={spread:.3f} {unit}")


if __name__ == "__main__":
    main(sys.argv[1:])
