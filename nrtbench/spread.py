"""Summarise benchmark results: per metric the median and the spread
(first to third quartile, as a share of the median), the figure
BENCHMARK.json's bounds are checked against.

    python3 nrtbench/spread.py results/*.out

Each file holds one run's stdout; its last line is the result object.
"""

from __future__ import annotations

import json
import statistics
import sys


def summarise(paths: list[str]) -> dict[str, dict[str, float]]:
    values: dict[str, list[float]] = {}
    for p in paths:
        with open(p) as fh:
            last = fh.read().strip().splitlines()[-1]
        for name, m in json.loads(last)["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    out = {}
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        out[name] = {"n": len(xs), "median": med,
                     "spread": (q3 - q1) / med if med else 0.0}
    return out


if __name__ == "__main__":
    for name, s in summarise(sys.argv[1:]).items():
        print(f"{name:40s} n={s['n']:2d} median={s['median']:.5g} spread={s['spread']:.3f}")
