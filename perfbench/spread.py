"""Median and quartile spread of each metric over a set of run records.

    python3 perfbench/spread.py .perfbench/results/kg_query-*-trace0-*.json

The spread is (Q3 - Q1) / median with Q1, Q3 from
``statistics.quantiles(values, n=4)``, the steadiness test the benchmark
is held to.
"""

from __future__ import annotations

import json
import statistics
import sys


def spreads(records: list[dict]) -> dict[str, tuple[float, float, int]]:
    """metric -> (median, spread, runs)."""
    values: dict[str, list[float]] = {}
    for r in records:
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    out = {}
    for name, xs in values.items():
        med = statistics.median(xs)
        if len(xs) < 2 or med == 0:
            out[name] = (med, float("nan"), len(xs))
            continue
        q1, _, q3 = statistics.quantiles(xs, n=4)
        out[name] = (med, (q3 - q1) / med, len(xs))
    return out


def main(paths: list[str]) -> int:
    records = []
    for p in paths:
        with open(p) as f:
            records.append(json.load(f))
    print(f"{len(records)} runs, correct in {sum(r['correct'] for r in records)}")
    for name, (med, spread, n) in spreads(records).items():
        print(f"{name:40s} median {med:14.4f}  spread {spread:7.4f}  runs {n}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
