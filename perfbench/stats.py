"""Spread check over repeated runs, the way the benchmark is accepted.

    python3 perfbench/stats.py OUT_FILE...

Each OUT_FILE holds one run's standard output (the result is its last
line). Prints, per metric, the median and the interquartile range as a
share of the median (``statistics.quantiles(values, n=4)``), and the
metric's bound from BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys


def main() -> None:
    bench = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
    bounds = {}
    if os.path.isfile(bench):
        with open(bench) as f:
            bounds = {m["name"]: m.get("bound") for m in json.load(f)["end_to_end"]}
    values: dict[str, list[float]] = {}
    bad = 0
    for p in sys.argv[1:]:
        with open(p) as f:
            lines = f.read().strip().splitlines()
        r = json.loads(lines[-1]) if lines else {}
        if not r.get("correct"):
            bad += 1
        for k, m in r.get("metrics", {}).items():
            values.setdefault(k, []).append(m["value"])
    print(f"runs={len(sys.argv) - 1} not_correct={bad}")
    for k, v in values.items():
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        b = bounds.get(k)
        print(f"{k:24s} median={med:10.4f} spread={spread:7.2%} bound={b}  n={len(v)}")


if __name__ == "__main__":
    main()
