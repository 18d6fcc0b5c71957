"""Compare two sets of benchmark results, run by run.

    python3 cvbench/compare.py BASE NEW

BASE and NEW are result files or directories of them, as ``run.py``
writes them to ``.cvbench_results/``. Runs are paired by workload, trace
mode and seed. A pair whose environment stamps differ (host cores,
``SPARK_GRAFT_CPUS``, shuffle partitions, driver memory, PySpark,
Python, Pillow, seed, run length) is refused: numbers from different
environments are not comparable, and the command exits 3 without
printing a comparison.

For each workload and metric it prints both medians, their quartiles,
the change and, for the end-to-end metrics, how many pairs the new side
won.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def directions() -> dict[str, str]:
    """``better`` of each end-to-end metric, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}


def load(paths: list[str]) -> dict:
    runs = {}
    for p in paths:
        files = sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
        for f in files:
            if f.endswith("-spans.json"):
                continue
            with open(f) as fh:
                r = json.load(fh)
            runs[(r["stamp"]["workload"], r["stamp"]["seed"], r["trace"])] = r
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base", nargs="+")
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.new)
    pairs = sorted(set(base) & set(new))
    if not pairs:
        print("no runs pair up by workload, seed and trace mode", file=sys.stderr)
        return 2
    refused = [k for k in pairs if base[k]["stamp"] != new[k]["stamp"]]
    for k in refused:
        diff = {
            f: (base[k]["stamp"].get(f), new[k]["stamp"].get(f))
            for f in set(base[k]["stamp"]) | set(new[k]["stamp"])
            if base[k]["stamp"].get(f) != new[k]["stamp"].get(f)
        }
        print(f"refused {k[0]} seed {k[1]}: stamps differ {diff}", file=sys.stderr)
    if refused:
        return 3
    by_metric: dict[tuple[str, str], list[tuple[float, float]]] = {}
    for k in pairs:
        for name, m in base[k]["metrics"].items():
            if name in new[k]["metrics"]:
                by_metric.setdefault((k[0], name), []).append((m["value"], new[k]["metrics"][name]["value"]))
    better = directions()
    print(f"{'workload':15} {'metric':36} {'base median [q1,q3]':>30} {'new median [q1,q3]':>30} {'change':>8} wins")
    for (workload, name), vals in sorted(by_metric.items()):
        b = quartiles([v[0] for v in vals])
        n = quartiles([v[1] for v in vals])
        sign = {"lower": -1, "higher": 1}.get(better.get(name), 0)
        wins = f"{sum(sign * (nv - bv) > 0 for bv, nv in vals)}/{len(vals)}" if sign else "-"
        change = (n[1] - b[1]) / b[1] if b[1] else float("nan")
        print(
            f"{workload:15} {name:36} {b[1]:>12.4g} [{b[0]:.4g},{b[2]:.4g}] "
            f"{n[1]:>12.4g} [{n[0]:.4g},{n[2]:.4g}] {change:>+8.1%} {wins}"
        )
    failed = sum(r["failed"] for k in pairs for r in (base[k], new[k]))
    if failed:
        print(f"{failed} failed operations across the compared runs", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
