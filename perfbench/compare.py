#!/usr/bin/env python3
"""Compare two sets of benchmark records, parent against change.

    python3 perfbench/compare.py PARENT_RECORDS_DIR CHANGE_RECORDS_DIR

Each directory holds the records ``run.py --records DIR`` wrote. Runs
are paired by seed (a seed's inputs are identical on both sides). Per
workload and end-to-end metric it prints both sides' median and
quartiles, the pairs the change won, and a verdict:

* ``improved``: the change won at least 9 in 10 pairs and the medians
  differ by more than the parent's own quartile spread;
* ``worse``: the change's median is worse than the parent's by more
  than the metric's bound in BENCHMARK.json;
* ``unresolved``: the parent's spread is wider than the bound (unless
  every change run beats every parent run, which reads ``improved``);
* ``within bound`` otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(directory: str) -> dict[str, dict[int, dict]]:
    """workload -> seed -> contract metrics of the untraced runs."""
    out: dict[str, dict[int, dict]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("trace") == 0 and "contract" in rec:
            out.setdefault(rec["workload"], {})[rec["seed"]] = rec["contract"]
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], pairs: list[tuple[float, float]],
            better: str, bound: float) -> tuple[str, int]:
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    p1, pm, p3 = quartiles(parent)
    _c1, cm, _c3 = quartiles(change)
    if sign * (pm - cm) / pm > bound:
        return "worse", wins
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if pairs and wins >= 0.9 * len(pairs) and sign * (cm - pm) > (p3 - p1):
        return "improved", wins
    if (p3 - p1) / pm > bound:
        return ("improved" if all_better else "unresolved"), wins
    return "within bound", wins


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    parent, change = load(argv[0]), load(argv[1])
    print(f"{'workload':12s} {'metric':16s} {'parent median [q1, q3]':>34s} "
          f"{'change median [q1, q3]':>34s} {'wins':>7s}  verdict")
    for workload in sorted(set(parent) & set(change)):
        seeds = sorted(set(parent[workload]) & set(change[workload]))
        for m in metrics:
            name = m["name"]
            p = [r[name] for r in parent[workload].values()]
            c = [r[name] for r in change[workload].values()]
            pairs = [(parent[workload][s][name], change[workload][s][name]) for s in seeds]
            v, wins = verdict(p, c, pairs, m["better"], m["bound"])
            p1, pm, p3 = quartiles(p)
            c1, cm, c3 = quartiles(c)
            print(f"{workload:12s} {name:16s} {pm:12.4g} [{p1:9.4g}, {p3:9.4g}] "
                  f"{cm:12.4g} [{c1:9.4g}, {c3:9.4g}] {wins:3d}/{len(pairs):<3d}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
