#!/usr/bin/env python
"""Generate PLANS.md: a physical-plan inventory of every registered
query, machine-extracted from ``.explain("formatted")``.

For each query: exchange count (shuffles), broadcast count, join
strategies, Python stages (Arrow-batched only — row-at-a-time would be
a bug), whether filters reached the parquet scan, and top-k/rollup
markers. This is the whole-surface companion to tests/test_plans.py
(which pins the load-bearing subset as hard assertions): one table the
reader can scan for "does anything here shuffle or fall back to Python
where it shouldn't".

Run: ``python tools/plan_inventory.py`` (writes PLANS.md at repo root).
Planning only — no query executes, with one class of exceptions:
queries whose DataFrame CONSTRUCTION is data-dependent run their
derivation jobs while the plan is built (dedup_connected_components'
per-round convergence probe; the real-streaming query starts its
bounded stream; the IVF-PQ queries collect their training sample, and
their control-plane rows and codebook for the driver-side router and
LUTs; the BPE tokenizer queries run their per-round merge training).
Checkpoint-using queries
(graph_pagerank, dedup_lsh_verified) use lazy localCheckpoint precisely
so plan inspection stays execution-free.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
)
PY_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "AggregateInPandas", "FlatMapGroupsInPandas")
MARKERS = ("TakeOrderedAndProject", "WindowGroupLimit", "Expand", "Window")


def main() -> None:
    from eventlog_spark.operators import artifacts
    from eventlog_spark.plans import formatted_plan
    from eventlog_spark.queries import REGISTRY, _ensure_loaded
    from eventlog_spark.session import get_spark

    # full trees, not `Scan ExistingRDD`: bypass the artifact cache and
    # its lazy checkpoints (same switch tests/test_plans.py flips). The
    # switch only skips the cache; every query builds its production
    # plan, e.g. the IVF-PQ rows show the driver-routed serving plan.
    artifacts.ENABLED = False

    _ensure_loaded()
    spark = get_spark(app_name="plan_inventory")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, spec in REGISTRY.items():
        try:
            plan = formatted_plan(spec.fn(spark, SF_DIR))
        except Exception as exc:  # pragma: no cover - inventory best-effort
            rows.append((name, "-", "-", f"plan error: {exc}", "-", "-"))
            continue
        n_ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
        n_bc = len(re.findall(r"\(\d+\) BroadcastExchange\b", plan))
        node_re = r"\(\d+\) "
        join_str = ", ".join(
            f"{j}:{len(re.findall(node_re + j, plan))}"
            for j in JOIN_NODES
            if re.search(node_re + j, plan)
        ) or "—"
        py = ", ".join(p for p in PY_NODES if p in plan) or "—"
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]+\]", plan) else "—"
        marks = ", ".join(m for m in MARKERS if re.search(rf"\(\d+\) {m}", plan)) or "—"
        rows.append((name, str(n_ex), str(n_bc), join_str, py, f"{pushed} / {marks}"))

    out = [
        "# PLANS — physical-plan inventory (auto-generated)\n",
        f"Generated by `tools/plan_inventory.py` at sf_dir={SF_DIR}; planning",
        "only — except queries whose construction is data-dependent",
        "(dedup_connected_components' convergence probe, the real-stream",
        "run, the IVF-PQ training, router and LUT collects, the BPE merge",
        "training), which execute while their plan is built.",
        "Columns: shuffles = `Exchange` nodes",
        "(includes single-partition collects for final small outputs);",
        "bcast = `BroadcastExchange`; joins by strategy; python = Arrow",
        "stages (row-at-a-time Python never appears, by policy); pushed =",
        "parquet PushedFilters present / plan markers.\n",
        "| query | shuffles | bcast | joins | python | pushed / markers |",
        "|---|---|---|---|---|---|",
    ]
    # by query name, so a regeneration's diff shows only plan changes
    for r in sorted(rows, key=lambda r: r[0]):
        out.append("| " + " | ".join(r) + " |")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote {path}: {len(rows)} queries")


if __name__ == "__main__":
    main()
