#!/usr/bin/env python3
"""sparklog benchmark: one run of one workload.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Workloads (see workloads.json):

* serve_mixed  - appenders, an OCC appender, a page reader and a
                 websocket subscriber against the HTTP server;
* page_scan    - driver-side page replay through EventLog.scan_rows;
* query_suite  - one query per operator module of the query registry.

``--trace 0`` measures with tracing off and reports the end-to-end
metrics; ``--trace 1`` adds a traced phase and reports the per-layer
metrics. Metric names and units come from BENCHMARK.json. The last line
of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
prints every end-to-end metric under its workload's own name. The full
record (per-operation summaries, set-up times, problems) is written to
``.perfbench/records/`` (or ``--records DIR``) and nothing else is kept.
``--all`` makes query_suite run every registered query.

Compare two sets of records with ``python3 perfbench/compare.py``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("serve_mixed", "page_scan", "query_suite")


def _unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_ms_per_op", "ms"), ("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "ratio"


def _stop_children() -> None:
    """Close the engine's checksum worker pool if a run started it, then
    wait for every child process to end; kill what outlives the wait."""
    from common import descendants, running

    hashpool = sys.modules.get("eventlog_spark.hashpool")
    if hashpool is not None and hashpool._POOL is not None:
        hashpool._POOL.close()
        hashpool._POOL = None
    for sig in (signal.SIGKILL, None):
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            alive = [p for p in descendants(os.getpid()) if running(p)]
            if not alive:
                return
            time.sleep(0.05)
        for pid in alive if sig else ():
            os.kill(pid, sig)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--records", default=os.path.join(ROOT, ".perfbench", "records"))
    ap.add_argument("--all", action="store_true", help="query_suite: every registered query")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "eventlog_spark", "__init__.py")):
        print(f"perfbench: no eventlog_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    sys.path[:0] = [BENCH_DIR, ROOT]
    from common import WORK_DIR, nproc, run_env, write_record

    os.makedirs(os.path.join(WORK_DIR, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(WORK_DIR, "tmp"))
    env = run_env(tmp)
    os.environ.clear()
    os.environ.update(env)
    tempfile.tempdir = tmp
    if args.workload == "query_suite":
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        os.environ["SPARK_GRAFT_ARTIFACTS"] = os.path.join(tmp, "artifacts")
        # sf0.01 needs a fraction of the default 8g heap; a smaller cap
        # keeps the JVM's resident set (and its share of the host) small
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"

    module = importlib.import_module(args.workload)
    kwargs = {"all_queries": True} if args.all else {}
    try:
        out = module.run(tmp, args.seed, args.seconds, bool(args.trace), **kwargs)
    finally:
        _stop_children()
        shutil.rmtree(tmp, ignore_errors=True)

    out.update(seed=args.seed, seconds=args.seconds, trace=args.trace,
               nproc=nproc(), time=time.strftime("%Y-%m-%dT%H:%M:%S"))
    correct = out["failed"] == 0
    stamp = time.strftime("%Y%m%d-%H%M%S")
    record = write_record(args.records, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json", out)

    e2e = " ".join(f"{k}={v:.4g} {_unit(k)}" for k, v in sorted(out["e2e"].items()) if isinstance(v, float))
    print(f"{args.workload} seed={args.seed} correct={correct} {e2e} record={os.path.relpath(record, ROOT)}")
    for p in out["problems"][:20]:
        print(f"  problem: {p}")
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = out["layers"] if args.trace else out["contract"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}
    print(json.dumps({"correct": correct, "attempted": out["attempted"], "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
