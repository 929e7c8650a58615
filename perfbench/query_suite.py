"""query_suite: registry queries on ``local[nproc]`` over the sf0.01
tables shipped in ``perfbench/data``, in a seeded order, from a fresh
artifact directory (so every run pays the same cold training).

The suite is one query per defining operator module: the
alphabetically first query of each module. That rule covers every
module the registry has and keeps a run inside the benchmark's time
budget; ``--all`` runs every registered query instead.

Each query is built (construction: Python DataFrame building plus the
eager Spark jobs it fires) and then executed by one timed action that
returns an order-insensitive digest of its rows, checked against the
digests pinned in ``digests.json``.
"""

from __future__ import annotations

import json
import os
import random
import time
from collections import defaultdict

from calibrate import Calibration, Segments, timed_setup
from common import BENCH_DIR, comm, cpu_s, descendants, median, peak_rss_mb

SF_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
DIGESTS = os.path.join(BENCH_DIR, "digests.json")
SETUPS = 2


def module_of(spec) -> str:
    return spec.fn.__module__.rsplit(".", 1)[-1]


def suite(all_queries: bool = False) -> list[str]:
    from eventlog_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    if all_queries:
        return sorted(REGISTRY)
    first: dict[str, str] = {}
    for name in sorted(REGISTRY):
        first.setdefault(module_of(REGISTRY[name]), name)
    return sorted(first.values())


def digest(df):
    """(rows, digest, the executed DataFrame): the row count plus the
    sums of the low and high 32 bits of a 64-bit hash of each row's JSON
    rendering."""
    from pyspark.sql import functions as F

    h = F.xxhash64(F.to_json(F.struct(F.col("*"))))
    agg = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        F.sum(F.shiftrightunsigned("h", 32)).alias("hi"),
    )
    row = agg.collect()[0]
    return row["n"], f"{row['n']}:{row['lo']}:{row['hi']}", agg


def planning_ms(agg) -> float:
    """Analysis + optimization + planning time of an executed query,
    from its QueryExecution tracker."""
    phases = agg._jdf.queryExecution().tracker().phases().iterator()
    total = 0
    while phases.hasNext():
        total += phases.next()._2().durationMs()
    return float(total)


def start_session():
    from pyspark.sql import functions as F

    from eventlog_spark.session import get_spark
    from eventlog_spark.tables import load_tables

    spark = get_spark(app_name="perfbench_query_suite")
    spark.sparkContext.setLogLevel("ERROR")
    # the same tiny warm-up bench.py runs: session, codegen scaffolding,
    # one exchange and the noop sink, over the 25-row nation table
    nation = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    nation.count()
    (
        nation.groupBy("n_regionkey")
        .agg(F.sum(F.col("n_nationkey").cast("decimal(12,2)")).alias("s"))
        .write.format("noop").mode("overwrite").save()
    )

    # the session's table readers (listing + footer schema), which the
    # engine memoizes per session, and one scan of each table
    for df in load_tables(spark, SF_DIR).values():
        df.count()

    # start one Arrow Python worker per core: a session pays that once,
    # so it belongs to set-up, not to whichever query first needs one
    def identity(batches):
        yield from batches

    slots = spark.sparkContext.defaultParallelism
    (
        spark.range(0, slots, numPartitions=slots)
        .mapInPandas(identity, "id long")
        .write.format("noop").mode("overwrite").save()
    )
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it (spark.stop() alone
    leaves the gateway JVM and its Python workers running until this
    process exits); the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def tree_cpu(cal: Calibration) -> Segments:
    """CPU time of this driver, its JVM and the JVM's Python workers,
    without the calibration thread's own, calibrated per phase."""
    pid = os.getpid()
    return Segments(cal, {"tree": lambda: cpu_s([pid] + descendants(pid)) - cal.ref_s})


def run_pass(spark, names: list[str], tracer=None, current=None, cal=None) -> list[dict]:
    """Build and execute each query. Traced (``tracer`` given): spans
    around both phases, one job group per phase, the query's name kept
    in ``current["q"]`` for the artifact wrappers. Untraced (``cal``
    given): the process tree's calibrated CPU time per phase too."""
    cpu = tree_cpu(cal) if cal else None

    def phase_cpu() -> float:
        before = cpu.nominal["tree"]
        cpu.cut()
        return cpu.nominal["tree"] - before

    from eventlog_spark.queries import REGISTRY

    sc = spark.sparkContext
    out = []
    for name in names:
        spec = REGISTRY[name]
        if tracer is not None:
            current["q"] = name
            sc.setJobGroup(f"{name}:build", name)
        if cpu:
            cpu.cut()
        t0 = time.perf_counter()
        if tracer is not None:
            df = tracer.call(f"construction.{name}", spec.fn, spark, SF_DIR)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{name}:exec", name)
            rows, dig, agg = tracer.call(f"execution.{name}", digest, df)
        else:
            df = spec.fn(spark, SF_DIR)
            t1 = time.perf_counter()
            build_cpu = phase_cpu() if cpu else 0.0
            rows, dig, agg = digest(df)
        t2 = time.perf_counter()
        r = {"name": name, "module": module_of(spec), "build_s": t1 - t0,
             "exec_s": t2 - t1, "rows": rows, "digest": dig}
        if cpu:
            r.update(build_cpu_s=build_cpu, exec_cpu_s=phase_cpu())
        if tracer is not None:
            r["planning_ms"] = planning_ms(agg)
        out.append(r)
    return out


def check(results: list[dict], pinned: dict) -> list[str]:
    problems = []
    for r in results:
        want = pinned.get(r["name"])
        if want is None:
            problems.append(f"{r['name']}: no pinned digest")
        elif want.get("digest", r["digest"]) != r["digest"] or want["rows"] != r["rows"]:
            problems.append(f"{r['name']}: got {r['digest']}, pinned {want}")
    return problems


def summarize(results: list[dict]) -> dict[str, float]:
    """Pass totals; for an untraced pass also the process tree's CPU
    time on the nominal host."""
    wall = [r["build_s"] + r["exec_s"] for r in results]
    suite_s = sum(wall)
    cpu = {}
    if "build_cpu_s" in results[0]:
        build = sum(r["build_cpu_s"] for r in results)
        execute = sum(r["exec_cpu_s"] for r in results)
        cpu = {"cpu_ms_per_op": (build + execute) * 1e3 / len(results),
               "build_cpu_s": build, "exec_cpu_s": execute}
    return {
        **cpu,
        "suite_s": suite_s,
        "queries_per_s": len(results) / suite_s,
        "query_p50_ms": median(wall) * 1e3,
        "build_s": sum(r["build_s"] for r in results),
        "exec_s": sum(r["exec_s"] for r in results),
    }


def run(tmp: str, seed: int, seconds: float, trace: bool, all_queries: bool = False) -> dict:
    """One pass over the suite (the pass is the unit of work; it is not
    cut at ``seconds``). Untraced: two session set-ups, the first
    stopped again. Traced: one set-up, a traced pass, then the untraced
    pass, each from its own fresh artifact directory (the untraced pass
    runs second, on a warmer JVM, so the overhead reads high, not low)."""
    names = suite(all_queries)
    random.Random(f"{seed}:order").shuffle(names)
    with open(DIGESTS) as f:
        pinned = json.load(f)
    setups, setups_wall = [], []
    n_setups = 1 if trace else SETUPS
    spark = None
    try:
        for i in range(n_setups):
            spark, nominal, wall = timed_setup(start_session)
            setups.append(nominal)
            setups_wall.append(wall)
            if i < n_setups - 1:
                spark.stop()
        if trace:
            layers, traced = _traced(spark, tmp, names)
        cal = Calibration(period=0.05).start()
        try:
            results = run_pass(spark, names, cal=cal)
        finally:
            cal.stop()
        problems = check(results, pinned)
        e2e = summarize(results)
        e2e["ref_ms"] = cal.ref_s / cal.calls * 1e3
        e2e["setup_s"] = median(setups)
        e2e["error_rate"] = len(problems) / len(results)
        out = {"workload": "query_suite", "order": names, "queries": results, "setups": setups,
               "setups_wall": setups_wall,
               "e2e": e2e, "attempted": len(results), "failed": len(problems), "problems": problems}
        if trace:
            layers["trace.overhead_ratio"] = summarize(traced)["suite_s"] / e2e["suite_s"] - 1.0
            t_problems = check(traced, pinned)
            out.update(layers=layers, traced_queries=traced)
            out["attempted"] += len(traced)
            out["failed"] += len(t_problems)
            out["problems"] += t_problems
        # the process under test is this driver plus its JVM
        tree = [os.getpid()] + descendants(os.getpid())
        e2e["peak_rss_mb"] = peak_rss_mb(tree)
        out["rss_mb_by_process"] = {f"{p}:{comm(p)}": peak_rss_mb([p]) for p in tree}
    finally:
        if spark is not None:
            stop_jvm(spark)
    out["contract"] = {
        "setup_s": e2e["setup_s"],
        "peak_rss_mb": e2e["peak_rss_mb"],
        "cpu_ms_per_op": e2e["cpu_ms_per_op"],
    }
    return out


def _traced(spark, tmp: str, names: list[str]) -> tuple[dict, list[dict]]:
    from eventlog_spark.operators import artifacts

    from tracer import Tracer

    sc = spark.sparkContext
    tracer = Tracer()
    current = {"q": "", "depth": 0}

    def in_artifact_group(kind: str, fn):
        def wrapper(*args, **kwargs):
            q = current["q"]
            if current["depth"] == 0:
                sc.setJobGroup(f"{q}:artifacts", q)
            current["depth"] += 1
            try:
                return tracer.call(f"artifacts.{kind}", fn, *args, **kwargs)
            finally:
                current["depth"] -= 1
                if current["depth"] == 0:
                    sc.setJobGroup(f"{q}:build", q)
        return wrapper

    # its own cold pass: new artifact directory, restored afterwards
    root = artifacts.ARTIFACT_ROOT
    artifacts.ARTIFACT_ROOT = os.path.join(tmp, "artifacts-traced")
    originals = {k: getattr(artifacts, k) for k in ("persisted_bundle", "shared")}
    for k, fn in originals.items():
        setattr(artifacts, k, in_artifact_group(k, fn))
    t0 = time.perf_counter()
    try:
        results = run_pass(spark, names, tracer, current)
    finally:
        for k, fn in originals.items():
            setattr(artifacts, k, fn)
        artifacts.ARTIFACT_ROOT = root
        artifacts.clear()  # no session-cached artifact outlives the pass
        spark.catalog.clearCache()
        sc.setLocalProperty("spark.jobGroup.id", None)
    pass_s = time.perf_counter() - t0
    return layer_metrics(spark, results, tracer.spans, pass_s), results


def _stage_metrics(spark, groups: list[str]) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages and the status store's task metrics."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    listed = sc._jsc.sc().statusStore().stageList(None, False, False, no_quantiles, None)
    by_stage: dict[int, list] = defaultdict(list)
    for i in range(listed.size()):
        s = listed.apply(i)
        by_stage[s.stageId()].append(s)
    out = {}
    for g in groups:
        jobs = tracker.getJobIdsForGroup(g)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        row = defaultdict(float, jobs=float(len(jobs)), stages=float(len(stage_ids)))
        for sid in stage_ids:
            for s in by_stage.get(sid, []):
                row["task_run_s"] += s.executorRunTime() / 1e3
                row["task_cpu_s"] += s.executorCpuTime() / 1e9
                row["gc_s"] += s.jvmGcTime() / 1e3
                row["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
                row["shuffle_fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
                row["spill_mb"] += s.diskBytesSpilled() / 2**20
        out[g] = row
    return out


def layer_metrics(spark, results: list[dict], spans: list[tuple], pass_s: float) -> dict[str, float]:
    names = [r["name"] for r in results]
    groups = [f"{n}:{k}" for n in names for k in ("build", "exec", "artifacts")]
    st = _stage_metrics(spark, groups)
    m: dict[str, float] = defaultdict(float)
    for r in results:
        n = r["name"]
        m["construction.s"] += r["build_s"]
        m["construction.jobs"] += st[f"{n}:build"]["jobs"]
        m["artifacts.jobs"] += st[f"{n}:artifacts"]["jobs"]
        m["execution.s"] += r["exec_s"]
        ex = st[f"{n}:exec"]
        for k in ("jobs", "stages", "task_run_s", "task_cpu_s", "gc_s",
                  "shuffle_write_mb", "shuffle_fetch_wait_s", "spill_mb"):
            m[f"execution.{k}"] += ex[k]
        m[f"{r['module']}.build_s"] += r["build_s"]
        m[f"{r['module']}.exec_s"] += r["exec_s"]
    m["execution.cpu_ratio"] = m["execution.task_cpu_s"] / m["execution.task_run_s"] if m["execution.task_run_s"] else 0.0
    kinds = {s[3]: s[0] for s in spans}
    artifacts_s = sum(
        (s[2] - s[1]) / 1e9 for s in spans
        if s[0].startswith("artifacts.") and not kinds.get(s[4], "").startswith("artifacts.")
    )
    m["artifacts.s"] = artifacts_s
    m["planning.ms"] = sum(r.get("planning_ms", 0.0) for r in results)
    planning_s = m["planning.ms"] / 1e3
    m["construction.self_share"] = (m["construction.s"] - artifacts_s) / pass_s
    m["artifacts.self_share"] = artifacts_s / pass_s
    m["planning.self_share"] = planning_s / pass_s
    m["execution.self_share"] = (m["execution.s"] - planning_s) / pass_s
    m["trace.accounted_ratio"] = (m["construction.s"] + m["execution.s"]) / pass_s
    return dict(m)
