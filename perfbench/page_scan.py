"""page_scan: driver-side replay through ``EventLog.scan_rows``, with no
HTTP and no writes while timed.

Set-up builds a seeded log: a body of ``append_multi`` batches (2000
events each, so neither the batches nor the files minor compaction
folds them into fit the <=1024-row hot-tail row cache) and a tail of
single appends, which do fit it. One reader then runs a closed loop
over three page kinds in a fixed cycle: forward 1000-event pages
from uniform starts, reverse 1000-event pages from recency-skewed
starts, and 100-event ``label=`` pages of the rarest label.
"""

from __future__ import annotations

import itertools
import os
import random
import time
from bisect import bisect_left

from calibrate import Calibration
from common import (
    LABELS, ZIPF_WEIGHTS, PayloadGen, compact_json, cpu_s, descendants, dir_bytes, even_fractions,
    median, peak_rss_mb, percentile,
)

BODY_BATCHES = 12
BATCH = 2000
TAIL = 512
PAGE = 1000
LABEL_PAGE = 100
RARE = LABELS[-1]
SETUPS = 3


def make_inputs(seed: int) -> tuple[list[tuple[str, str]], list[str]]:
    """The events in version order and their stored (compact) payloads.
    Label counts are fixed (Zipf-like over 16 labels); the seed only
    places them."""
    n = BODY_BATCHES * BATCH + TAIL
    counts = [int(n * w / sum(ZIPF_WEIGHTS)) for w in ZIPF_WEIGHTS]
    counts[0] += n - sum(counts)
    labels = [lab for lab, c in zip(LABELS, counts) for _ in range(c)]
    random.Random(f"{seed}:labels").shuffle(labels)
    gen = PayloadGen(seed, "page_scan")
    events = [(lab, gen.payload()) for lab in labels]
    return events, [compact_json(p) for _lab, p in events]


def build(path: str, events: list[tuple[str, str]]):
    from eventlog_spark.log import EventLog

    log = EventLog.create(None, path, metadata={"workload": "page_scan"})
    body = BODY_BATCHES * BATCH
    for i in range(0, body, BATCH):
        log.append_multi(events[i:i + BATCH])
    for label, payload in events[body:]:
        log.append(label, payload)
    return log


def timed_build(path: str, events: list[tuple[str, str]]):
    """Build the log; return it, the set-up's CPU time on the nominal
    host and its wall time. The CPU time is this process's and the
    checksum workers' the engine starts, without the calibration
    thread's own: the build's wall time follows those workers and the
    file system, and spread 2.7-7.5 s between runs."""
    pid = os.getpid()
    cal = Calibration().start()
    c0, t0 = cpu_s([pid] + descendants(pid)), time.perf_counter()
    try:
        log = build(path, events)
    finally:
        wall = time.perf_counter() - t0
        cal.stop()
    return log, (cpu_s([pid] + descendants(pid)) - c0 - cal.ref_s) * cal.scale(), wall


def drive(log, seed: int, seconds: float, expected: list[str], rare: list[int]) -> dict:
    """The closed reader loop. Every page is checked as it arrives (the
    check is outside the timed call). Each page is timed twice: wall
    time, and the CPU time of this process (the reader plus the parquet
    reader's threads)."""
    rng = random.Random(f"{seed}:reader")
    starts = {kind: even_fractions(rng) for kind in "FRL"}
    head = len(expected)
    res = {"version": [], "label": [], "version_cpu": [], "label_cpu": [],
           "events": 0, "bad": 0, "busy_s": 0.0, "cpu_s": 0.0}
    cal = Calibration()
    deadline = time.perf_counter() + seconds
    # a fixed cycle of page kinds; the seed draws the starts
    for kind in itertools.cycle("FRL"):
        if time.perf_counter() >= deadline:
            break
        frac = next(starts[kind])
        if kind == "F":
            start = 1 + int(frac * head)
            args = {"version": start, "limit": PAGE}
            want = range(start, min(head, start + PAGE - 1) + 1)
        elif kind == "R":
            start = head - int(head * frac ** 3)
            args = {"version": start, "reverse": True, "limit": PAGE}
            want = range(start, max(1, start - PAGE + 1) - 1, -1)
        else:
            start = 1 + int(frac * head)
            args = {"version": start, "limit": LABEL_PAGE, "label": RARE}
            i = bisect_left(rare, start)
            want = rare[i:i + LABEL_PAGE]
        t0, c0 = time.perf_counter(), time.process_time()
        rows = log.scan_rows(**args)
        dt, dc = time.perf_counter() - t0, time.process_time() - c0
        group = "label" if kind == "L" else "version"
        res[group].append(dt)
        res[group + "_cpu"].append(dc)
        res["busy_s"] += dt
        res["cpu_s"] += dc
        res["events"] += len(rows)
        cal.sample()
        if [r.version for r in rows] != list(want) or any(
            r.payload != expected[r.version - 1] for r in rows
        ):
            res["bad"] += 1
    res["scale"] = cal.scale()
    res["ref_ms"] = cal.ref_s / cal.calls * 1e3
    return res


def summarize(res: dict) -> dict[str, float]:
    version_ms = [d * 1e3 for d in res["version"]]
    pages = len(version_ms) + len(res["label"])
    scale = res["scale"] * 1e3
    return {
        "cpu_ms_per_op": res["cpu_s"] * scale / pages,
        "events_per_s": res["events"] / res["busy_s"],
        "scan_p50_ms": median(version_ms),
        "scan_p90_ms": percentile(version_ms, 90),
        "label_scan_p50_ms": median([d * 1e3 for d in res["label"]]),
        "scan_cpu_p50_ms": median([d * scale for d in res["version_cpu"]]),
        "label_scan_cpu_p50_ms": median([d * scale for d in res["label_cpu"]]),
        "ref_ms": res["ref_ms"],
        "version_pages": len(version_ms),
        "label_pages": len(res["label"]),
    }


def run(tmp: str, seed: int, seconds: float, trace: bool) -> dict:
    """Untraced: three set-ups (the last one is read), one timed phase.
    Traced: one untraced set-up and phase, then a traced set-up and a
    traced phase on it."""
    from eventlog_spark import log as _preload  # noqa: F401  (import cost is not set-up)

    events, expected = make_inputs(seed)
    rare = [v for v, (lab, _p) in enumerate(events, 1) if lab == RARE]
    user_bytes = sum(len(lab) + len(p) for (lab, _raw), p in zip(events, expected))
    setups, setups_wall = [], []
    for i in range(1 if trace else SETUPS):
        path = os.path.join(tmp, f"page-{i}", "log")
        log, nominal, wall = timed_build(path, events)
        setups.append(nominal)
        setups_wall.append(wall)
    res = drive(log, seed, seconds, expected, rare)
    e2e = summarize(res)
    attempted = len(res["version"]) + len(res["label"])
    failed = res["bad"]
    e2e.update(
        setup_s=median(setups),
        peak_rss_mb=peak_rss_mb([os.getpid()]),
        stored_bytes_per_user_byte=dir_bytes(path) / user_bytes,
        error_rate=failed / attempted,
    )
    out = {"workload": "page_scan", "attempted": attempted, "failed": failed,
           "problems": [f"{failed} pages differ from the generator"] if failed else [],
           "e2e": e2e, "setups": setups, "setups_wall": setups_wall, "log_events": len(events), "rare_events": len(rare)}
    out["contract"] = {
        "setup_s": e2e["setup_s"],
        "peak_rss_mb": e2e["peak_rss_mb"],
        "cpu_ms_per_op": e2e["cpu_ms_per_op"],
    }
    if trace:
        layers, t_res = _traced(tmp, seed, seconds, events, expected, rare, user_bytes)
        layers["trace.overhead_ratio"] = summarize(t_res)["cpu_ms_per_op"] / e2e["cpu_ms_per_op"] - 1.0
        out["layers"] = layers
        out["attempted"] += len(t_res["version"]) + len(t_res["label"])
        out["failed"] += t_res["bad"]
    return out


def _traced(tmp, seed, seconds, events, expected, rare, user_bytes):
    from layers import engine_metrics, shares
    from tracer import Tracer, install_engine_wrappers

    tracer = Tracer()
    install_engine_wrappers(tracer)
    try:
        log = build(os.path.join(tmp, "page-traced", "log"), events)
        written = engine_metrics(tracer.spans, {}, user_bytes)
        tracer.reset()
        res = drive(log, seed, seconds, expected, rare)
    finally:
        tracer.uninstall()
    spans = tracer.spans
    m = engine_metrics(spans, {}, 0)
    m["storage.bytes_written_per_user_byte"] = written["storage.bytes_written_per_user_byte"]
    scan_s = sum((s[2] - s[1]) / 1e9 for s in spans if s[0] == "log.scan_rows")
    m.update(shares(spans, res["busy_s"], client_s=max(0.0, res["busy_s"] - scan_s)))
    return m, res
