"""serve_mixed: the online path over HTTP against a server started
through the CLI ``run`` entry point in its own process. Four
connections from one process:

* a plain appender (single appends; every fifth of its ops a 2-5 event
  batch);
* an OCC appender with ``try_append`` semantics: it assumes the head it
  last wrote, and on a mismatch re-syncs and retries;
* a page reader issuing ``GET /log/:v?n=100`` near the head;
* a websocket subscriber.

The three request connections take turns in a fixed cycle (plain, OCC,
page), one request in flight: a closed loop whose operation mix and
OCC conflicts (the plain append between two OCC appends makes every
OCC append mismatch once) are set by the seed, not by the scheduler.
The subscriber receives pushes on its own thread throughout. The
timed phase is a whole number of minor-compaction folds.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import socket
import sys
import threading
import time
import urllib.request
from bisect import bisect_left
from functools import partial

from calibrate import Calibration, Segments, timed_setup
from common import (
    PayloadGen, compact_json, cpu_s, descendants, dir_bytes, even_fractions,
    free_port, median, peak_rss_mb, percentile, run_env, start_group, stop_group,
)

PAGE_N = 100
SETUPS = 2
# the engine folds every 256 single-commit fragments (minor compaction);
# a cycle commits twice (plain + OCC)
FOLD_COMMITS = 256
# nominal cycles per second, which sizes the timed phase: --seconds on
# a 4-vCPU host, longer on a slower one, the same work either way
CYCLES_PER_S = 50
# cycles per calibration segment
SEGMENT = 16


def n_cycles(seconds: float) -> int:
    per_fold = FOLD_COMMITS // 2
    return per_fold * max(1, round(seconds * CYCLES_PER_S / per_fold))


class Server:
    """A log directory plus the server process serving it."""

    def __init__(self, tmp: str, tag: str, trace_prefix: str | None = None):
        from eventlog_spark.log import EventLog

        self.dir = os.path.join(tmp, f"serve-{tag}")
        os.makedirs(self.dir)
        self.log_dir = os.path.join(self.dir, "log")
        self.port = free_port()
        EventLog.create(None, self.log_dir, metadata={"workload": "serve_mixed"})
        run = ["run", self.log_dir, "--port", str(self.port)]
        if trace_prefix:
            launcher = os.path.join(os.path.dirname(os.path.abspath(__file__)), "serve_launcher.py")
            cmd = [sys.executable, launcher, trace_prefix] + run
        else:
            cmd = [sys.executable, "-m", "eventlog_spark.cli"] + run
        self.proc = start_group(cmd, run_env(tmp), os.path.join(self.dir, "server.out"))
        try:
            self._wait_ready()
        except BaseException:
            stop_group(self.proc)
            raise

    def _wait_ready(self, timeout: float = 150.0) -> None:
        deadline = time.monotonic() + timeout
        url = f"http://127.0.0.1:{self.port}/version"
        while time.monotonic() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}; see {self.dir}/server.out")
            try:
                with urllib.request.urlopen(url, timeout=1) as r:
                    if r.status == 200:
                        return
            except OSError:
                time.sleep(0.05)
        raise TimeoutError("server did not become ready")

    def stop(self) -> None:
        stop_group(self.proc)


def _page_get(conn: http.client.HTTPConnection, start: int) -> bytes:
    conn.request("GET", f"/log/{start:x}?n={PAGE_N}")
    resp = conn.getresponse()
    body = resp.read()
    if resp.status != 200:
        raise RuntimeError(f"page {start}: status {resp.status}")
    return body


def server_cpu_s(pid: int) -> float:
    """CPU seconds of the server process and its helpers (the checksum
    workers), without its idle Spark JVM."""
    return cpu_s([pid] + descendants(pid), skip=("java",))


def drive(port: int, seed: int, seconds: float, server_pid: int) -> dict:
    """Run ``n_cycles(seconds)`` cycles; return raw observations. Every
    operation is timed in wall time and in the client thread's CPU time;
    a reference call after each operation calibrates the host's speed,
    and every ``SEGMENT`` cycles the server's and the client's CPU time
    gained since the last segment is converted to the nominal host."""
    from eventlog_spark.client import Client

    plain_gen, occ_gen = PayloadGen(seed, "plain"), PayloadGen(seed, "occ")
    offsets = even_fractions(random.Random(f"{seed}:reader"))
    res = {"appends": [], "occ": [], "pages": [], "notes": [], "errors": [],
           "occ_attempts": 0, "client_cpu_s": 0.0}
    plain, occ = Client("127.0.0.1", port), Client("127.0.0.1", port)
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    conn.connect()
    conn.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)

    sub_client = Client("127.0.0.1", port)
    sub = sub_client.subscribe()
    sub.set_timeout(0.25)
    sub_done = threading.Event()

    def subscriber() -> None:
        while not sub_done.is_set():
            try:
                v = sub.recv_version()
            except (socket.timeout, TimeoutError):
                continue
            except OSError as e:
                res["errors"].append(f"subscription: {e!r}")
                return
            if v is None:
                return
            res["notes"].append((time.perf_counter(), v))

    def timed(fn, *args):
        t0, c0 = time.perf_counter(), time.thread_time()
        try:
            return fn(*args), t0
        finally:
            res["client_cpu_s"] += time.thread_time() - c0

    sub_thread = threading.Thread(target=subscriber, name="subscriber")
    sub_thread.start()
    cal = Calibration()
    head = assumed = 0
    cpu = Segments(cal, {"server": lambda: server_cpu_s(server_pid), "client": lambda: res["client_cpu_s"]})
    t_start = time.perf_counter()
    try:
        for i in range(n_cycles(seconds)):
            if i % SEGMENT == 0:
                cpu.cut()
            # plain: every fifth op a 2-5 event batch, the rest single appends
            events = [plain_gen.event() for _ in range(2 + i // 5 % 4 if i % 5 == 4 else 1)]
            try:
                if len(events) > 1:
                    ack, t0 = timed(plain.append_multi, events)
                else:
                    ack, t0 = timed(plain.append, *events[0])
                res["appends"].append((t0, time.perf_counter(), ack.version_first, ack.version, events))
                head = ack.version
            except Exception as e:  # counted against error_rate
                res["errors"].append(f"append: {e!r}")
            cal.sample()

            event = occ_gen.event()

            def transaction():
                res["occ_attempts"] += 1
                return event

            try:
                ack, t0 = timed(occ.try_append, transaction, None, assumed)
                res["occ"].append((t0, time.perf_counter(), ack.version_first, ack.version, [event]))
                head = assumed = ack.version
            except Exception as e:
                res["errors"].append(f"occ: {e!r}")
                assumed = occ.version()
            cal.sample()

            start = max(1, head - int(next(offsets) * 2 * PAGE_N))
            try:
                body, t0 = timed(_page_get, conn, start)
                res["pages"].append((t0, time.perf_counter(), start, body))
            except Exception as e:
                res["errors"].append(f"page: {e!r}")
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
            cal.sample()
        res["elapsed"] = time.perf_counter() - t_start
        cpu.cut()
        res["cpu_s"], res["nominal_cpu_s"], res["segments"] = cpu.raw, cpu.nominal, cpu.history
        res["ref_ms"] = cal.ref_s / cal.calls * 1e3
        res["final_head"] = sub_client.version()
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and not (res["notes"] and res["notes"][-1][1] >= res["final_head"]):
            time.sleep(0.01)
    finally:
        sub_done.set()
        sub_thread.join()
        sub.close()
        for c in (sub_client, plain, occ, conn):
            c.close()
    return res


def check(res: dict) -> tuple[int, int, list[str], dict]:
    """Inline correctness. Every client operation, plus the subscription
    as a whole, is one attempt; each miss below fails one attempt.
    Returns (attempted, failed, problems, derived)."""
    problems = list(res["errors"])
    ops = res["appends"] + res["occ"]
    expected: dict[int, tuple[str, str]] = {}
    nxt = 1
    for lo, hi in sorted((a[2], a[3]) for a in ops):
        if lo != nxt:
            problems.append(f"acks not dense/distinct at {nxt}: got [{lo},{hi}]")
        nxt = max(nxt, hi + 1)
    for _t0, _t1, lo, hi, events in ops:
        if hi - lo + 1 != len(events):
            problems.append(f"ack [{lo},{hi}] for {len(events)} events")
        for v, (label, payload) in zip(range(lo, hi + 1), events):
            expected[v] = (label, compact_json(payload))
    head = res["final_head"]
    if head != nxt - 1 or head != len(expected):
        problems.append(f"final head {head} != acknowledged events {len(expected)}")

    bad_pages = sum(1 for _t0, _t1, start, body in res["pages"] if not _page_ok(start, body, expected))
    if bad_pages:
        problems.append(f"{bad_pages} pages failed the contiguity/chain/payload check")

    heads = [v for _t, v in res["notes"]]
    if any(b < a for a, b in zip(heads, heads[1:])) or not heads or heads[-1] != head:
        problems.append(f"subscriber heads not monotonic up to the final head {head}")

    attempted = len(ops) + len(res["pages"]) + len(res["errors"]) + 1
    failed = len(problems) - (1 if bad_pages else 0) + bad_pages
    user_bytes = sum(len(lab) + len(p) for lab, p in expected.values())
    return attempted, failed, problems, {"user_bytes": user_bytes}


def _page_ok(start: int, body: bytes, expected: dict[int, tuple[str, str]]) -> bool:
    page = json.loads(body)
    if not page or len(page) > PAGE_N:
        return False
    text = body.decode()
    pos = 0
    for i, doc in enumerate(page):
        v = start + i
        if int(doc["version"], 16) != v or int(doc["version-previous"], 16) != v - 1:
            return False
        nxt = int(doc["version-next"], 16)
        if nxt != v + 1 and not (nxt == 0 and i == len(page) - 1):
            return False
        if v not in expected:
            return False
        label, payload = expected[v]
        # byte-equal: the stored payload is inlined verbatim
        frag = '"label":"%s","payload":%s}' % (label, payload)
        pos = text.find(frag, pos)
        if pos < 0:
            return False
        pos += len(frag)
    return len(page) == PAGE_N or int(page[-1]["version-next"], 16) == 0


def summarize(res: dict) -> dict[str, float]:
    appends = [(t1 - t0) * 1e3 for t0, t1, *_ in res["appends"] + res["occ"]]
    pages = [(t1 - t0) * 1e3 for t0, t1, _s, _b in res["pages"]]
    notes = res["notes"]
    note_heads = [v for _t, v in notes]
    notify = []
    for t0, _t1, _lo, hi, _ev in res["appends"] + res["occ"]:
        i = bisect_left(note_heads, hi)
        if i < len(notes):
            notify.append((notes[i][0] - t0) * 1e3)
    n_ops = len(appends) + len(pages)
    nominal = res["nominal_cpu_s"]
    return {
        "cpu_ms_per_op": (nominal["server"] + nominal["client"]) * 1e3 / n_ops,
        "server_cpu_ms_per_op": nominal["server"] * 1e3 / n_ops,
        "client_cpu_ms_per_op": nominal["client"] * 1e3 / n_ops,
        "raw_cpu_ms_per_op": (res["cpu_s"]["server"] + res["cpu_s"]["client"]) * 1e3 / n_ops,
        "ref_ms": res["ref_ms"],
        "ops_per_s": n_ops / res["elapsed"],
        "append_p50_ms": median(appends),
        "append_p99_ms": percentile(appends, 99),
        "scan_p50_ms": median(pages),
        "scan_p99_ms": percentile(pages, 99),
        "notify_p50_ms": median(notify),
        "appends": len(appends),
        "pages": len(pages),
        "occ_attempts_per_success": res["occ_attempts"] / max(1, len(res["occ"])),
    }


def run(tmp: str, seed: int, seconds: float, trace: bool) -> dict:
    """One benchmark run. Untraced: two set-ups (the first torn down
    again), one timed phase. Traced: an untraced phase and a traced
    phase of ``seconds`` each, against fresh servers."""
    from eventlog_spark import log as _preload  # noqa: F401  (import cost is not set-up)

    out: dict = {"workload": "serve_mixed"}
    setups, setups_wall = [], []
    n_setups = 1 if trace else SETUPS
    for i in range(n_setups):
        srv, nominal, wall = timed_setup(partial(Server, tmp, f"setup{i}"))
        setups.append(nominal)
        setups_wall.append(wall)
        if i < n_setups - 1:
            srv.stop()
    try:
        res = drive(srv.port, seed, seconds, srv.proc.pid)
        rss = peak_rss_mb([srv.proc.pid])
    finally:
        srv.stop()
    attempted, failed, problems, derived = check(res)
    e2e = summarize(res)
    e2e["setup_s"] = median(setups)
    e2e["peak_rss_mb"] = rss
    e2e["stored_bytes_per_user_byte"] = dir_bytes(srv.log_dir) / derived["user_bytes"]
    e2e["error_rate"] = failed / attempted
    out.update(attempted=attempted, failed=failed, problems=problems, e2e=e2e, setups=setups,
               setups_wall=setups_wall, cpu_segments=res["segments"])
    out["contract"] = {
        "setup_s": e2e["setup_s"],
        "peak_rss_mb": rss,
        "cpu_ms_per_op": e2e["cpu_ms_per_op"],
    }
    if trace:
        out["layers"], (attempted, failed, problems, _derived) = _traced(tmp, seed, seconds, e2e)
        out["attempted"] += attempted
        out["failed"] += failed
        out["problems"] += problems
    return out


def _traced(tmp: str, seed: int, seconds: float, untraced_e2e: dict) -> tuple[dict, tuple]:
    """A traced phase against the traced launcher; returns the per-layer
    metrics and the phase's own correctness check."""
    from layers import engine_metrics, shares
    from tracer import load_spans

    prefix = os.path.join(tmp, "serve-trace")
    srv = Server(tmp, "traced", trace_prefix=prefix)
    try:
        res = drive(srv.port, seed, seconds, srv.proc.pid)
    finally:
        srv.stop()
    checked = check(res)
    spans = load_spans(prefix + ".spans.jsonl")
    with open(prefix + ".counters.json") as f:
        counters = json.load(f)
    m = engine_metrics(spans, counters, checked[3]["user_bytes"])
    e2e_s = sum(t1 - t0 for t0, t1, *_ in res["appends"] + res["occ"] + res["pages"])
    served_s = sum((s[2] - s[1]) / 1e9 for s in spans if s[0] == "serving.request")
    m.update(shares(spans, e2e_s, client_s=max(0.0, e2e_s - served_s)))
    m["trace.overhead_ratio"] = summarize(res)["cpu_ms_per_op"] / untraced_e2e["cpu_ms_per_op"] - 1.0
    return m, checked
