"""Host-speed calibration for CPU times.

The benchmark runs on shared hosts whose effective speed moves with the
other tenants' load: a fixed pure-Python loop's CPU time moved by up to 1.7x
between 10-second windows on a 4-vCPU virtual machine, the same on a
quiet and a busy guest. A CPU time alone therefore does not repeat from
run to run. A fixed reference kernel is timed alongside the workload, in
the same process: the workload's CPU time over the reference's CPU time
measured with it is the same on a fast and on a slow phase of the host.
Metrics report that quotient times ``NOMINAL_MS``: CPU time on a host
where one reference call takes ``NOMINAL_MS`` milliseconds.
"""

from __future__ import annotations

import gc
import json
import threading
import time

NOMINAL_MS = 1.0

# allocation, dict and string work, JSON in both directions: the mix of
# interpreter and C-level work the engine's hot paths do
_DOC = json.dumps({f"k{i:03d}": ["x" * (i % 17), i, {"n": i, "s": str(i) * 3}] for i in range(40)})


def reference() -> int:
    """The reference kernel: fixed work, about 1 ms on a 2020s x86 core."""
    total = 0
    for _ in range(8):
        d = json.loads(_DOC)
        rows = sorted(((k, len(v[0]) + v[1], v[2]["s"]) for k, v in d.items()), reverse=True)
        total += sum(n for _k, n, _s in rows) + len(json.dumps(d, separators=(",", ":")))
    return total


def timed_reference() -> float:
    """CPU seconds of one reference call on the calling thread, with the
    cyclic garbage collector off: a collection it triggered would time
    the calling process's heap, not the host."""
    enabled = gc.isenabled()
    gc.disable()
    try:
        c0 = time.thread_time()
        reference()
        return time.thread_time() - c0
    finally:
        if enabled:
            gc.enable()


class Calibration:
    """Reference CPU time accumulated next to a workload. Either call
    ``sample()`` between operations, or ``start()`` a background thread
    that samples every ``period`` seconds until ``stop()``."""

    def __init__(self, period: float = 0.02):
        self.period = period
        self.ref_s = 0.0
        self.calls = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        self.ref_s += timed_reference()
        self.calls += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> "Calibration":
        self._thread = threading.Thread(target=self._loop, name="calibration", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._thread is not None:
            self._stop.set()
            self._thread.join()
            self._thread = None

    def scale(self) -> float:
        """Factor that turns CPU seconds measured alongside the samples
        into seconds on the nominal host."""
        if not self.calls:
            raise RuntimeError("no calibration samples")
        return NOMINAL_MS / 1e3 / (self.ref_s / self.calls)


class Segments:
    """CPU times on the nominal host, converted segment by segment: each
    ``cut()`` scales the CPU time every reader gained since the last cut
    by the reference time sampled in between, which follows the host's
    speed where it changes within a run."""

    def __init__(self, cal: Calibration, readers: dict):
        self.cal = cal
        self.readers = readers
        self.raw = dict.fromkeys(readers, 0.0)
        self.nominal = dict.fromkeys(readers, 0.0)
        self.history: list[dict] = []
        self._last = {k: read() for k, read in readers.items()}
        self._ref, self._calls = cal.ref_s, cal.calls

    def cut(self) -> None:
        calls = self.cal.calls - self._calls
        if not calls:
            return
        scale = NOMINAL_MS / 1e3 / ((self.cal.ref_s - self._ref) / calls)
        cut = {"scale": scale}
        for k, read in self.readers.items():
            now = read()
            self.raw[k] += now - self._last[k]
            self.nominal[k] += (now - self._last[k]) * scale
            cut[k] = now - self._last[k]
            self._last[k] = now
        self.history.append(cut)
        self._ref, self._calls = self.cal.ref_s, self.cal.calls


def timed_setup(fn):
    """Run ``fn()`` with a calibration thread alongside; return its
    result, its wall time in seconds on the nominal host (set-up is
    mostly process start, imports and JVM start, all CPU-bound) and its
    measured wall time."""
    cal = Calibration().start()
    t0 = time.perf_counter()
    try:
        out = fn()
    finally:
        wall = time.perf_counter() - t0
        cal.stop()
    return out, wall * cal.scale(), wall
