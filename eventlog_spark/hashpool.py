"""Subprocess checksum pool — GIL-free parity hashing for wide rows.

Why this exists (round-12): the integrity checksum on the interactive
append path is the pure-Python XXH64 that is bit-identical to the JVM
``F.xxhash64`` expression (sources/binformat.py). Pure Python hashes
~20 MiB/s under the GIL — irrelevant at the ~100 B payloads the bench
corpus appends, but a hard ceiling for WIDE payloads: a group commit
coalescing eight 64 KiB appends would spend ~25 ms hashing inside the
commit section against ~12 ms of actual I/O. Wide batches fan the
per-row checksums out to this pool; each worker is its own interpreter
(its own GIL), so the hash rate scales with workers.

Why NOT ``multiprocessing``/``ProcessPoolExecutor``: every start
method re-enters the parent program — ``fork`` duplicates a live
driver process (arbitrary lock states from its other threads), and
``spawn``/``forkserver`` RE-IMPORT the parent's ``__main__`` in every
worker, which re-executes any driver script that lacks an
``if __name__ == "__main__"`` guard (measured: a guardless probe
script ran nine times). A library must not do that to its caller.
Workers here are plain ``subprocess`` children running
``python -m eventlog_spark.hashpool`` — a fixed, self-contained entry
that imports nothing of the caller's world — speaking length-prefixed
pickle frames over their stdin/stdout pipes. Parent gone → stdin EOF →
worker exits; no daemon threads, no atexit coupling.

Scale note: bulk ingest never comes here (``append_dataframe``
checksums via the distributed JVM expression); this pool serves only
the driver-side interactive/serving corner, so its size is bounded
and its failure mode is a silent inline fallback — correctness never
depends on it."""

from __future__ import annotations

import os
import pickle
import struct
import subprocess
import sys
import threading

_POOL = None
_POOL_LOCK = threading.Lock()
_POOL_FAILURES = 0  # 1 = rebuild on next wide batch; 2 = disabled
_WORKERS = 6


def _read_exact(stream, n: int) -> bytes | None:
    buf = b""
    while len(buf) < n:
        chunk = stream.read(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return buf


class _Worker:
    def __init__(self, repo_root: str):
        env = dict(os.environ)
        env["PYTHONPATH"] = repo_root + (
            os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""
        )
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "eventlog_spark.hashpool"],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            env=env,
        )

    def send(self, args: list[tuple]) -> None:
        body = pickle.dumps(args, protocol=pickle.HIGHEST_PROTOCOL)
        self.proc.stdin.write(struct.pack(">I", len(body)) + body)
        self.proc.stdin.flush()

    def recv(self) -> list[int]:
        hdr = _read_exact(self.proc.stdout, 4)
        if hdr is None:
            raise ConnectionError("hash worker died")
        (n,) = struct.unpack(">I", hdr)
        body = _read_exact(self.proc.stdout, n)
        if body is None:
            raise ConnectionError("hash worker died mid-frame")
        return pickle.loads(body)

    def close(self) -> None:
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=5)
        except Exception:
            self.proc.kill()


class HashPool:
    """Round-robin scatter of checksum batches over worker pipes. One
    in-flight request per checksum_batch call; the caller (the group
    commit leader, inside the commit section) is single at a time, so
    no per-worker locking is needed beyond the pool lock."""

    def __init__(self, workers: int):
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        self.workers = [_Worker(repo_root) for _ in range(workers)]

    def checksum_batch(self, args: list[tuple]) -> list[int]:
        k = min(len(self.workers), len(args))
        # contiguous chunks, one per worker: send all (workers compute
        # concurrently while later sends stream), then collect in order
        bounds = [
            (len(args) * i // k, len(args) * (i + 1) // k) for i in range(k)
        ]
        for w, (lo, hi) in zip(self.workers, bounds):
            w.send(args[lo:hi])
        out: list[int] = []
        for w, _ in zip(self.workers, bounds):
            out.extend(w.recv())
        return out

    def close(self) -> None:
        for w in self.workers:
            w.close()


def checksum_batch(args: list[tuple]) -> list[int] | None:
    """Pool-parallel ``spark_checksum`` over arg tuples; None when the
    pool is unavailable (caller hashes inline). A transport failure
    tears the pool down and rebuilds it once on the next wide batch;
    a second failure disables it for the process."""
    global _POOL, _POOL_FAILURES
    with _POOL_LOCK:
        if _POOL_FAILURES >= 2:
            return None
        if _POOL is None:
            try:
                _POOL = HashPool(_WORKERS)
            except Exception:
                _POOL_FAILURES = 2
                return None
        try:
            return _POOL.checksum_batch(args)
        except Exception:
            try:
                _POOL.close()
            except Exception:
                pass
            _POOL = None
            _POOL_FAILURES += 1
            return None


def _worker_main() -> None:  # pragma: no cover - exercised via subprocess
    from eventlog_spark.sources.binformat import spark_checksum

    stdin, stdout = sys.stdin.buffer, sys.stdout.buffer
    while True:
        hdr = _read_exact(stdin, 4)
        if hdr is None:
            return  # parent closed the pipe: clean exit
        (n,) = struct.unpack(">I", hdr)
        body = _read_exact(stdin, n)
        if body is None:
            return
        args = pickle.loads(body)
        out = pickle.dumps(
            [spark_checksum(*a) for a in args],
            protocol=pickle.HIGHEST_PROTOCOL,
        )
        stdout.write(struct.pack(">I", len(out)) + out)
        stdout.flush()


if __name__ == "__main__":  # pragma: no cover - exercised via subprocess
    _worker_main()
