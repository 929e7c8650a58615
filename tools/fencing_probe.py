"""Commit-protocol contention probe: what does the delta claim COST
under real multi-process contention?

Claim losers pay a written-then-discarded fragment plus a resync per
lost claim. This probe races N writer processes × M commits each on
one log and reports wall-clock commit throughput, then verifies the
fencing property on the result (dense versions, no duplicates). The
uncontended single-writer row isolates the protocol's fixed overhead.

Usage: python tools/fencing_probe.py [--procs 4] [--each 50]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eventlog_spark.log import EventLog  # noqa: E402

_WRITER = r"""
import json, os, sys
repo, path, wid, n = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
sys.path.insert(0, repo)
from eventlog_spark.log import EventLog
store = None
sock = os.environ.get("SPARK_GRAFT_CLAIM_SOCK")
if sock:
    from eventlog_spark.claimsvc import SocketClaimStore
    store = SocketClaimStore(sock)
log = EventLog.open(None, path, claim_store=store)
wins = []
for i in range(n):
    r = log.append(f"w{wid}", json.dumps({"w": wid, "i": i}))
    wins.append(r.version)
print("WINS:" + ",".join(map(str, wins)))
"""


def run(n_procs: int, n_each: int) -> dict:
    root = tempfile.mkdtemp(prefix="fencing_probe_")
    path = os.path.join(root, "log")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        EventLog.create(None, path)
        t0 = time.perf_counter()
        procs = [
            subprocess.Popen(
                [sys.executable, "-c", _WRITER, repo, path, str(w), str(n_each)],
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
                text=True,
            )
            for w in range(n_procs)
        ]
        wins: list[int] = []
        for p in procs:
            out, err = p.communicate(timeout=600)
            assert p.returncode == 0, f"writer failed:\n{err[-2000:]}"
            (line,) = [ln for ln in out.splitlines() if ln.startswith("WINS:")]
            wins.extend(int(v) for v in line[5:].split(","))
        wall = time.perf_counter() - t0
        total = n_procs * n_each
        assert sorted(wins) == list(range(1, total + 1)), "fencing violated"
        check = EventLog.open(None, path)
        assert check.version() == total
        assert [r.version for r in check.scan_rows()] == list(range(1, total + 1))
        return {
            "procs": n_procs,
            "commits": total,
            "wall_s": round(wall, 2),
            "commits_per_s": round(total / wall, 1),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_maintenance(n_procs: int, n_each: int, store: str = "posix") -> dict:
    """Starvation-freedom probe (round-10): N full-speed writer
    processes storm the log while THIS process runs minor compactions
    in a loop. Every fold publish that loses its seq claim re-bases
    (O(1), no re-rewrite) and retries; the probe reports how many folds
    LANDED during the storm and the worst-case attempts one publish
    needed — the evidence that maintenance completes under sustained
    writer contention instead of aborting forever.

    ``store='socket'`` (round-12, closes the last substrate asymmetry
    in the maintenance path): the same storm with every claim/GET/LIST
    crossing the served object-store contract (claimsvc.ClaimServer,
    journal-backed) instead of POSIX link — proving the re-basing
    publish needs nothing beyond the 5-method contract."""
    root = tempfile.mkdtemp(prefix="fencing_probe_maint_")
    path = os.path.join(root, "log")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    server = None
    claim_store = None
    child_env = dict(os.environ)
    try:
        if store == "socket":
            from eventlog_spark.claimsvc import ClaimServer, SocketClaimStore

            svc_dir = tempfile.mkdtemp(prefix="csvc-", dir="/tmp")
            sock = os.path.join(svc_dir, "s")
            server = ClaimServer(sock, os.path.join(svc_dir, "j")).start()
            claim_store = SocketClaimStore(sock)
            child_env["SPARK_GRAFT_CLAIM_SOCK"] = sock
        EventLog.create(None, path, claim_store=claim_store)
        log = EventLog.open(None, path, claim_store=claim_store)
        for i in range(64):  # seed fragments so folds have work
            log.append("seed", json.dumps({"i": i}))
        t0 = time.perf_counter()
        procs = [
            subprocess.Popen(
                [sys.executable, "-c", _WRITER, repo, path, str(w), str(n_each)],
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
                text=True,
                env=child_env,
            )
            for w in range(n_procs)
        ]
        folds, attempts = 0, []
        while any(p.poll() is None for p in procs):
            n = log.minor_compact()
            if n:
                folds += 1
                attempts.append(getattr(log, "_last_publish_attempts", 1))
            time.sleep(0.02)
        wall = time.perf_counter() - t0
        wins: list[int] = []
        for p in procs:
            out, err = p.communicate(timeout=600)
            assert p.returncode == 0, f"writer failed:\n{err[-2000:]}"
            (line,) = [ln for ln in out.splitlines() if ln.startswith("WINS:")]
            wins.extend(int(v) for v in line[5:].split(","))
        total = 64 + n_procs * n_each
        assert sorted(wins) == list(range(65, total + 1)), "fencing violated"
        check = EventLog.open(None, path, claim_store=claim_store)
        assert check.version() == total
        assert [r.version for r in check.scan_rows()] == list(range(1, total + 1))
        return {
            "probe": "maintenance_liveness",
            "store": store,
            "procs": n_procs,
            "commits": total,
            "wall_s": round(wall, 2),
            "folds_landed": folds,
            "fold_attempts_max": max(attempts) if attempts else 0,
            "fold_attempts_mean": (
                round(sum(attempts) / len(attempts), 2) if attempts else 0
            ),
        }
    finally:
        if server is not None:
            server.stop()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--procs", type=int, default=4)
    ap.add_argument("--each", type=int, default=50)
    ap.add_argument(
        "--maintenance",
        action="store_true",
        help="run the maintenance-under-storm liveness probe instead",
    )
    ap.add_argument(
        "--store",
        choices=("posix", "socket"),
        default="posix",
        help="claim substrate for --maintenance: POSIX link dir or the "
        "served object-store contract (claimsvc)",
    )
    args = ap.parse_args()
    if args.maintenance:
        print(json.dumps(run_maintenance(args.procs, args.each, args.store)))
        raise SystemExit(0)
    rows = []
    for procs in (1, args.procs):  # uncontended (protocol overhead), contended
        rows.append(run(procs, args.each))
        print(json.dumps(rows[-1]), flush=True)
    print(json.dumps({"probe": "fencing_contention", "rows": rows}))
