"""Shared helpers: paths, statistics, seeded inputs, process hygiene."""

from __future__ import annotations

import json
import os
import random
import signal
import socket
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# everything a run writes lives here (git-ignored)
WORK_DIR = os.path.join(ROOT, ".perfbench")

# Labels follow a fixed Zipf-like frequency table over 16 values.
LABELS = [f"lbl{i:02d}" for i in range(16)]
ZIPF_WEIGHTS = [1.0 / (k + 1) for k in range(16)]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        return float("nan")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def compact_json(payload: str) -> str:
    """The stored form of a payload the generator produced: whitespace
    outside strings stripped. The generator emits only ASCII keys,
    integers and strings without whitespace or escapes, so a parse and
    a compact re-serialization reproduce it exactly."""
    return json.dumps(json.loads(payload), separators=(",", ":"))


class PayloadGen:
    """Seeded event generator: mostly ~128-byte reference-shaped
    payloads; every 33rd is 2-8 KiB. Payloads carry insignificant
    whitespace so every append exercises minification."""

    def __init__(self, seed: int, stream: str):
        self.rng = random.Random(f"{seed}:{stream}")
        self.n = 0

    def label(self) -> str:
        return self.rng.choices(LABELS, weights=ZIPF_WEIGHTS)[0]

    def payload(self) -> str:
        self.n += 1
        rng = self.rng
        doc = {
            "id": self.n,
            "user": f"u{rng.randrange(100000):05d}",
            "action": rng.choice(["view", "click", "buy", "share", "rate"]),
            "amount": rng.randrange(1, 10**6),
            "ts": 1700000000 + rng.randrange(10**7),
        }
        if self.n % 33 == 0:
            # sizes follow the position, not the seed, so every seed
            # lays out the same bytes per fragment and per fold
            n = 2048 + (self.n * 2654435761) % 6144
            doc["blob"] = format(rng.getrandbits(4 * n), f"0{n}x")
        else:
            doc["note"] = "x" * (20 + self.n % 20)
        return json.dumps(doc, separators=(", ", ": "))

    def event(self) -> tuple[str, str]:
        return self.label(), self.payload()


def even_fractions(rng: random.Random):
    """Endless seeded fractions in [0, 1) that cover the interval evenly
    (a golden-ratio sequence from a seeded offset): a run's page starts
    sample the whole log in every run, so medians do not depend on how
    a seed's draws happened to cluster."""
    x = rng.random()
    while True:
        x = (x + 0.6180339887498949) % 1.0
        yield x


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def run_env(tmp: str) -> dict[str, str]:
    """Environment for every process a run starts: temp files, Spark
    scratch and JVM temp dirs inside the checkout, the checkout on the
    Python path (Spark's Python workers import the package from it),
    no SPARK_GRAFT_* overrides inherited from the caller, and a fixed
    hash seed, so dict and set orders repeat from run to run."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    env["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYTHONPATH"] = ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYTHONUNBUFFERED"] = "1"
    env["PYTHONHASHSEED"] = "0"
    return env


def start_group(cmd: list[str], env: dict[str, str], log_path: str) -> subprocess.Popen:
    """Start ``cmd`` as the leader of a new process group, output to a
    log file, so the whole tree it spawns can be signalled and awaited."""
    with open(log_path, "ab") as out:
        return subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )


def _proc_stat(pid: int) -> tuple[int, int, str] | None:
    """(ppid, pgid, state) of a live process, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    return int(rest[1]), int(rest[2]), rest[0]


def _all_pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def group_alive(pgid: int) -> list[int]:
    out = []
    for pid in _all_pids():
        st = _proc_stat(pid)
        if st and st[1] == pgid and st[2] != "Z":
            out.append(pid)
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (zombies have)."""
    st = _proc_stat(pid)
    return st is not None and st[2] != "Z"


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in _all_pids():
        st = _proc_stat(p)
        if st:
            children.setdefault(st[0], []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def comm(pid: int) -> str:
    """The command name of ``pid`` ("" once it has exited)."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except (FileNotFoundError, ProcessLookupError):
        return ""


def cpu_s(pids: list[int], skip: tuple[str, ...] = ()) -> float:
    """CPU seconds (user + system, with reaped children) used so far by
    ``pids``, leaving out processes whose command name is in ``skip``."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except (FileNotFoundError, ProcessLookupError):
            continue
        if head.split("(", 1)[1] in skip:
            continue
        total += sum(int(x) for x in rest.split()[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total_kb / 1024.0


def stop_group(proc: subprocess.Popen, grace: float = 30.0) -> None:
    """SIGINT the process group (the CLI server shuts down on it, and
    its JVM exits with it), then SIGKILL whatever outlives ``grace``;
    return once no member of the group is left running."""
    pgid = proc.pid
    try:
        os.killpg(pgid, signal.SIGINT)
    except ProcessLookupError:
        pass
    deadline = time.monotonic() + grace
    while time.monotonic() < deadline:
        proc.poll()
        if proc.returncode is not None and not group_alive(pgid):
            return
        time.sleep(0.05)
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10.0
    while group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


def write_record(records_dir: str, name: str, doc: dict) -> str:
    os.makedirs(records_dir, exist_ok=True)
    path = os.path.join(records_dir, name)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    return path

