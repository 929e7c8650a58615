"""EventLog — the reference's versioned append-only log, Spark-native.

Reference parity (SURVEY.md §2.1): O1/O2 append + append_multi
(eventlog/eventlog.go:153-197), O3/O4 OCC appends (eventlog.go:199-255),
O5-O8 scans (inmem.go:93-168, file/file.go:207-306), O10-O12 version /
version_initial / metadata (eventlog.go:131-151), O13 subscribe
(broadcast.go:19-56), O14 try_append (client/client.go:150-246),
O19 checksum (file/internal/checksum.go:9-67), O20 check_integrity
(file/check_integrity.go:15-94), O21/O22 open/create (file.go:67-161).

Design (Spark-first, not a port):

* Storage is a parquet directory with the fixed envelope schema below —
  at scale, swap the directory for a partitioned table (version-range
  partitions) or a Delta table; nothing above the write/read seam changes.
* Versions are **dense sequence numbers** (1, 2, 3, …). The reference's
  in-memory engine proves dense versions satisfy the contract
  (inmem.go:71-75; SURVEY §1.1 — versions are opaque to clients). Density
  makes chain links *arithmetic*: ``version_prev = version - 1`` and
  ``version_next = version + 1 (0 at head)`` — scans need no window
  function, no shuffle, and no sort beyond the parquet column order.
* Appends serialize through ONE commit protocol: each commit claims the
  next manifest delta seq with an atomic create-if-absent (manifest.py
  ``ManifestLog.commit``). A loser discards its staged fragment and
  retries on the winner's state, so writers in other processes or on
  other hosts over a shared store get exactly one winner per version
  with no lock to leak. Inside one process a thread lock orders
  commits, the Spark rendition of the reference's writer mutex
  (file.go:57,396). OCC (O3/O4) is a compare inside that section.
* Each commit writes one parquet fragment, claims ONE immutable delta
  record carrying the new head fields (manifest.py — per-commit O(1),
  paged checkpoints every K commits), and then publishes the head +
  manifest seq in ``_state.json`` (atomic rename). The delta chain is
  the commit truth; the pointer is a cache that readers roll forward
  past. Readers never take a lock: committed fragments and manifest
  records are immutable (snapshot isolation).
  A crash between fragment write and delta claim leaves a fragment no
  manifest names: no reader lists the directory, so it is invisible,
  and ``vacuum`` reaps it once it is older than the grace window.
* The integrity checksum is Spark's builtin ``xxhash64`` (same 64-bit
  xxHash family as the reference's cespare/xxhash, file.go:18) over
  ``(timestamp, label, payload, version_prev)`` — computed JVM-side at
  commit, re-verifiable by any scan at full cluster parallelism.
"""

from __future__ import annotations

import bisect
import contextlib
import hashlib
import heapq
import itertools
import json
import os
import queue
import random
import shutil
import threading
import time
import uuid
import warnings
from collections import OrderedDict
from dataclasses import dataclass
from typing import Callable, Iterable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .errors import InvalidVersion, MismatchingVersions
from .manifest import ManifestChainBroken, ManifestLog, ManifestSeqClaimed
from .validation import (
    DEFAULT_MAX_PAYLOAD_LEN,
    minify_json,
    validate_label,
    validate_payload,
)

EVENT_SCHEMA = StructType(
    [
        StructField("version", LongType(), False),
        StructField("version_prev", LongType(), False),
        StructField("timestamp", LongType(), False),  # unix seconds (parity: §1.1)
        StructField("label", StringType(), False),
        StructField("payload", StringType(), False),
        StructField("checksum", LongType(), False),
    ]
)

_STATE_FILE = "_state.json"  # leading underscore → invisible to parquet readers
_META_FILE = "_eventlog_meta.json"

# Row-group size of every driver-side write (commit fragments and minor
# folds) and the hot-tail cache's fragment bound: a page read decodes
# whole row groups, so this caps what a 1000-event page decodes beyond
# its own rows, and a fragment of at most one group is cached whole.
ROW_GROUP_ROWS = 1024


def _version_group_stats(md) -> list[tuple[int, int]] | None:
    """Per-row-group (min, max) of the ``version`` column from a parquet
    footer, or None when any group lacks min/max stats — the probe
    behind a staged file's manifest range and ``scan_rows``' row-group
    pruning."""
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    ci = names.index("version")
    out = []
    for g in range(md.num_row_groups):
        s = md.row_group(g).column(ci).statistics
        if s is None or not s.has_min_max:
            return None
        out.append((s.min, s.max))
    return out if out else None


def _table_rows(tbl) -> list[tuple]:
    """An event table as (version, version_prev, timestamp, label,
    payload, checksum) tuples."""
    cols = ("version", "version_prev", "timestamp", "label", "payload", "checksum")
    return list(zip(*[tbl.column(c).to_pylist() for c in cols]))


def _page_mask(tbl, lo: int, hi: int, label: str | None):
    """Arrow mask of the rows a page over [lo, hi] returns: lo <=
    version <= hi, and label == ``label`` when given."""
    import pyarrow.compute as pc

    ver = tbl.column("version")
    keep = pc.and_(pc.greater_equal(ver, lo), pc.less_equal(ver, hi))
    if label is not None:
        keep = pc.and_(keep, pc.equal(tbl.column("label"), label))
    return keep


def _newest_change(full: str) -> float:
    """Newest mtime/ctime of ``full`` and, for a directory, of everything
    under it — when a crash leftover was last touched."""
    st = os.stat(full)
    newest = max(st.st_mtime, st.st_ctime)
    for root, dirs, files in os.walk(full):
        for n in dirs + files:
            with contextlib.suppress(FileNotFoundError):
                st = os.stat(os.path.join(root, n))
                newest = max(newest, st.st_mtime, st.st_ctime)
    return newest


def checksum_expr() -> Column:
    """O19: integrity checksum over the same fields the reference hashes
    (timestamp ‖ label ‖ payload ‖ version_prev; checksum.go:9-67)."""
    return F.xxhash64("timestamp", "label", "payload", "version_prev")


# -- label data-skipping stats (Iceberg-style per-column manifest bounds) ------
#
# Manifest entries optionally carry label column stats so a
# label-filtered scan prunes FRAGMENTS before touching any file:
# ``lmin``/``lmax`` — the label lower/upper bounds (what Iceberg stores
# per column per data file) — and, where the writer knows the exact
# label set (interactive commits, minor-compaction folds), ``lb``, a
# 256-bit / 4-hash bloom filter that prunes even when the bounds span
# (a fragment holding labels {a, z} still skips a scan for "m").
# Entries without stats are conservatively kept; pruning is therefore
# purely an optimization and can never lose rows.

LABEL_BLOOM_BITS = 256
LABEL_BLOOM_K = 4
# beyond this many distinct labels a 256-bit/4-hash bloom stops
# discriminating (fp rate ≈ (1 − e^(−4·64/256))⁴ ≈ 16% at 64 labels,
# ≈ 39% near 128 and climbing) — store bounds only instead of 64 dead
# hex chars per entry
LABEL_BLOOM_MAX_LABELS = 64


def _label_bloom_positions(label: str):
    for i in range(LABEL_BLOOM_K):
        h = int.from_bytes(
            hashlib.md5(f"{i}:{label}".encode()).digest()[:8], "big"
        )
        yield h % LABEL_BLOOM_BITS


def _label_stats_entry(labels) -> dict:
    """Manifest-entry stats for a fragment whose exact label set is
    known driver-side: bounds always; bloom only while it still
    discriminates (≤ LABEL_BLOOM_MAX_LABELS distinct labels)."""
    labs = sorted(labels)
    out = {"lmin": labs[0], "lmax": labs[-1]}
    if len(labs) <= LABEL_BLOOM_MAX_LABELS:
        bits = 0
        for lab in labs:
            for pos in _label_bloom_positions(lab):
                bits |= 1 << pos
        out["lb"] = f"{bits:064x}"
    return out


def _entry_may_contain_label(
    e: dict, label: str, positions: list[int] | None = None
) -> bool:
    """Whether a manifest entry's fragment MAY hold ``label``. Entries
    without label stats always may (bulk fragments predating stats,
    legacy adoption). Callers probing MANY entries for one label hoist
    the bloom bit positions (4 MD5 digests) once and pass them in — at
    100k fragments the per-entry recompute would be ~400k digests per
    lookup, dominating the candidate pass."""
    lmin = e.get("lmin")
    if lmin is not None and (label < lmin or label > e["lmax"]):
        return False
    lb = e.get("lb")
    if lb is not None:
        bits = int(lb, 16)
        if positions is None:
            positions = list(_label_bloom_positions(label))
        for pos in positions:
            if not (bits >> pos) & 1:
                return False
    return True


def _page_may_contain_label(
    m: dict, label: str, positions: list[int]
) -> bool:
    """Whether ANY entry in a manifest page may hold ``label``, from
    the page meta's rolled-up summaries (manifest._page_label_meta):
    bounds when every entry had bounds, bloom union when every entry
    had a bloom. Pages without summaries (pre-summary checkpoints, a
    stat-less entry in the page) are conservatively kept — pruning can
    only skip pages that provably lack the label."""
    plmin = m.get("plmin")
    if plmin is not None and (label < plmin or label > m["plmax"]):
        return False
    plb = m.get("plb")
    if plb is not None:
        bits = int(plb, 16)
        for pos in positions:
            if not (bits >> pos) & 1:
                return False
    return True


def _label_group_range(md) -> tuple[str, str] | None:
    """(min, max) of the ``label`` column across a parquet footer's row
    groups — metadata-only, None when any group lacks string stats."""
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    ci = names.index("label")
    mins, maxs = [], []
    for g in range(md.num_row_groups):
        s = md.row_group(g).column(ci).statistics
        if s is None or not s.has_min_max:
            return None
        mins.append(s.min)
        maxs.append(s.max)
    if not mins or not all(isinstance(v, str) for v in mins + maxs):
        return None
    return min(mins), max(maxs)


def _check_bulk_range(
    got: tuple[int, int] | None, expect: tuple[int, int]
) -> None:
    """Abort a bulk commit whose written version range is not the one
    its count pass assigned (``expect``, empty when lo > hi) — the
    post-write head check, run before anything becomes visible."""
    if got != (expect if expect[0] <= expect[1] else None):
        raise RuntimeError(
            f"bulk append aborted: written versions {got} != assigned "
            f"{expect}; the source changed between the versioning count "
            "and the write (nondeterministic upstream) — checkpoint it "
            "and re-run the batch"
        )


@dataclass(frozen=True)
class AppendResult:
    version_previous: int  # head before this commit
    version_first: int  # first version written by this commit
    version: int  # new head
    timestamp: int  # shared unix-seconds timestamp of the batch


class _PendingCommit:
    """One caller's stake in a group commit: its prepared events, its
    OCC expectation, and the slot the leader fills (result or
    exception). ``done`` flips only under the group-commit condition
    variable, after the slot is filled."""

    __slots__ = ("prepared", "assumed_version", "first", "result", "exc", "done")

    def __init__(
        self, prepared: list[tuple[str, str]], assumed_version: int | None
    ):
        self.prepared = prepared
        self.assumed_version = assumed_version
        self.first = 0  # first version assigned to this op (leader fills)
        self.result: AppendResult | None = None
        self.exc: BaseException | None = None
        self.done = False


class ScanRow(NamedTuple):
    """One event as returned by the driver-side ``scan_rows`` fast path —
    field-compatible with the Rows ``scan(...).collect()`` yields, so
    the serving layer consumes either interchangeably."""

    version: int
    version_prev: int
    version_next: int
    timestamp: int
    label: str
    payload: str
    checksum: int


class _Hub:
    """O13 broadcast hub: at-most-once, latest-wins delivery.

    Mirrors internal/broadcast/broadcast.go:19-56 — a non-blocking send
    that drops the stale value when a subscriber is busy (we replace it
    with the newest head, which is strictly better than dropping)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._subs: dict[int, queue.Queue[int]] = {}
        self._next_id = 0

    def subscribe(self) -> tuple["queue.Queue[int]", Callable[[], None]]:
        q: queue.Queue[int] = queue.Queue(maxsize=1)
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            self._subs[sid] = q

        def close() -> None:
            with self._lock:
                self._subs.pop(sid, None)

        return q, close

    def broadcast(self, version: int) -> None:
        with self._lock:
            subs = list(self._subs.values())
        for q in subs:
            try:
                q.put_nowait(version)
            except queue.Full:
                try:
                    q.get_nowait()
                except queue.Empty:
                    pass
                try:
                    q.put_nowait(version)
                except queue.Full:
                    pass


class EventLog:
    """A versioned append-only event log over a parquet directory.

    Writers serialize through the storage itself (SCALE.md "Multi-writer
    commits"): each commit CLAIMS its manifest delta seq with an atomic
    create-if-absent (put-if-absent, the primitive Delta-style log
    stores require). Losers discard their staged fragment and retry on
    the winner's state, so writers in different processes or on
    different hosts over a shared store (NFS, an object store with
    conditional PUT through ``claim_store``) stay
    exactly-one-winner-per-version with no lock to leak. The manifest
    chain is the SOLE read truth: the pointer is a cache healed by
    roll-forward, and the directory listing is never consulted. An
    unpublished crash fragment is therefore invisible, never a
    correctness hazard, and ``vacuum`` reaps it after the grace
    window."""

    def __init__(self, spark: SparkSession, path: str, claim_store=None):
        # Manifest I/O seam (manifest.py ClaimStore contract): None =
        # the POSIX directory store under <path>/_manifest. A shared
        # deployment passes the store matching its substrate (object
        # store conditional PUT); the fencing tests pass
        # MemoryClaimStore to prove the claim protocol needs nothing
        # beyond the 5-method contract.
        self._claim_store = claim_store
        self.spark = spark
        self.path = path
        self._lock = threading.RLock()
        self._hub = _Hub()
        # group-commit state (round-12): concurrent interactive
        # committers coalesce into one commit section — see _commit
        self._gc_cv = threading.Condition()
        self._gc_queue: list[_PendingCommit] = []
        self._gc_leader = False
        self._gc_commits = 0  # commit sections executed (groups)
        self._gc_ops = 0  # caller ops carried by those sections
        self._gc_last_batch = 0  # convoy detector for the batching window
        self._max_payload_len = DEFAULT_MAX_PAYLOAD_LEN
        self._metadata: dict[str, str] = {}
        self._latest = 0
        self._initial = 0
        self._last_ts = 0
        self._stream_commits: dict[str, int] = {}  # foreachBatch idempotence
        # Committed data-file manifest: a log-structured chain of
        # per-commit delta records + paged checkpoints (manifest.py);
        # _state.json holds only a pointer (head fields + manifest_seq),
        # so a commit never rewrites the file list and a page read
        # loads only the manifest pages its version range overlaps.
        self._manifest: ManifestLog | None = None
        self._pending_add: list[dict] = []  # entries staged for the next publish
        self._pending_remove: list[str] = []
        # scan_rows' hot-tail cache: fragment name -> rows, for small
        # fragments only, bounded by _frag_rows_total (evicted oldest first)
        self._frag_row_cache: OrderedDict[str, list[tuple]] = OrderedDict()
        self._frag_rows_total = 0
        self._load_meta()
        self._load_state()
        # roll the mirror forward past a possibly-lagging pointer — the
        # delta chain is the commit truth (manifest.roll_forward)
        with self._lock:
            self._adopt_cas_head(self._manifest.roll_forward())

    # -- lifecycle (O21/O22) ------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        metadata: dict[str, str] | None = None,
        claim_store=None,
    ) -> "EventLog":
        """O22: create a new empty log with immutable metadata
        (reference: file.go:127-161 + metadata pseudo-event header).
        The empty log's pointer names seq 0, the empty chain, so the
        first commit claims delta 1. ``makedirs(exist_ok=False)``
        arbitrates create races."""
        os.makedirs(path, exist_ok=False)
        with open(os.path.join(path, _META_FILE), "w") as f:
            json.dump({"metadata": metadata or {}, "format_version": 1}, f)
        with open(os.path.join(path, _STATE_FILE), "w") as f:
            json.dump(
                {
                    "latest_version": 0,
                    "version_initial": 0,
                    "last_timestamp": 0,
                    "stream_commits": {},
                    "manifest_seq": 0,
                    "manifest_ckpt": 0,
                },
                f,
            )
        return cls(spark, path, claim_store=claim_store)

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        path: str,
        claim_store=None,
    ) -> "EventLog":
        """O21: open an existing log; if the pointer is missing, stale
        or corrupt, recover the head from the delta chain (the
        reference recovers by scanning to the last entry,
        file.go:67-125). ``claim_store`` overrides the manifest I/O
        substrate (default: POSIX directory store; see manifest.py
        ClaimStore contract)."""
        if not os.path.isdir(path):
            raise FileNotFoundError(path)
        return cls(spark, path, claim_store=claim_store)

    def _load_meta(self) -> None:
        meta_path = os.path.join(self.path, _META_FILE)
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                self._metadata = dict(json.load(f).get("metadata", {}))

    def _state_path(self) -> str:
        return os.path.join(self.path, _STATE_FILE)

    def _load_state(self) -> None:
        try:
            with open(self._state_path()) as f:
                st = json.load(f)
            if "files" in st:
                raise RuntimeError(
                    f"{self._state_path()} is a pre-manifest state file (it "
                    "carries a 'files' list); this format is no longer "
                    "opened. Re-open the log once with a release that adopts "
                    "legacy state files, which rewrites it as a manifest "
                    "pointer."
                )
            self._latest = int(st["latest_version"])
            self._initial = int(st["version_initial"])
            self._last_ts = int(st["last_timestamp"])
            self._stream_commits = {
                str(k): int(v) for k, v in st.get("stream_commits", {}).items()
            }
            m = ManifestLog(self.path, store=self._claim_store)
            m.load(int(st["manifest_seq"]), st.get("manifest_ckpt"))
            self._manifest = m
        except (FileNotFoundError, KeyError, ValueError, ManifestChainBroken):
            self._recover_state_cas()

    def _recover_state_cas(self) -> None:
        """O21 recovery when the POINTER is lost, corrupt, or names a
        vacuumed chain. No directory scan: an unpublished loser's
        fragment may alias committed versions, so only the manifest
        names a consistent snapshot. The delta chain is the commit
        truth: cold-position at the newest checkpoint in the claim
        store, roll forward to the newest complete delta, and adopt its
        head fields (every commit rides them in its delta). Recovery —
        unlike the hot path — may consult the store's LISTING to find
        that checkpoint; eventual list visibility only costs recovery
        freshness, and roll_forward walks GET probes past whatever the
        listing knew. A non-empty log whose chain is gone entirely is
        unrecoverable by design: raising beats silently serving an
        empty or doubled log."""
        m = ManifestLog(self.path, store=self._claim_store)
        ck = m._latest_checkpoint_at(m.max_seq_on_disk()) or 0
        try:
            m.load(ck)
        except ManifestChainBroken:
            m = None
        if m is not None:
            # a chain written before deltas carried heads recovers its
            # head from the manifest-listed data below
            head = m.roll_forward(require_head=False)
            self._manifest = m
            if head is not None:
                self._adopt_cas_head(head)
            if self._latest == 0 and m.count() > 0:
                # chain exists but no head-carrying delta survived:
                # recover the head from the manifest-listed data —
                # needs a session
                if self.spark is None:
                    raise RuntimeError(
                        "pointer recovery needs a spark session to "
                        "re-derive the head from the manifest-listed data"
                    )
                self._recover_state()
            if m.count() > 0 or not any(
                f.endswith(".parquet") for f in self._data_files()
            ):
                return
        raise RuntimeError(
            "log unrecoverable: pointer lost and no usable manifest chain; "
            "the directory-listing fallback is refused (an unpublished "
            "loser's fragment may alias committed versions)"
        )

    def _recover_state(self) -> None:
        df = self._read_raw()
        if df is None:
            self._latest = self._initial = self._last_ts = 0
            return
        row = df.agg(
            F.max("version").alias("mx"),
            F.min("version").alias("mn"),
            F.max("timestamp").alias("ts"),
        ).collect()[0]
        self._latest = row["mx"] or 0
        self._initial = row["mn"] or 0
        self._last_ts = row["ts"] or 0

    @contextlib.contextmanager
    def _commit_section(self):
        """The commit critical section.

        The reference engine assumes a single process (its commit mutex
        is an in-process ``sync.RWMutex``, eventlog/file/file.go:57).
        Here the thread RLock orders this process's commits, and the
        section opens by re-syncing to the published state
        (``_refresh_published_state``), so version assignment continues
        from the true head and an OCC ``assumed_version`` is validated
        against the real latest. Order ACROSS processes and hosts is
        decided where the commit publishes: the exclusive delta claim
        in ``_write_state``. A loser resyncs and retries, so two
        processes racing on one log see exactly one winner per
        version, same as two threads.

        Readers stay lock-free: scans read the last PUBLISHED state.
        In-memory engines (path=None) keep the thread lock only."""
        with self._lock:
            if self.path is not None:
                self._refresh_published_state()
            yield

    def _refresh_published_state(self) -> bool:
        """Advance the manifest mirror and the head to the freshest
        published state: replay the pointer's delta records (O(their
        commits), never a full reparse), adopt the pointer's head
        fields, then roll past the pointer along the delta chain. The
        pointer is only a CACHE — racing pointer renames can land out
        of order, and a writer may die after its claimed delta — so
        the roll-forward runs REGARDLESS of the pointer's condition:
        the stateful model test (tests/test_cas_model.py) found that
        an early return on a deleted pointer froze a stale writer's
        mirror, and its commit retry loop then lost the same
        already-claimed seq forever.

        The mirror never advances past the head (round-10 advice): a
        sync that absorbed another writer's fragment into names()
        while self._latest still lagged would hand compact's snapshot
        an inconsistent (files, head) pair, and its ``version <=
        snap_latest`` filter would drop the absorbed commit's rows
        while its fragment is retired. Both adoption steps are
        monotonic (never move the head backwards), so pure readers
        only gain freshness. Returns False when the chain below the
        pointer is broken and the mirror cannot serve."""
        try:
            with open(self._state_path()) as f:
                st = json.load(f)
        except (FileNotFoundError, ValueError):
            st = None
        ok = True
        with self._lock:
            if isinstance(st, dict):
                try:
                    self._manifest.replay_to(int(st["manifest_seq"]))
                except ManifestChainBroken:
                    ok = False
                except (KeyError, TypeError, ValueError):
                    pass  # torn pointer: roll-forward still runs
                try:
                    self._adopt_cas_head(
                        {
                            "latest": int(st["latest_version"]),
                            "initial": int(st["version_initial"]),
                            "ts": int(st["last_timestamp"]),
                            "sc": st.get("stream_commits", {}),
                        }
                    )
                except (KeyError, TypeError, ValueError):
                    pass
            self._adopt_cas_head(self._manifest.roll_forward())
        return ok

    def _adopt_cas_head(self, head: dict | None) -> None:
        """Adopt a rolled-forward CAS delta's head fields: the version
        head (never backwards) AND the stream-sink idempotence markers
        — a marker only in the lagging pointer cache would let a
        replayed foreachBatch double-commit, so exactly-once rides the
        delta chain like everything else."""
        if head is None:
            return
        if head["latest"] > self._latest:
            self._latest = head["latest"]
            self._initial = head["initial"]
            self._last_ts = head["ts"]
        for k, v in head.get("sc", {}).items():
            if int(v) > self._stream_commits.get(k, -1):
                self._stream_commits[k] = int(v)

    def _write_state(self) -> None:
        """Publish: the staged manifest change goes out as ONE immutable
        delta record (O(1), manifest.py), then the pointer — head fields
        + manifest_seq — in one atomic rename. A reader's (seq, latest)
        pair is always one snapshot because the chain below a published
        seq is immutable. Manifest files a roll-up superseded retire
        into the vacuum ledger only AFTER the pointer is out
        (publish-before-delete, same as data fragments)."""
        superseded: list[str] = []
        if self._pending_add or self._pending_remove:
            add, rm = self._pending_add, self._pending_remove
            self._pending_add, self._pending_remove = [], []
            # the delta claim IS the commit point; head fields ride in
            # the record so readers can roll past the pointer —
            # including the stream-sink idempotence markers, or a
            # roll-forward would lose them and a replayed foreachBatch
            # could double-commit (exactly-once must not depend on the
            # pointer cache)
            head = {
                "latest": self._latest,
                "initial": self._initial,
                "ts": self._last_ts,
            }
            if self._stream_commits:
                head["sc"] = dict(self._stream_commits)
            try:
                _, superseded = self._manifest.commit(add, rm, head=head)
            except ManifestSeqClaimed:
                # lost the race BEFORE anything published: re-stage so
                # the caller can undo its fragment and retry
                self._pending_add, self._pending_remove = add, rm
                raise
        tmp = self._state_path() + f".tmp.{uuid.uuid4().hex}"
        st = {
            "latest_version": self._latest,
            "version_initial": self._initial,
            "last_timestamp": self._last_ts,
            "stream_commits": self._stream_commits,
            "manifest_seq": self._manifest.seq,
            # base-checkpoint hint: lets a cold open jump straight to
            # its checkpoint file instead of LISTING _manifest/ (which
            # holds every delta still inside the vacuum grace window)
            "manifest_ckpt": self._manifest._ckpt_seq,
        }
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.replace(tmp, self._state_path())  # atomic publish
        if superseded:
            self._retire(superseded)

    def _read_raw(self) -> DataFrame | None:
        """Snapshot read: the file set comes from the PUBLISHED manifest
        (one atomic ``_state.json`` read), not a directory listing, so a
        concurrent compaction — which publishes its rewritten file set
        before deleting the fragments it replaced — can never show a
        reader a torn half-swapped log. The reference serializes scans
        against writes with an RWMutex (eventlog/file/file.go:221-228);
        here readers stay lock-free and isolation comes from the
        manifest being immutable-once-published."""
        files = [f for f in self._manifest_files() if f.endswith(".parquet")]
        if not files:
            return None
        return self.spark.read.schema(EVENT_SCHEMA).parquet(
            *[os.path.join(self.path, f) for f in files]
        )

    def label_candidate_files(
        self, label: str, lo: int | None = None, hi: int | None = None
    ) -> list[str] | None:
        """Fragments that MAY contain ``label`` (and overlap versions
        [lo, hi] when given) per the manifest's per-column stats —
        bounds always, bloom where the writer knew the exact label set.
        None on the in-memory engine, which has no manifest; raises when
        the chain is unusable. This is the data-skipping probe
        ``scan(label=...)`` prunes with and tests assert on."""
        if self.path is None:
            return None
        self._require_published_state()
        positions = list(_label_bloom_positions(label))
        with self._lock:
            # page summaries refute whole pages before any page load —
            # the candidate pass is O(pages matched + tail), not
            # O(manifest entries); an absent label answers from the
            # page metas alone
            entries = self._manifest.candidates(
                lo,
                hi,
                page_ok=lambda m: _page_may_contain_label(m, label, positions),
                entry_ok=lambda e: _entry_may_contain_label(e, label, positions),
            )
        return [e["n"] for e in entries]

    # A kept page counts as DEGRADED for a label when its rolled-up
    # summary could not refute the label but fewer than half its live
    # entries individually match — the page pass then pays exactly the
    # entry walk the summaries exist to avoid. Above this mean rate the
    # layout report recommends the label-clustered rewrite.
    LAYOUT_DEGRADED_PAGE_RATE = 0.5

    def label_layout_report(self, labels: list[str] | None = None) -> dict:
        """Layout-health probe (round-9 verdict item 4): is the
        manifest's page-level label pruning still effective, or has
        interleaved ingest degraded present-label passes to entry-level
        walks? Driver-side and metadata-only — no data file is opened;
        cost is O(pages + probed labels × kept-page entries), the same
        order as one label candidate pass per probed label.

        ``labels`` defaults to a sample drawn from the page/entry label
        BOUNDS (real labels by construction, no data scan). A page is
        DEGRADED for a label when its summary keeps it but under half
        its live entries match (see LAYOUT_DEGRADED_PAGE_RATE). When
        the mean degraded-page rate across probed labels exceeds the
        threshold, the report recommends ``compact(cluster_by=
        "label")`` — the OPTIMIZE-ZORDER-style repair — surfaced by the
        CLI ``stats`` subcommand so operators see the signal before
        label scans regress at scale."""
        if self.path is None or not self._refresh_published_state():
            return {"usable": False, "recommend_cluster_by_label": False}
        with self._lock:
            metas = list(self._manifest._page_metas)
            tail = list(self._manifest._tail)
            files_total = self._manifest.count()
            if labels is None:
                seen: set[str] = set()
                for m in metas:
                    for k in ("plmin", "plmax"):
                        if m.get(k) is not None:
                            seen.add(str(m[k]))
                for e in tail:
                    for k in ("lmin", "lmax"):
                        if e.get(k) is not None:
                            seen.add(str(e[k]))
                labels = sorted(seen)[:32]
            per_label: dict[str, dict] = {}
            rates: list[float] = []
            page_cap = max(1, int(self._manifest.PAGE_ENTRIES))
            for label in labels:
                positions = list(_label_bloom_positions(label))
                survey = self._manifest.page_survey(
                    page_ok=lambda m: _page_may_contain_label(m, label, positions),
                    entry_ok=lambda e: _entry_may_contain_label(e, label, positions),
                )
                kept = [p for p in survey["pages"] if p["kept"]]
                degraded = sum(
                    1 for p in kept if p["count"] and p["hits"] * 2 < p["count"]
                )
                # IMPROVABILITY fence (round-11 autopilot finding): a
                # label-clustered log can legitimately roll all its few
                # large single-label files into ONE page — that page's
                # summary holds every label, so the page pass keeps it
                # and most entries are then individually refuted, which
                # the raw formula reads as "degraded". But no rewrite
                # can page-prune better than the minimum page count the
                # label's matching entries can occupy — so a label only
                # counts as degraded when its kept pages EXCEED that
                # ideal (its matches could have been co-located onto
                # fewer pages). Without this fence the autopilot
                # rewrites a perfectly clustered log forever.
                hits_total = sum(p["hits"] for p in kept)
                ideal = -(-hits_total // page_cap) if hits_total else 0
                improvable = len(kept) > ideal
                rate = degraded / len(kept) if kept and improvable else 0.0
                rates.append(rate)
                per_label[label] = {
                    "pages_refuted": len(survey["pages"]) - len(kept),
                    "pages_kept": len(kept),
                    "pages_ideal": ideal,
                    "improvable": improvable,
                    "pages_degraded": degraded,
                    "degraded_page_rate": round(rate, 3),
                    "candidate_files": hits_total + survey["tail_hits"],
                }
        mean_rate = sum(rates) / len(rates) if rates else 0.0
        recommend = mean_rate > self.LAYOUT_DEGRADED_PAGE_RATE
        return {
            "usable": True,
            "files_total": files_total,
            "pages_total": len(metas),
            "labels_probed": list(per_label),
            "labels": per_label,
            "mean_degraded_page_rate": round(mean_rate, 3),
            "recommend_cluster_by_label": recommend,
            "recommendation": (
                "run `compact --cluster-by label`: present-label page "
                "passes degrade to entry-level walks on most pages"
                if recommend
                else "layout healthy: page summaries prune effectively"
            ),
        }

    def _read_label_pruned(self, label: str, lo: int, hi: int) -> DataFrame | None:
        """Snapshot read restricted to the fragments whose manifest
        stats may hold ``label`` in [lo, hi] — Iceberg-style column
        data skipping; the exact filters downstream make the pruning
        purely an optimization."""
        names = self.label_candidate_files(label, lo, hi)
        files = [f for f in names if f.endswith(".parquet")]
        if not files:
            return None
        return self.spark.read.schema(EVENT_SCHEMA).parquet(
            *[os.path.join(self.path, f) for f in files]
        )

    def _manifest_files(self) -> list[str]:
        """The committed data-file set at the freshest published state.
        There is no directory-listing fallback: with no lock ordering
        writers, a directory may hold a crashed loser's fragment whose
        versions a winner re-assigned — only the manifest names a
        consistent snapshot."""
        self._require_published_state()
        with self._lock:
            return self._manifest.names()

    def _require_published_state(self) -> None:
        """``_refresh_published_state``, raising on a broken chain."""
        if not self._refresh_published_state():
            raise RuntimeError(
                "manifest chain unusable; there is no safe "
                "directory-listing fallback"
            )

    def _data_files(self) -> list[str]:
        """Directory listing minus files the deferred-deletion ledger has
        retired (still on disk for straggler readers, but no longer part
        of any snapshot — a recovery scan must not double-count them)."""
        retired = {
            f for batch in self._read_retired() for f in batch.get("files", [])
        }
        try:
            return [
                f
                for f in os.listdir(self.path)
                if not f.startswith(("_", ".")) and f not in retired
            ]
        except FileNotFoundError:
            return []

    # -- log-level state (O10-O12) -------------------------------------------

    def version(self) -> int:
        """O10: latest version; 0 if empty (eventlog.go:131-134). O(1)
        from committed state — no table scan."""
        with self._lock:
            return self._latest

    def version_initial(self) -> int:
        """O11: first version; 0 if empty (eventlog.go:136-140)."""
        with self._lock:
            return self._initial if self._latest else 0

    def metadata(self) -> dict[str, str]:
        """O12: immutable creation-time metadata (eventlog.go:142-151)."""
        return dict(self._metadata)

    def metadata_len(self) -> int:
        return len(self._metadata)

    # -- append (O1-O4) --------------------------------------------------------

    def append(self, label: str, payload: str) -> AppendResult:
        """O1: validate → minify → commit one event (eventlog.go:153-171)."""
        return self.append_multi([(label, payload)])

    def append_multi(self, events: Iterable[tuple[str, str]]) -> AppendResult:
        """O2: atomic multi-append — one shared timestamp, contiguous
        versions, all-or-nothing (eventlog.go:173-197, file.go:412-463)."""
        return self._commit(list(events), assumed_version=None)

    def append_check(self, assumed_version: int, label: str, payload: str) -> AppendResult:
        """O3: optimistic-concurrency append (eventlog.go:199-224)."""
        return self._commit([(label, payload)], assumed_version=assumed_version)

    def append_check_multi(
        self, assumed_version: int, events: Iterable[tuple[str, str]]
    ) -> AppendResult:
        """O4: OCC multi-append (eventlog.go:226-255)."""
        return self._commit(list(events), assumed_version=assumed_version)

    def _commit(
        self, events: list[tuple[str, str]], assumed_version: int | None
    ) -> AppendResult:
        if not events:
            raise ValueError("append requires at least one event")
        # Validate + canonicalize OUTSIDE the commit section, like the
        # reference computes checksums outside its lock (file.go:383-396).
        prepared: list[tuple[str, str]] = []
        for label, payload in events:
            validate_label(label)
            validate_payload(payload, self._max_payload_len)
            prepared.append((label, minify_json(payload)))

        # GROUP COMMIT (round-11 verdict item 4): concurrent callers
        # coalesce into ONE commit section. The reference's in-process
        # mutex batches concurrent appenders implicitly — the convoy
        # behind the lock drains one fsync at a time but each waiter's
        # write is tiny; here the commit section is the expensive part
        # (fragment write + fsync + manifest delta + pointer publish),
        # so the leader/follower shape pays it ONCE for every caller
        # that arrived while the previous section ran. Single-caller
        # cost is one uncontended condition variable — the solo path
        # is the old path plus nanoseconds. OCC semantics are exact:
        # each op's assumed_version is validated against the head AT
        # ITS POSITION in the group order, so two conflicting
        # append_check callers batched together see exactly the
        # winner/loser outcome they'd see through the lock. NOTE:
        # never call append while holding self._lock — a waiting
        # follower holding it would deadlock the leader's section.
        op = _PendingCommit(prepared, assumed_version)
        batch: list[_PendingCommit] | None = None
        with self._gc_cv:
            self._gc_queue.append(op)
            while True:
                if op.done:
                    break
                if not self._gc_leader:
                    # first unserved caller becomes leader and takes
                    # EVERYTHING queued so far (its own op included)
                    self._gc_leader = True
                    batch, self._gc_queue = self._gc_queue, []
                    break
                self._gc_cv.wait()
        if batch is not None:
            try:
                # adaptive batching window (the binlog-group-commit
                # sync-delay technique): when the PREVIOUS group was
                # already a convoy, the next one will be too — wait
                # ~1 ms before the section so re-arriving producers
                # land in THIS group's late drain instead of fragmenting
                # into solo sections. Solo/light producers never pay it
                # (their previous "group" was 1 op).
                if self._gc_last_batch >= 4:
                    time.sleep(0.001)
                self._commit_group(batch)
            finally:
                with self._gc_cv:
                    self._gc_leader = False
                    for b in batch:
                        if b.result is None and b.exc is None:
                            # belt-and-braces: _commit_group fills every
                            # slot; an op left empty means it aborted
                            b.exc = RuntimeError("group commit aborted")
                        b.done = True
                    self._gc_cv.notify_all()
        if op.exc is not None:
            raise op.exc
        assert op.result is not None
        return op.result

    def _commit_group(self, batch: list[_PendingCommit]) -> None:
        """Leader side of the group commit: one commit section, one
        fragment, one manifest delta, one pointer publish for every
        op in ``batch``. Fills each op's result/exception slot; never
        raises (a leader exception must fail the whole batch, not
        strand the followers)."""
        attempts = 0
        new_head: int | None = None
        try:
            while True:
                with self._commit_section():
                    # late drain: ops enqueued between this leader's
                    # election and its section entry join the group
                    # (without it, the first finished follower of the
                    # PREVIOUS group elects itself into a solo section
                    # and the average group halves — measured 1/7
                    # alternation at 8 producers). Their owner threads
                    # keep waiting on the CV; the extended batch is
                    # marked done with everyone else.
                    with self._gc_cv:
                        if self._gc_queue:
                            batch.extend(self._gc_queue)
                            self._gc_queue.clear()
                    base = self._latest
                    prior_initial = self._initial
                    # server-assigned, non-decreasing, whole seconds;
                    # one shared timestamp per group (inmem.go:27,
                    # file.go:419-420 share per batch — a group IS one
                    # physical batch)
                    ts = max(int(time.time()), self._last_ts)
                    rows: list[tuple[int, int, int, str, str]] = []
                    live: list[_PendingCommit] = []
                    cur = base
                    for op in batch:
                        op.exc = None  # re-validated on every attempt
                        if (
                            op.assumed_version is not None
                            and op.assumed_version != cur
                        ):
                            # OCC loser INSIDE the group: same outcome
                            # it would get racing through the lock
                            op.exc = MismatchingVersions(
                                f"assumed version {op.assumed_version} "
                                f"!= latest {cur}"
                            )
                            continue
                        op.first = cur + 1
                        rows.extend(
                            (cur + j + 1, cur + j, ts, label, payload)
                            for j, (label, payload) in enumerate(op.prepared)
                        )
                        cur += len(op.prepared)
                        live.append(op)
                    if rows:
                        self._write_fragment(rows)
                        self._latest = cur
                        if self._initial == 0:
                            self._initial = 1
                        self._last_ts = ts
                        try:
                            self._write_state()
                        except ManifestSeqClaimed:
                            # another writer took this seq. Nothing
                            # published — drop our fragment (it squats
                            # on versions the winner owns), roll back
                            # the in-memory head, resync, retry. Every
                            # op's OCC assumed_version is re-validated
                            # against the WINNER's head at the top of
                            # the loop, so two hosts racing see
                            # exactly-one-winner, same as two threads.
                            self._discard_staged_fragments()
                            self._latest, self._initial = (
                                base,
                                prior_initial,
                            )
                            retry = True
                        else:
                            retry = False
                            # captured INSIDE the lock: after release
                            # another commit may advance self._latest,
                            # and broadcasting/returning that head
                            # would break version == version_previous
                            # + len(events)
                            new_head = self._latest
                    else:
                        retry = False  # every op OCC-failed: no write
                if not retry:
                    break
                attempts += 1
                if attempts >= 4096:  # pragma: no cover - storm backstop
                    raise RuntimeError(
                        "commit lost the CAS race 4096 times in a row"
                    )
                time.sleep(random.uniform(0, 0.002) * min(attempts, 8))
        except BaseException as e:  # fail the WHOLE batch, strand no one
            for op in batch:
                if op.result is None and op.exc is None:
                    op.exc = e
            return
        for op in live:
            op.result = AppendResult(
                version_previous=op.first - 1,
                version_first=op.first,
                version=op.first + len(op.prepared) - 1,
                timestamp=ts,
            )
        self._gc_commits += 1
        self._gc_ops += len(batch)
        self._gc_last_batch = len(batch)
        if new_head is not None:
            self._hub.broadcast(new_head)
        # LSM-style maintenance OUTSIDE the commit section: once enough
        # group fragments accumulate, fold them into one file
        # driver-side. Amortized O(1) per append; without it both the
        # per-commit manifest publish and the page-scan fan-in grow
        # linearly with total appends since the last OPTIMIZE. (Run by
        # the leader only — one fold check per group, not per caller.)
        if (
            self.path is not None
            and self.MINOR_COMPACT_FRAGMENTS
            and getattr(self, "_interactive_frags", 0)
            >= self.MINOR_COMPACT_FRAGMENTS
        ):
            # the group above is already durably committed and
            # published — a failure in this opportunistic maintenance
            # (ENOSPC mid-merge, a racing external delete) must not
            # surface as an append error. Defer the retry a full
            # threshold so a persistently failing fold doesn't re-run
            # on every subsequent commit.
            try:
                self.minor_compact()
            except Exception as e:  # pragma: no cover - defensive
                self._interactive_frags = 0
                warnings.warn(f"minor_compact failed (deferred): {e!r}")

    def _discard_staged_fragments(self) -> None:
        """CAS-loser cleanup: fragments staged for a failed delta claim
        are unpublished and owned solely by this writer — unlink them
        so the retried commit leaves no version-squatting garbage."""
        for e in self._pending_add:
            try:
                os.remove(os.path.join(self.path, e["n"]))
            except FileNotFoundError:  # pragma: no cover - defensive
                pass
        self._pending_add, self._pending_remove = [], []

    def _write_fragment(self, rows: list[tuple[int, int, int, str, str]]) -> None:
        """Interactive-commit write seam: a DRIVER-SIDE arrow parquet
        write, not a distributed job. The reference appends an entry by
        writing bytes to its file (file.go:383-463) — microseconds, no
        query engine; the earlier Spark rendition ran a full
        createDataFrame→write job per 2-row commit (~0.3-1 s each,
        dominated by job scheduling). Checksums use the pure-Python
        chained XXH64 that is bit-identical to the JVM
        ``F.xxhash64(...)`` expression (sources/binformat.py, parity-
        tested), so ``check_integrity``'s JVM-side recompute still
        verifies every row. The file publishes via atomic rename from a
        dot-prefixed temp name (invisible to ``_data_files``), so a
        concurrent reader never sees a torn footer. Bulk ingest
        (``append_dataframe``) remains the fully-distributed path —
        this seam is for the interactive/serving commits where
        scheduling a cluster job per append is pure overhead."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from .sources.binformat import checksum_rows

        tbl = pa.table(
            {
                "version": pa.array([r[0] for r in rows], pa.int64()),
                "version_prev": pa.array([r[1] for r in rows], pa.int64()),
                "timestamp": pa.array([r[2] for r in rows], pa.int64()),
                # UTF-8-encoded bytes into a string column: arrow's
                # str ingestion re-encodes character by character
                # (~0.85 ms per 64 KiB payload — it dominated the wide
                # commit section), while bytes ingestion is a memcpy +
                # SIMD UTF-8 validation (0.11 ms for six such rows);
                # str.encode of the already-UTF-8 Python str is C-fast
                "label": pa.array(
                    [r[3].encode("utf-8") for r in rows], pa.string()
                ),
                "payload": pa.array(
                    [r[4].encode("utf-8") for r in rows], pa.string()
                ),
                # checksum_rows pool-parallelizes wide batches (a group
                # commit's coalesced 64 KiB+ rows would otherwise spend
                # more section time in the GIL-bound parity hash than
                # in the actual I/O); narrow rows hash inline
                "checksum": pa.array(checksum_rows(rows), pa.int64()),
            }
        )
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, "." + name + ".tmp")
        pq.write_table(tbl, tmp, row_group_size=ROW_GROUP_ROWS)
        os.rename(tmp, os.path.join(self.path, name))
        # counts interactive fragments since the last fold — the
        # minor-compaction trigger (amortized-O(1) append maintenance)
        self._interactive_frags = getattr(self, "_interactive_frags", 0) + 1
        # staged with the EXACT version range (the commit assigned it)
        # and exact label stats (the batch is driver-side, so the bloom
        # is free); published by the caller's _write_state as one delta
        # record
        entry = {"n": name, "lo": rows[0][0], "hi": rows[-1][0]}
        entry.update(_label_stats_entry({r[3] for r in rows}))
        self._pending_add.append(entry)

    def _write_out(
        self,
        out: DataFrame,
        expect: tuple[int, int],
        post_write_check=None,
    ) -> None:
        """Bulk-commit seam: persist an already-versioned, checksummed
        frame whose versions the count pass assigned as the closed range
        ``expect``. The storage engines differ only here and in
        ``_read_raw`` + the state/lifecycle hooks (the reference's
        engine seam, eventlog/eventlog.go EventLogger interface).

        Spark writes into a PRIVATE staging dir inside the log
        (``.bulk-<uuid>.tmp``: dot-prefixed, so no reader lists it and
        ``vacuum`` reaps it after a crash); the driver then renames the
        part files into the log dir under a fresh uuid tag (pure
        renames). The commit's file set is therefore known EXACTLY and
        owned solely by this writer: nothing orders writers across
        processes, so a directory diff could sweep a concurrent
        commit's fragment into THIS writer's delta (doubled rows if we
        win, and ``_discard_staged_fragments`` would DELETE the other
        writer's committed file if we lose). Version ranges come from
        the staged footers (``_staged_entries``), and BEFORE any rename
        they must span exactly ``expect`` (the count and the write are
        separate jobs; a nondeterministic upstream can make them
        disagree, which would otherwise publish a head that misnames
        the written rows). ``part-<tag>-…`` names keep the tail
        stream's ``part-*`` glob (streaming/streams.py) and
        minor-compact eligibility."""
        tmp = os.path.join(self.path, f".bulk-{uuid.uuid4().hex}.tmp")
        try:
            out.write.mode("overwrite").parquet(tmp)
            if post_write_check is not None:
                # streamed ingest (round 13): the validity tally rode
                # the write job as an observe metric — a raise here
                # discards the private staging dir before ANY file
                # becomes visible, preserving all-or-nothing semantics
                post_write_check()
            staged = self._staged_entries(tmp, "part")
            _check_bulk_range(
                (min(e["lo"] for _, e in staged), max(e["hi"] for _, e in staged))
                if staged
                else None,
                expect,
            )
            for src, entry in staged:
                os.rename(src, os.path.join(self.path, entry["n"]))
                self._pending_add.append(entry)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def _staged_entries(self, tmp: str, prefix: str) -> list[tuple[str, dict]]:
        """(staged path, manifest entry) for each Spark-written file in
        ``tmp`` that holds rows, named ``<prefix>-<tag>-<file>`` with its
        version range and label bounds from the footer. Raises when a
        footer gives no version range: every published entry carries
        one."""
        import pyarrow.parquet as pq

        tag = uuid.uuid4().hex[:8]
        staged = []
        for f in sorted(os.listdir(tmp)):
            if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                continue
            src = os.path.join(tmp, f)
            md = pq.ParquetFile(src).metadata
            if md.num_rows == 0:
                continue
            rng = self._parquet_version_range(src)
            if rng is None:
                raise RuntimeError(
                    f"commit aborted: staged file {src} has no version "
                    "statistics in its footer, so its manifest entry would "
                    "carry no version range"
                )
            entry: dict = {"n": f"{prefix}-{tag}-{f}", "lo": rng[0], "hi": rng[1]}
            lrng = _label_group_range(md)
            if lrng is not None:
                entry["lmin"], entry["lmax"] = lrng
            staged.append((src, entry))
        return staged

    @staticmethod
    def _parquet_version_range(full: str) -> tuple[int, int] | None:
        """(min, max) of the version column from a fragment's footer
        stats — a metadata-only read; None when stats are unavailable."""
        import pyarrow.parquet as pq

        stats = _version_group_stats(pq.ParquetFile(full).metadata)
        if not stats:
            return None
        return min(s[0] for s in stats), max(s[1] for s in stats)

    def append_dataframe(
        self,
        df: DataFrame,
        label_col: str = "label",
        payload_col: str = "payload",
        on_invalid: str = "error",
        order_cols: list[str] | None = None,
        spread: bool = True,
        txn: tuple[str, int] | None = None,
    ) -> AppendResult | None:
        """Bulk-ingest path: append a whole DataFrame as one atomic batch.

        Validation runs as JVM-side column expressions (validation.py),
        version assignment uses the partition-offset technique (see
        functions/versioning.py) — no single-partition shuffle, no Python
        in the data path. This is how 100 TB enters the log; the tuple
        API above is the interactive/serving path.

        ``order_cols``: assign versions in this order (costs a range
        repartition + local sort); default is partition-major arrival
        order, which is free.

        ``spread``: repartition a narrow source (fewer partitions than
        cores) before the expensive validation expressions. Right for
        large batches; pass ``False`` for small interactive/micro-batch
        commits where a 32-way shuffle of a 2-row frame is pure
        overhead (streaming.append_stream does).

        ``txn``: an (id, sequence) idempotence marker. A commit whose
        sequence is ≤ the last recorded sequence for that id is skipped
        (returns None). The marker is published atomically with the head
        version, which makes foreachBatch replays exactly-once — pass
        (stream_id, batch_id)."""
        from .validation import label_valid_expr, payload_valid_expr

        # Order columns that collide with the engine envelope (a source
        # being migrated may well carry its own `version`/`timestamp`)
        # ride under internal aliases so they can't shadow the assigned
        # columns downstream.
        _reserved = {"version", "version_prev", "timestamp", "checksum"}
        keep = [c for c in (order_cols or []) if c not in (label_col, payload_col)]
        safe = {c: (f"_ordcol_{c}" if c in _reserved else c) for c in keep}
        order_cols = [safe.get(c, c) for c in (order_cols or [])] or None
        src = df.select(
            F.col(label_col).cast("string").alias("label"),
            F.col(payload_col).cast("string").alias("payload"),
            *[F.col(c).alias(safe[c]) for c in keep],
        )
        # coalesce(…, false): a NULL label/payload (e.g. a JSONL line
        # missing the field) must count as INVALID, not slip through
        # three-valued logic (NULL & true = NULL, which when()/sum()
        # would silently treat as "not invalid").
        valid = F.coalesce(
            label_valid_expr(F.col("label"))
            & payload_valid_expr(F.col("payload"), self._max_payload_len),
            F.lit(False),
        )
        # ROUND 13: the ordered error-mode path (every bulk ingest in
        # the repo) takes the SINGLE-MATERIALIZATION versioning flow —
        # no pre-shuffle and no _valid column here: its one shuffle
        # lives inside with_dense_versions_streamed, and validation is
        # evaluated post-shuffle inside the write job (full
        # parallelism), surfaced via an observe metric that the
        # committer checks before any staged file becomes visible.
        if order_cols and on_invalid != "drop":
            return self._append_dataframe_locked(
                src, on_invalid, order_cols, txn, valid_expr=valid
            )
        # Legacy/persisted flow (arrival order, and drop-mode ordered
        # appends): shuffle BEFORE computing the (expensive)
        # JSON-validation column — a narrow source (e.g. one parquet
        # file) would otherwise evaluate from_json for every row inside
        # a single task.
        if order_cols:
            src = src.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
        elif spread and src.rdd.getNumPartitions() < (
            min_parts := self.spark.sparkContext.defaultParallelism
        ):
            src = src.repartition(min_parts)
        if on_invalid == "drop":
            src = src.where(valid)
        else:
            src = src.withColumn("_valid", valid)

        return self._append_dataframe_locked(src, on_invalid, order_cols, txn)

    def _append_dataframe_locked(
        self,
        src: DataFrame,
        on_invalid: str,
        order_cols: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        valid_expr: Column | None = None,
    ) -> AppendResult | None:
        from .functions.versioning import (
            with_dense_versions_counted,
            with_dense_versions_streamed,
        )

        with self._commit_section():
            if txn is not None and self._stream_commits.get(txn[0], -1) >= txn[1]:
                return None  # replayed batch: already committed, skip
            base = self._latest
            ts = max(int(time.time()), self._last_ts)
            post_write_check = None
            if valid_expr is not None:
                # ROUND 13 — ordered error-mode bulk ingest, SINGLE
                # materialization (guide §1.2/§5; design block in
                # functions/versioning.py): a pruned count job replaces
                # the batch-sized persisted cache, the one full pass is
                # the staged write itself, and the validity tally rides
                # that write as an observe metric checked below BEFORE
                # any staged file is renamed into the log.
                batch = with_dense_versions_streamed(
                    src, base=base, order_cols=order_cols, valid_expr=valid_expr
                )
                versioned, total = batch.df, batch.total
                unpersist = lambda: None  # noqa: E731 - no cache to release

                def post_write_check() -> None:
                    if batch.invalid_observed():
                        from .errors import InvalidPayload

                        raise InvalidPayload(
                            "append_dataframe: batch contains invalid events"
                        )

            else:
                # Persisted flow (arrival order, and drop-mode ordered
                # appends): one materialization serves everything — the
                # versioning pass persists the post-shuffle tagged
                # frame, so the count pass, the validity probe, and the
                # final write all reuse it (pinning also guarantees
                # identical partitions for nondeterministic upstreams).
                # order_cols=None: append_dataframe already applied the
                # ordering shuffle (pre-validation).
                batch = with_dense_versions_counted(
                    src,
                    base=base,
                    order_cols=None,
                    persist=True,
                    valid_col="_valid" if on_invalid != "drop" else None,
                )
                versioned, total, unpersist = batch.df, batch.total, batch.unpersist
            try:
                if valid_expr is None and on_invalid != "drop":
                    if batch.invalid:
                        from .errors import InvalidPayload

                        raise InvalidPayload(
                            "append_dataframe: batch contains invalid events"
                        )
                    versioned = versioned.drop("_valid")
                if order_cols:
                    versioned = versioned.drop(
                        *[c for c in order_cols if c not in ("label", "payload")]
                    )
                out = versioned.select(
                    F.col("version").cast("long"),
                    (F.col("version") - 1).cast("long").alias("version_prev"),
                    # cast matters: a plain lit(ts) is an int32 and xxhash64
                    # of int != xxhash64 of the long read back at verify time
                    F.lit(ts).cast("long").alias("timestamp"),
                    "label",
                    "payload",
                ).withColumn("checksum", checksum_expr())
                self._write_out(
                    out, (base + 1, base + total), post_write_check=post_write_check
                )
            finally:
                unpersist()
            # Head is known exactly from the versioning count pass — no
            # re-scan of the log to publish state. The count pass and
            # the write must see the same rows; _write_out checked that
            # the written version range is exactly the counted one
            # before anything became visible. The reference's analog is
            # its mid-batch rollback (file.go:343-360).
            prev_initial, prev_last_ts = self._initial, self._last_ts
            prev_marker = (
                self._stream_commits.get(txn[0], None) if txn is not None else None
            )
            self._latest = base + total
            if self._initial == 0 and self._latest > 0:
                self._initial = 1
            self._last_ts = ts
            if txn is not None:
                # idempotence marker rides in the same atomic publish
                self._stream_commits[txn[0]] = txn[1]
            try:
                self._write_state()
            except ManifestSeqClaimed:
                # versions are baked into the Spark-written files, so a
                # lost bulk race cannot be re-stamped in place — drop the
                # staged files and surface the retry to the caller.
                # EVERY in-memory mutation above must unwind, the txn
                # marker most of all: _refresh_published_state never
                # lowers a marker, so a stale one would make the
                # advertised re-run hit the replay check and silently
                # drop the acked batch.
                self._discard_staged_fragments()
                self._latest = base
                self._initial, self._last_ts = prev_initial, prev_last_ts
                if txn is not None:
                    if prev_marker is None:
                        self._stream_commits.pop(txn[0], None)
                    else:
                        self._stream_commits[txn[0]] = prev_marker
                raise MismatchingVersions(
                    "bulk append lost the commit race to a concurrent "
                    "writer; re-run the batch"
                )
            new_head = self._latest  # see _commit: capture under the lock
        self._hub.broadcast(new_head)
        return AppendResult(
            version_previous=base,
            version_first=base + 1,
            version=new_head,
            timestamp=ts,
        )

    # -- scan (O5-O8) ----------------------------------------------------------

    def _page_interval(
        self,
        version: int | None,
        reverse: bool,
        limit: int | None,
        skip_first: bool,
    ) -> tuple[int, int, int]:
        """The ONE encoding of O5-O8 paging semantics, shared by
        ``scan()`` and ``scan_rows()`` so the DataFrame and the
        driver-side page cannot drift: under dense versions a scan request is
        exactly the closed interval [lo, hi] (possibly empty, hi < lo)
        read toward the head (or tail when ``reverse``). Returns
        (lo, hi, latest); raises InvalidVersion exactly like the
        reference (eventlog_test.go:339-390)."""
        with self._lock:
            latest, initial = self._latest, self._initial
        if latest == 0:
            raise InvalidVersion("scan on empty log")
        v = version if version is not None else (latest if reverse else initial)
        if v < initial or v > latest:
            raise InvalidVersion(f"version {v} out of bounds [{initial}, {latest}]")
        if reverse:
            hi = v - 1 if skip_first else v
            lo = initial if limit is None else max(initial, hi - limit + 1)
        else:
            lo = v + 1 if skip_first else v
            hi = latest if limit is None else min(latest, lo + limit - 1)
        return lo, hi, latest

    def scan(
        self,
        version: int | None = None,
        reverse: bool = False,
        limit: int | None = None,
        skip_first: bool = False,
        label: str | None = None,
    ) -> DataFrame:
        """O5-O8: scan from ``version`` (inclusive) toward the head
        (or tail when ``reverse``), with derived chain links.

        Dense versions ⇒ ``version_prev``/``version_next`` are arithmetic
        (no window, no shuffle), and the whole request reduces to ONE
        closed version interval (``_page_interval``) — two pushed-down
        range predicates that prune parquet row groups via min/max
        stats, the Spark analog of the reference's O(1) offset seek
        (read_event.go:37). Under dense versions the interval bound IS
        the limit, so the pushed-down range filter does the real
        pruning; the ``limit`` operator stays purely for plan shape —
        it turns the output sort into a single-stage
        TakeOrderedAndProject instead of a range-partitioned Sort.

        ``label`` (extension beyond the reference's scan, which is
        version-only): restrict the scan to events with exactly that
        label. The read then prunes FRAGMENTS by the manifest's
        per-column label stats (bounds + bloom — see
        ``_label_stats_entry``) before any file is opened, and the
        exact ``label == X`` filter in the plan keeps pruning purely an
        optimization. With a label filter ``limit`` counts MATCHING
        rows, so it cannot tighten the version interval — the interval
        uses only the version bound and ``limit`` applies in-plan."""
        if label is not None:
            lo, hi, latest = self._page_interval(version, reverse, None, skip_first)
            df = self._read_label_pruned(label, lo, hi)
        else:
            lo, hi, latest = self._page_interval(version, reverse, limit, skip_first)
            df = self._read_raw()
        if df is None or hi < lo:
            df = self.spark.createDataFrame([], EVENT_SCHEMA)
        else:
            df = df.where((F.col("version") >= lo) & (F.col("version") <= hi))
            if label is not None:
                df = df.where(F.col("label") == label)
        df = df.withColumn(
            "version_next",
            F.when(F.col("version") == latest, F.lit(0)).otherwise(F.col("version") + 1),
        )
        df = df.orderBy(F.col("version").desc() if reverse else F.col("version"))
        if limit is not None:
            df = df.limit(limit)
        return df.select(
            "version",
            "version_prev",
            "version_next",
            "timestamp",
            "label",
            "payload",
            "checksum",
        )

    def scan_rows(
        self,
        version: int | None = None,
        reverse: bool = False,
        limit: int | None = None,
        skip_first: bool = False,
        label: str | None = None,
    ) -> list[ScanRow]:
        """O5-O8 as a DRIVER-SIDE page read — the serving path.

        ``scan()`` returns a DataFrame (the analytics entry point), but
        an HTTP page request for ≤1000 events must not schedule a Spark
        job: the reference serves a scan with one O(1) offset seek +
        sequential read (read_event.go:37), and at 100 TB a serving
        layer reads only the fragments containing the page, never the
        log. Dense versions make that exact here: the page is a closed
        version interval [lo, hi], the manifest's version ranges select
        the overlapping fragments, and only those are read — pyarrow,
        in-process, no job. Cost: the manifest pages the interval
        overlaps + the page's fragment reads; latency is ms where a
        Spark job is seconds. There is no second path: paging
        semantics come from the same ``_page_interval`` ``scan()``
        uses, and a page the manifest cannot serve raises.

        Dense versions give the invariant check: a page of [lo, hi]
        yields exactly hi-lo+1 rows, or RuntimeError.

        ``label`` (extension, mirrors ``scan(label=...)``): serve a
        label-filtered page driver-side — the manifest's per-column
        stats skip fragments that cannot hold the label, matching rows
        filter exactly, and ``limit`` counts MATCHING rows (so the
        density check does not apply; pruning is sound by construction
        — entries without label stats are always read)."""
        if label is not None:
            lo, hi, latest = self._page_interval(version, reverse, None, skip_first)
        else:
            lo, hi, latest = self._page_interval(version, reverse, limit, skip_first)
        if hi < lo:
            return []
        rows = self._rows_in_range(
            lo, hi, label=label, limit=limit, reverse=reverse
        )
        if label is None and len(rows) != hi - lo + 1:
            raise RuntimeError(
                f"page [{lo}, {hi}] read {len(rows)} rows, expected "
                f"{hi - lo + 1}: the manifest's fragments do not cover "
                "the interval"
            )
        rows.sort(key=lambda r: r[0])
        out = [
            ScanRow(
                ver, vp, 0 if ver == latest else ver + 1, ts, lab, payload, ck
            )
            for (ver, vp, ts, lab, payload, ck) in rows
        ]
        if reverse:
            out = out[::-1]
        if label is not None and limit is not None:
            out = out[:limit]
        return out

    def _rows_in_range(
        self,
        lo: int,
        hi: int,
        label: str | None = None,
        limit: int | None = None,
        reverse: bool = False,
    ) -> list[tuple[int, int, int, str, str, int]]:
        """Storage seam for ``scan_rows``: every committed event with
        lo <= version <= hi, as (version, version_prev, timestamp,
        label, payload, checksum) tuples in any order. File engine: the
        manifest's version-range index selects the overlapping
        fragments — O(manifest pages overlapped + matches), so a
        1000-event page over a 100k-fragment log touches a handful of
        entries — and ``_read_fragment_rows`` decodes, per fragment,
        only the row groups and rows the page can return. With
        ``label``, page summaries and entry stats additionally drop
        fragments that cannot hold the label (bounds + bloom — the same
        data skipping scan(label=...) applies) and rows are filtered
        exactly. A broken chain or a missing fragment raises.

        With ``label`` AND ``limit``, fragments are read in version
        order (``reverse`` flips it) and the read STOPS once no unread
        fragment can displace the first ``limit`` matches — so a
        paginated label tail costs O(fragments holding one page), not
        O(all remaining matches to the head) per page (the r8 shape:
        filter the full interval, then slice). A fragment read from
        disk contributes at most its own first ``limit`` matches, but
        the result may hold more than ``limit`` rows; the caller slices
        after sorting."""
        positions = (
            list(_label_bloom_positions(label)) if label is not None else None
        )
        self._require_published_state()
        with self._lock:
            if label is None:
                cand = self._manifest.overlapping(lo, hi)
            else:
                cand = self._manifest.candidates(
                    lo,
                    hi,
                    page_ok=lambda m: _page_may_contain_label(m, label, positions),
                    entry_ok=lambda e: _entry_may_contain_label(e, label, positions),
                )
        early_stop = label is not None and limit is not None
        if early_stop:
            # version order, so the early-stop bar below is sound
            cand.sort(key=(lambda e: -e["hi"]) if reverse else (lambda e: e["lo"]))
        out: list[tuple] = []
        for entry in cand:
            if early_stop and len(out) >= limit:
                # the page is full once the limit-th best match
                # outranks everything this (and every later, by the
                # sort) fragment could hold
                if reverse:
                    bar = heapq.nlargest(limit, (r[0] for r in out))[-1]
                    if entry["hi"] < bar:
                        break
                else:
                    bar = heapq.nsmallest(limit, (r[0] for r in out))[-1]
                    if entry["lo"] > bar:
                        break
            with self._lock:  # fragments are immutable under uuid names
                rows = self._frag_row_cache.get(entry["n"])
            if rows is None:
                rows = self._read_fragment_rows(entry, lo, hi, label, limit, reverse)
            out.extend(
                r
                for r in rows
                if lo <= r[0] <= hi and (label is None or r[3] == label)
            )
        return out

    def _read_fragment_rows(
        self,
        entry: dict,
        lo: int,
        hi: int,
        label: str | None = None,
        limit: int | None = None,
        reverse: bool = False,
    ) -> list[tuple]:
        """One fragment's rows for a page over [lo, hi]. A fragment of at
        most ``ROW_GROUP_ROWS`` rows is read whole and cached by name,
        unfiltered (the hot tail: single-append fragments are immutable
        and tiny, so repeated pages over an uncompacted tail must not
        re-open 1000 files). Any other fragment decodes only what the
        page can return:

        * row groups whose footer version stats miss [lo, hi] are
          skipped — driver-side writes cap groups at ``ROW_GROUP_ROWS``
          rows, so a 1000-event page decodes at most two groups of a
          fold;
        * the version range (and ``label``) filter runs Arrow-side, so
          only surviving rows become Python objects;
        * a label page with ``limit`` first reads only the ``version``
          and ``label`` columns, keeps the fragment's first ``limit``
          matches by version value in read direction (file order is not
          version order under ``compact(cluster_by="label")``), and
          decodes every column only for the groups holding them —
          matches past those can never be on the page.

        The cache mutates under the engine RLock (serving threads share
        it); the file read stays outside it."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(os.path.join(self.path, entry["n"]))
        md = pf.metadata
        if md.num_rows <= ROW_GROUP_ROWS:
            rows = _table_rows(pf.read())
            with self._lock:
                if entry["n"] not in self._frag_row_cache:
                    self._frag_rows_total += len(rows)
                    self._frag_row_cache[entry["n"]] = rows
                while self._frag_rows_total > 200_000 and self._frag_row_cache:
                    _, old = self._frag_row_cache.popitem(last=False)
                    self._frag_rows_total -= len(old)
            return rows
        stats = _version_group_stats(md)
        groups = [
            g
            for g in range(md.num_row_groups)
            if stats is None or (stats[g][0] <= hi and stats[g][1] >= lo)
        ]
        if label is not None and limit is not None and groups:
            keys = pf.read_row_groups(groups, columns=["version", "label"])
            hits = pc.indices_nonzero(_page_mask(keys, lo, hi, label))
            if len(hits) > limit:
                order = "descending" if reverse else "ascending"
                hits = pc.take(
                    hits,
                    pc.select_k_unstable(
                        pc.take(keys.column("version"), hits), limit, [("", order)]
                    ),
                )
            if len(hits):
                # [lo, hi] narrows to the kept matches: no other match
                # of this fragment lies between them
                bounds = pc.min_max(pc.take(keys.column("version"), hits))
                lo, hi = bounds["min"].as_py(), bounds["max"].as_py()
            ends = list(itertools.accumulate(md.row_group(g).num_rows for g in groups))
            groups = sorted(
                {groups[bisect.bisect_right(ends, i)] for i in hits.to_pylist()}
            )
        if not groups:
            return []
        tbl = pf.read_row_groups(groups)
        return _table_rows(tbl.filter(_page_mask(tbl, lo, hi, label)))

    def dataframe(self) -> DataFrame:
        """The whole committed log as a DataFrame (analysis entry point)."""
        df = self._read_raw()
        if df is None:
            return self.spark.createDataFrame([], EVENT_SCHEMA)
        with self._lock:
            latest = self._latest
        return df.where(F.col("version") <= latest)

    # -- integrity (O19/O20) ---------------------------------------------------

    def check_integrity(self) -> DataFrame:
        """O20: full-log audit as one aggregate query
        (check_integrity.go:15-94). Per-row checks (checksum recompute,
        payload validity) are embarrassingly parallel; with dense
        versions the chain/adjacency checks are arithmetic too, so the
        only global facts needed are count and min/max — no sort.

        The one sequential fact (running max of earlier timestamps) is
        computed by functions/ordered.py's bucketed decomposition: one
        parallel shuffle on version buckets + a one-row-per-bucket
        boundary pass — no single-task global Window at any scale."""
        from .functions.ordered import with_adjacent
        from .validation import label_valid_expr, payload_valid_expr

        df = self.dataframe()
        with self._lock:
            latest, initial = self._latest, self._initial
        if latest:
            df = with_adjacent(
                df, "version", running_max_cols=["timestamp"]
            ).withColumnRenamed("timestamp_prevmax", "_prev_max_ts")
        else:
            df = df.withColumn("_prev_max_ts", F.lit(None).cast("long"))
        return df.agg(
            F.coalesce(
                F.sum(F.when(checksum_expr() != F.col("checksum"), 1).otherwise(0)),
                F.lit(0),
            ).alias("checksum_violations"),
            F.coalesce(
                F.sum(F.when(F.col("version_prev") != F.col("version") - 1, 1).otherwise(0)),
                F.lit(0),
            ).alias("chain_violations"),
            # coalesce(valid, false): a NULL label/payload is a violation,
            # not a three-valued-logic blind spot
            F.coalesce(
                F.sum(
                    F.when(
                        ~F.coalesce(payload_valid_expr(F.col("payload")), F.lit(False)),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("payload_violations"),
            F.coalesce(
                F.sum(
                    F.when(
                        ~F.coalesce(label_valid_expr(F.col("label")), F.lit(False)), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("label_violations"),
            (F.count(F.lit(1)) != F.lit(latest - initial + 1 if latest else 0))
            .cast("int")
            .alias("density_violation"),
            F.coalesce(
                F.sum(F.when(F.col("timestamp") < F.col("_prev_max_ts"), 1).otherwise(0)),
                F.lit(0),
            ).alias("ts_order_violations"),
        )

    # -- subscription (O13/O14) --------------------------------------------------

    def subscribe(self) -> tuple["queue.Queue[int]", Callable[[], None]]:
        """O13: returns (queue of head versions, close fn). Latest-wins,
        at-most-once — the queue holds only the newest head, exactly like
        the reference's non-blocking broadcast (broadcast.go:24-27)."""
        return self._hub.subscribe()

    def try_append(
        self,
        assumed_version: int,
        transaction: Callable[[], tuple[str, str]],
        max_retries: int = 64,
    ) -> AppendResult:
        """O14: client-side CAS retry loop (client/client.go:150-246) —
        re-sync and re-run the user transaction until the OCC append
        lands or retries are exhausted."""
        assumed = assumed_version
        for _ in range(max_retries):
            label, payload = transaction()
            try:
                return self.append_check(assumed, label, payload)
            except MismatchingVersions:
                assumed = self.version()
        raise MismatchingVersions(f"try_append: exhausted {max_retries} retries")

    # -- maintenance -------------------------------------------------------------

    def compact(
        self,
        target_partitions: int | None = None,
        cluster_by: str | None = None,
    ) -> None:
        """Rewrite the accumulated per-commit fragments into few large
        files. Interactive appends create one small parquet file per
        commit (the analog of the reference's per-entry disk write);
        compaction restores scan efficiency. At scale this is the
        OPTIMIZE/bin-packing job, run out-of-band.

        ``cluster_by="label"`` orders the rewrite by (label, version)
        instead of version — the Z-ORDER-style layout choice for
        label-heavy read patterns: each output file then holds a
        contiguous LABEL range (manifest bounds + bloom prune label
        scans to exactly the matching files, even when ingest
        interleaved labels arbitrarily) and row groups inside a file
        are label-tight (the pushed-down ``label == X`` predicate
        prunes row groups JVM-side too). The documented trade: each
        file's VERSION range then spans the whole log, so version-keyed
        page reads consider every compacted file and lean on row-group
        version stats instead of file-level pruning — pick the layout
        that matches the dominant read, exactly as a table format's
        OPTIMIZE ZORDER does.

        PUBLISH-BEFORE-DELETE (round-6 advice): the compacted files are
        moved into the log dir under ``compact-…`` names, the manifest
        swaps to them in ONE atomic ``_state.json`` publish, and only
        then are the replaced fragments retired — into the deferred-
        deletion ledger, not off the disk. A reader that pinned the old
        manifest (or a straggler executing a pre-compaction DataFrame)
        keeps reading the old files until ``vacuum`` reaps them after a
        grace window; a reader that loads the new manifest sees exactly
        the compacted set. No reader at any interleaving sees a partial
        or doubled log — same contract the reference buys with its scan
        RWMutex (eventlog/file/file.go:221-228), without blocking
        readers. ``compact-`` names also keep the rewritten history out
        of the tail stream's ``part-*`` glob (streams.py) so an active
        subscriber is not re-delivered compacted rows as new files."""
        with self._commit_section():
            self.vacuum()  # reap files retired by PREVIOUS compactions
            # SNAPSHOT FIRST (round-9 advice): capture the file set, the
            # manifest mirror seq, and the head in ONE sync BEFORE the
            # long Spark rewrite — and never re-sync afterwards.
            # _commit_section holds no cross-process lock, so commits
            # from other processes can land DURING the rewrite; a
            # post-rewrite _manifest_files() would roll the mirror
            # forward past them, the exclusive seq claim in
            # _write_state would then succeed at the ADVANCED seq (the
            # abort fence never fires), and their fragments — swept
            # into `old` — would be retired while the compacted output
            # holds only pre-rewrite rows: committed events vanish.
            # With the mirror seq pinned here, any interleaved commit
            # collides on the claim and the publish RE-BASES over it
            # (_publish_rebase_on_claim_loss) — adopting the added
            # fragments, never retiring them.
            #
            # ATOMIC PAIR (round-10 advice): the file set and the head
            # must come from the SAME roll-forward point. The sync
            # inside _manifest_files now adopts the rolled-forward
            # delta head AND the pointer's head fields (neither is
            # discarded), and the RLock held across the pair stops an
            # in-process thread from advancing either half between the
            # two reads — so a CAS commit absorbed into `old` during
            # the sync is always covered by snap_latest and its rows
            # survive the rewrite.
            with self._lock:
                old = self._manifest_files()
                snap_latest = self._latest
            files = [
                os.path.join(self.path, f)
                for f in old
                if f.endswith(".parquet")
            ]
            if not files:
                return
            df = self.spark.read.schema(EVENT_SCHEMA).parquet(*files).where(
                F.col("version") <= snap_latest
            )
            if df.isEmpty():
                return
            n = target_partitions or max(1, self.spark.sparkContext.defaultParallelism // 4)
            # staged inside the log as a dot-prefixed dir: no reader
            # lists it, and vacuum reaps it if this process dies
            tmp = os.path.join(self.path, f".compact-{uuid.uuid4().hex}.tmp")
            # 8 MiB row groups (vs the 128 MiB default): row groups are
            # the pruning unit of the scan_rows page path — a page read
            # inside a compacted fragment costs one row group, and at
            # the default size that is ~10^6 rows for a 1000-row page
            if cluster_by not in (None, "label"):
                raise ValueError(f"unknown cluster_by {cluster_by!r}")
            cols = ["label", "version"] if cluster_by == "label" else ["version"]
            try:
                (
                    df.repartitionByRange(n, *cols)
                    .sortWithinPartitions(*cols)
                    .write.option("parquet.block.size", 8 * 1024 * 1024)
                    .mode("overwrite")
                    .parquet(tmp)
                )
                import pyarrow.compute as pc
                import pyarrow.parquet as pq

                staged = self._staged_entries(tmp, "compact")
                for src, entry in staged:
                    # exact label stats (bounds + bloom): compaction just
                    # rewrote every byte of this file, so one read-back
                    # of the dictionary-encoded label column is a
                    # rounding error on the OPTIMIZE job — and it keeps
                    # label scans prunable on compacted logs, where
                    # range-partitioned files mix labels and footer
                    # bounds alone would span
                    labs = pc.unique(
                        pq.read_table(src, columns=["label"]).column("label")
                    ).to_pylist()
                    entry.update(_label_stats_entry(labs))
                for src, entry in staged:
                    os.rename(src, os.path.join(self.path, entry["n"]))
                    self._pending_add.append(entry)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            self._pending_remove.extend(old)
            self._interactive_frags = 0
            if not self._publish_rebase_on_claim_loss(old):
                return
            self._retire(old)

    def maintain(self, labels: list[str] | None = None) -> dict:
        """Opt-in layout autopilot (round-10 verdict item 5): act on
        the health signal instead of only reporting it. Runs
        ``label_layout_report``; when it recommends the label-clustered
        rewrite (interleaved ingest degraded present-label page passes
        to entry-level walks), runs ``compact(cluster_by="label")`` —
        safe under live writers since the publish re-bases across
        concurrent commits instead of aborting
        (``_publish_rebase_on_claim_loss``) — and re-probes. At scale
        this is the OPTIMIZE-ZORDER autopilot an operator schedules
        out-of-band; it stays opt-in (a method / CLI subcommand, never
        implicit in the commit path) because the rewrite costs one
        pass over the log. Returns
        ``{"before": report, "compacted": bool, "after": report}`` —
        ``after is before`` when the layout was already healthy."""
        before = self.label_layout_report(labels=labels)
        if not before.get("recommend_cluster_by_label"):
            return {"before": before, "compacted": False, "after": before}
        self.compact(cluster_by="label")
        after = self.label_layout_report(labels=labels)
        return {"before": before, "compacted": True, "after": after}

    # Bounded re-base attempts for a maintenance publish that loses its
    # CAS seq claim. Each attempt is O(1) (no re-rewrite), so the bound
    # exists only as a runaway stop; the starvation probe
    # (tools/fencing_probe.py --maintenance) measures attempts actually
    # needed under a writer storm (single digits).
    COMPACT_CLAIM_RETRIES = int(os.environ.get("SPARK_GRAFT_COMPACT_RETRIES", 64))

    def _publish_rebase_on_claim_loss(self, replaced: list[str]) -> bool:
        """Publish the staged maintenance swap (compact / minor fold),
        RE-BASING across concurrent commits instead of aborting — the
        starvation-freedom answer the round-9 verdict asked for (under
        sustained writer traffic, any abort-on-conflict maintenance
        whose rewrite takes longer than the inter-commit gap would
        never land). This is Delta-style OPTIMIZE conflict resolution:
        the rewrite replaced exactly ``replaced``; a commit that landed
        meanwhile only ADDED fragments, disjoint from the swap, so
        adopt it (roll_forward — head fields, stream markers and all)
        and retry the claim at the advanced seq. Each retry is O(1) —
        the expensive rewrite is never redone — so the conflict window
        shrinks from the whole rewrite to one put_if_absent and the
        loop lands in a handful of attempts under any realistic storm.
        The ONE case that still aborts: some ``replaced`` file left the
        manifest, i.e. a concurrent compaction/fold owns part of the
        snapshot — two rewrites of the same fragment cannot both win.
        Returns True when published; False after an abort (staged
        outputs discarded, inputs intact)."""
        for attempt in range(1, self.COMPACT_CLAIM_RETRIES + 1):
            try:
                self._write_state()  # atomic manifest swap — the publish point
                # observability for the starvation probe: how contended
                # was this publish? (tools/fencing_probe.py --maintenance)
                self._last_publish_attempts = attempt
                return True
            except ManifestSeqClaimed:
                with self._lock:
                    self._adopt_cas_head(self._manifest.roll_forward())
                    live = set(self._manifest.names())
                if not set(replaced) <= live:
                    break  # overlap with a concurrent rewrite: abort
        self._discard_staged_fragments()
        return False

    # LSM-style minor-compaction trigger: once this many single-commit
    # ``part-*`` fragments accumulate in the manifest, the next append
    # folds them into one file driver-side (0 disables). Without a
    # bound, per-commit cost grows with total appends — the manifest
    # publish serializes the file list and page scans fan in over every
    # fragment — i.e. appends degrade O(n) after n commits. With it,
    # both are bounded by the threshold and the fold is amortized O(1).
    MINOR_COMPACT_FRAGMENTS = int(os.environ.get("SPARK_GRAFT_MINOR_COMPACT", 256))

    # Only fragments at or under this size are folded: bulk ingest also
    # writes ``part-*`` files (Spark's own naming) and those can be
    # arbitrarily large — folding them driver-side would pull a
    # cluster-sized file through the driver. 4 MiB is ~3 orders of
    # magnitude above any single interactive commit.
    MINOR_COMPACT_MAX_BYTES = 4 << 20

    def minor_compact(self) -> int:
        """Fold the accumulated small ``part-*`` fragments into ONE
        parquet file with pyarrow — a driver-side merge, no Spark job —
        under the same publish-before-delete manifest swap as
        ``compact()``. This is the LSM minor compaction to
        ``compact()``'s major one: ~0.4 ms per tiny fragment to read,
        one file write, one atomic manifest publish, replaced fragments
        retired into the vacuum ledger for straggler readers. The
        ``compact-`` output name keeps the rewritten history out of the
        tail stream's ``part-*`` glob (streams.py), exactly like major
        compaction. Returns the number of fragments folded."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self.path is None:  # inmem engine: nothing on disk to fold
            return 0
        with self._commit_section():
            self.vacuum()  # reap grace-expired retirees of previous folds
            manifest = self._manifest_files()
            # fold set: the single-commit fragments AND any still-small
            # previous fold outputs (size-tiered: a minor file absorbs
            # folds until it reaches MAX_BYTES, then is left for major
            # compact) — so per-fold work is bounded by MAX_BYTES and
            # the steady-state file count is total_bytes/MAX_BYTES, not
            # linear in fold count
            small = [
                f
                for f in manifest
                if (f.startswith("part-") or f.endswith("-minor.parquet"))
                and f.endswith(".parquet")
                and os.path.getsize(os.path.join(self.path, f))
                <= self.MINOR_COMPACT_MAX_BYTES
            ]
            self._interactive_frags = 0  # folded (or provably few) below
            if len(small) < 2:
                return 0
            tables = [
                pq.read_table(os.path.join(self.path, f)) for f in small
            ]
            schema = tables[0].schema
            merged = pa.concat_tables(
                [t.cast(schema) for t in tables]
            ).sort_by("version")
            name = f"compact-{uuid.uuid4().hex[:8]}-minor.parquet"
            landing = os.path.join(self.path, "." + name + ".tmp")
            # bounded row groups: a page decodes only the groups it
            # overlaps, not the whole fold (_read_fragment_rows)
            pq.write_table(merged, landing, row_group_size=ROW_GROUP_ROWS)
            os.rename(landing, os.path.join(self.path, name))
            # merged is sorted by version: range = first/last row; the
            # fold holds the rows driver-side, so label stats are exact
            # (bounds + bloom) — a fold of single-label commits stays
            # perfectly label-prunable
            vcol = merged.column("version")
            entry = {"n": name, "lo": vcol[0].as_py(), "hi": vcol[-1].as_py()}
            import pyarrow.compute as pc

            entry.update(
                _label_stats_entry(pc.unique(merged.column("label")).to_pylist())
            )
            self._pending_add.append(entry)
            self._pending_remove.extend(small)
            if not self._publish_rebase_on_claim_loss(small):
                return 0
            self._retire(small)
            return len(small)

    # Retired-but-not-deleted files wait out this grace window so
    # straggler readers (a DataFrame built against the previous manifest,
    # another process that loaded state just before the swap, a tail
    # stream that has not yet picked the fragments up) can drain.
    VACUUM_GRACE_SECONDS = int(os.environ.get("SPARK_GRAFT_LOG_GC_GRACE", 900))

    def _retired_path(self) -> str:
        return os.path.join(self.path, "_retired.jsonl")

    def _retire(self, files: list[str]) -> None:
        """Record ``files`` in the deferred-deletion ledger. APPEND-ONLY
        (one JSON line per batch, O(1) — the ledger was previously a
        read-modify-rewrite JSON list, O(ledger) per retirement, which
        showed up as the commit p99 once manifest roll-ups started
        retiring their superseded records). Caller holds the commit
        section; vacuum compacts the ledger when it reaps."""
        if not files:
            return
        with open(self._retired_path(), "a") as f:
            f.write(json.dumps({"ts": time.time(), "files": files}) + "\n")

    def _read_retired(self) -> list[dict]:
        out: list[dict] = []
        # legacy list-format ledger (pre round 8), adopted transparently
        try:
            with open(os.path.join(self.path, "_retired.json")) as f:
                out.extend(json.load(f))
        except (FileNotFoundError, ValueError):
            pass
        try:
            with open(self._retired_path()) as f:
                for line in f:
                    try:
                        out.append(json.loads(line))
                    except ValueError:
                        continue  # torn trailing line from a crash
        except FileNotFoundError:
            pass
        return out

    def published_files(self) -> set[str]:
        """Every data file a commit published that vacuum has not yet
        reaped: the live manifest plus the retirement ledger. A data
        file outside this set was never claimed — a crashed or losing
        writer's fragment."""
        names = set(self._manifest_files())
        names.update(
            f for batch in self._read_retired() for f in batch.get("files", [])
        )
        return names

    def vacuum(self, grace_seconds: float | None = None) -> int:
        """Delete files older than the grace window; returns the number
        of files removed. Two kinds go: retired files (the ledger's
        timestamp is past the window) and unpublished crash leftovers —
        data fragments and dot-prefixed staging temps (files, and the
        ``.bulk-*.tmp``/``.compact-*.tmp`` dirs Spark writes into) that
        ``published_files`` does not name, whose last write or rename
        (mtime/ctime, the newest of anything under a staging dir) is
        past the window, so a live writer's fragment between its
        rename and its delta claim, or a running job's staging dir, is
        never touched. Run by
        ``compact`` itself (so the ledger never grows past one
        compaction cycle) or manually with ``grace_seconds=0`` when no
        reader or writer anywhere can be live. The analog at scale is a
        table format's VACUUM with a retention check."""
        grace = self.VACUUM_GRACE_SECONDS if grace_seconds is None else grace_seconds
        removed = 0
        now = time.time()
        with self._lock:
            published = self.published_files()
            for f in os.listdir(self.path):
                if f in published or not (
                    (f.endswith(".parquet") and not f.startswith(("_", ".")))
                    or (f.startswith(".") and f.endswith(".tmp"))
                ):
                    continue
                full = os.path.join(self.path, f)
                try:
                    if now - _newest_change(full) < grace:
                        continue
                    if os.path.isdir(full):
                        shutil.rmtree(full)
                    else:
                        os.remove(full)
                    removed += 1
                except FileNotFoundError:
                    pass
            removed += self._reap_retired(now, grace)
        return removed

    def _reap_retired(self, now: float, grace: float) -> int:
        ledger, kept, removed = self._read_retired(), [], 0
        for batch in ledger:
            if now - float(batch.get("ts", 0)) < grace:
                kept.append(batch)
                continue
            for f in batch.get("files", []):
                # superseded MANIFEST records delete through the claim
                # store (the seam that wrote them — on an object store
                # this is the DELETE call, not a filesystem unlink);
                # data fragments are plain files either way
                if (
                    f.startswith("_manifest" + os.sep) or f.startswith("_manifest/")
                ) and self._manifest is not None:
                    if self._manifest._store.delete(os.path.basename(f)):
                        removed += 1
                    continue
                try:
                    os.remove(os.path.join(self.path, f))
                    removed += 1
                except FileNotFoundError:
                    pass
        if kept != ledger:
            tmp = self._retired_path() + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                for batch in kept:
                    f.write(json.dumps(batch) + "\n")
            os.replace(tmp, self._retired_path())
            # the legacy list-format ledger (if any) is folded in above
            try:
                os.remove(os.path.join(self.path, "_retired.json"))
            except FileNotFoundError:
                pass
        return removed
