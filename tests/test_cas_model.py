"""Model-based stateful test of the CAS commit protocol.

Hypothesis drives random interleavings of the operations two writer
instances can perform against ONE log over the object-store fake
(``MemoryClaimStore`` — conditional PUT only, flock exploded), checking
every step against a trivially-correct model: the Python list of events
in commit order. This is the property the whole multi-host design
promises — whatever the interleaving of appends, OCC appends, minor
folds, vacuums, lost or rolled-back open-time records, claims failed
by a store outage, and reopens,
the log IS the model: dense versions 1..N, every acked event present
exactly once, in ack order. The example-based fencing tests pin
known-dangerous schedules; this machine searches for unknown ones.

Every machine rolls up every 3 commits (``CHECKPOINT_EVERY = 3``), so
short runs reach roll-ups, reaped deltas, and writers stale past them.
The open-time records a log keeps — the roll-up hint in the claim store,
and ``_state.json`` where a release writes one — are what the crash
rules delete or roll back.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from hypothesis import settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    rule,
)

from eventlog_spark.errors import MismatchingVersions
from eventlog_spark.log import EventLog
from eventlog_spark.manifest import ManifestLog, MemoryClaimStore
from tests import open_records


def _boom(*a, **k):  # pragma: no cover - trips only on a protocol bug
    raise AssertionError("the commit protocol must never take a flock")


class _FailingClaims:
    """A writer handle's view of the claim store. `arm(lands)` makes
    the next claim raise, after applying it (`lands`) or before, and
    the GET that would disambiguate it raise too: an outage the writer
    cannot see through."""

    def __init__(self, inner):
        self._inner = inner
        self._armed: bool | None = None
        self._failing = None

    def arm(self, lands: bool) -> None:
        self._armed = lands

    def put_if_absent(self, name, data):
        if self._armed is None:
            return self._inner.put_if_absent(name, data)
        lands, self._armed = self._armed, None
        if lands:
            assert self._inner.put_if_absent(name, data)
        self._failing = name
        raise ConnectionError("claim store unreachable")

    def get(self, name):
        if name == self._failing:
            self._failing = None
            raise ConnectionError("claim store unreachable")
        return self._inner.get(name)

    def __getattr__(self, attr):
        return getattr(self._inner, attr)


class CasProtocol(RuleBasedStateMachine):
    def __init__(self):
        super().__init__()
        self._fcntl_patch = pytest.MonkeyPatch()
        self._root = None

    @initialize()
    def fresh_log(self):
        import fcntl

        self._root = tempfile.mkdtemp(prefix="cas_model_")
        self.path = os.path.join(self._root, "log")
        self.store = self._make_store()
        EventLog.create(None, self.path, claim_store=self.store)
        self._fcntl_patch.setattr(fcntl, "flock", _boom)
        self._fcntl_patch.setattr(ManifestLog, "CHECKPOINT_EVERY", 3)
        self.writers = [self._open(), self._open()]
        self.model: list[tuple[str, str]] = []  # (label, payload) by version

    def _make_store(self):
        return MemoryClaimStore()

    def _open_store(self):
        """The store a fresh writer handle opens with (the served
        subclass gives every handle its own client connection, like
        writers on different hosts)."""
        return self.store

    def _open(self) -> EventLog:
        return EventLog.open(
            None, self.path, claim_store=_FailingClaims(self._open_store())
        )

    # -- operations ------------------------------------------------------------

    @rule(w=st.integers(0, 1), i=st.integers(0, 999))
    def append(self, w, i):
        payload = json.dumps({"w": w, "i": i}, separators=(",", ":"))
        r = self.writers[w].append(f"w{w}", payload)
        self.model.append((f"w{w}", payload))
        assert r.version == len(self.model)  # exactly the next version

    @rule(w=st.integers(0, 1), stale=st.booleans())
    def append_check(self, w, stale):
        payload = json.dumps({"occ": w}, separators=(",", ":"))
        if stale and self.model:
            # a wrong assumed head must be refused and commit NOTHING
            with pytest.raises(MismatchingVersions):
                self.writers[w].append_check(
                    len(self.model) + 7, "occ", payload
                )
        else:
            r = self.writers[w].append_check(len(self.model), "occ", payload)
            self.model.append(("occ", payload))
            assert r.version == len(self.model)

    @rule(w=st.integers(0, 1))
    def minor_compact(self, w):
        self.writers[w].minor_compact()  # pure maintenance: model unchanged

    @rule(w=st.integers(0, 1), now=st.booleans())
    def vacuum(self, w, now):
        self.writers[w].vacuum(grace_seconds=0 if now else None)

    @rule(w=st.integers(0, 1))
    def reopen(self, w):
        self.writers[w] = self._open()

    @rule(w=st.integers(0, 1), i=st.integers(0, 999))
    def append_with_pointer_rollback(self, w, i):
        """A commit whose open-time records roll back (a crash, or a
        racing write landing out of order): the claimed DELTA is the
        commit — the model keeps the event, and every later view must
        too."""
        saved = open_records.save(self.path, self.store)
        payload = json.dumps({"w": w, "i": i, "rb": 1}, separators=(",", ":"))
        r = self.writers[w].append(f"w{w}", payload)
        self.model.append((f"w{w}", payload))
        assert r.version == len(self.model)
        open_records.restore(self.path, self.store, saved)  # the delta stands

    @rule(w=st.integers(0, 1), i=st.integers(0, 999), lands=st.booleans())
    def append_with_failed_claim(self, w, i, lands):
        """A commit whose claim and its disambiguating GET fail, with
        the claim applied (`lands`) or not: the writer keeps its
        handle, the model gains the event only if the claim landed, and
        the handle's next append takes the next version."""
        writer = self.writers[w]
        payload = json.dumps({"w": w, "i": i, "fc": 1}, separators=(",", ":"))
        writer._claim_store.arm(lands)
        with pytest.raises(ConnectionError):
            writer.append(f"w{w}", payload)
        if lands:
            self.model.append((f"w{w}", payload))
        payload = json.dumps({"w": w, "i": i, "fc": 2}, separators=(",", ":"))
        r = writer.append(f"w{w}", payload)
        self.model.append((f"w{w}", payload))
        assert r.version == len(self.model)

    @rule()
    def crash_pointer(self):
        # the open-time records only shorten open: losing them must cost
        # nothing once a fresh open re-positions on the chain
        open_records.lose(self.path, self.store)
        self.writers[0] = self._open()

    # -- the property ------------------------------------------------------------

    @invariant()
    def log_is_the_model(self):
        if self._root is None:  # before @initialize
            return
        # the documented visibility contract: a handle serves its last
        # KNOWN head (read-your-own-writes) until it refreshes — so the
        # property is stated over a refreshed view, exactly what a
        # fresh reader (or the next commit's resync) sees
        self.writers[0]._refresh_published_state()
        rows = self.writers[0].scan_rows() if self.model else []
        assert [r.version for r in rows] == list(range(1, len(self.model) + 1))
        assert [(r.label, r.payload) for r in rows] == self.model
        assert self.writers[0].version() == len(self.model)

    def teardown(self):
        self._fcntl_patch.undo()
        if self._root is not None:
            shutil.rmtree(self._root, ignore_errors=True)


TestCasProtocol = CasProtocol.TestCase
TestCasProtocol.settings = settings(
    max_examples=15, stateful_step_count=25, deadline=None
)


class CasProtocolServed(CasProtocol):
    """The same machine over the SERVED object-store contract
    (claimsvc): every claim / get / list crosses a unix socket to the
    arbiter service and each writer handle owns its own client
    connection — writers on different hosts, nothing but server-side
    conditional-PUT atomicity ordering them. The random interleavings
    therefore also search schedules where a claim and a concurrent
    read race through the service."""

    def _make_store(self):
        from eventlog_spark.claimsvc import ClaimServer, SocketClaimStore

        self._srv_dir = tempfile.mkdtemp(prefix="claimsvc-", dir="/tmp")
        self._srv = ClaimServer(os.path.join(self._srv_dir, "s")).start()
        return SocketClaimStore(self._srv.socket_path)

    def _open_store(self):
        from eventlog_spark.claimsvc import SocketClaimStore

        return SocketClaimStore(self._srv.socket_path)

    def teardown(self):
        super().teardown()
        if getattr(self, "_srv", None) is not None:
            self._srv.stop()
            shutil.rmtree(self._srv_dir, ignore_errors=True)


TestCasProtocolServed = CasProtocolServed.TestCase
TestCasProtocolServed.settings = settings(
    max_examples=8, stateful_step_count=20, deadline=None
)


class CasProtocolWithSpark(RuleBasedStateMachine):
    """The Spark-path extension of the machine above: bulk appends
    (with and without stream-txn idempotence markers, including forced
    replays), major compactions (both layouts), folds, vacuums, and
    lost open-time records interleaved by two writers over the object-store
    fake. Small example counts — every step is a real Spark job — but
    the space it walks (bulk staging + re-base publishes + txn unwind
    + compaction tombstones) is exactly where round-9's data-loss bugs
    lived."""

    def __init__(self):
        super().__init__()
        self._fcntl_patch = pytest.MonkeyPatch()
        self._root = None

    @initialize()
    def fresh_log(self):
        import fcntl

        from eventlog_spark.session import get_spark

        self.spark = get_spark(app_name="cas_model_spark")
        self._root = tempfile.mkdtemp(prefix="cas_model_spark_")
        self.path = os.path.join(self._root, "log")
        self.store = MemoryClaimStore()
        EventLog.create(None, self.path, claim_store=self.store)
        self._fcntl_patch.setattr(fcntl, "flock", _boom)
        self._fcntl_patch.setattr(ManifestLog, "CHECKPOINT_EVERY", 3)
        self.writers = [self._open(), self._open()]
        self.model: list[tuple[str, str]] = []
        self.txn_epoch = 0

    def _open(self) -> EventLog:
        return EventLog.open(
            self.spark, self.path, claim_store=self.store
        )

    def _batch(self, w: int, n: int, base: int):
        from pyspark.sql import functions as F

        return self.spark.range(base, base + n).select(
            F.lit(f"bulk{w}").alias("label"),
            F.format_string('{"i":%d}', F.col("id")).alias("payload"),
            "id",
        )

    # -- operations ------------------------------------------------------------

    @rule(w=st.integers(0, 1), i=st.integers(0, 999))
    def append(self, w, i):
        payload = json.dumps({"w": w, "i": i}, separators=(",", ":"))
        r = self.writers[w].append(f"w{w}", payload)
        self.model.append((f"w{w}", payload))
        assert r.version == len(self.model)

    @rule(w=st.integers(0, 1), n=st.integers(1, 3), base=st.integers(0, 99))
    def bulk_append(self, w, n, base):
        r = self.writers[w].append_dataframe(
            self._batch(w, n, base), order_cols=["id"]
        )
        for i in range(base, base + n):
            self.model.append((f"bulk{w}", '{"i":%d}' % i))
        assert r is not None and r.version == len(self.model)

    @rule(w=st.integers(0, 1), n=st.integers(1, 3))
    def bulk_append_txn_then_replay(self, w, n):
        """Exactly-once: epoch N commits once; the replayed micro-batch
        (same epoch) must return None and change NOTHING."""
        self.txn_epoch += 1
        batch = self._batch(w, n, 500 + self.txn_epoch)
        r = self.writers[w].append_dataframe(
            batch, order_cols=["id"], txn=("model", self.txn_epoch)
        )
        for i in range(500 + self.txn_epoch, 500 + self.txn_epoch + n):
            self.model.append((f"bulk{w}", '{"i":%d}' % i))
        assert r is not None and r.version == len(self.model)
        assert (
            self.writers[w].append_dataframe(
                batch, order_cols=["id"], txn=("model", self.txn_epoch)
            )
            is None
        )

    @rule(w=st.integers(0, 1), cluster=st.booleans())
    def compact(self, w, cluster):
        self.writers[w].compact(
            target_partitions=2, cluster_by="label" if cluster else None
        )

    @rule(w=st.integers(0, 1))
    def minor_compact(self, w):
        self.writers[w].minor_compact()

    @rule(w=st.integers(0, 1), now=st.booleans())
    def vacuum(self, w, now):
        self.writers[w].vacuum(grace_seconds=0 if now else None)

    @rule()
    def crash_pointer(self):
        open_records.lose(self.path, self.store)
        self.writers[0] = self._open()

    # -- the property ------------------------------------------------------------

    @invariant()
    def log_is_the_model(self):
        if self._root is None:
            return
        self.writers[0]._refresh_published_state()
        rows = self.writers[0].scan_rows() if self.model else []
        assert [r.version for r in rows] == list(range(1, len(self.model) + 1))
        assert [(r.label, r.payload) for r in rows] == self.model
        assert self.writers[0].version() == len(self.model)

    def teardown(self):
        self._fcntl_patch.undo()
        if self._root is not None:
            shutil.rmtree(self._root, ignore_errors=True)


TestCasProtocolWithSpark = CasProtocolWithSpark.TestCase
TestCasProtocolWithSpark.settings = settings(
    max_examples=3, stateful_step_count=8, deadline=None
)
