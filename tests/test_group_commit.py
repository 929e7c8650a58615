"""Group commit (round-11 verdict item 4): concurrent interactive
append()/append_check() callers coalesce into ONE commit section —
one fragment, one manifest delta, one pointer publish for the whole
group — the analog of the reference mutex's implicit convoy batching
(eventlog/eventlog.go:173-197 AppendMulti is the atomicity model).
OCC semantics must be EXACT under coalescing, and a leader failure
must fail the whole batch rather than strand followers."""

import json
import os
import threading
import time

import pytest

from eventlog_spark.log import EventLog, MismatchingVersions, _PendingCommit


def test_concurrent_appends_coalesce_and_stay_exact(tmp_path):
    """8 threads x 25 appends: every ack consistent (version ==
    version_previous + 1), the log dense, every payload exactly once —
    and the group counters prove real coalescing happened (fewer
    commit sections than caller ops)."""
    path = str(tmp_path / "gc")
    log = EventLog.create(None, path)
    errs: list[Exception] = []
    acks: list[tuple[int, int]] = []
    lock = threading.Lock()

    def work(t: int) -> None:
        try:
            for i in range(25):
                r = log.append(f"t{t}", json.dumps({"t": t, "i": i}))
                assert r.version == r.version_previous + 1
                assert r.version_first == r.version
                with lock:
                    acks.append((t, r.version))
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert log.version() == 200
    versions = [v for _, v in acks]
    assert sorted(versions) == list(range(1, 201))  # exactly-one-winner
    rows = log.scan_rows()
    assert [r.version for r in rows] == list(range(1, 201))
    assert {tuple(json.loads(r.payload).items()) for r in rows} == {
        (("t", t), ("i", i)) for t in range(8) for i in range(25)
    }
    # real coalescing: strictly fewer commit sections than ops (the
    # storm guarantees arrivals during in-flight sections), and the
    # counters account for every op
    assert log._gc_ops == 200
    assert log._gc_commits < log._gc_ops
    # a reopened log agrees (the group fragment is an ordinary fragment)
    fresh = EventLog.open(None, path)
    assert fresh.version() == 200


def test_occ_winner_loser_inside_one_group(tmp_path):
    """Two append_check ops with the SAME assumed version forced into
    one batch: the first in group order wins, the second gets
    MismatchingVersions — byte-for-byte the outcome they'd get racing
    through the lock. Driven through _commit_group directly so the
    batch composition is deterministic."""
    path = str(tmp_path / "occ")
    log = EventLog.create(None, path)
    log.append("seed", '{"s":1}')

    a = _PendingCommit([("win", '{"w":1}')], assumed_version=1)
    b = _PendingCommit([("lose", '{"l":1}')], assumed_version=1)
    c = _PendingCommit([("blind", '{"b":1}')], assumed_version=None)
    log._commit_group([a, b, c])
    assert a.result is not None and a.result.version == 2
    assert isinstance(b.exc, MismatchingVersions)
    assert c.result is not None and c.result.version == 3  # skips the loser
    rows = log.scan_rows()
    assert [(r.version, r.label) for r in rows] == [
        (1, "seed"),
        (2, "win"),
        (3, "blind"),
    ]


def test_all_ops_occ_fail_writes_nothing(tmp_path):
    path = str(tmp_path / "allfail")
    log = EventLog.create(None, path)
    log.append("seed", '{"s":1}')
    a = _PendingCommit([("x", '{"x":1}')], assumed_version=7)
    b = _PendingCommit([("y", '{"y":1}')], assumed_version=0)
    frags_before = len(log._data_files())
    log._commit_group([a, b])
    assert isinstance(a.exc, MismatchingVersions)
    assert isinstance(b.exc, MismatchingVersions)
    assert log.version() == 1
    assert len(log._data_files()) == frags_before  # no fragment written


def test_leader_failure_fails_the_whole_batch_not_just_its_own(
    tmp_path, monkeypatch
):
    """A fragment-write failure inside the leader's section must reach
    EVERY caller in the batch (their events are in the same physical
    write), and the log must stay healthy for the next commit."""
    path = str(tmp_path / "boom")
    log = EventLog.create(None, path)
    log.append("pre", '{"p":1}')

    real_write = EventLog._write_fragment
    armed = threading.Event()

    def exploding(self_, rows):
        if armed.is_set():
            armed.clear()
            raise OSError("disk on fire")
        return real_write(self_, rows)

    monkeypatch.setattr(EventLog, "_write_fragment", exploding)
    a = _PendingCommit([("a", '{"a":1}')], None)
    b = _PendingCommit([("b", '{"b":1}')], None)
    armed.set()
    log._commit_group([a, b])
    assert isinstance(a.exc, OSError) and isinstance(b.exc, OSError)
    assert a.result is None and b.result is None
    # nothing half-published: head unchanged, next commit clean
    assert log.version() == 1
    r = log.append("after", '{"ok":1}')
    assert r.version == 2
    assert [x.label for x in log.scan_rows()] == ["pre", "after"]


def test_followers_batch_while_leader_commits(tmp_path, monkeypatch):
    """Deterministic coalescing proof: the leader's fragment write is
    held open while N followers enqueue; when released, ALL followers
    ride ONE second section (2 sections total for N+1 ops)."""
    path = str(tmp_path / "hold")
    log = EventLog.create(None, path)
    real_write = EventLog._write_fragment
    hold = threading.Event()
    entered = threading.Event()
    slow_once = threading.Event()
    slow_once.set()

    def holding(self_, rows):
        if slow_once.is_set():
            slow_once.clear()
            entered.set()
            assert hold.wait(timeout=30)
        return real_write(self_, rows)

    monkeypatch.setattr(EventLog, "_write_fragment", holding)

    def appender(i: int) -> None:
        log.append(f"l{i}", json.dumps({"i": i}))

    lead = threading.Thread(target=appender, args=(0,))
    lead.start()
    assert entered.wait(timeout=30)  # leader is inside its section
    followers = [
        threading.Thread(target=appender, args=(i,)) for i in range(1, 6)
    ]
    for th in followers:
        th.start()
    # wait until every follower is enqueued behind the held leader
    deadline = time.monotonic() + 30
    while True:
        with log._gc_cv:
            if len(log._gc_queue) == 5:
                break
        assert time.monotonic() < deadline
        time.sleep(0.01)
    hold.set()
    lead.join()
    for th in followers:
        th.join()
    assert log.version() == 6
    assert log._gc_commits == 2  # leader's solo group + one group of 5
    assert log._gc_ops == 6
    # the 5-op group is ONE fragment (before any minor fold: 6 ops, 2 files)
    assert len(log._data_files()) == 2


def test_group_commit_under_cas_arbiter_cross_thread(tmp_path):
    """The group path composes with the delta claim: an in-process
    storm through it stays exactly-one-winner with
    dense versions (the CAS retry loop re-validates every op in the
    group against the winner's head)."""
    path = str(tmp_path / "gcas")
    log = EventLog.create(None, path)
    errs: list[Exception] = []

    def work(t: int) -> None:
        try:
            for i in range(10):
                log.append(f"w{t}", json.dumps({"t": t, "i": i}))
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=work, args=(t,)) for t in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert log.version() == 60
    fresh = EventLog.open(None, path)
    assert [r.version for r in fresh.scan_rows()] == list(range(1, 61))


def test_inmem_engine_group_commits_too(spark):
    """InMemEventLog inherits _commit — its hand-mirrored group state
    must behave identically (the engine skips super().__init__)."""
    from eventlog_spark.inmem import InMemEventLog

    log = InMemEventLog.create(spark)
    errs: list[Exception] = []

    def work(t: int) -> None:
        try:
            for i in range(20):
                log.append(f"m{t}", json.dumps({"t": t, "i": i}))
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=work, args=(t,)) for t in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert log.version() == 120
    assert log._gc_ops == 120
    rows = log.scan_rows()
    assert [r.version for r in rows] == list(range(1, 121))


def test_occ_chain_through_contention(tmp_path):
    """An append_check chain (each op assumes the PREVIOUS ack) runs
    correctly while blind appenders hammer the log: the chain writer
    retries on MismatchingVersions exactly like an HTTP client would,
    and every chain event lands exactly once, in chain order."""
    path = str(tmp_path / "chain")
    log = EventLog.create(None, path)
    errs: list[Exception] = []

    # FINITE noise (an unbounded full-speed noiser can livelock an OCC
    # chain forever — under the lock OR under group commit; real OCC
    # contention is always finite-rate): once the noisers drain, every
    # chain retry wins, so termination is guaranteed.
    def noise() -> None:
        try:
            for _ in range(150):
                log.append("noise", '{"n":1}')
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    noisers = [threading.Thread(target=noise) for _ in range(4)]
    for th in noisers:
        th.start()
    chain_versions = []
    assumed = log.version()
    for i in range(15):
        while True:
            try:
                r = log.append_check(assumed, "chain", json.dumps({"i": i}))
                chain_versions.append(r.version)
                assumed = r.version
                break
            except MismatchingVersions:
                assumed = log.version()
    for th in noisers:
        th.join()
    assert not errs
    rows = [r for r in log.scan_rows() if r.label == "chain"]
    assert [r.version for r in rows] == chain_versions  # in order, once
    assert [json.loads(r.payload)["i"] for r in rows] == list(range(15))


def test_group_fragment_passes_integrity_audit(spark, tmp_path):
    """A multi-op group fragment carries the same chained XXH64 the
    JVM recompute verifies — check_integrity over a stormed log."""
    path = str(tmp_path / "gint")
    log = EventLog.create(spark, path)

    def work(t: int) -> None:
        for i in range(10):
            log.append(f"g{t}", json.dumps({"t": t, "i": i}))

    threads = [threading.Thread(target=work, args=(t,)) for t in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    row = log.check_integrity().collect()[0]
    assert row.checksum_violations == 0
    assert row.chain_violations == 0
    assert row.payload_violations == 0
