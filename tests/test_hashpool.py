"""The subprocess checksum pool (eventlog_spark/hashpool.py): a wide
batch — at least 2 rows totalling at least 256 KiB — hashes in worker
processes, and the JVM ``xxhash64`` recompute of ``check_integrity``
must agree with every checksum a worker made. A worker that dies makes
the batch fall back inline with equal checksums; the pool is rebuilt
once and disabled after a second failure."""

from __future__ import annotations

import json

import pytest

from eventlog_spark import hashpool
from eventlog_spark.log import EventLog
from eventlog_spark.sources.binformat import checksum_rows, spark_checksum


@pytest.fixture
def fresh_pool():
    """No pool and no recorded failures before and after the test."""

    def reset():
        if hashpool._POOL is not None:
            hashpool._POOL.close()
        hashpool._POOL = None
        hashpool._POOL_FAILURES = 0

    reset()
    yield
    reset()


def _wide_rows(tag: str) -> list[tuple[int, int, int, str, str]]:
    """Three ~100 KiB rows: wide enough for the pool."""
    return [
        (v, v - 1, 1_700_000_000_000 + v, f"{tag}{v}", json.dumps({"blob": tag * 100_000}))
        for v in range(1, 4)
    ]


def _inline(rows) -> list[int]:
    return [spark_checksum(r[2], r[3], r[4], r[1]) for r in rows]


def _kill_a_worker() -> None:
    proc = hashpool._POOL.workers[0].proc
    proc.kill()
    proc.wait(timeout=10)


def test_wide_append_multi_checksums_in_pool_and_verify(spark, tmp_path, fresh_pool):
    log = EventLog.create(spark, str(tmp_path / "wide"))
    events = [
        (f"w{i}", json.dumps({"blob": "x" * 100_000, "i": i}, separators=(",", ":")))
        for i in range(3)
    ]
    assert log.append_multi(events).version_first == 1
    assert hashpool._POOL is not None  # the batch went to the pool
    assert [(r.label, r.payload) for r in log.scan_rows()] == events
    audit = log.check_integrity().collect()[0]
    assert audit.checksum_violations == 0


def test_dead_worker_falls_back_inline_then_rebuilds_once(fresh_pool):
    rows = _wide_rows("a")
    assert checksum_rows(rows) == _inline(rows)
    assert hashpool._POOL is not None and hashpool._POOL_FAILURES == 0

    _kill_a_worker()
    assert checksum_rows(rows) == _inline(rows)  # inline fallback
    assert hashpool._POOL is None and hashpool._POOL_FAILURES == 1

    rows = _wide_rows("b")
    assert checksum_rows(rows) == _inline(rows)  # served by a rebuilt pool
    assert hashpool._POOL is not None and hashpool._POOL_FAILURES == 1

    _kill_a_worker()
    assert checksum_rows(rows) == _inline(rows)
    assert hashpool._POOL is None and hashpool._POOL_FAILURES == 2

    rows = _wide_rows("c")
    assert checksum_rows(rows) == _inline(rows)
    assert hashpool._POOL is None  # disabled: no third pool is built
    assert hashpool.checksum_batch([(r[2], r[3], r[4], r[1]) for r in rows]) is None
