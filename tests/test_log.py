"""EventLog contract tests — PySpark rendition of the reference's
engine-independent behavioral suite (eventlog/eventlog_test.go:22-603).
Each test cites the reference case it ports."""

from __future__ import annotations

import glob
import json
import os
import time

import pytest

from eventlog_spark.errors import (
    InvalidLabel,
    InvalidPayload,
    InvalidVersion,
    MismatchingVersions,
    PayloadSizeLimitExceeded,
)
from eventlog_spark.log import EventLog
from eventlog_spark.validation import minify_json


@pytest.fixture(params=["parquet", "inmem"])
def log(spark, tmp_path, request):
    """Dual-engine contract harness: every test taking this fixture runs
    against BOTH storage engines behind the one EventLog contract — the
    reference's inmem+file matrix (eventlog/eventlog_test.go:424-461)."""
    if request.param == "inmem":
        from eventlog_spark.inmem import InMemEventLog

        return InMemEventLog.create(spark, metadata={"name": "testlog"})
    return EventLog.create(spark, str(tmp_path / "log"), metadata={"name": "testlog"})


def test_append_scan_roundtrip(log):
    """eventlog_test.go:22-114 — append, scan forward, verify full chain."""
    r1 = log.append("first", '{"ix": 1}')
    r2 = log.append("second", '{"ix": 2}')
    r3 = log.append("third", '{"ix": 3}')
    assert (r1.version, r2.version, r3.version) == (1, 2, 3)
    assert r2.version_previous == 1
    assert log.version() == 3
    assert log.version_initial() == 1

    rows = log.scan().collect()
    assert [r.version for r in rows] == [1, 2, 3]
    assert [r.version_prev for r in rows] == [0, 1, 2]
    assert [r.version_next for r in rows] == [2, 3, 0]  # head next == 0 (inmem.go:118-121)
    assert [r.label for r in rows] == ["first", "second", "third"]
    assert [json.loads(r.payload)["ix"] for r in rows] == [1, 2, 3]
    ts = [r.timestamp for r in rows]
    assert ts == sorted(ts)


def test_append_multi_shared_timestamp(log):
    """eventlog.go:173-197 — one timestamp, contiguous versions."""
    r = log.append_multi([("a", '{"x":1}'), ("b", '{"x":2}'), ("c", '{"x":3}')])
    assert r.version_first == 1
    assert r.version == 3
    assert r.version_previous == 0
    rows = log.scan().collect()
    assert len({row.timestamp for row in rows}) == 1
    assert [row.version for row in rows] == [1, 2, 3]


def test_append_check_occ(log):
    """eventlog_test.go:305-335 — OCC mismatch."""
    r = log.append("init", '{"x":0}')
    ok = log.append_check(r.version, "next", '{"x":1}')
    assert ok.version == 2
    with pytest.raises(MismatchingVersions):
        log.append_check(r.version, "stale", '{"x":2}')
    with pytest.raises(MismatchingVersions):
        log.append_check_multi(999, [("stale", '{"x":3}')])
    assert log.version() == 2  # failed OCC writes nothing


@pytest.mark.parametrize(
    "payload",
    ["{}", "[]", '"str"', "42", "null", "true", "{\"x\":}", "", "   ", "[{\"x\":1}]",
     '{"":0}'],  # 6 bytes: below MIN_PAYLOAD_LEN — append and audit must agree
)
def test_invalid_payload_truth_table(log, payload):
    """eventlog/validate_payload_json.go truth table (eventlog_test.go:520-538)."""
    with pytest.raises(InvalidPayload):
        log.append("ok-label", payload)
    assert log.version() == 0


@pytest.mark.parametrize(
    "payload",
    ['{"x":0}', '{"x": {"y": [1,2,3]}}', '{"i18n":"идентификатор 標識 მაიდენტიფიცირებელი"}'],
)
def test_valid_payloads(log, payload):
    """eventlog_test.go:180-213 — UTF-8 and nested payloads round-trip."""
    log.append("ok", payload)
    row = log.scan().collect()[-1]
    assert json.loads(row.payload) == json.loads(payload)


def test_label_charset(log):
    """eventlog/validate_label.go:5-22 + eventlog_test.go:546-603."""
    log.append("0-9A-Za-z_.~%-", '{"x":0}')  # full legal charset
    log.append("", '{"x":0}')  # empty label allowed (test.go:596-600)
    log.append("x" * 256, '{"x":0}')  # max length (resolved strict, SURVEY §7)
    for bad in ["has space", "slash/", "tab\t", "ö", "emoji🙂", "x" * 257]:
        with pytest.raises(InvalidLabel):
            log.append(bad, '{"x":0}')
    assert log.version() == 3


def test_payload_size_limit(log):
    """eventlog_test.go:251-271 / file.go:33-39."""
    log._max_payload_len = 64
    log.append("fits", '{"p":"' + "a" * 40 + '"}')
    with pytest.raises(PayloadSizeLimitExceeded):
        log.append("toobig", '{"p":"' + "a" * 100 + '"}')


def test_minification(log):
    """internal/jsonminify — whitespace outside strings stripped,
    inside strings (incl. escapes) preserved."""
    log.append("m", '{ "a" : 1 ,\n\t"b" : "ke ep \\" s" }')
    row = log.scan().collect()[0]
    assert row.payload == '{"a":1,"b":"ke ep \\" s"}'
    assert minify_json('{ "x" : [1, 2] }') == '{"x":[1,2]}'


def test_empty_log(log):
    """eventlog_test.go:339-390 — empty log state + out-of-bounds scans."""
    assert log.version() == 0
    assert log.version_initial() == 0
    with pytest.raises(InvalidVersion):
        log.scan()


def test_scan_out_of_bounds(log):
    log.append("a", '{"x":1}')
    with pytest.raises(InvalidVersion):
        log.scan(version=99)
    with pytest.raises(InvalidVersion):
        log.scan(version=0)


def test_scan_directions_and_limits(log):
    """O5-O8: forward/reverse/limit/skip_first semantics."""
    log.append_multi([(f"e{i}", f'{{"i":{i}}}') for i in range(10)])
    fwd = [r.version for r in log.scan(version=4).collect()]
    assert fwd == list(range(4, 11))
    rev = [r.version for r in log.scan(version=7, reverse=True).collect()]
    assert rev == list(range(7, 0, -1))
    lim = [r.version for r in log.scan(version=2, limit=3).collect()]
    assert lim == [2, 3, 4]
    skip = [r.version for r in log.scan(version=2, limit=3, skip_first=True).collect()]
    assert skip == [3, 4, 5]
    # reverse + skip_first resumes below the cursor
    rskip = [r.version for r in log.scan(version=7, reverse=True, limit=2, skip_first=True).collect()]
    assert rskip == [6, 5]


def test_metadata(spark, tmp_path):
    """eventlog.go:142-151 — immutable creation-time metadata."""
    log = EventLog.create(spark, str(tmp_path / "m"), metadata={"k1": "v1", "k2": "v2"})
    assert log.metadata_len() == 2
    assert log.metadata() == {"k1": "v1", "k2": "v2"}
    reopened = EventLog.open(spark, str(tmp_path / "m"))
    assert reopened.metadata() == {"k1": "v1", "k2": "v2"}


def test_open_recovery(spark, tmp_path, monkeypatch):
    """O21: the head is recovered from the manifest chain alone
    (file.go:67-125 scans to the last entry) — here after a roll-up
    whose deltas were reaped, with the roll-up hint lost, so open finds
    the checkpoint by one listing."""
    from eventlog_spark.manifest import ManifestLog
    from tests import open_records

    monkeypatch.setattr(ManifestLog, "CHECKPOINT_EVERY", 2)
    path = str(tmp_path / "rec")
    log = EventLog.create(spark, path)
    log.append_multi([("a", '{"x":1}'), ("b", '{"x":2}')])
    log.append("c", '{"x":3}')  # roll-up at seq 2
    log.vacuum(grace_seconds=0)
    open_records.lose(path)
    reopened = EventLog.open(spark, path)
    assert reopened.version() == 3
    assert reopened.version_initial() == 1
    assert [r.version for r in reopened.scan().collect()] == [1, 2, 3]


def test_check_integrity_clean(log):
    """check_integrity.go happy path: all violation counters zero."""
    log.append_multi([(f"l{i}", f'{{"i":{i}}}') for i in range(5)])
    row = log.check_integrity().collect()[0]
    assert row.checksum_violations == 0
    assert row.chain_violations == 0
    assert row.payload_violations == 0
    assert row.label_violations == 0
    assert row.density_violation == 0
    assert row.ts_order_violations == 0


def test_check_integrity_detects_corruption(spark, tmp_path):
    """check_integrity_test.go — corrupted payload flips the stored
    checksum relation; a vanished row breaks density."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "corrupt")
    log = EventLog.create(spark, path)
    log.append_multi([(f"l{i}", f'{{"i":{i}}}') for i in range(4)])

    # surgically corrupt one payload inside a committed fragment
    frag = next(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )
    table = pq.read_table(frag)
    data = table.to_pydict()
    data["payload"][0] = '{"i":999}'  # payload no longer matches checksum
    import pyarrow as pa

    pq.write_table(pa.table(data, schema=table.schema), frag)
    crc = os.path.join(path, f".{os.path.basename(frag)}.crc")
    if os.path.exists(crc):  # stale Hadoop checksum sidecar would mask the corruption
        os.remove(crc)

    row = log.check_integrity().collect()[0]
    assert row.checksum_violations == 1


def test_subscribe_latest_wins(log):
    """broadcast.go:24-27 — at-most-once, latest-wins delivery."""
    q, close = log.subscribe()
    log.append("a", '{"x":1}')
    assert q.get(timeout=5) == 1
    # subscriber busy: two appends conflate to the newest head
    log.append("b", '{"x":2}')
    log.append("c", '{"x":3}')
    assert q.get(timeout=5) == 3
    close()
    log.append("d", '{"x":4}')
    assert q.empty()


def test_try_append_retry(log):
    """client/client.go:150-246 — CAS retry loop resyncs and lands."""
    log.append("init", '{"x":0}')
    calls = {"n": 0}

    def transaction():
        calls["n"] += 1
        if calls["n"] == 1:  # concurrent writer sneaks in before our commit
            log.append("intruder", '{"x":99}')
        return ("txn", '{"x":1}')

    r = log.try_append(assumed_version=1, transaction=transaction)
    assert r.version == 3
    assert calls["n"] == 2  # one conflict, one success


def test_append_dataframe_bulk(spark, log):
    """Bulk path: dense gapless versions, valid checksums, atomicity."""
    from pyspark.sql import functions as F

    src = spark.range(1000).select(
        F.concat(F.lit("bulk-"), F.col("id")).alias("label"),
        F.concat(F.lit('{"id":'), F.col("id"), F.lit("}")).alias("payload"),
    )
    r = log.append_dataframe(src)
    assert r.version_first == 1
    assert r.version == 1000
    assert log.version() == 1000

    df = log.dataframe()
    assert df.count() == 1000
    versions = sorted(x.version for x in df.select("version").collect())
    assert versions == list(range(1, 1001))

    audit = log.check_integrity().collect()[0]
    assert audit.checksum_violations == 0
    assert audit.chain_violations == 0
    assert audit.density_violation == 0

    # atomicity: a batch containing one invalid payload writes nothing
    bad = spark.range(5).select(
        F.lit("ok").alias("label"),
        F.when(F.col("id") == 3, F.lit("{}")).otherwise(F.lit('{"a":1}')).alias("payload"),
    )
    with pytest.raises(InvalidPayload):
        log.append_dataframe(bad)
    assert log.version() == 1000
    # on_invalid='drop' keeps the good rows
    r2 = log.append_dataframe(bad, on_invalid="drop")
    assert r2.version == 1004


def test_streamed_ordered_append_contract(spark, tmp_path):
    """Round-13 single-materialization ordered ingest: versions are the
    exact order_cols ranks (same contract as the persisted path it
    replaced), fragment footer ranges stay DISJOINT and contiguous (the
    steering trick — pruning depends on it), integrity holds, and an
    invalid row aborts with nothing staged or visible."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "streamed")
    log = EventLog.create(spark, path)
    # skewed, shuffled keys: most rows share a narrow key range so the
    # sampled boundaries dedupe; versions must still be exact ranks
    rows = [(f"l{i % 7}", json.dumps({"i": i}), (i * 37) % 1000 if i % 3 else 5)
            for i in range(2000)]
    src = spark.createDataFrame(rows, "label string, payload string, k long")
    # tie-break with label so the order is total (k has heavy dupes)
    r = log.append_dataframe(src, on_invalid="error", order_cols=["k", "label"])
    assert (r.version_first, r.version) == (1, 2000)
    got = sorted(
        (x.version, x.k if hasattr(x, "k") else None)
        for x in log.dataframe().select("version").collect()
    )
    assert [v for v, _ in got] == list(range(1, 2001))
    # versions follow (k, label) order exactly
    want = sorted(rows, key=lambda t: (t[2], t[0]))
    by_version = {
        x.version: (x.label, x.payload)
        for x in log.dataframe().select("version", "label", "payload").collect()
    }
    for v, (lab, pay, _k) in enumerate(want, start=1):
        assert by_version[v] == (lab, pay)
    audit = log.check_integrity().collect()[0]
    assert (audit.checksum_violations, audit.chain_violations,
            audit.density_violation) == (0, 0, 0)
    # fragment version ranges are disjoint and cover [1, 2000]
    import pyarrow.parquet as pq

    from eventlog_spark.log import _group_stats

    ranges = []
    for f in glob.glob(os.path.join(path, "part-*.parquet")):
        stats = _group_stats(pq.ParquetFile(f).metadata, "version")
        if stats:
            ranges.append((min(s[0] for s in stats), max(s[1] for s in stats)))
    ranges.sort()
    assert ranges[0][0] == 1 and ranges[-1][1] == 2000
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 + 1 == lo2, ranges  # contiguous, non-overlapping
    # all-or-nothing: one invalid payload -> raise, head unchanged,
    # no new fragments, no leftover staging dirs
    n_files = len(os.listdir(path))
    bad = spark.createDataFrame(
        [("a", '{"x":1}', 1), ("b", "{}", 2)],
        "label string, payload string, k long",
    )
    with pytest.raises(InvalidPayload):
        log.append_dataframe(bad, on_invalid="error", order_cols=["k"])
    assert log.version() == 2000
    assert len(os.listdir(path)) == n_files
    assert not glob.glob(path + ".bulk*")
    assert not glob.glob(os.path.join(path, ".bulk-*"))
    # tiny ordered batches (1 row, empty-ish) keep working
    one = spark.createDataFrame([("z", '{"y":2}', 9)],
                                "label string, payload string, k long")
    assert log.append_dataframe(one, order_cols=["k"]).version == 2001


@pytest.mark.parametrize("order_cols", [["k"], ["k", "j"]])
def test_streamed_ordered_append_null_keys_first(spark, tmp_path, order_cols):
    """ADVICE (medium): NULL order keys in streamed ingest. Versions
    follow ``orderBy(*order_cols)`` — nulls first — over a parquet
    source holding NULL keys, for one and for two order columns; the
    boundary sample must not try to order None against values."""
    rows = [
        (
            f"l{i}",
            json.dumps({"i": i}),
            None if i % 4 == 0 else (i * 7) % 11,
            None if i % 3 == 0 else i % 5,
        )
        for i in range(60)
    ]
    src_path = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "label string, payload string, k long, j long"
    ).write.parquet(src_path)
    src = spark.read.parquet(src_path)
    log = EventLog.create(spark, str(tmp_path / "nulls"))
    assert log.append_dataframe(src, order_cols=order_cols).version == 60
    key = {r[1]: r[2:] for r in rows}
    got = [key[r.payload][: len(order_cols)] for r in log.scan_rows()]
    want = [tuple(r) for r in src.orderBy(*order_cols).select(*order_cols).collect()]
    assert got == want


def test_streamed_versioning_internals(spark):
    """The pieces the steering trick rests on: the Python murmur3
    replica equals Spark's hash() for longs, and steering values route
    bucket b to physical partition b under repartition(n, steer)."""
    from pyspark.sql import functions as F

    from eventlog_spark.functions.versioning import (
        _mmh3_long,
        _steering_values,
    )

    vals = list(range(64)) + [-1, -99, 2**40 + 7, -(2**35), 123456789012345]
    rows = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v", F.hash("v").alias("h")
    ).collect()
    assert all(_mmh3_long(r["v"]) == r["h"] for r in rows)
    for n in (1, 2, 7, 32):
        steer = _steering_values(n)
        df = spark.createDataFrame(
            [(b, steer[b]) for b in range(n)], "b int, s long"
        ).repartition(n, "s")
        got = df.select(F.spark_partition_id().alias("p"), "b").collect()
        assert all(r["p"] == r["b"] for r in got), n


def test_compact_preserves_data(spark, tmp_path):
    path = str(tmp_path / "compacted")
    log = EventLog.create(spark, path)
    for i in range(8):
        log.append(f"e{i}", f'{{"i":{i}}}')
    files_before = [f for f in os.listdir(path) if f.endswith(".parquet")]
    before = sorted((r.version, r.label, r.payload) for r in log.dataframe().collect())
    log.compact(target_partitions=1)
    # publish-before-delete: the 8 fragments are RETIRED (still on disk
    # for straggler readers) but out of the manifest; the snapshot is
    # served by the compacted file alone
    manifest = log._manifest_files()
    assert len([f for f in manifest if f.endswith(".parquet")]) < len(files_before)
    assert all(f.startswith("compact-") for f in manifest)
    on_disk = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(on_disk) == len(files_before) + len(manifest)  # retired kept
    after = sorted((r.version, r.label, r.payload) for r in log.dataframe().collect())
    assert before == after
    assert log.check_integrity().collect()[0].checksum_violations == 0
    # vacuum past the grace window reaps exactly the retired fragments
    assert log.vacuum(grace_seconds=0) == len(files_before)
    on_disk = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert sorted(on_disk) == sorted(manifest)
    assert before == sorted(
        (r.version, r.label, r.payload) for r in log.dataframe().collect()
    )


def test_compaction_snapshot_isolation_for_pinned_reader(spark, tmp_path):
    """Round-6 advice (log.py:830): a reader holding a pre-compaction
    DataFrame keeps a consistent snapshot across compact() — the files
    it pinned stay on disk until vacuum's grace window passes — and a
    reader built after the swap sees every row exactly once."""
    path = str(tmp_path / "iso")
    log = EventLog.create(spark, path)
    for i in range(6):
        log.append(f"e{i}", f'{{"i":{i}}}')
    pinned = log.dataframe()  # file list resolved against the old manifest
    assert pinned.count() == 6
    log.compact(target_partitions=1)
    log.append("post", '{"i":99}')
    # the pinned snapshot still executes (old fragments deferred-deleted)
    # and still sees its own consistent world: versions 1..6 exactly once
    got = sorted(r.version for r in pinned.where("version <= 6").collect())
    assert got == [1, 2, 3, 4, 5, 6]
    # a fresh reader sees the full log exactly once across old+new files
    fresh = sorted(r.version for r in log.dataframe().collect())
    assert fresh == [1, 2, 3, 4, 5, 6, 7]


def test_concurrent_scans_during_compaction(spark, tmp_path):
    """The reference serializes scans against writes with an RWMutex
    (eventlog/file/file.go:221-228); our readers are lock-free manifest
    readers. Proof: scans racing an append+compact+append sequence only
    ever observe dense 1..k prefixes — never a missing fragment, a
    doubled row, or a FileNotFound from the file swap."""
    import threading

    path = str(tmp_path / "race")
    log = EventLog.create(spark, path)
    for i in range(5):
        log.append(f"e{i}", f'{{"i":{i}}}')

    errors: list[Exception] = []
    snapshots: list[list[int]] = []
    stop = threading.Event()

    def reader():
        reader_log = EventLog.open(spark, path)  # own process-like view
        while not stop.is_set():
            try:
                vs = sorted(r.version for r in reader_log.dataframe().collect())
                snapshots.append(vs)
            except Exception as exc:  # noqa: BLE001 — the test's subject
                errors.append(exc)
                return

    threads = [threading.Thread(target=reader) for _ in range(2)]
    for t in threads:
        t.start()
    try:
        for i in range(5, 9):
            log.append(f"e{i}", f'{{"i":{i}}}')
        log.compact(target_partitions=1)
        for i in range(9, 12):
            log.append(f"e{i}", f'{{"i":{i}}}')
        log.compact(target_partitions=1)
        # under full-suite load a reader may still be inside its first
        # collect; give it a bounded window to land at least one
        # snapshot so the assertion below tests isolation, not timing
        deadline = time.time() + 60
        while not snapshots and not errors and time.time() < deadline:
            time.sleep(0.1)
    finally:
        stop.set()
        for t in threads:
            t.join()
    assert not errors, errors
    assert snapshots
    for vs in snapshots:
        assert vs == list(range(1, len(vs) + 1)), vs  # dense prefix, no dupes
    # retired-fragment bookkeeping: both compactions' fragments reaped
    assert log.vacuum(grace_seconds=0) > 0
    assert sorted(r.version for r in log.dataframe().collect()) == list(range(1, 13))


def test_hex_version_codec():
    """internal/hex round-trip (O25)."""
    from eventlog_spark.functions.versioning import py_hex_to_version, py_version_to_hex

    for v in [0, 1, 15, 16, 255, 0xDEADBEEF, 2**62]:
        assert py_hex_to_version(py_version_to_hex(v)) == v


def _crash_before_claim(log):
    """Make the next commit die after its fragments land in the log dir
    but before its delta claim — the crash window the claim protocol
    leaves to vacuum. Returns the exception class the crash raises."""

    class Crash(RuntimeError):
        pass

    def die(*_):
        raise Crash("simulated crash before the delta claim")

    log._publish = die
    return Crash


def test_first_commit_crash_leaves_an_empty_openable_log(tmp_path):
    """A new log whose first commit dies between its fragment and its
    delta claim committed nothing: it reopens empty (the fragment is an
    unclaimed leftover no reader sees), the next append takes version 1,
    and vacuum reaps the leftover."""
    path = str(tmp_path / "first")
    log = EventLog.create(None, path)
    crash = _crash_before_claim(log)
    with pytest.raises(crash):
        log.append("lost", '{"i":0}')
    (orphan,) = [f for f in os.listdir(path) if f.endswith(".parquet")]
    reopened = EventLog.open(None, path)
    assert reopened.version() == 0
    assert reopened.append("first", '{"i":1}').version == 1
    assert [r.label for r in reopened.scan_rows()] == ["first"]
    reopened.vacuum(grace_seconds=0)
    assert not os.path.exists(os.path.join(path, orphan))


def test_empty_chain_without_its_create_record(tmp_path):
    """An empty chain whose claim store lacks the hint ``create`` put
    (a log an earlier release created, or a store lost whole) opens
    empty while the log holds no data fragment, and is refused once it
    holds one: the fragment may be a lost commit, and serving the log
    empty would let vacuum reap it."""
    path = str(tmp_path / "hintless")
    log = EventLog.create(None, path)
    os.remove(os.path.join(path, "_manifest", "_last_checkpoint.json"))
    assert EventLog.open(None, path).version() == 0
    crash = _crash_before_claim(log)
    with pytest.raises(crash):
        log.append("lost", '{"i":0}')
    with pytest.raises(RuntimeError, match="unrecoverable"):
        EventLog.open(None, path)


def test_open_truncates_crash_orphans(spark, tmp_path):
    """file.go:67-125 — a crash between fragment write and commit must
    not leave rows that a later append would duplicate. No manifest
    names the crashed fragment, so the reopened log never serves it; its
    versions are assigned exactly once by the next append; and
    ``vacuum`` physically drops it."""
    path = str(tmp_path / "orphan")
    log = EventLog.create(spark, path)
    log.append_multi([(f"l{i}", f'{{"i":{i}}}') for i in range(3)])
    before = set(os.listdir(path))

    # fragment for versions 4-5 written, crash before the delta claim
    crash = _crash_before_claim(log)
    with pytest.raises(crash):
        log.append_multi([("l3", '{"i":3}'), ("l4", '{"i":4}')])
    orphans = set(os.listdir(path)) - before
    assert orphans, "the crashed fragment should be on disk"

    reopened = EventLog.open(spark, path)
    assert reopened.version() == 3
    assert [r.version for r in reopened.scan().collect()] == [1, 2, 3]

    # the versions the orphans squatted on are reassigned exactly once
    r = reopened.append_multi([("n4", '{"n":4}'), ("n5", '{"n":5}')])
    assert (r.version_first, r.version) == (4, 5)
    rows = reopened.scan().collect()
    assert [row.version for row in rows] == [1, 2, 3, 4, 5]
    assert [row.label for row in rows] == ["l0", "l1", "l2", "n4", "n5"]
    audit = reopened.check_integrity().collect()[0]
    assert audit.density_violation == 0 and audit.chain_violations == 0

    assert reopened.vacuum(grace_seconds=0) == len(orphans)
    assert not orphans & set(os.listdir(path))
    assert [r.version for r in reopened.scan_rows()] == [1, 2, 3, 4, 5]


def test_crash_fragments_invisible_then_reaped_by_vacuum(spark, tmp_path):
    """``vacuum`` takes over crash cleanup: fragments no manifest names
    (an interactive crash, a bulk crash) and staging temps go once older
    than the grace window, while a younger orphan — possibly a live
    writer's fragment before its claim — survives."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "orphan")
    log = EventLog.create(spark, path)
    log.append_multi([(f"l{i}", f'{{"i":{i}}}') for i in range(3)])
    before = set(os.listdir(path))
    crash = _crash_before_claim(log)
    with pytest.raises(crash):  # interactive crash: versions 4-5
        log.append_multi([("l3", '{"i":3}'), ("l4", '{"i":4}')])
    log = EventLog.open(spark, path)
    crash = _crash_before_claim(log)
    batch = spark.range(4).select(
        F.lit("bulk").alias("label"),
        F.format_string('{"i":%d}', F.col("id")).alias("payload"),
        "id",
    )
    with pytest.raises(crash):  # bulk crash: staged files renamed in
        log.append_dataframe(batch, order_cols=["id"])
    with open(os.path.join(path, ".part-crashed.parquet.tmp"), "w") as f:
        f.write("torn")  # a staging temp the crash left behind
    old = set(os.listdir(path)) - before
    assert len(old) >= 3

    reopened = EventLog.open(spark, path)
    assert [r.version for r in reopened.scan().collect()] == [1, 2, 3]
    assert reopened.vacuum() == 0  # inside the default grace window
    time.sleep(1.2)
    young = str(tmp_path / "orphan" / "part-young.parquet")
    with open(young, "w") as f:
        f.write("unclaimed")
    assert reopened.vacuum(grace_seconds=1.0) == len(old)
    assert not old & set(os.listdir(path))
    assert os.path.exists(young)  # younger than the window: kept
    assert [r.version for r in reopened.scan_rows()] == [1, 2, 3]


def test_bulk_append_aborts_when_count_and_write_disagree(
    spark, log, monkeypatch
):
    """ADVICE (medium): the versioning count job and the write job are
    separate passes, so a nondeterministic upstream can make them see
    different rows. The written version range must be exactly the
    counted one, checked before anything becomes visible; on a mismatch
    the commit aborts and the head does not move."""
    from pyspark.sql import functions as F

    from eventlog_spark.functions import versioning

    log.append("pre", '{"i":0}')
    real = versioning.with_dense_versions

    def miscounted(*a, **kw):
        b = real(*a, **kw)
        b.total += 1  # the count pass saw one row the write will not
        return b

    monkeypatch.setattr(versioning, "with_dense_versions", miscounted)
    batch = spark.range(3).select(
        F.lit("bulk").alias("label"),
        F.format_string('{"i":%d}', F.col("id")).alias("payload"),
        "id",
    )
    with pytest.raises(RuntimeError, match="written versions"):
        log.append_dataframe(batch, order_cols=["id"])
    assert log.version() == 1
    assert [r.version for r in log.scan_rows()] == [1]
    monkeypatch.undo()
    assert log.append_dataframe(batch, order_cols=["id"]).version == 4


def test_bulk_tiling_check_rejects_overlaps_gaps_and_row_counts():
    """The post-write check takes every written file's (lo, hi, rows):
    sorted, the files must tile the counted range exactly. An
    overlapping and a gapped tiling whose envelope equals the counted
    range are both refused, and so is a file whose row count does not
    fill its range."""
    from eventlog_spark.log import _check_bulk_range

    _check_bulk_range([(6, 10, 5), (1, 5, 5)], (1, 10))
    _check_bulk_range([], (8, 7))  # empty batch, nothing written
    for files, expect in (
        ([(1, 5, 5), (5, 10, 6)], (1, 10)),  # overlap: version 5 twice
        ([(1, 4, 4), (6, 10, 5)], (1, 10)),  # gap: version 5 missing
        ([(1, 5, 4), (6, 10, 5)], (1, 10)),  # a version repeated in a file
        ([(1, 5, 5)], (1, 10)),  # short of the counted head
        ([(2, 5, 4), (6, 10, 5)], (1, 10)),  # starts past the counted base
        ([(8, 10, 3)], (8, 7)),  # rows where none were counted
    ):
        with pytest.raises(RuntimeError, match="do not tile"):
            _check_bulk_range(files, expect)


def test_bulk_append_aborts_when_a_middle_bucket_miscounts(
    spark, log, tmp_path
):
    """A source that keeps a different row in two middle partitions
    between the count job and the write job: the total and both end
    partitions agree, so the written envelope equals the counted range,
    yet one version is written twice and another never. The commit
    aborts with the head and the pages unchanged."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType

    log.append("pre", '{"i":0}')
    marker = str(tmp_path / "write-job-started")
    # at least as many partitions as cores: each is its own bucket
    n, parts = 1000, max(4, spark.sparkContext.defaultParallelism)
    a, b = n // parts + 1, 2 * (n // parts) + 1  # in partitions 1 and 2

    def keep(i):
        # count job: row a kept, row b dropped; write job: swapped
        if i in (a, b):
            return (i == b) == os.path.exists(marker)
        return True

    keep_udf = F.udf(keep, BooleanType()).asNondeterministic()
    batch = (
        spark.range(0, n, 1, numPartitions=parts)
        .where(keep_udf("id"))
        .select(
            F.lit("bulk").alias("label"),
            F.format_string('{"i":%d}', F.col("id")).alias("payload"),
        )
    )
    real_write_out = log._write_out

    def write_out(*a, **kw):
        open(marker, "w").close()
        return real_write_out(*a, **kw)

    log._write_out = write_out
    with pytest.raises(RuntimeError, match="do not tile"):
        log.append_dataframe(batch)
    assert log.version() == 1
    assert [r.version for r in log.scan_rows()] == [1]


@pytest.mark.parametrize("txn", [None, ("empty-stream", 0)])
def test_empty_bulk_append_commits_nothing(spark, log, txn):
    """A batch with no rows (or none valid, in drop mode) never reaches
    the write: no staging dir, no manifest delta, no txn marker, and
    the result names the unchanged head."""
    log.append("pre", '{"i":0}')
    seq = log._manifest.seq if log._manifest is not None else None
    writes = []
    real_write_out = log._write_out
    log._write_out = lambda *a, **kw: writes.append(a) or real_write_out(*a, **kw)
    empty = spark.createDataFrame([], "label string, payload string")
    bad = spark.createDataFrame([("x", "{}")], "label string, payload string")
    for src, mode in ((empty, "error"), (empty, "drop"), (bad, "drop")):
        r = log.append_dataframe(src, on_invalid=mode, txn=txn)
        assert (r.version_previous, r.version_first, r.version) == (1, 2, 1)
    assert writes == []
    assert log.version() == 1
    if seq is not None:
        assert log._manifest.seq == seq
        assert not [f for f in os.listdir(log.path) if f.startswith(".bulk-")]
    # no marker was recorded, so the same txn still commits real rows
    one = spark.createDataFrame([("y", '{"y":1}')], "label string, payload string")
    assert log.append_dataframe(one, txn=txn).version == 2


def test_bulk_ingest_never_caches(spark, tmp_path, monkeypatch):
    """Neither error nor drop mode, ordered or in arrival order, nor an
    ``append_stream`` micro-batch, persists or caches the batch: the
    count job and the write job each read the source."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from eventlog_spark.streaming import streams

    calls = []

    def spy(name, real):
        def wrapper(self, *a, **kw):
            calls.append(name)
            return real(self, *a, **kw)

        return wrapper

    # the public class and the session's concrete one (PySpark 4 splits
    # them, and the concrete class overrides both methods)
    for cls in {DataFrame, type(spark.range(1))}:
        for name in ("persist", "cache"):
            monkeypatch.setattr(cls, name, spy(name, getattr(cls, name)))
    log = EventLog.create(spark, str(tmp_path / "log"))
    src = spark.range(0, 50, 1, numPartitions=2).select(
        F.lit("bulk").alias("label"),
        F.format_string('{"i":%d}', F.col("id")).alias("payload"),
        "id",
    )
    n = 0
    for mode in ("error", "drop"):
        for order_cols in (["id"], None):
            n += 50
            assert log.append_dataframe(
                src, on_invalid=mode, order_cols=order_cols
            ).version == n
    feed = str(tmp_path / "feed")
    src.drop("id").write.parquet(feed)
    q = streams.append_stream(
        log,
        spark.readStream.schema("label string, payload string").parquet(feed),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(60)
    q.stop()
    assert log.version() == n + 50
    assert calls == []


@pytest.mark.parametrize("parts", [1, 4])
def test_arrival_order_versions_follow_source_partition_order(
    spark, tmp_path, parts
):
    """With no ``order_cols`` the versions follow the source's
    partition-major row order, for a 1-partition source and for one as
    wide as the cores: each source partition is versioned in place."""
    from pyspark.sql import functions as F

    n = 1000
    src = spark.range(0, n, 1, numPartitions=parts).select(
        F.concat(F.lit("l"), (F.col("id") % 3).cast("string")).alias("label"),
        F.format_string('{"i":%d}', (F.col("id") * 37) % n).alias("payload"),
    )
    path = str(tmp_path / "log")
    log = EventLog.create(spark, path)
    assert log.append_dataframe(src).version == n
    assert [r.payload for r in log.scan_rows()] == [r.payload for r in src.collect()]
    audit = log.check_integrity().collect()[0]
    assert (audit.checksum_violations, audit.chain_violations,
            audit.density_violation) == (0, 0, 0)


@pytest.mark.parametrize("mode", ["error", "drop"])
def test_arrival_order_append_of_a_shuffled_source(spark, tmp_path, mode):
    """An arrival-order append of an aggregate's output, ~20 MB through
    its shuffle. Adaptive execution sizes that shuffle from each job's
    map output, and the count job, which prunes the payload, moves a
    fraction of the write's bytes: read twice, the source would give
    the count one partition and the write several, so different row
    ids, and the commit would abort. The source is pinned instead: the
    commit lands with dense versions and exactly the aggregate's rows."""
    from pyspark.sql import functions as F

    n = 20_000
    # 512 hex digits a row: the shuffle compresses them only ~2x
    pad = F.concat(
        *[F.sha2(F.concat(F.col("id").cast("string"), F.lit(str(i))), 512)
          for i in range(4)]
    )
    payload = F.col("payload")
    if mode == "drop":  # every 50th row invalid
        payload = F.when(F.col("k") % 50 == 7, F.lit("{}")).otherwise(payload)
    src = (
        spark.range(0, 2 * n, 1, numPartitions=8)
        .groupBy((F.col("id") % n).alias("k"))
        .agg(
            F.max(F.format_string('{"k":%d,"pad":"%s"}', "id", pad)).alias(
                "payload"
            )
        )
        .select(F.lit("agg").alias("label"), payload.alias("payload"))
    )
    want = sorted(r.payload for r in src.collect() if r.payload != "{}")
    log = EventLog.create(spark, str(tmp_path / "log"))
    r = log.append_dataframe(src, on_invalid=mode)
    assert (r.version_first, r.version) == (1, len(want))
    page = log.scan_rows()
    assert [x.version for x in page] == list(range(1, len(want) + 1))
    assert sorted(x.payload for x in page) == want
    audit = log.check_integrity().collect()[0]
    assert (audit.checksum_violations, audit.chain_violations,
            audit.density_violation) == (0, 0, 0)


@pytest.mark.parametrize("order_cols", [["k"], None])
def test_drop_mode_versions_are_dense(spark, log, order_cols):
    """Drop mode versions and writes only the valid events: dense
    versions from the head, in key order or in arrival order."""
    rows = [
        ("ok", "{}" if i % 7 == 3 else f'{{"i":{i}}}', (i * 13) % 200)
        for i in range(200)
    ]
    src = spark.createDataFrame(rows, "label string, payload string, k long")
    log.append("pre", '{"i":-1}')
    good = [r for r in rows if r[1] != "{}"]
    r = log.append_dataframe(src, on_invalid="drop", order_cols=order_cols)
    assert (r.version_first, r.version) == (2, 1 + len(good))
    page = log.scan_rows(version=2)
    assert [x.version for x in page] == list(range(2, 2 + len(good)))
    if order_cols:
        good.sort(key=lambda t: t[2])
    assert [x.payload for x in page] == [t[1] for t in good]


# -- concurrent-writer OCC stress (the reference's -race suite has no
# -- Spark twin until now: goroutine appends in client_test.go:712-775,
# -- TryAppend CAS loop client/client.go:150-246) -----------------------------


def test_occ_concurrent_writers_exactly_one_winner_per_round(log):
    """N threads race append_check at the SAME assumed version: exactly
    one commit wins each round, every loser raises MismatchingVersions,
    and the chain stays dense and clean."""
    import threading

    N_THREADS, ROUNDS = 8, 5
    for rnd in range(ROUNDS):
        base = log.version()
        barrier = threading.Barrier(N_THREADS)
        wins, losses, errors = [], [], []

        def attempt(i: int) -> None:
            barrier.wait()
            try:
                r = log.append_check(base, f"r{rnd}t{i}", f'{{"t":{i}}}')
                wins.append(r)
            except MismatchingVersions:
                losses.append(i)
            except Exception as exc:  # pragma: no cover - diagnostic
                errors.append(exc)

        threads = [threading.Thread(target=attempt, args=(i,)) for i in range(N_THREADS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        assert len(wins) == 1, f"round {rnd}: {len(wins)} winners"
        assert len(losses) == N_THREADS - 1
        assert wins[0].version == base + 1
        assert wins[0].version_previous == base
    assert log.version() == ROUNDS


def test_occ_concurrent_try_append_all_land(log):
    """N threads × M CAS-retry appends (try_append) all land: the final
    version is N·M, versions are exactly 1..N·M with a dense
    version_previous chain, and the integrity audit is clean."""
    import threading

    N_THREADS, PER_THREAD = 6, 4
    results, errors = [], []
    lock = threading.Lock()
    barrier = threading.Barrier(N_THREADS)

    def worker(i: int) -> None:
        barrier.wait()
        try:
            for k in range(PER_THREAD):
                r = log.try_append(
                    log.version(), lambda: (f"t{i}k{k}", f'{{"i":{i},"k":{k}}}')
                )
                with lock:
                    results.append(r)
        except Exception as exc:  # pragma: no cover - diagnostic
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(N_THREADS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    total = N_THREADS * PER_THREAD
    assert log.version() == total
    versions = sorted(r.version for r in results)
    assert versions == list(range(1, total + 1)), "versions not dense/unique"
    assert all(r.version_previous == r.version - 1 for r in results)
    rows = log.scan(version=1, limit=total).collect()
    assert [r.version for r in rows] == list(range(1, total + 1))
    assert [r.version_prev for r in rows] == list(range(0, total))
    audit = log.check_integrity().collect()[0]
    assert audit.checksum_violations == 0
    assert audit.chain_violations == 0


_WRITER_SCRIPT = r"""
import json, sys

repo, path, wid, n = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
sys.path.insert(0, repo)
from pyspark.sql import SparkSession

from eventlog_spark.log import EventLog

spark = (
    SparkSession.builder.master("local[2]")
    .appName(f"occ_writer_{wid}")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
log = EventLog.open(spark, path)
wins = []
for i in range(n):
    r = log.try_append(
        log.version(),
        lambda: (f"writer{wid}", json.dumps({"writer": wid, "seq": i})),
        max_retries=512,
    )
    wins.append(r.version)
print("WINS:" + ",".join(map(str, wins)))
spark.stop()
"""


def test_two_process_occ_commit_protocol(spark, tmp_path):
    """SURVEY §7's known edge, closed: TWO OS PROCESSES append to one
    log path through the OCC path concurrently. The delta claim +
    published-state refresh must produce exactly-one-winner
    per version — dense versions 1..2N with no duplicates — and a
    clean integrity audit afterward. (The reference engine would
    corrupt here: its commit mutex is in-process only, file.go:57.)"""
    import os
    import subprocess
    import sys

    path = str(tmp_path / "occ2p")
    EventLog.create(spark, path, metadata={"test": "two-process"})
    n = 10
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _WRITER_SCRIPT, repo, path, str(wid), str(n)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for wid in (1, 2)
    ]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=420)
        assert p.returncode == 0, f"writer failed:\n{err[-2000:]}"
        outs.append(out)
    wins = []
    for out in outs:
        (line,) = [ln for ln in out.splitlines() if ln.startswith("WINS:")]
        wins.extend(int(v) for v in line[5:].split(","))
    # exactly-one-winner per version: the union of both writers' acked
    # versions is a permutation of 1..2N
    assert sorted(wins) == list(range(1, 2 * n + 1))
    reopened = EventLog.open(spark, path)
    assert reopened.version() == 2 * n
    rows = reopened.scan(version=1, limit=2 * n).collect()
    assert [r.version for r in rows] == list(range(1, 2 * n + 1))
    audit = reopened.check_integrity().collect()[0]
    assert audit.checksum_violations == 0
    assert audit.chain_violations == 0
    assert audit.payload_violations == 0


def test_scan_rows_matches_scan_dataframe(log):
    """The driver-side serving fast path (log.py:scan_rows) must agree
    with the Spark scan on every parameter combination — same rows,
    same chain links, same order — on BOTH engines."""
    for i in range(1, 8):
        log.append(f"e{i}", json.dumps({"ix": i}))
    cases = [
        dict(),
        dict(version=3),
        dict(version=3, limit=2),
        dict(version=3, skip_first=True),
        dict(version=3, limit=3, skip_first=True),
        dict(reverse=True),
        dict(version=5, reverse=True, limit=2),
        dict(version=5, reverse=True, skip_first=True, limit=10),
        dict(version=7, skip_first=True),  # empty page
        dict(version=1, limit=1),
    ]
    for kw in cases:
        fast = log.scan_rows(**kw)
        slow = log.scan(**kw).collect()
        assert [tuple(r) for r in fast] == [tuple(r) for r in slow], kw
    with pytest.raises(InvalidVersion):
        log.scan_rows(version=99)


def test_scan_rows_multi_fragment_and_compaction(spark, tmp_path):
    """The pyarrow path prunes by the manifest's fragment ranges: verify
    against a multi-fragment log, then across a compaction (the
    fragment set changes) and more appends on top."""
    log = EventLog.create(spark, str(tmp_path / "sr"))
    for i in range(1, 13):
        log.append(f"e{i}", json.dumps({"ix": i}))  # one fragment each
    page = log.scan_rows(version=4, limit=5)
    assert [r.version for r in page] == [4, 5, 6, 7, 8]
    assert [r.version_next for r in page] == [5, 6, 7, 8, 9]
    log.compact(target_partitions=1)
    log.append("post", '{"ix": 13}')
    fast = log.scan_rows(version=10, limit=10)
    assert [r.version for r in fast] == [10, 11, 12, 13]
    assert fast[-1].version_next == 0
    # the compacted rows come from disk, filtered Arrow-side: Python
    # ints and strs, never numpy scalars
    types = (int, int, int, int, str, str, int)
    assert all(type(v) is t for r in fast for v, t in zip(r, types)), fast
    assert [tuple(r) for r in fast] == [
        tuple(r) for r in log.scan(version=10, limit=10).collect()
    ]


def test_table_rows_match_to_pylist():
    """``_table_rows`` converts each column in one C pass; its rows equal
    pyarrow's ``to_pylist`` rows — on an empty table, several chunks,
    non-ASCII and astral-plane text, the int64 extremes, and nulls in
    an int and a string column — and hold only Python ints, strs and
    Nones."""
    import pyarrow as pa

    from eventlog_spark.log import _table_rows

    cols = ("version", "version_prev", "timestamp", "label", "payload", "checksum")
    schema = pa.schema(
        [(c, pa.string() if c in ("label", "payload") else pa.int64()) for c in cols]
    )

    def table(*chunks):
        return pa.Table.from_batches(
            [pa.RecordBatch.from_pylist(rows, schema) for rows in chunks], schema
        )

    def row(v, label="l", payload="{}", ck=0, ts=1):
        return dict(version=v, version_prev=v - 1, timestamp=ts, label=label,
                    payload=payload, checksum=ck)

    lo, hi = -(2**63), 2**63 - 1
    tables = [
        pa.Table.from_batches([], schema),
        table([row(1), row(2)], [row(3)], [], [row(4, label="x")]),
        table([row(1, label="ü", payload='{"s":"日本語"}'), row(2, label="𝄞", payload='"😀"')]),
        table([row(1, ck=lo, ts=hi), row(2, ck=hi, ts=lo)]),
        table([row(1, ck=None), row(2, label=None), row(3, payload=None)]),
    ]
    assert tables[1].column("version").num_chunks == 4
    for tbl in tables:
        want = list(zip(*[tbl.column(c).to_pylist() for c in cols]))
        got = _table_rows(tbl)
        assert got == want
        assert all(type(v) in (int, str, type(None)) for r in got for v in r), got


def test_scan_rows_raises_when_manifest_misses_rows(spark, tmp_path):
    """``scan_rows`` has one read path: the manifest's fragments. A dense
    page they do not fill raises, naming the interval and the count it
    got, instead of a short page or a second read of the same
    fragments through Spark. Both engines share the check."""
    from eventlog_spark.inmem import InMemEventLog

    log = EventLog.create(spark, str(tmp_path / "gap"))
    for i in range(1, 5):
        log.append(f"e{i}", json.dumps({"ix": i}))
    (v3,) = [e["n"] for e in log._manifest.overlapping(3, 3)]
    with log._lock:  # a delta that drops v3's fragment, head unchanged
        log._publish([], [v3], log._head(4, log._last_ts))
    assert [r.version for r in log.scan_rows(version=1, limit=2)] == [1, 2]
    with pytest.raises(RuntimeError, match=r"page \[2, 4\] read 2 rows, expected 3"):
        log.scan_rows(version=2, limit=3)
    mem = InMemEventLog.create(None)
    for i in range(1, 5):
        mem.append(f"e{i}", json.dumps({"ix": i}))
    del mem._rows[2]
    with pytest.raises(RuntimeError, match=r"page \[1, 4\] read 3 rows"):
        mem.scan_rows()


def test_compact_aborts_when_footer_has_no_version_range(
    spark, tmp_path, monkeypatch
):
    """Every published entry carries its version range. A rewritten file
    whose footer gives none aborts the compaction before any rename:
    the manifest, the directory and the pages served stay as they
    were, and no staging dir is left behind."""
    from eventlog_spark import log as log_mod

    log = EventLog.create(spark, str(tmp_path / "norange"))
    for i in range(1, 4):
        log.append(f"e{i}", json.dumps({"ix": i}))
    names, listing = log._manifest_files(), sorted(os.listdir(log.path))
    monkeypatch.setattr(log_mod, "_group_stats", lambda md, column: None)
    with pytest.raises(RuntimeError, match="no version statistics"):
        log.compact(target_partitions=1)
    monkeypatch.undo()
    assert log._manifest_files() == names
    assert sorted(os.listdir(log.path)) == listing
    assert [r.version for r in log.scan_rows()] == [1, 2, 3]


def test_vacuum_reaps_crashed_staging_dirs(tmp_path):
    """A crashed bulk append or compaction leaves its dot-prefixed
    staging dir inside the log. ``vacuum`` removes the whole dir once
    the newest change anywhere under it is past the grace window, and
    keeps one that a running job still writes into."""
    log = EventLog.create(None, str(tmp_path / "stage"))
    log.append("a", '{"i":1}')
    old = os.path.join(log.path, ".bulk-0123abcd.tmp")
    live = os.path.join(log.path, ".compact-4567cdef.tmp")
    for d in (old, live):
        os.makedirs(os.path.join(d, "_temporary", "0"))
        with open(os.path.join(d, "_temporary", "0", "part-0.parquet"), "w") as f:
            f.write("partial")
    time.sleep(1.2)
    deep = os.path.join(live, "_temporary", "0", "_temporary", "attempt_1")
    os.makedirs(deep)
    with open(os.path.join(deep, "part-1.parquet"), "w") as f:
        f.write("being written")
    assert log.vacuum(grace_seconds=1.0) == 1
    assert not os.path.exists(old)
    assert os.path.exists(os.path.join(deep, "part-1.parquet"))
    assert [r.version for r in log.scan_rows()] == [1]


def test_crashed_bulk_append_stages_inside_log_dir(spark, tmp_path, monkeypatch):
    """A bulk append stages inside the log dir, never beside it, so a
    crash before its cleanup leaves nothing ``vacuum`` cannot see."""
    import shutil

    from pyspark.sql import functions as F

    root = tmp_path / "logs"
    log = EventLog.create(spark, str(root / "l"))
    batch = spark.range(3).select(
        F.lit("bulk").alias("label"),
        F.format_string('{"i":%d}', F.col("id")).alias("payload"),
        "id",
    )
    monkeypatch.setattr(shutil, "rmtree", lambda *a, **kw: None)  # "crash"
    assert log.append_dataframe(batch, order_cols=["id"]).version == 3
    monkeypatch.undo()
    assert os.listdir(root) == ["l"]
    assert glob.glob(os.path.join(log.path, ".bulk-*.tmp"))
    assert log.vacuum(grace_seconds=0) == 1
    assert not glob.glob(os.path.join(log.path, ".bulk-*"))
    assert [r.version for r in log.scan_rows()] == [1, 2, 3]


def test_minor_compact_folds_small_fragments(spark, tmp_path, monkeypatch):
    """LSM maintenance: crossing the fragment threshold folds the
    accumulated single-commit files into one, automatically, with no
    data change — and a big bulk fragment is left alone."""
    monkeypatch.setattr(EventLog, "MINOR_COMPACT_FRAGMENTS", 8)
    log = EventLog.create(spark, str(tmp_path / "mc"))
    for i in range(1, 9):
        log.append(f"e{i}", json.dumps({"ix": i}))
    # the 8th append crossed the threshold and folded
    manifest = [f for f in log._manifest_files() if f.endswith(".parquet")]
    assert len(manifest) == 1 and manifest[0].startswith("compact-")
    assert "-minor" in manifest[0]
    rows = log.scan_rows()
    assert [r.version for r in rows] == list(range(1, 9))
    assert [r.label for r in rows] == [f"e{i}" for i in range(1, 9)]
    assert rows[-1].version_next == 0
    # appends continue on top of the folded file; integrity audit clean
    log.append("after", '{"ix": 9}')
    assert [r.version for r in log.scan_rows()] == list(range(1, 10))
    audit = log.check_integrity().collect()[0]
    assert all(v == 0 for v in audit.asDict().values()), audit
    # a fragment above the size bound is never folded driver-side
    monkeypatch.setattr(EventLog, "MINOR_COMPACT_MAX_BYTES", 0)
    for i in range(10, 19):
        log.append(f"e{i}", json.dumps({"ix": i}))
    folded = log.minor_compact()
    assert folded == 0  # all fragments are "too big" under the 0 bound
    assert [r.version for r in log.scan_rows()] == list(range(1, 19))


def test_minor_compact_refolds_and_vacuums(spark, tmp_path, monkeypatch):
    """Size-tiered folding: a previous fold's -minor output is itself
    absorbed by the next fold (the manifest stays bounded in fold
    count, not linear), and each fold reaps grace-expired retirees so
    the directory doesn't leak every superseded fragment forever."""
    monkeypatch.setattr(EventLog, "MINOR_COMPACT_FRAGMENTS", 4)
    monkeypatch.setattr(EventLog, "VACUUM_GRACE_SECONDS", 0)
    log = EventLog.create(spark, str(tmp_path / "rf"))
    for i in range(1, 13):  # three auto-folds at appends 4, 8, 12
        log.append(f"e{i}", json.dumps({"ix": i}))
    manifest = [f for f in log._manifest_files() if f.endswith(".parquet")]
    assert len(manifest) == 1, manifest  # each fold absorbed the last
    assert manifest[0].endswith("-minor.parquet")
    # the LAST fold's own retirees are still in their (zero-second)
    # grace window until the next vacuum; after it, only the live file
    # (+ state/ledger bookkeeping) remains on disk
    log.vacuum(grace_seconds=0)
    on_disk = [f for f in os.listdir(log.path) if f.endswith(".parquet")]
    assert on_disk == manifest
    assert [r.version for r in log.scan_rows()] == list(range(1, 13))
    audit = log.check_integrity().collect()[0]
    assert all(v == 0 for v in audit.asDict().values()), audit


def _spy_parquet_opens(monkeypatch) -> list[str]:
    """Record the file name of every ``pq.ParquetFile`` open and
    ``pq.read_table`` call from here on."""
    import pyarrow.parquet as pq

    opened: list[str] = []
    init, read_table = pq.ParquetFile.__init__, pq.read_table

    def spy_init(self, source, *a, **kw):
        opened.append(os.path.basename(str(source)))
        init(self, source, *a, **kw)

    def spy_read_table(source, *a, **kw):
        opened.append(os.path.basename(str(source)))
        return read_table(source, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "__init__", spy_init)
    monkeypatch.setattr(pq, "read_table", spy_read_table)
    return opened


def _manifest_parquet(log) -> list[str]:
    return [f for f in log._manifest_files() if f.endswith(".parquet")]


def test_pages_over_own_commits_open_no_parquet(tmp_path, monkeypatch):
    """Write-through row cache: a commit caches the rows it writes, so
    forward, reverse and label pages over this instance's fresh
    fragments open no parquet file and return the committed payloads."""
    log = EventLog.create(None, str(tmp_path / "wt"))
    log.MINOR_COMPACT_FRAGMENTS = 0
    want = {}
    for i in range(1, 41):
        lab, pay = ("odd" if i % 2 else "even"), json.dumps({"i": i, "s": "é" * i})
        want[log.append(lab, pay).version] = (lab, minify_json(pay))
    evs = [("multi", json.dumps({"j": j})) for j in range(3)]
    r = log.append_multi(evs)
    for j, (lab, pay) in enumerate(evs):
        want[r.version_first + j] = (lab, minify_json(pay))
    opened = _spy_parquet_opens(monkeypatch)
    assert [(r.label, r.payload) for r in log.scan_rows()] == [
        want[v] for v in range(1, 44)
    ]
    assert [r.version for r in log.scan_rows(reverse=True, limit=5)] == [
        43, 42, 41, 40, 39
    ]
    assert [r.version for r in log.scan_rows(label="odd", limit=3)] == [1, 3, 5]
    assert opened == []


def test_minor_fold_from_cache_equals_fold_from_disk(tmp_path, monkeypatch):
    """The writer folds its own fragments from the row cache without
    opening any of them, and the fold it writes equals, in schema and
    rows, the fold a second instance builds from disk on a copy of the
    directory."""
    import shutil

    import pyarrow.parquet as pq

    log = EventLog.create(None, str(tmp_path / "w"))
    log.MINOR_COMPACT_FRAGMENTS = 0
    for i in range(30):
        log.append("abc"[i % 3], json.dumps({"i": i, "s": "ü" * (i % 4)}))
    log.append_multi([("m", json.dumps({"j": j})) for j in range(5)])
    shutil.copytree(log.path, str(tmp_path / "copy"))
    other = EventLog.open(None, str(tmp_path / "copy"))
    opened = _spy_parquet_opens(monkeypatch)
    assert log.minor_compact() == 31
    assert opened == []
    monkeypatch.undo()
    assert other.minor_compact() == 31
    ((mine,), (theirs,)) = _manifest_parquet(log), _manifest_parquet(other)
    a = pq.read_table(os.path.join(log.path, mine))
    b = pq.read_table(os.path.join(other.path, theirs))
    assert a.schema.equals(b.schema, check_metadata=True)
    assert a.num_rows == 35 and a.equals(b)


def test_pages_and_folds_read_another_writers_fragments(tmp_path, monkeypatch):
    """Two instances on one path: instance A serves its own commits
    from its row cache and reads instance B's fragments from disk, in a
    fold and in pages, with payloads byte-equal to what was appended."""
    path = str(tmp_path / "two")
    a = EventLog.create(None, path)
    b = EventLog.open(None, path)
    a.MINOR_COMPACT_FRAGMENTS = b.MINOR_COMPACT_FRAGMENTS = 0
    want = {}

    def put(log, lab, i):
        pay = json.dumps({"w": lab, "i": i, "s": "ü" * i})
        want[log.append(lab, pay).version] = minify_json(pay).encode()

    def check(log):
        page = log.scan_rows()
        assert [r.version for r in page] == sorted(want)
        assert [r.version_next for r in page] == sorted(want)[1:] + [0]
        assert [r.payload.encode() for r in page] == [want[v] for v in sorted(want)]

    for i in range(6):
        put(a, "a", i)
        put(b, "b", i)
    b_frags = set(b._frag_row_cache)
    opened = _spy_parquet_opens(monkeypatch)
    assert a.minor_compact() == 12
    assert set(opened) == b_frags
    (fold,) = _manifest_parquet(a)
    put(b, "b", 6)
    put(b, "b", 7)
    put(a, "a", 6)
    opened.clear()
    check(a)
    assert set(opened) == (set(b._frag_row_cache) - b_frags) | {fold}
    check(b)  # B's page syncs to A's fold and commit first


def test_pages_reach_another_writers_head(spark, tmp_path):
    """A page syncs to the published state before it fixes its
    interval: instance B, which has not committed since instance A did,
    pages up to A's head — in ``scan_rows`` and ``scan()`` — and its
    own old head links forward instead of reading ``version_next ==
    0``."""
    path = str(tmp_path / "stale")
    a = EventLog.create(spark, path)
    b = EventLog.open(spark, path)
    for i in range(3):
        b.append("b", json.dumps({"i": i}))
    a.append("a", '{"i": 3}')
    a.append_multi([("a", '{"i": 4}'), ("a", '{"i": 5}')])

    def links(rows):
        return [(r.version, r.version_next) for r in rows]

    assert links(b.scan_rows()) == [(v, v + 1) for v in range(1, 6)] + [(6, 0)]
    a.append("a", '{"i": 6}')
    assert links(b.scan_rows(reverse=True, limit=2)) == [(7, 0), (6, 7)]
    a.append("a", '{"i": 7}')
    assert links(b.scan().collect()) == [(v, v + 1) for v in range(1, 8)] + [(8, 0)]
    a.append("a", '{"i": 8}')
    assert links(b.scan_rows(label="a")) == [(4, 5), (5, 6), (6, 7), (7, 8), (8, 9), (9, 0)]


def test_row_cache_drops_cas_losers_and_retired_fragments(spark, tmp_path, monkeypatch):
    """A CAS loser's discarded fragment leaves the row cache with its
    file, and every fragment a minor fold or a major compaction retires
    leaves it too; the byte total stays the sum of what is held."""
    path = str(tmp_path / "cas")
    a = EventLog.create(spark, path)
    b = EventLog.open(None, path)
    a.MINOR_COMPACT_FRAGMENTS = 0
    a.append("a", '{"i": 0}')
    written: list[str] = []
    write_fragment = a._write_fragment

    def racing_write(rows):
        entries = write_fragment(rows)
        written.append(entries[-1]["n"])
        if len(written) == 1:
            b.append("b", '{"race": true}')  # claims the next seq first
        return entries

    monkeypatch.setattr(a, "_write_fragment", racing_write)
    assert a.append("a", '{"i": 1}').version == 3
    loser, winner = written
    assert loser not in a._frag_row_cache
    assert not os.path.exists(os.path.join(path, loser))
    assert winner in a._frag_row_cache
    monkeypatch.undo()

    folded = _manifest_parquet(a)
    assert a.minor_compact() == 3
    assert not set(folded) & set(a._frag_row_cache)
    a.append("a", '{"i": 2}')
    assert [r.version for r in a.scan_rows()] == [1, 2, 3, 4]
    live = _manifest_parquet(a)
    assert set(live) <= set(a._frag_row_cache)  # the fold, read whole
    a.compact()
    assert not set(live) & set(a._frag_row_cache)
    assert [r.version for r in a.scan_rows()] == [1, 2, 3, 4]
    assert a._frag_bytes_total == sum(n for _, n in a._frag_row_cache.values())


def test_row_cache_is_bounded_by_bytes(tmp_path):
    """Every commit fills the row cache, so it is bounded by label +
    payload bytes: committing more than ROW_CACHE_BYTES of 64 KiB
    payloads keeps the byte total at or under the bound, evicting the
    oldest fragments first."""
    from eventlog_spark.log import ROW_CACHE_BYTES

    log = EventLog.create(None, str(tmp_path / "wide"))
    log.MINOR_COMPACT_FRAGMENTS = 0
    wide = json.dumps({"pad": "x" * (64 * 1024 - 12)})
    commits = ROW_CACHE_BYTES // (16 * len(wide)) + 4
    for _ in range(commits):
        log.append_multi([("w", wide)] * 16)
        assert log._frag_bytes_total <= ROW_CACHE_BYTES
    held = log._frag_row_cache
    assert log._frag_bytes_total == sum(n for _, n in held.values())
    assert log._frag_bytes_total > ROW_CACHE_BYTES - 16 * len(wide) * 2
    frags = [e["n"] for e in sorted(log._manifest.entries(), key=lambda e: e["lo"])]
    assert list(held) == frags[len(frags) - len(held):]  # the newest stay
    assert len(held) < commits


def test_row_cache_under_concurrent_commits_pages_and_folds(tmp_path, monkeypatch):
    """Stress: eight appenders (group commit), four page readers and
    the folds they trigger share one instance's row cache. Every page
    is dense with the appended payloads, and the cache's byte total
    stays the sum of what it holds."""
    import sys
    import threading

    monkeypatch.setattr(EventLog, "MINOR_COMPACT_FRAGMENTS", 16)
    log = EventLog.create(None, str(tmp_path / "stress"))
    log.append("seed", '{"w": -1, "i": 0}')
    errors: list[BaseException] = []
    done = threading.Event()

    def writer(w):
        try:
            for i in range(40):
                log.append(f"w{w}", json.dumps({"w": w, "i": i}))
        except BaseException as e:  # surfaced below
            errors.append(e)

    def reader():
        try:
            while not done.is_set():
                page = log.scan_rows(reverse=True, limit=50)
                vs = [r.version for r in page]
                assert vs == list(range(vs[0], vs[0] - len(vs), -1))
                for r in page:
                    body = json.loads(r.payload)
                    assert r.label == ("seed" if body["w"] < 0 else f"w{body['w']}")
        except BaseException as e:
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        writers = [threading.Thread(target=writer, args=(w,)) for w in range(8)]
        readers = [threading.Thread(target=reader) for _ in range(4)]
        for t in writers + readers:
            t.start()
        for t in writers:
            t.join(timeout=120)
        done.set()
        for t in readers:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in writers + readers)
    assert not errors, errors[0]
    assert log.version() == 321
    page = log.scan_rows()
    assert sorted((json.loads(r.payload)["w"], json.loads(r.payload)["i"]) for r in page[1:]) == [
        (w, i) for w in range(8) for i in range(40)
    ]
    assert log._frag_bytes_total == sum(n for _, n in log._frag_row_cache.values())
    live = set(_manifest_parquet(log))
    assert set(log._frag_row_cache) <= live


def test_scan_label_matches_filtered_scan(log):
    """Label-filtered scan (extension; Iceberg-style manifest data
    skipping on the file engine) must equal the plain scan filtered
    in-plan, on BOTH engines, across every paging parameter — pruning
    is an optimization, never a semantics change."""
    for i in range(1, 13):
        lab = ["alpha", "beta", "gamma"][i % 3]
        log.append(lab, json.dumps({"ix": i}))
    full = log.scan().collect()
    for lab in ("alpha", "beta", "gamma", "absent"):
        want = [r for r in full if r.label == lab]
        got = log.scan(label=lab).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want], lab
    # paging params compose: version bound, reverse, limit on MATCHES
    got = log.scan(version=5, label="beta").collect()
    want = [r for r in full if r.label == "beta" and r.version >= 5]
    assert [r.version for r in got] == [r.version for r in want]
    got = log.scan(reverse=True, label="alpha", limit=2).collect()
    want = [r for r in full if r.label == "alpha"][::-1][:2]
    assert [r.version for r in got] == [r.version for r in want]


def test_label_pruning_binds_and_survives_compaction(spark, tmp_path):
    """The file engine's label scan must actually SKIP fragments:
    single-label interactive commits carry exact label bounds, so
    candidates for one label exclude every other label's fragments; an
    absent label prunes ALL fragments; a minor-compaction fold carries
    the bounds of its rows; bulk label-batched appends prune via footer
    bounds. Correctness is re-checked after every mutation."""
    path = str(tmp_path / "lblprune")
    log = EventLog.create(spark, path)
    log.MINOR_COMPACT_FRAGMENTS = 0  # manual folds only
    for i in range(12):
        lab = ["alpha", "beta", "gamma"][i % 3]
        log.append(lab, json.dumps({"ix": i}))
    total = log._manifest.count()
    cand = log.label_candidate_files("alpha")
    assert len(cand) == 4, (len(cand), total)  # exactly alpha's commits
    assert log.label_candidate_files("absent") == []  # bounds prune all
    # fold: the bounds of its rows, [alpha, gamma]
    assert log.minor_compact() == 12
    assert len(log.label_candidate_files("alpha")) == 1
    assert log.label_candidate_files("absent") == []
    assert [r.label for r in log.scan(label="beta").collect()] == ["beta"] * 4
    # bulk label-batched ingest: footer bounds prune per batch
    for lab in ("delta", "epsilon"):
        src = spark.createDataFrame(
            [(lab, json.dumps({"b": j}), j) for j in range(5)],
            "label string, payload string, event_id long",
        )
        log.append_dataframe(src, on_invalid="error", order_cols=["event_id"])
    # the fold's bounds [alpha, gamma] hold delta and epsilon, so it is
    # a candidate for both; each bulk batch is a candidate for its own
    # label only, and the scan stays exact
    cand = log.label_candidate_files("delta")
    (fold,) = [f for f in cand if "minor" in f]
    eps = log.label_candidate_files("epsilon")
    assert fold in eps and set(cand) & set(eps) == {fold}
    assert [r.label for r in log.scan_rows(label="delta")] == ["delta"] * 5
    # absent label: the fold's and the bulk batches' bounds all prune
    assert log.label_candidate_files("zeta") == []
    # major compaction mixes labels into range-partitioned files whose
    # footer bounds still lie below an absent label past them all
    log.compact()
    assert [r.label for r in log.scan(label="delta").collect()] == ["delta"] * 5
    assert log.scan(label="zeta").count() == 0
    assert log.label_candidate_files("zeta") == []
    assert log.label_candidate_files("delta")  # present labels still match


def test_open_is_metadata_only_after_clean_commit(tmp_path, monkeypatch):
    """Cold open must not pay a directory listing: the pointer names
    the manifest chain, and a crash fragment no delta names is not
    looked for at all (r9 — at 10^6 fragments the r8 listing was the
    one O(dir) cost left on open). The crash fragment stays on disk,
    invisible, until vacuum reaps it."""
    path = str(tmp_path / "cl")
    log = EventLog.create(None, path)
    log.MINOR_COMPACT_FRAGMENTS = 0
    for i in range(5):
        log.append("a", json.dumps({"i": i}))

    calls: list[int] = []
    orig = EventLog._data_files
    monkeypatch.setattr(
        EventLog, "_data_files", lambda self: (calls.append(1), orig(self))[1]
    )
    reopened = EventLog.open(None, path)
    assert reopened.version() == 5 and not calls
    assert [r.version for r in reopened.scan_rows(limit=3)] == [1, 2, 3]
    assert not calls

    # crash between fragment write and the delta claim
    crash = _crash_before_claim(log)
    with pytest.raises(crash):
        log.append("orphan", '{"crash":true}')
    frags = {f for f in os.listdir(path) if f.endswith(".parquet")}
    calls.clear()
    recovered = EventLog.open(None, path)
    assert recovered.version() == 5 and not calls
    r = recovered.append("next", '{"ok":true}')
    assert r.version == 6
    assert [row.label for row in recovered.scan_rows()][-1] == "next"
    assert frags <= set(os.listdir(path))  # the orphan awaits vacuum


def test_scan_rows_label_page_stops_early(tmp_path):
    """A bounded label page must stop reading fragments once the page
    is provably full — O(fragments holding the page), not O(all
    matches to the head) per page (the r8 shape filtered the full
    remaining interval, then sliced — a quadratic paginated tail).

    Decisive probe: every fragment beyond the page (plus a margin) is
    DELETED out from under the log, and the engine gets no Spark
    session — only an early-stopping driver-side read can serve the
    page; the old full-interval read (or the Spark fallback) would hit
    the missing files and fail loudly."""
    log = EventLog.create(None, str(tmp_path / "es"))
    log.MINOR_COMPACT_FRAGMENTS = 0
    for i in range(1, 61):
        log.append("hot", json.dumps({"i": i}))
    for e in log._manifest.entries():
        if e["lo"] > 20:
            os.remove(os.path.join(log.path, e["n"]))
    # a fresh instance: the writer's row cache still holds every row
    log = EventLog.open(None, log.path)
    rows = log.scan_rows(label="hot", limit=10)
    assert [r.version for r in rows] == list(range(1, 11))
    # reverse tail page: only the newest fragments may be touched
    log2 = EventLog.create(None, str(tmp_path / "es2"))
    log2.MINOR_COMPACT_FRAGMENTS = 0
    for i in range(1, 61):
        log2.append("hot", json.dumps({"i": i}))
    for e in log2._manifest.entries():
        if e["hi"] < 41:
            os.remove(os.path.join(log2.path, e["n"]))
    log2 = EventLog.open(None, log2.path)
    rows = log2.scan_rows(label="hot", reverse=True, limit=10)
    assert [r.version for r in rows] == list(range(60, 50, -1))
    # interior resume (pagination shape): version bound + early stop
    rows = log2.scan_rows(label="hot", version=45, limit=5)
    assert [r.version for r in rows] == list(range(45, 50))


def test_scan_rows_label_matches_scan_dataframe(log):
    """The driver-side label page (scan_rows(label=...)) must agree with
    the Spark label scan on both engines across paging params — same
    rows, same order — including the absent-label and limit-on-matches
    cases."""
    for i in range(1, 10):
        log.append(["red", "blue"][i % 2], json.dumps({"ix": i}))
    cases = [
        dict(label="red"),
        dict(label="blue"),
        dict(label="absent"),
        dict(label="red", limit=2),
        dict(label="red", reverse=True),
        dict(label="blue", reverse=True, limit=1),
        dict(label="blue", version=4),
        dict(label="red", version=3, skip_first=True),
        dict(label="red", limit=0),
    ]
    for kw in cases:
        fast = log.scan_rows(**kw)
        slow = [tuple(r) for r in log.scan(**kw).collect()]
        assert [tuple(r) for r in fast] == slow, kw


def _skewed_events(n: int, seed: int) -> list[tuple[str, str]]:
    """``n`` events over a frequent, a middling and a rare label."""
    import random

    rng = random.Random(seed)
    labels = ["hot"] * 12 + ["warm"] * 3 + ["rare"]
    return [(rng.choice(labels), json.dumps({"i": i})) for i in range(n)]


def _assert_label_pages(
    log, events: list[tuple[str, str]], starts, full: dict | None = None
) -> None:
    """Forward and reverse label pages with limit 1, 7 and 100 from each
    start equal a pure-Python filter of the appended events; with
    ``full`` (version -> the 7 fields, ``_stored_rows``) every field of
    every row is compared."""
    stored = [(lab, minify_json(pay)) for lab, pay in events]
    for lab in ("hot", "rare"):
        for limit in (1, 7, 100):
            for start in starts:
                fwd = [v for v in range(start, len(stored) + 1) if stored[v - 1][0] == lab]
                rev = [v for v in range(start, 0, -1) if stored[v - 1][0] == lab]
                for reverse, want in ((False, fwd), (True, rev)):
                    kw = dict(version=start, label=lab, limit=limit, reverse=reverse)
                    page = log.scan_rows(**kw)
                    got = [(r.version, r.label, r.payload) for r in page]
                    assert got == [(v, *stored[v - 1]) for v in want[:limit]], kw
                    if full is not None:
                        assert [tuple(r) for r in page] == [full[v] for v in want[:limit]]


def _stored_rows(log) -> dict[int, tuple]:
    """version -> (version, version_prev, version_next, timestamp,
    label, payload, checksum) as the engine stores them, read without
    ``scan_rows`` (every parquet file of the manifest, or the in-memory
    engine's rows); each stored checksum is recomputed."""
    import pyarrow.parquet as pq

    from eventlog_spark.sources.binformat import spark_checksum

    if log.path is None:
        rows = list(log._rows)
    else:
        rows = []
        for f in _manifest_parquet(log):
            tbl = pq.read_table(os.path.join(log.path, f))
            cols = ("version", "version_prev", "timestamp", "label", "payload", "checksum")
            rows += zip(*[tbl.column(c).to_pylist() for c in cols])
    head = log.version()
    out = {}
    for v, vp, ts, lab, pay, ck in rows:
        assert ck == spark_checksum(ts, lab, pay, vp) and vp == v - 1
        out[v] = (v, vp, 0 if v == head else v + 1, ts, lab, pay, ck)
    assert sorted(out) == list(range(1, head + 1))
    return out


@pytest.mark.parametrize("engine", ["parquet", "inmem"])
def test_label_pages_over_multi_group_fold(tmp_path, engine):
    """Label pages read a fold of many row groups through the cached
    per-group label counts (only the groups that can hold the
    fragment's first ``limit`` matches are decoded), a 1500-row
    fragment of two groups, and the cached tail of single appends; and
    version pages slice the fold. Every field of every row — the head's
    ``version_next == 0`` and the checksum included — must equal what
    the engine stores, on both engines."""
    if engine == "inmem":
        from eventlog_spark.inmem import InMemEventLog

        log = InMemEventLog.create(None)
    else:
        log = EventLog.create(None, str(tmp_path / "log"))
    log.MINOR_COMPACT_FRAGMENTS = 0
    events = _skewed_events(6540, seed=3)
    for i in range(0, 5000, 1000):
        log.append_multi(events[i:i + 1000])
    if engine == "parquet":
        assert log.minor_compact() == 5
    log.append_multi(events[5000:6500])
    for lab, pay in events[6500:]:
        log.append(lab, pay)
    if engine == "parquet":
        import pyarrow.parquet as pq

        (fold,) = [f for f in log._manifest_files() if f.startswith("compact-")]
        assert pq.ParquetFile(os.path.join(log.path, fold)).metadata.num_row_groups == 5
    full = _stored_rows(log)
    assert full[6540][2] == 0
    _assert_label_pages(log, events, [1, 777, 2500, 4999, 5001, 6000, 6520, 6540], full)
    for start in (1, 777, 4500, 5900, 6540):
        fwd = log.scan_rows(version=start, limit=1000)
        assert [tuple(r) for r in fwd] == [full[v] for v in range(start, min(start + 1000, 6541))]
        rev = log.scan_rows(version=start, limit=1000, reverse=True)
        assert [tuple(r) for r in rev] == [full[v] for v in range(start, max(start - 1000, 0), -1)]


def test_label_pages_on_label_clustered_compaction(spark, tmp_path):
    """After ``compact(cluster_by="label")`` each file is ordered by
    (label, version), not by version, and every file is larger than
    the hot-tail cache bound, so pages decode its row groups; label
    pages must still equal a pure-Python filter, and version pages,
    whose rows are no slice of such a file, the stored rows."""
    import pyarrow.parquet as pq

    from eventlog_spark.log import ROW_GROUP_ROWS

    log = EventLog.create(spark, str(tmp_path / "zl"))
    log.MINOR_COMPACT_FRAGMENTS = 0
    events = _skewed_events(4000, seed=5)
    for i in range(0, 4000, 500):
        log.append_multi(events[i:i + 500])
    log.compact(target_partitions=2, cluster_by="label")
    files = [f for f in log._manifest_files() if f.endswith(".parquet")]
    assert len(files) == 2
    for f in files:
        assert pq.ParquetFile(os.path.join(log.path, f)).metadata.num_rows > ROW_GROUP_ROWS
    _assert_label_pages(log, events, [1, 999, 2001, 3500, 4000])
    stored = [(lab, minify_json(pay)) for lab, pay in events]

    def assert_version_pages():
        for start in (1, 999, 2001, 3500):
            page = log.scan_rows(version=start, limit=1000)
            want = range(start, min(start + 1000, 4001))
            assert [(r.version, r.label, r.payload) for r in page] == [
                (v, *stored[v - 1]) for v in want
            ]
            page = log.scan_rows(version=start, limit=1000, reverse=True)
            want = range(start, max(start - 1000, 0), -1)
            assert [r.version for r in page] == list(want)

    assert_version_pages()
    # no writer orders a label's rows against version order, but the
    # pages must not rely on that: rewrite each file (same rows, so the
    # manifest stats still hold) in descending version order
    for f in files:
        full = os.path.join(log.path, f)
        tbl = pq.read_table(full)
        pq.write_table(tbl.sort_by([("version", "descending")]), full, row_group_size=700)
    _assert_label_pages(log, events, [1, 999, 2001, 3500, 4000])
    assert_version_pages()


def test_page_reads_decode_only_their_row_groups(tmp_path, monkeypatch):
    """Layout and decode-budget pin. A minor fold writes row groups of
    at most ROW_GROUP_ROWS rows, each with version min/max stats; a
    1000-event page over a 24k-row fold decodes at most two of them;
    the first 100-event label page reads the fold's ``label`` column
    once, then decodes every column only for the groups holding its
    rows (and the group its start cuts, which the counts cannot
    split); a later page of that label reads no key column. Every page
    read decodes on the calling thread (``use_threads=False``)."""
    import pyarrow.parquet as pq

    from eventlog_spark.log import ROW_GROUP_ROWS, _group_stats

    log = EventLog.create(None, str(tmp_path / "log"))
    log.MINOR_COMPACT_FRAGMENTS = 0
    events = _skewed_events(24_000, seed=7)
    for i in range(0, 24_000, 2000):
        log.append_multi(events[i:i + 2000])
    assert log.minor_compact() == 12
    (fold,) = [f for f in log._manifest_files() if f.endswith(".parquet")]
    md = pq.ParquetFile(os.path.join(log.path, fold)).metadata
    sizes = [md.row_group(g).num_rows for g in range(md.num_row_groups)]
    assert sum(sizes) == 24_000 and max(sizes) <= ROW_GROUP_ROWS
    stats = _group_stats(md, "version")
    assert stats is not None and len(stats) == md.num_row_groups

    calls: list[tuple[list[int], list[str] | None]] = []
    threaded: list[bool] = []
    read_row_groups, read = pq.ParquetFile.read_row_groups, pq.ParquetFile.read

    def spy_groups(self, row_groups, columns=None, **kw):
        calls.append((list(row_groups), columns))
        threaded.append(kw.get("use_threads", True))
        return read_row_groups(self, row_groups, columns=columns, **kw)

    def spy_read(self, *a, **kw):
        calls.append(([-1], kw.get("columns")))
        threaded.append(kw.get("use_threads", True))
        return read(self, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy_groups)
    monkeypatch.setattr(pq.ParquetFile, "read", spy_read)

    page = log.scan_rows(version=5000, limit=1000)
    assert [r.version for r in page] == list(range(5000, 6000))
    decoded = [g for groups, _cols in calls for g in groups]
    assert len(decoded) <= 2 and sum(sizes[g] for g in decoded) <= 2 * ROW_GROUP_ROWS

    rare = [v for v in range(1, 24_001) if events[v - 1][0] == "rare"]
    counts = [sum(1 for v in rare if a <= v <= b) for a, b in stats]
    for start in (3000, 9000):
        calls.clear()
        page = log.scan_rows(version=start, label="rare", limit=100)
        want = [v for v in rare if v >= start][:100]
        assert [r.version for r in page] == want
        keys = [(groups, cols) for groups, cols in calls if cols is not None]
        # one label-only read of the whole fold, on the first page only
        assert keys == ([([-1], ["label"])] if start == 3000 else [])
        full = {g for groups, cols in calls if cols is None for g in groups}
        # the group the start cuts, if it holds the label at all, and
        # the groups wholly past the start, in order, until their
        # counts reach the limit
        budget = {g for g, (a, b) in enumerate(stats) if a < start <= b and counts[g]}
        held = 0
        for g, (a, _b) in enumerate(stats):
            if a >= start and counts[g] and held < 100:
                budget.add(g)
                held += counts[g]
        assert full == budget
        holding = {g for g, (a, b) in enumerate(stats) for v in want if a <= v <= b}
        assert holding <= full and len(full - holding) <= 2
        # the page's rows span fewer groups than its version interval does
        assert len(full) < sum(1 for a, b in stats if b >= start)
    assert threaded and not any(threaded)

    # a small fragment another instance wrote is read whole
    log.append("hot", '{"i": -1}')
    calls.clear()
    threaded.clear()
    reader = EventLog.open(None, log.path)
    page = reader.scan_rows(version=23_990)
    assert [r.version for r in page] == list(range(23_990, 24_002))
    assert ([-1], None) in calls
    assert threaded and not any(threaded)


def _assert_driver_layout(full: str) -> None:
    """A driver-side write's layout: every column chunk LZ4, a
    dictionary only on ``label``, and row groups of at most
    ROW_GROUP_ROWS rows, each with version statistics."""
    import pyarrow.parquet as pq

    from eventlog_spark.log import ROW_GROUP_ROWS, _group_stats

    md = pq.ParquetFile(full).metadata
    assert md.num_row_groups > 1
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        assert rg.num_rows <= ROW_GROUP_ROWS
        for c in range(rg.num_columns):
            col = rg.column(c)
            assert col.compression == "LZ4", (col.path_in_schema, col.compression)
            dictionary = col.has_dictionary_page or any(
                "DICTIONARY" in e for e in col.encodings
            )
            assert dictionary == (col.path_in_schema == "label"), (
                col.path_in_schema,
                col.encodings,
            )
    stats = _group_stats(md, "version")
    assert stats is not None and len(stats) == md.num_row_groups


def test_driver_writes_lz4_with_label_only_dictionary(tmp_path):
    """Layout pin of both driver-side writes, a commit fragment and a
    minor fold: LZ4, a dictionary only on ``label``, bounded row groups
    with version stats."""
    log = EventLog.create(None, str(tmp_path / "lz4"))
    log.MINOR_COMPACT_FRAGMENTS = 0
    events = _skewed_events(5000, seed=11)
    log.append_multi(events[:1500])
    (frag,) = _manifest_parquet(log)
    _assert_driver_layout(os.path.join(log.path, frag))
    log.append_multi(events[1500:3000])
    for lab, pay in events[3000:3010]:
        log.append(lab, pay)
    assert log.minor_compact() == 12
    (fold,) = _manifest_parquet(log)
    _assert_driver_layout(os.path.join(log.path, fold))
    assert [r.version for r in log.scan_rows(version=1001, limit=1000)] == list(
        range(1001, 2001)
    )


def _two_fold_log(path: str, spark=None):
    """A log of two multi-group minor folds (versions 1-3000 and
    3001-6000) and the events appended to it."""
    log = EventLog.create(spark, path)
    log.MINOR_COMPACT_FRAGMENTS = 0
    events = _skewed_events(6000, seed=13)
    for i in range(0, 3000, 1000):
        log.append_multi(events[i:i + 1000])
    assert log.minor_compact() == 3
    # the second fold must not absorb the first: bound the fold size
    log.MINOR_COMPACT_MAX_BYTES = os.path.getsize(
        os.path.join(log.path, _manifest_parquet(log)[0])
    ) - 1
    for i in range(3000, 6000, 1000):
        log.append_multi(events[i:i + 1000])
    assert log.minor_compact() == 3
    del log.MINOR_COMPACT_MAX_BYTES
    return log, events


def _fold_at(log, version: int) -> str:
    (name,) = [
        e["n"] for e in log._manifest.entries() if e["lo"] <= version <= e["hi"]
    ]
    return name


def test_repeated_pages_parse_a_fold_footer_once(tmp_path, monkeypatch):
    """The footer and version stats of a fragment larger than one row
    group are cached: forward, reverse and label pages over one fold
    parse its footer once, reopen it with the cached metadata, and a
    file replaced under its name is parsed again."""
    import pyarrow.parquet as pq

    import eventlog_spark.log as log_mod
    from eventlog_spark.log import _Footer

    log, events = _two_fold_log(str(tmp_path / "foot"))
    reader = EventLog.open(None, log.path)  # nothing cached
    parsed: list[int] = []
    stats = log_mod._group_stats

    def spy_stats(md, column):
        parsed.append(md.num_rows)
        return stats(md, column)

    monkeypatch.setattr(log_mod, "_group_stats", spy_stats)
    stored = [(lab, minify_json(pay)) for lab, pay in events]
    for _ in range(3):
        page = reader.scan_rows(version=100, limit=1000)
        assert [(r.version, r.label, r.payload) for r in page] == [
            (v, *stored[v - 1]) for v in range(100, 1100)
        ]
        page = reader.scan_rows(version=2900, limit=50, reverse=True)
        assert [r.version for r in page] == list(range(2900, 2850, -1))
        page = reader.scan_rows(version=1, label="rare", limit=20)
        want = [v for v in range(1, 3001) if stored[v - 1][0] == "rare"][:20]
        assert [r.version for r in page] == want
    assert parsed == [3000]
    fold = _fold_at(reader, 1)
    assert type(reader._frag_row_cache[fold][0]) is _Footer

    # the same rows rewritten under the fold's name, in other groups
    full = os.path.join(reader.path, fold)
    tbl = pq.read_table(full)
    os.remove(full)
    pq.write_table(tbl, full, row_group_size=600)
    page = reader.scan_rows(version=100, limit=1000)
    assert [r.version for r in page] == list(range(100, 1100))
    assert parsed == [3000, 3000]
    assert reader._frag_row_cache[fold][0].md.num_row_groups == 5


def test_footer_cache_counts_against_row_cache_bytes(tmp_path, monkeypatch):
    """A cached footer is charged its serialized size against
    ROW_CACHE_BYTES, plus, for each label a page counted in it, the
    label's bytes and 8 bytes a row group; it is evicted oldest first
    like cached rows, and its counts leave with it when the fragment
    retires."""
    import eventlog_spark.log as log_mod

    log, _events = _two_fold_log(str(tmp_path / "bytes"))
    reader = EventLog.open(None, log.path)
    first, second = _fold_at(reader, 1), _fold_at(reader, 3001)
    reader.scan_rows(version=1, limit=10)
    held = reader._frag_row_cache
    size = held[first][0].md.serialized_size
    assert list(held) == [first] and held[first][1] == size
    assert reader._frag_bytes_total == size
    # a label page counts its label per row group in the footer entry
    reader.scan_rows(version=1, label="rare", limit=5)
    reader.scan_rows(version=1, label="warm", limit=5)
    foot = held[first][0]
    assert sorted(foot.counts) == ["rare", "warm"]
    assert [len(c) for c in foot.counts.values()] == [foot.md.num_row_groups] * 2
    charged = size + len("rare") + len("warm") + 2 * 8 * foot.md.num_row_groups
    assert held[first][1] == foot.nbytes() == charged
    assert reader._frag_bytes_total == charged
    # room for one footer only: the second evicts the first
    monkeypatch.setattr(log_mod, "ROW_CACHE_BYTES", size + size // 2)
    reader.scan_rows(version=3001, label="rare", limit=5)
    assert list(held) == [second] and held[second][0].counts.keys() == {"rare"}
    assert reader._frag_bytes_total == held[second][0].nbytes()
    monkeypatch.undo()
    # a fold retires both folds: their footers and counts leave the cache
    reader.scan_rows(version=1, label="rare", limit=5)
    assert set(held) == {first, second}
    reader.append("tail", '{"t": 1}')
    assert reader.minor_compact() == 3
    assert not {first, second} & set(held)
    assert reader._frag_bytes_total == sum(n for _, n in held.values())


def test_label_counts_under_concurrent_label_pages(tmp_path):
    """Stress: six readers page three labels over two multi-group folds
    on one instance while another thread keeps dropping the folds'
    cache entries, so footers and label counts are parsed, counted and
    replaced concurrently. Every page equals a pure-Python filter, and
    every entry is charged what it holds."""
    import random
    import sys
    import threading

    log, events = _two_fold_log(str(tmp_path / "race"))
    reader = EventLog.open(None, log.path)
    stored = [(lab, minify_json(pay)) for lab, pay in events]
    folds = [_fold_at(reader, 1), _fold_at(reader, 3001)]
    errors: list[BaseException] = []
    done = threading.Event()

    def pages(seed):
        rng = random.Random(seed)
        try:
            for _ in range(60):
                lab = rng.choice(["hot", "warm", "rare"])
                start, reverse = rng.randint(1, 6000), rng.random() < 0.5
                page = reader.scan_rows(version=start, label=lab, limit=20, reverse=reverse)
                span = range(start, 0, -1) if reverse else range(start, 6001)
                want = [v for v in span if stored[v - 1][0] == lab][:20]
                assert [(r.version, r.label, r.payload) for r in page] == [
                    (v, *stored[v - 1]) for v in want
                ]
        except BaseException as e:  # surfaced below
            errors.append(e)

    def dropper():
        while not done.is_set():
            reader._uncache(folds)
            time.sleep(0.002)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        readers = [threading.Thread(target=pages, args=(i,)) for i in range(6)]
        drop = threading.Thread(target=dropper)
        for t in readers + [drop]:
            t.start()
        for t in readers:
            t.join(timeout=120)
        done.set()
        drop.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in readers + [drop])
    assert not errors, errors[0]
    held = reader._frag_row_cache
    assert reader._frag_bytes_total == sum(n for _, n in held.values())
    assert all(n == v.nbytes() for v, n in held.values())


def test_label_counts_follow_a_fold_rewritten_in_place(tmp_path):
    """The per-group label counts live in the footer's cache entry: a
    fold rewritten under its own name with another row-group layout is
    parsed again and counted again, never paged with the old counts."""
    import pyarrow.parquet as pq

    log, events = _two_fold_log(str(tmp_path / "rewrite"))
    reader = EventLog.open(None, log.path)
    starts = [1, 1500, 2500, 2999, 3001, 6000]
    _assert_label_pages(reader, events, starts)
    fold = _fold_at(reader, 1)
    assert len(reader._frag_row_cache[fold][0].counts["rare"]) == 3
    full = os.path.join(reader.path, fold)
    tbl = pq.read_table(full)
    os.remove(full)
    pq.write_table(tbl, full, row_group_size=600)
    _assert_label_pages(reader, events, starts)
    assert len(reader._frag_row_cache[fold][0].counts["rare"]) == 5


def test_version_pages_over_descending_row_groups(tmp_path):
    """A version page slices its rows out of the decoded groups only
    when the slice's versions are exactly the page's. A fold rewritten
    so each row group holds a dense version range in descending order
    puts a group's maximum at the slice offset of a page starting
    there; forward and reverse 1000-event pages must still return the
    stored rows, through the Arrow filter."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eventlog_spark.log import ROW_GROUP_ROWS

    log, _events = _two_fold_log(str(tmp_path / "desc"))
    fold = _fold_at(log, 1)
    full = os.path.join(log.path, fold)
    tbl = pq.read_table(full)
    parts = [
        tbl.slice(i, ROW_GROUP_ROWS).sort_by([("version", "descending")])
        for i in range(0, tbl.num_rows, ROW_GROUP_ROWS)
    ]
    os.remove(full)
    pq.write_table(pa.concat_tables(parts), full, row_group_size=ROW_GROUP_ROWS)
    stats = [
        pq.ParquetFile(full).metadata.row_group(g).column(0).statistics
        for g in range(len(parts))
    ]
    assert [(s.min, s.max) for s in stats] == [(1, 1024), (1025, 2048), (2049, 3000)]
    stored = _stored_rows(log)
    for lg in (log, EventLog.open(None, log.path)):
        # 1024 and 2048 start the page at a group's first row
        for start in (1, 500, 1024, 1025, 2048, 2500):
            page = lg.scan_rows(version=start, limit=1000)
            want = range(start, start + 1000)
            assert [tuple(r) for r in page] == [stored[v] for v in want], start
        for start in (2023, 3047, 2500, 1000):
            page = lg.scan_rows(version=start, limit=1000, reverse=True)
            want = range(start, max(start - 1000, 0), -1)
            assert [tuple(r) for r in page] == [stored[v] for v in want], start


def test_footer_cache_drops_retired_and_cas_losing_names(spark, tmp_path, monkeypatch):
    """Every name a minor fold or a compact() retires leaves the
    footer cache, as does a CAS loser's discarded fragment; the byte
    total stays the sum of what is held."""
    from eventlog_spark.log import _Footer

    path = str(tmp_path / "retire")
    log, _events = _two_fold_log(path, spark)

    def footers():
        return {n for n, (v, _) in log._frag_row_cache.items() if type(v) is _Footer}

    log.scan_rows(version=1, limit=10)
    log.scan_rows(version=3001, limit=10)
    folds = set(_manifest_parquet(log))
    assert footers() == folds
    # a fold absorbs both folds (and one commit)
    log.append("tail", '{"t": 1}')
    assert log.minor_compact() == 3
    assert not footers()
    (fold,) = _manifest_parquet(log)
    log.scan_rows(version=1, limit=10)
    assert footers() == {fold}
    log.compact()
    assert not footers()
    assert [r.version for r in log.scan_rows(version=5990)] == list(range(5990, 6002))

    # a commit that loses its CAS claim drops the name it wrote
    other = EventLog.open(None, path)
    written: list[str] = []
    write_fragment = log._write_fragment

    def racing_write(rows):
        entries = write_fragment(rows)
        written.append(entries[-1]["n"])
        if len(written) == 1:
            other.append("b", '{"race": true}')  # claims the next seq first
        return entries

    monkeypatch.setattr(log, "_write_fragment", racing_write)
    log.append_multi([("big", json.dumps({"i": i})) for i in range(1500)])
    monkeypatch.undo()
    loser, winner = written
    assert not os.path.exists(os.path.join(path, loser))
    page = log.scan_rows(version=6002, limit=1000)
    assert [r.label for r in page] == ["b"] + ["big"] * 999
    assert loser not in log._frag_row_cache
    assert winner in footers()
    assert log._frag_bytes_total == sum(n for _, n in log._frag_row_cache.values())


def test_pages_over_a_snappy_fold_written_before_lz4(spark, tmp_path):
    """A log upgraded in place keeps its Snappy folds, dictionary-encoded
    on every column: pages, ``scan()`` and ``check_integrity()`` read
    them next to LZ4 folds, and the next fold rewrites them LZ4."""
    import pyarrow.parquet as pq

    from eventlog_spark.log import ROW_GROUP_ROWS

    log, events = _two_fold_log(str(tmp_path / "mixed"), spark)
    old = os.path.join(log.path, _fold_at(log, 1))
    pq.write_table(pq.read_table(old), old, row_group_size=ROW_GROUP_ROWS)
    md = pq.ParquetFile(old).metadata
    assert md.row_group(0).column(0).compression == "SNAPPY"
    assert md.row_group(0).column(0).has_dictionary_page
    reader = EventLog.open(spark, log.path)
    stored = [(lab, minify_json(pay)) for lab, pay in events]

    def check(page, want):
        assert [(r.version, r.label, r.payload) for r in page] == [
            (v, *stored[v - 1]) for v in want
        ]

    for lg in (log, reader):
        check(lg.scan_rows(version=2500, limit=1000), range(2500, 3500))
        check(lg.scan_rows(version=3500, limit=1000, reverse=True), range(3500, 2500, -1))
        want = [v for v in range(1, 6001) if stored[v - 1][0] == "rare"]
        check(lg.scan_rows(version=1, label="rare", limit=100), want[:100])
    _assert_label_pages(reader, events, [1, 2999, 3001, 6000])
    got = [(r.version, r.label, r.payload) for r in reader.scan().collect()]
    assert got == [(v, *stored[v - 1]) for v in range(1, 6001)]
    row = reader.check_integrity().collect()[0]
    assert not any(v for k, v in row.asDict().items() if k.endswith("violations"))
    assert row.density_violation == 0
    # the next fold rewrites the Snappy fold in the driver-side layout
    log.append("tail", '{"t": 1}')
    assert log.minor_compact() == 3
    (fold,) = _manifest_parquet(log)
    _assert_driver_layout(os.path.join(log.path, fold))
    check(log.scan_rows(version=1, limit=6000), range(1, 6001))


def test_compact_takes_label_bounds_from_footers(spark, tmp_path, monkeypatch):
    """``compact()`` reads no output back on the driver: each compacted
    file's entry takes its label bounds from the footer, as bulk
    ingest's do. A label past every bound still prunes all compacted
    files, and after ``compact(cluster_by="label")`` each present label
    is a candidate in a strict subset of them, with exact label pages."""
    import pyarrow.parquet as pq

    log = EventLog.create(spark, str(tmp_path / "cb"))
    log.MINOR_COMPACT_FRAGMENTS = 0
    labels = ["alpha", "beta", "delta", "gamma"]
    for i in range(64):
        log.append(labels[i % 4], json.dumps({"i": i}))
    reads = []
    read_table = pq.read_table
    monkeypatch.setattr(
        pq, "read_table", lambda *a, **k: reads.append(a) or read_table(*a, **k)
    )
    log.compact(target_partitions=2)
    assert log.label_candidate_files("zeta") == []
    log.compact(target_partitions=4, cluster_by="label")
    assert reads == []
    monkeypatch.undo()
    files = {f for f in log._manifest_files() if f.endswith(".parquet")}
    assert log.label_candidate_files("zeta") == []
    for lab in labels:
        cand = log.label_candidate_files(lab)
        assert cand and set(cand) < files, (lab, cand, files)
        assert [r.label for r in log.scan_rows(label=lab)] == [lab] * 16


def test_label_bounds_stay_exact_at_high_cardinality(spark, tmp_path):
    """A fold of 66 distinct labels carries the exact bounds of its
    rows; a label scan over it stays exact and a label past its bounds
    prunes it."""
    path = str(tmp_path / "hc")
    log = EventLog.create(spark, path)
    log.MINOR_COMPACT_FRAGMENTS = 0
    for i in range(66):
        log.append(f"m{i:03d}", json.dumps({"i": i}))
    assert log.minor_compact() == 66
    (entry,) = [
        e for e in log._manifest.entries() if e["n"].endswith("-minor.parquet")
    ]
    assert (entry["lmin"], entry["lmax"]) == ("m000", "m065")
    assert [r.label for r in log.scan(label="m005").collect()] == ["m005"]
    assert log.label_candidate_files("zzz") == []


def test_label_scan_rows_races_compaction(spark, tmp_path):
    """Snapshot isolation for the label read path: scan_rows(label=...)
    hammered from threads while minor + major compaction rewrite the
    fragment set must ALWAYS return exactly the matching rows (the log
    is static during the race, so every correct snapshot gives the
    same answer — a torn read, a vacuumed-file crash, or a pruning
    mistake would all show up as a wrong result). Readers are live, so
    vacuum keeps its default grace; grace 0 runs only once they have
    joined (vacuum's contract)."""
    import threading

    path = str(tmp_path / "lblrace")
    log = EventLog.create(spark, path)
    log.MINOR_COMPACT_FRAGMENTS = 0
    for i in range(1, 61):
        log.append(["red", "blue", "green"][i % 3], json.dumps({"i": i}))
    want = {
        lab: [v for v in range(1, 61) if ["red", "blue", "green"][v % 3] == lab]
        for lab in ("red", "blue", "green")
    }
    errors: list[str] = []
    stop = threading.Event()

    def reader(lab: str):
        try:
            while not stop.is_set():
                got = [r.version for r in log.scan_rows(label=lab)]
                if got != want[lab]:
                    errors.append(f"{lab}: {got[:5]}...{len(got)} != {len(want[lab])}")
                    return
        except Exception as e:  # a reader crash is a failure, not a warning
            errors.append(f"{lab}: {e!r}")

    threads = [
        threading.Thread(target=reader, args=(lab,), daemon=True)
        for lab in ("red", "blue", "green")
    ]
    for t in threads:
        t.start()
    try:
        log.minor_compact()
        log.compact()
        log.vacuum()  # default grace: retirees outlive the live readers
        log.minor_compact()
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert log.vacuum(grace_seconds=0) > 0  # no reader is live any more
    for lab in ("red", "blue", "green"):
        assert [r.version for r in log.scan_rows(label=lab)] == want[lab]


def test_scan_rows_snapshot_survives_compact_and_default_vacuum(
    spark, tmp_path, monkeypatch
):
    """A page read whose candidate fragments were chosen before a
    compact() and a default-grace vacuum() still returns every row:
    the retired fragments stay on disk for the grace window, so a
    reader holding the old snapshot never opens a reaped file. The
    interleaving is forced (no threads, no timing): the first fragment
    read runs both maintenance calls, and every later read opens a
    fragment the new manifest no longer names."""
    path = str(tmp_path / "snap")
    log = EventLog.create(spark, path)
    log.MINOR_COMPACT_FRAGMENTS = 0
    for i in range(1, 13):
        log.append("even" if i % 2 == 0 else "odd", json.dumps({"i": i}))
    reader = EventLog.open(spark, path)  # empty row cache: every read hits disk
    before = set(reader._manifest_files())
    read = reader._read_fragment_rows
    opened: list[str] = []

    def read_after_maintenance(entry, *args, **kwargs):
        if not opened:
            reader.compact()
            reader.vacuum()
            assert not before & set(reader._manifest_files())
        opened.append(entry["n"])
        return read(entry, *args, **kwargs)

    monkeypatch.setattr(reader, "_read_fragment_rows", read_after_maintenance)
    assert [r.version for r in reader.scan_rows()] == list(range(1, 13))
    assert len(opened) == 12 and set(opened) <= before
    assert not before & set(reader._frag_row_cache)  # retired mid-read
    monkeypatch.undo()
    assert [r.version for r in reader.scan_rows(label="even")] == list(range(2, 13, 2))


def test_compact_cluster_by_label_makes_interleaved_logs_prunable(spark, tmp_path):
    """OPTIMIZE ZORDER-style layout choice: a log whose ingest
    interleaved labels arbitrarily (worst case for label skipping —
    every fragment and every version-clustered compaction output holds
    every label) becomes exactly label-prunable after
    compact(cluster_by="label"): each output file holds a contiguous
    label range, label scans open only matching files, version scans
    stay correct on the wide-range files."""
    log = EventLog.create(spark, str(tmp_path / "zl"))
    log.MINOR_COMPACT_FRAGMENTS = 0
    labels = [f"t{i:02d}" for i in range(8)]
    for i in range(64):  # round-robin: maximal interleave
        log.append(labels[i % 8], json.dumps({"i": i}))
    log.compact(target_partitions=4, cluster_by="label")
    files = [f for f in log._manifest_files() if f.endswith(".parquet")]
    assert 1 < len(files) <= 4
    # each label's candidates are a strict subset of the files, and the
    # union over disjoint label ranges covers without overlap waste
    sizes = {lab: len(log.label_candidate_files(lab)) for lab in labels}
    assert all(1 <= s < len(files) for s in sizes.values()), sizes
    assert log.label_candidate_files("absent-label") == []
    # correctness on both read paths, label and version keyed
    for lab in ("t00", "t07"):
        got = [r.payload for r in log.scan(label=lab).collect()]
        want = [f'{{"i":{i}}}' for i in range(64) if labels[i % 8] == lab]
        assert got == want
    assert [r.version for r in log.scan_rows(version=30, limit=5)] == [30, 31, 32, 33, 34]
    assert [r.version for r in log.scan_rows()] == list(range(1, 65))
    audit = log.check_integrity().collect()[0]
    assert audit.density_violation == 0 and audit.chain_violations == 0
    # appends continue on top of the label-clustered layout
    assert log.append("t00", '{"i":64}').version == 65
    assert len(log.scan(label="t00").collect()) == 9


def test_label_layout_report_detects_interleave_and_repair(
    spark, tmp_path, monkeypatch
):
    """Round-9 verdict item 4: the layout report must DETECT an
    adversarially interleaved ingest (every page's label bounds span
    every label, so present-label passes degrade to entry-level
    walks on every page) and recommend the label-clustered rewrite —
    and must report healthy after `compact(cluster_by="label")`
    repairs the layout."""
    from eventlog_spark.manifest import ManifestLog

    monkeypatch.setattr(ManifestLog, "PAGE_ENTRIES", 8)
    monkeypatch.setattr(ManifestLog, "CHECKPOINT_EVERY", 8)
    path = str(tmp_path / "interleaved")
    log = EventLog.create(spark, path)
    labels = ["alpha", "beta", "gamma", "delta"]
    for i in range(32):  # round-robin: the worst layout for label scans
        log.append(labels[i % 4], json.dumps({"i": i}))

    report = log.label_layout_report()
    assert report["usable"] and report["pages_total"] >= 3
    assert set(report["labels_probed"]) <= set(labels)
    # every kept page holds mostly-other labels -> degraded everywhere
    assert report["mean_degraded_page_rate"] > 0.9
    assert report["recommend_cluster_by_label"] is True
    for stats in report["labels"].values():
        assert stats["pages_refuted"] == 0  # page bounds refute nothing

    log.compact(target_partitions=4, cluster_by="label")
    repaired = log.label_layout_report(labels=labels)
    assert repaired["usable"]
    assert repaired["recommend_cluster_by_label"] is False
    assert repaired["mean_degraded_page_rate"] <= 0.5
    # the clustered layout actually prunes: each label's candidate set
    # is a strict subset of the compacted files
    files_total = len(
        [f for f in log._manifest_files() if f.endswith(".parquet")]
    )
    for lab in labels:
        cand = log.label_candidate_files(lab)
        assert cand is not None and 0 < len(cand) < files_total


def test_bulk_crash_truncates_named_orphans_without_listing(
    spark, tmp_path, monkeypatch
):
    """Bulk commits stage in a private dir and rename their files in
    before the delta claim. A crash between the rename and the claim
    leaves fragments no manifest names: the next open must not list the
    directory to find them, must not serve them, must not burn their
    versions, and ``vacuum`` drops them by name."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "bulkcrash")
    log = EventLog.create(spark, path)
    log.append("pre", '{"i":0}')

    batch = spark.range(4).select(
        F.lit("bulk").alias("label"),
        F.format_string('{"i":%d}', F.col("id")).alias("payload"),
        "id",
    )
    crash = _crash_before_claim(log)  # files staged, never claimed
    with pytest.raises(crash):
        log.append_dataframe(batch, order_cols=["id"])
    orphans = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and "-part-" in f
    ]
    assert orphans, "the staged bulk fragments should be on disk"

    # the reopen reads only the manifest: a listing would explode
    real_listdir = os.listdir

    def no_data_listing(p=None):
        if p is not None and os.path.abspath(str(p)) == os.path.abspath(path):
            raise AssertionError("open after a bulk crash listed the log dir")
        return real_listdir(p) if p is not None else real_listdir()

    monkeypatch.setattr(os, "listdir", no_data_listing)
    fresh = EventLog.open(spark, path)
    monkeypatch.undo()

    assert fresh.version() == 1  # the crashed bulk never published
    r = fresh.append_dataframe(batch, order_cols=["id"])
    assert r is not None and r.version == 5  # versions were never burned
    assert [x.version for x in fresh.scan_rows()] == [1, 2, 3, 4, 5]
    assert fresh.vacuum(grace_seconds=0) == len(orphans)
    for f in orphans:
        assert not os.path.exists(os.path.join(path, f))
    assert [x.version for x in fresh.scan_rows()] == [1, 2, 3, 4, 5]


def test_half_renamed_bulk_write_publishes_nothing(spark, tmp_path, monkeypatch):
    """A bulk write whose second rename into the log fails publishes
    nothing: the file renamed before it stays an unclaimed leftover for
    vacuum, and the next append's delta names only its own fragment,
    so pages stay dense."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "halfrename")
    log = EventLog.create(spark, path)
    log.append("pre", '{"i":0}')
    batch = spark.range(0, 4, 1, numPartitions=2).select(
        F.lit("bulk").alias("label"),
        F.format_string('{"i":%d}', F.col("id")).alias("payload"),
    )
    real_rename, into_log = os.rename, []

    def failing_rename(src, dst):
        if os.path.dirname(src) != path and os.path.dirname(dst) == path:
            into_log.append(dst)
            if len(into_log) == 2:
                raise OSError("rename failed")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="rename failed"):
        log.append_dataframe(batch)
    monkeypatch.undo()
    assert os.path.exists(into_log[0])
    assert log.version() == 1
    assert log.append("next", '{"i":5}').version == 2
    assert [(r.version, r.label) for r in log.scan_rows()] == [(1, "pre"), (2, "next")]
    assert len(_manifest_parquet(log)) == 2
    assert log.vacuum(grace_seconds=0) == 1


def test_label_layout_report_bulk_and_empty_edges(spark, tmp_path, monkeypatch):
    """Edges of the layout diagnostic: (a) an EMPTY log reports usable
    with nothing to recommend; (b) a log holding only BULK fragments —
    whose entries carry footer-derived label BOUNDS — still produces a
    report with default-sampled labels drawn from those bounds, and
    never crashes on the stat shape."""
    from pyspark.sql import functions as F

    from eventlog_spark.manifest import ManifestLog

    monkeypatch.setattr(ManifestLog, "PAGE_ENTRIES", 4)
    monkeypatch.setattr(ManifestLog, "CHECKPOINT_EVERY", 4)

    path = str(tmp_path / "empty")
    log = EventLog.create(spark, path)
    rep = log.label_layout_report()
    assert rep["usable"] and rep["recommend_cluster_by_label"] is False
    assert rep["files_total"] == 0 and rep["labels_probed"] == []

    path2 = str(tmp_path / "bulkonly")
    log2 = EventLog.create(spark, path2)
    for start in range(0, 24, 4):  # 6 bulk commits -> pages roll up
        batch = spark.range(start, start + 4).select(
            F.format_string("lab%d", F.col("id") % 3).alias("label"),
            F.format_string('{"i":%d}', F.col("id")).alias("payload"),
            "id",
        )
        log2.append_dataframe(batch, order_cols=["id"])
    rep2 = log2.label_layout_report()
    assert rep2["usable"] and rep2["files_total"] > 0
    # default labels sampled from the bulk footers' bounds — real labels
    assert rep2["labels_probed"] and all(
        lab.startswith("lab") for lab in rep2["labels_probed"]
    )
    for stats in rep2["labels"].values():
        assert stats["candidate_files"] > 0  # bounds keep real candidates


def test_wide_payload_geometry_end_to_end(spark, tmp_path):
    """Near-limit payloads through the whole storage path (round-10
    verdict missing #4, the in-suite companion of
    tools/wide_payload_probe.py): appends at 64 KiB and the 1 MiB cap,
    a bulk batch of ~96 KiB distinct payloads, paged scans, a
    compaction, and the integrity audit — the page/manifest geometry
    must behave at MiB rows exactly as at 100 B rows, and every byte
    must round-trip."""
    import hashlib

    from pyspark.sql import functions as F

    from eventlog_spark.validation import DEFAULT_MAX_PAYLOAD_LEN

    def payload(size, seed):
        blocks, h = [], hashlib.sha256(str(seed).encode()).hexdigest()
        n = size - len('{"pad":""}')
        for _ in range(n // 64 + 1):
            blocks.append(h)
            h = hashlib.sha256(h.encode()).hexdigest()
        return '{"pad":"' + "".join(blocks)[:n] + '"}'

    path = str(tmp_path / "wide")
    log = EventLog.create(spark, path)
    sent = []
    for i in range(3):
        p = payload(64 * 1024, i)
        log.append("w64", p)
        sent.append(("w64", p))
    cap = payload(DEFAULT_MAX_PAYLOAD_LEN, 99)  # exactly the limit
    log.append("cap", cap)
    sent.append(("cap", cap))
    with pytest.raises(PayloadSizeLimitExceeded):
        log.append("over", payload(DEFAULT_MAX_PAYLOAD_LEN + 1, 100))

    n_rep = (96 * 1024 - len('{"pad":""}')) // 64
    batch = spark.range(6).select(
        F.lit("bulk").alias("label"),
        F.concat(
            F.lit('{"pad":"'),
            F.repeat(F.sha2(F.col("id").cast("string"), 256), n_rep),
            F.lit('"}'),
        ).alias("payload"),
        "id",
    )
    r = log.append_dataframe(batch, order_cols=["id"])
    assert r is not None and r.version == 10

    # paged serving reads return the exact bytes at every width
    rows = log.scan_rows()
    assert [(x.label, x.payload) for x in rows[:4]] == sent
    bulk_len = len('{"pad":""}') + n_rep * 64  # ~96 KiB, rounded to blocks
    assert all(len(x.payload) == bulk_len for x in rows[4:])
    page = log.scan_rows(version=4, limit=2)
    assert [x.version for x in page] == [4, 5] and page[0].payload == cap
    rev = log.scan_rows(version=10, limit=3, reverse=True)
    assert [x.version for x in rev] == [10, 9, 8]

    log.compact()
    fresh = EventLog.open(spark, path)
    rows2 = fresh.scan_rows()
    assert [(x.label, x.payload) for x in rows2[:4]] == sent  # bit-exact
    audit = fresh.check_integrity().collect()[0]
    assert audit.checksum_violations == 0
    assert audit.chain_violations == 0
    assert audit.payload_violations == 0
