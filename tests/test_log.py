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


def test_open_recovery(spark, tmp_path):
    """O21: head recovered from data when state file is lost (file.go:67-125)."""
    path = str(tmp_path / "rec")
    log = EventLog.create(spark, path)
    log.append_multi([("a", '{"x":1}'), ("b", '{"x":2}')])
    os.remove(os.path.join(path, "_state.json"))
    reopened = EventLog.open(spark, path)
    assert reopened.version() == 2
    assert reopened.version_initial() == 1
    assert [r.version for r in reopened.scan().collect()] == [1, 2]


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
    ranges = []
    for f in glob.glob(os.path.join(path, "part-*.parquet")):
        rng = EventLog._parquet_version_range(f)
        if rng:
            ranges.append(rng)
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

    def die():
        raise Crash("simulated crash before the delta claim")

    log._write_state = die
    return Crash


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
    real = versioning.with_dense_versions_streamed

    def miscounted(*a, **kw):
        b = real(*a, **kw)
        b.total += 1  # the count pass saw one row the write will not
        return b

    monkeypatch.setattr(versioning, "with_dense_versions_streamed", miscounted)
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
    assert [tuple(r) for r in fast] == [
        tuple(r) for r in log.scan(version=10, limit=10).collect()
    ]


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
        log._pending_remove.append(v3)
        log._write_state()
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
    monkeypatch.setattr(log_mod, "_version_group_stats", lambda md: None)
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
    single-label interactive commits carry exact stats (bounds +
    bloom), so candidates for one label exclude every other label's
    fragments; an absent label prunes ALL fragments; a minor-compaction
    fold keeps exact stats (bloom of the union); bulk label-batched
    appends prune via footer bounds. Correctness is re-checked after
    every mutation."""
    path = str(tmp_path / "lblprune")
    log = EventLog.create(spark, path)
    log.MINOR_COMPACT_FRAGMENTS = 0  # manual folds only
    for i in range(12):
        lab = ["alpha", "beta", "gamma"][i % 3]
        log.append(lab, json.dumps({"ix": i}))
    total = log._manifest.count()
    cand = log.label_candidate_files("alpha")
    assert len(cand) == 4, (len(cand), total)  # exactly alpha's commits
    assert log.label_candidate_files("absent") == []  # bloom prunes all
    # fold: exact stats survive as the union bloom
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
    cand = log.label_candidate_files("delta")
    assert cand and all("minor" not in f for f in cand)
    assert not any(
        f in cand for f in log.label_candidate_files("epsilon")
    )
    # absent label: the fold's bloom and the bulk bounds both prune
    assert log.label_candidate_files("zeta") == []
    # major compaction mixes labels into range-partitioned files, but
    # the OPTIMIZE job reads back each output's label column for EXACT
    # stats — an absent label still prunes every compacted fragment
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


def _assert_label_pages(log, events: list[tuple[str, str]], starts) -> None:
    """Forward and reverse label pages with limit 1, 7 and 100 from each
    start equal a pure-Python filter of the appended events."""
    stored = [(lab, minify_json(pay)) for lab, pay in events]
    for lab in ("hot", "rare"):
        for limit in (1, 7, 100):
            for start in starts:
                fwd = [v for v in range(start, len(stored) + 1) if stored[v - 1][0] == lab]
                rev = [v for v in range(start, 0, -1) if stored[v - 1][0] == lab]
                for reverse, want in ((False, fwd), (True, rev)):
                    kw = dict(version=start, label=lab, limit=limit, reverse=reverse)
                    got = [(r.version, r.label, r.payload) for r in log.scan_rows(**kw)]
                    assert got == [(v, *stored[v - 1]) for v in want[:limit]], kw


@pytest.mark.parametrize("engine", ["parquet", "inmem"])
def test_label_pages_over_multi_group_fold(tmp_path, engine):
    """Label pages read a fold of many row groups through the key-column
    probe (only the fragment's first ``limit`` matches by version are
    decoded), a 1500-row fragment of two groups, and the cached tail of
    single appends — and must equal a pure-Python filter on both
    engines."""
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
    _assert_label_pages(log, events, [1, 777, 2500, 4999, 5001, 6000, 6520, 6540])


def test_label_pages_on_label_clustered_compaction(spark, tmp_path):
    """After ``compact(cluster_by="label")`` each file is ordered by
    (label, version), not by version, and every file is larger than
    the hot-tail cache bound, so label pages go through the key-column
    probe on it; they must still equal a pure-Python filter."""
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
    # no writer orders a label's rows against version order, but the
    # probe must not rely on that: rewrite each file (same rows, so the
    # manifest stats still hold) in descending version order
    for f in files:
        full = os.path.join(log.path, f)
        tbl = pq.read_table(full)
        pq.write_table(tbl.sort_by([("version", "descending")]), full, row_group_size=700)
    _assert_label_pages(log, events, [1, 999, 2001, 3500, 4000])


def test_page_reads_decode_only_their_row_groups(tmp_path, monkeypatch):
    """Layout and decode-budget pin. A minor fold writes row groups of
    at most ROW_GROUP_ROWS rows, each with version min/max stats; a
    1000-event page over a 24k-row fold decodes at most two of them;
    and a 100-event label page reads only ``version`` and ``label``
    of its candidate groups, then decodes every column only for the
    groups holding its rows."""
    import pyarrow.parquet as pq

    from eventlog_spark.log import ROW_GROUP_ROWS, _version_group_stats

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
    stats = _version_group_stats(md)
    assert stats is not None and len(stats) == md.num_row_groups

    calls: list[tuple[list[int], list[str] | None]] = []
    read_row_groups, read = pq.ParquetFile.read_row_groups, pq.ParquetFile.read

    def spy_groups(self, row_groups, columns=None, **kw):
        calls.append((list(row_groups), columns))
        return read_row_groups(self, row_groups, columns=columns, **kw)

    def spy_read(self, *a, **kw):
        calls.append(([-1], None))
        return read(self, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy_groups)
    monkeypatch.setattr(pq.ParquetFile, "read", spy_read)

    page = log.scan_rows(version=5000, limit=1000)
    assert [r.version for r in page] == list(range(5000, 6000))
    decoded = [g for groups, _cols in calls for g in groups]
    assert len(decoded) <= 2 and sum(sizes[g] for g in decoded) <= 2 * ROW_GROUP_ROWS

    calls.clear()
    page = log.scan_rows(version=3000, label="rare", limit=100)
    want = [v for v in range(3000, 24_001) if events[v - 1][0] == "rare"][:100]
    assert [r.version for r in page] == want
    probes = [cols for _groups, cols in calls if cols is not None]
    assert probes == [["version", "label"]]
    full = sorted(g for groups, cols in calls if cols is None for g in groups)
    holding = sorted({g for g, (a, b) in enumerate(stats) for v in want if a <= v <= b})
    assert full == holding
    # the page's rows span fewer groups than its version interval does
    assert len(holding) < sum(1 for a, b in stats if b >= 3000)


def test_label_bloom_caps_at_high_cardinality(spark, tmp_path):
    """A fragment holding more distinct labels than the bloom can
    discriminate (LABEL_BLOOM_MAX_LABELS) stores bounds only — no
    saturated dead bytes — and pruning still works through the bounds
    while never losing rows."""
    from eventlog_spark.log import LABEL_BLOOM_MAX_LABELS, _label_stats_entry

    few = _label_stats_entry({f"l{i:03d}" for i in range(5)})
    assert "lb" in few and few["lmin"] == "l000"
    many = _label_stats_entry({f"l{i:03d}" for i in range(LABEL_BLOOM_MAX_LABELS + 1)})
    assert "lb" not in many
    assert many["lmin"] == "l000" and many["lmax"] == f"l{LABEL_BLOOM_MAX_LABELS:03d}"
    # end to end: a fold of >MAX distinct labels keeps exact bounds,
    # drops the bloom, and label scans stay exact
    path = str(tmp_path / "hc")
    log = EventLog.create(spark, path)
    log.MINOR_COMPACT_FRAGMENTS = 0
    for i in range(LABEL_BLOOM_MAX_LABELS + 2):
        log.append(f"m{i:03d}", json.dumps({"i": i}))
    assert log.minor_compact() == LABEL_BLOOM_MAX_LABELS + 2
    (entry,) = [
        e for e in log._manifest.entries() if e["n"].endswith("-minor.parquet")
    ]
    assert "lb" not in entry and entry["lmin"] == "m000"
    assert [r.label for r in log.scan(label="m005").collect()] == ["m005"]
    # out-of-bounds label still prunes via lmin/lmax
    assert log.label_candidate_files("zzz") == []


def test_label_scan_rows_races_compaction(spark, tmp_path):
    """Snapshot isolation for the label read path: scan_rows(label=...)
    hammered from threads while minor + major compaction rewrite the
    fragment set must ALWAYS return exactly the matching rows (the log
    is static during the race, so every correct snapshot gives the
    same answer — a torn read, a vacuumed-file crash, or a pruning
    mistake would all show up as a wrong result)."""
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
        while not stop.is_set():
            got = [r.version for r in log.scan_rows(label=lab)]
            if got != want[lab]:
                errors.append(f"{lab}: {got[:5]}...{len(got)} != {len(want[lab])}")
                return

    threads = [
        threading.Thread(target=reader, args=(lab,), daemon=True)
        for lab in ("red", "blue", "green")
    ]
    for t in threads:
        t.start()
    try:
        log.minor_compact()
        log.compact()
        log.vacuum(grace_seconds=0)  # reap retirees while readers run
        log.minor_compact()
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=30)
    assert not errors, errors
    for lab in ("red", "blue", "green"):
        assert [r.version for r in log.scan_rows(label=lab)] == want[lab]


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
    adversarially interleaved ingest (every page's label-bloom union
    holds every label, so present-label passes degrade to entry-level
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
        assert stats["pages_refuted"] == 0  # blooms can refute nothing

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


def test_label_layout_report_bulk_and_empty_edges(spark, tmp_path, monkeypatch):
    """Edges of the layout diagnostic: (a) an EMPTY log reports usable
    with nothing to recommend; (b) a log holding only BULK fragments —
    whose entries carry footer-derived label BOUNDS but no exact bloom
    — still produces a report with default-sampled labels drawn from
    those bounds, and never crashes on the stat shape."""
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
