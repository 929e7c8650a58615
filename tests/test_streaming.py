"""True Structured Streaming execution: tail/subscribe, replay,
multi-batch watermarked dedup. (Window-assignment correctness is
oracle-checked in batch via operators/streamlike.py — same expressions.)"""

from __future__ import annotations

import threading
import time
import pytest

from pyspark.sql import functions as F
from pyspark.sql.datasource import InputPartition

from eventlog_spark.log import EVENT_SCHEMA, EventLog
from eventlog_spark.streaming import streams


def _await(q, timeout=60):
    q.awaitTermination(timeout)
    q.stop()


def test_subscribe_stream_latest_wins(spark, tmp_path):
    """O13 via readStream+foreachBatch: subscriber sees the newest head;
    multiple appends conflate into one callback (latest-wins)."""
    log = EventLog.create(spark, str(tmp_path / "log"))
    log.append("a", '{"x":1}')
    log.append_multi([("b", '{"x":2}'), ("c", '{"x":3}')])
    seen: list[int] = []
    q = streams.subscribe_stream(
        log, seen.append, str(tmp_path / "ckpt"), available_now=True
    )
    _await(q)
    assert seen, "subscriber never notified"
    assert seen[-1] == 3  # newest head wins


def test_replay_processes_whole_log(spark, tmp_path):
    log = EventLog.create(spark, str(tmp_path / "log"))
    log.append_multi([(f"e{i}", f'{{"i":{i}}}') for i in range(25)])
    got: list[int] = []

    def process(batch, _bid):
        got.extend(r.version for r in batch.collect())

    q = streams.replay(log, process, str(tmp_path / "ckpt"))
    _await(q)
    assert sorted(got) == list(range(1, 26))

    # incremental: a second replay from the same checkpoint sees ONLY new data
    log.append("late", '{"x":99}')
    got2: list[int] = []
    q2 = streams.replay(log, lambda b, _:
                        got2.extend(r.version for r in b.collect()), str(tmp_path / "ckpt"))
    _await(q2)
    assert got2 == [26]


def test_dedup_within_watermark_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate key arriving in a later
    micro-batch (within the watermark) is dropped — state survives the
    checkpoint restart."""
    src = str(tmp_path / "src")
    out: list = []

    def run():
        stream = spark.readStream.schema("event_id long, ts timestamp, v string").parquet(src)
        deduped = streams.dedup_within_watermark(stream, watermark="1 hour")
        q = (
            deduped.writeStream.foreachBatch(lambda b, _: out.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    base = "2024-01-01 10:{m:02d}:00"
    spark.createDataFrame(
        [(1, base.format(m=0), "a"), (2, base.format(m=1), "b")],
        "event_id long, ts string, v string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("append").parquet(src)
    run()
    assert sorted(r.event_id for r in out) == [1, 2]

    # batch 2: one duplicate (id=2) + one new (id=3)
    spark.createDataFrame(
        [(2, base.format(m=2), "b-dup"), (3, base.format(m=3), "c")],
        "event_id long, ts string, v string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("append").parquet(src)
    out.clear()
    run()
    assert sorted(r.event_id for r in out) == [3], f"duplicate leaked: {out}"


def test_append_stream_ingests_into_log(spark, tmp_path):
    """O1 streaming form: a parquet stream commits through the engine's
    bulk-append path per micro-batch — versions stay dense across
    batches and a checkpointed restart ingests only new data."""
    src = str(tmp_path / "src")
    log = EventLog.create(spark, str(tmp_path / "log"))

    def feed(rows):
        spark.createDataFrame(rows, "label string, payload string").write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema("label string, payload string").parquet(src)
        q = streams.append_stream(
            log, stream, str(tmp_path / "ckpt"), available_now=True
        )
        _await(q)

    feed([("a", '{"i":1}'), ("b", '{"i":2}')])
    run()
    assert log.version() == 2

    feed([("c", '{"i":3}')])
    run()
    assert log.version() == 3  # only the new batch was ingested

    # exactly-once: re-delivering an already-committed batch_id is a no-op
    replay = spark.createDataFrame(
        [("a", '{"i":1}'), ("b", '{"i":2}')], "label string, payload string"
    )
    assert log.append_dataframe(replay, txn=(str(tmp_path / "ckpt"), 0)) is None
    assert log.version() == 3
    got = log.scan().orderBy("version").collect()
    assert [r.version for r in got] == [1, 2, 3]
    assert {r.label for r in got} == {"a", "b", "c"}
    assert log.check_integrity().collect()[0].asDict() == {
        "checksum_violations": 0,
        "chain_violations": 0,
        "payload_violations": 0,
        "label_violations": 0,
        "density_violation": 0,
        "ts_order_violations": 0,
    }


def test_threshold_alerts_stateful_across_batches(spark, tmp_path, sf_dir):
    """applyInPandasWithState: per-user cumulative state survives
    micro-batch boundaries, each user alerts at most once, and the
    crossing events match the batch-twin window query on the full data."""
    from eventlog_spark.queries import REGISTRY, _ensure_loaded
    from eventlog_spark.tables import load_table

    _ensure_loaded()
    events = load_table(spark, sf_dir, "events")
    # split by event-time so batch order == time order (stream contract)
    cut = events.selectExpr("percentile(unix_timestamp(ts), 0.5) AS c").collect()[0]["c"]
    src = str(tmp_path / "src")
    events.where(F.unix_timestamp("ts") <= cut).write.mode("append").parquet(src)

    alerts: list = []

    def run():
        stream = spark.readStream.schema(events.schema).parquet(src).select(
            "user_id",
            "event_id",
            "ts",
            (F.col("value").cast("decimal(12,2)") * 100).cast("long").alias("cents"),
        )
        q = (
            streams.threshold_alerts_cents(stream, threshold_cents=50_000)
            .writeStream.outputMode("append")
            .foreachBatch(lambda b, _: alerts.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q, timeout=120)

    run()
    events.where(F.unix_timestamp("ts") > cut).write.mode("append").parquet(src)
    run()

    got = {(r.user_id, r.event_id, r.cum_cents) for r in alerts}
    assert len(got) == len(alerts), "duplicate alert for a user"
    expect = {
        (r.user_id, r.event_id, round(r.cum_value * 100))
        for r in REGISTRY["stream_threshold_alert"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_tumbling_counts_streaming_matches_batch(spark, tmp_path, sf_dir):
    """The streaming aggregation (complete mode over availableNow) must
    equal the batch computation over the same data."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(0)  # schema only
    src = str(tmp_path / "src")
    from eventlog_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    events.write.mode("append").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = streams.tumbling_counts(stream, width="1 hour", watermark="2 hours")
    results: dict = {}

    def capture(batch, _bid):
        for r in batch.collect():
            results[(r.window_start, r.event_type)] = r.n

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(capture)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q, timeout=120)

    batch_expect = {
        (r.window_start, r.event_type): r.n
        for r in streams.tumbling_counts(events.withColumn("ts", F.col("ts")), "1 hour", "2 hours")
        .collect()
    }
    assert results == batch_expect


def test_enrich_stream_matches_batch(spark, tmp_path, sf_dir):
    """Stream-static broadcast join: the streamed enrichment aggregated
    per segment must equal the batch twin's totals."""
    from eventlog_spark.tables import load_table
    from eventlog_spark.queries import REGISTRY

    events = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    src = str(tmp_path / "src")
    events.write.mode("append").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    enriched = streams.enrich_stream(stream, dim)
    agg = {}

    def capture(batch, _bid):
        for r in batch.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("s"),
        ).collect():
            n, s = agg.get(r.c_mktsegment, (0, 0))
            agg[r.c_mktsegment] = (n + r.n, s + r.s)

    q = (
        enriched.writeStream.outputMode("append")
        .foreachBatch(capture)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q, timeout=120)

    expect = {
        r.c_mktsegment: (r.n_events, r.sum_value)
        for r in REGISTRY["stream_static_enrich"].fn(spark, sf_dir).collect()
    }
    # the batch twin canonicalizes its final decimal to double; the
    # stream side accumulated exact decimals — compare as doubles
    got = {k: (n, float(s)) for k, (n, s) in agg.items()}
    assert got == expect and len(got) > 0


def test_conversion_join_streaming_matches_batch(spark, tmp_path, sf_dir):
    """Stream-stream interval join (two watermarked sources, bounded
    state) must emit exactly the batch twin's click→purchase pairs."""
    from eventlog_spark.tables import load_table
    from eventlog_spark.operators.streamlike import stream_interval_join

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    events.write.mode("append").parquet(src)

    def stream_of(etype):
        return (
            spark.readStream.schema(events.schema)
            .parquet(src)
            .where(F.col("event_type") == etype)
        )

    joined = streams.conversion_join(stream_of("click"), stream_of("purchase"))
    got = set()

    def capture(batch, _bid):
        for r in batch.collect():
            got.add((r.user_id, r.click_id, r.buy_id))

    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(capture)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q, timeout=120)

    expect = {
        (r.user_id, r.click_id, r.buy_id)
        for r in stream_interval_join(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) > 0


def _tail_versions(log, ckpt: str) -> list[int]:
    got: list[int] = []
    q = (
        streams.log_tail_stream(log)
        .writeStream.foreachBatch(lambda b, _: got.extend(r.version for r in b.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await(q, timeout=120)
    return sorted(got)


def test_tail_stream_skips_uncommitted_orphans(spark, tmp_path):
    """Post-crash orphan rows (fragment written, delta never claimed)
    must NOT be delivered to subscribers as if committed — the stream
    enforces the same snapshot-isolation contract as the batch readers."""
    log = EventLog.create(spark, str(tmp_path / "log"))
    log.append_multi([("a", '{"x":1}'), ("b", '{"x":2}')])

    def crash(*_):
        raise RuntimeError("simulated crash before the delta claim")

    log._publish = crash  # versions 3-4 written, never claimed
    with pytest.raises(RuntimeError, match="simulated crash"):
        log.append_multi([("c", '{"x":3}'), ("d", '{"x":4}')])
    del log.__dict__["_publish"]
    assert _tail_versions(log, str(tmp_path / "ckpt")) == [1, 2]  # 3-4 withheld


def test_tail_stream_skips_unclaimed_loser_fragment(spark, tmp_path):
    """A losing writer's fragment holds a ``part-*`` name, with versions
    the winner owns (≤ the head), until its writer discards it. The
    tail must deliver only fragments the manifest published, so the
    loser's rows never show up as a second copy of committed versions."""
    log = EventLog.create(spark, str(tmp_path / "log"))
    log.append_multi([("a", '{"x":1}'), ("b", '{"x":2}')])
    # a loser's fragment: written, its delta never claimed
    log._write_fragment([(1, 0, 1, "loser", '{"x":9}'), (2, 1, 1, "loser", '{"x":9}')])
    assert log.version() == 2
    assert _tail_versions(log, str(tmp_path / "ckpt")) == [1, 2]


def test_stream_real_availablenow_matches_batch_twin(spark, sf_dir):
    """The driver-visible REAL streaming query (readStream → watermarked
    tumbling agg → availableNow → foreachBatch parquet sink) must
    produce exactly the batch twin's rows; the source is asserted
    isStreaming inside the query body itself."""
    from eventlog_spark.operators.streamlike import (
        stream_real_availablenow,
        stream_tumbling_window,
    )

    got = {
        (r.window_start, r.event_type): (r.n, float(r.sum_value))
        for r in stream_real_availablenow(spark, sf_dir).collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n, float(r.sum_value))
        for r in stream_tumbling_window(spark, sf_dir).collect()
    }
    assert got == want
    assert got, "streaming run produced no windows"


def test_stream_real_stateful_matches_batch_twin(spark, sf_dir):
    """The real applyInPandasWithState run (integer-cent state,
    availableNow, foreachBatch sink) fires exactly the batch twin's
    alerts with bit-equal cumulative values."""
    from eventlog_spark.operators.streamlike import (
        stream_real_stateful,
        stream_threshold_alert,
    )

    got = {
        (r.user_id, r.event_id): float(r.cum_value)
        for r in stream_real_stateful(spark, sf_dir).collect()
    }
    want = {
        (r.user_id, r.event_id): float(r.cum_value)
        for r in stream_threshold_alert(spark, sf_dir).collect()
    }
    assert got == want
    assert got, "stateful run produced no alerts"


def test_stream_restart_recovers_state_and_reads_only_delta(spark, sf_dir):
    """Round-4 verdict item 6: two availableNow runs over a SHARED
    checkpoint. The assertions pin the two recovery properties:

    * delta-only reprocessing — every alert fired in run 1 has a
      crossing event before the cutoff, and NO alert is duplicated
      (a replay of run-1 files in run 2 would re-fire alerts with
      fresh state);
    * state survival — run-2 alerts whose cumulative includes run-1
      events carry the globally-correct cum_value (checked against the
      batch twin), which is impossible if the state store restarted
      empty."""
    from eventlog_spark.operators.streamlike import (
        _RESTART_CUTOFF,
        stream_real_restart,
        stream_threshold_alert,
    )

    rows = stream_real_restart(spark, sf_dir).collect()
    assert rows, "restart run produced no alerts"
    # exactly one alert per user across both runs
    users = [r.user_id for r in rows]
    assert len(users) == len(set(users)), "restart re-fired an alert"
    runs = {r.run_id for r in rows}
    assert runs == {1, 2}, f"both runs must contribute alerts, got {runs}"
    import datetime

    cutoff = datetime.datetime.fromisoformat(_RESTART_CUTOFF)
    for r in rows:
        assert (r.ts < cutoff) == (r.run_id == 1), (
            f"user {r.user_id}: crossing at {r.ts} tagged run {r.run_id}"
        )
    # cum_values equal the batch twin's global running-sum truth
    got = {(r.user_id, r.event_id): float(r.cum_value) for r in rows}
    want = {
        (r.user_id, r.event_id): float(r.cum_value)
        for r in stream_threshold_alert(spark, sf_dir).collect()
    }
    assert got == want


def test_tail_stream_unaffected_by_compaction(spark, tmp_path):
    """The tail's offset is a log version, so a compaction — which
    rewrites all history into ``compact-*`` files and retires the
    fragments into the vacuum ledger — neither re-delivers compacted
    rows nor breaks an in-flight tail. Sequence: tail drains 1-3,
    compact, append 4-5, drain again → exactly 4-5, once."""
    log = EventLog.create(spark, str(tmp_path / "log"))
    log.append_multi([("a", '{"x":1}'), ("b", '{"x":2}'), ("c", '{"x":3}')])

    got: list[int] = []

    def drain():
        q = (
            streams.log_tail_stream(log)
            .writeStream.foreachBatch(
                lambda b, _: got.extend(r.version for r in b.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q, timeout=120)

    drain()
    assert sorted(got) == [1, 2, 3]
    log.compact(target_partitions=1)
    log.append_multi([("d", '{"x":4}'), ("e", '{"x":5}')])
    drain()
    # compacted history NOT re-delivered; the two new fragments are
    assert sorted(got) == [1, 2, 3, 4, 5]
    # and vacuuming the retired fragments doesn't disturb a later drain
    log.vacuum(grace_seconds=0)
    log.append("f", '{"x":6}')
    drain()
    assert sorted(got) == [1, 2, 3, 4, 5, 6]


def test_tail_stream_across_minor_compaction(spark, tmp_path):
    """Minor compaction (log.py:minor_compact) folds fragments the
    tail stream may NOT have processed yet — unlike the major-
    compaction test above, where history was drained first. The tail
    reads the undelivered versions from the fold the manifest now
    names, exactly once: a version range does not move when the files
    holding it are rewritten."""
    log = EventLog.create(spark, str(tmp_path / "log"))
    log.append_multi([("a", '{"x":1}'), ("b", '{"x":2}'), ("c", '{"x":3}')])

    got: list[int] = []

    def drain():
        q = (
            streams.log_tail_stream(log)
            .writeStream.foreachBatch(
                lambda b, _: got.extend(r.version for r in b.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q, timeout=120)

    drain()
    assert sorted(got) == [1, 2, 3]
    # events 4-5 land, then are folded BEFORE the stream sees them
    log.append("d", '{"x":4}')
    log.append("e", '{"x":5}')
    assert log.minor_compact() >= 2
    manifest = [f for f in log._manifest_files() if f.endswith(".parquet")]
    assert all(f.startswith("compact-") for f in manifest)
    drain()
    # delivered exactly once, from the retired-but-on-disk fragments
    assert sorted(got) == [1, 2, 3, 4, 5]
    log.vacuum(grace_seconds=0)
    log.append("f", '{"x":6}')
    drain()
    assert sorted(got) == [1, 2, 3, 4, 5, 6]



def test_tail_stream_delivers_folded_then_vacuumed_events(spark, tmp_path):
    """Events the tail has not delivered yet, folded and then vacuumed
    before the next drain, are read from the fold: the second drain
    delivers exactly 4-6."""
    log = EventLog.create(spark, str(tmp_path / "log"))
    log.append_multi([("a", '{"x":1}'), ("b", '{"x":2}'), ("c", '{"x":3}')])
    ckpt = str(tmp_path / "ckpt")
    assert _tail_versions(log, ckpt) == [1, 2, 3]
    log.append("d", '{"x":4}')
    log.append("e", '{"x":5}')
    assert log.minor_compact() >= 2
    log.vacuum(grace_seconds=0)
    log.append("f", '{"x":6}')
    assert _tail_versions(log, ckpt) == [4, 5, 6]


def test_replay_reads_folded_and_vacuumed_history(spark, tmp_path):
    """``replay`` serves the whole log, not just its unfolded tail."""
    log = EventLog.create(spark, str(tmp_path / "log"))
    for i in range(1, 6):
        log.append("e", f'{{"i":{i}}}')
    assert log.minor_compact() == 5
    log.vacuum(grace_seconds=0)
    log.append("e", '{"i":6}')
    got: list[int] = []
    q = streams.replay(
        log, lambda b, _: got.extend(r.version for r in b.collect()), str(tmp_path / "ckpt")
    )
    _await(q, timeout=120)
    assert sorted(got) == [1, 2, 3, 4, 5, 6]


def test_replay_over_label_clustered_compaction(spark, tmp_path):
    """After ``compact(cluster_by="label")`` every file's version range
    spans the log and no row group is a dense version run: the ranges
    still tile the log and each read filters its rows out of every
    file."""
    log = EventLog.create(spark, str(tmp_path / "log"))
    log.append_multi([("xyz"[i % 3], f'{{"i":{i}}}') for i in range(3000)])
    log.compact(target_partitions=3, cluster_by="label")
    log.append("w", '{"i":-1}')
    got: list[int] = []
    q = streams.replay(
        log, lambda b, _: got.extend(r.version for r in b.collect()), str(tmp_path / "ckpt")
    )
    _await(q, timeout=120)
    assert sorted(got) == list(range(1, 3002))


def test_tail_stream_refuses_file_source_checkpoint(spark, tmp_path):
    """A query checkpoint of the earlier file-source tail holds file-log
    offsets, which name no version: the tail refuses it and says why,
    instead of failing on a missing key."""
    log = EventLog.create(spark, str(tmp_path / "log"))
    log.append_multi([("a", '{"x":1}'), ("b", '{"x":2}')])
    ckpt = str(tmp_path / "ckpt")
    old = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(log.path)
        .writeStream.foreachBatch(lambda b, _: None)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await(old, timeout=120)
    log.append("c", '{"x":3}')
    with pytest.raises(Exception) as err:
        _tail_versions(log, ckpt)
    assert "file-source tail" in str(err.value)
    assert "MIGRATION.md" in str(err.value)


def test_tail_stream_exactly_once_under_concurrent_writes(spark, tmp_path):
    """A live tail under a short processing-time trigger, while a writer
    thread appends and folds half way, delivers every version from 1
    to the head exactly once."""
    log = EventLog.create(spark, str(tmp_path / "log"))
    got: list[int] = []
    q = (
        streams.log_tail_stream(log)
        .writeStream.foreachBatch(lambda b, _: got.extend(r.version for r in b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    n = 300

    def write():
        for i in range(n):
            log.append("w", f'{{"i":{i}}}')
            if i == n // 2:
                assert log.minor_compact() >= 2

    writer = threading.Thread(target=write)
    try:
        writer.start()
        writer.join(timeout=120)
        assert not writer.is_alive() and log.version() == n
        deadline = time.monotonic() + 120
        while len(got) < n and q.exception() is None and time.monotonic() < deadline:
            time.sleep(0.2)
    finally:
        q.stop()
    assert q.exception() is None
    assert sorted(got) == list(range(1, n + 1))


def test_tail_partitions_cut_at_entries_pack_small_and_tile(tmp_path):
    """The source plans version ranges that tile (start, end] exactly,
    end only at manifest-entry boundaries, and pack adjacent small
    entries until a range holds ROW_GROUP_ROWS versions; each range
    reads back densely."""
    log = EventLog.create(None, str(tmp_path / "log"))
    for _ in range(3):
        log.append_multi([("f", '{"x":1}')] * 1000)
    assert log.minor_compact() == 3  # one fold over 1..3000
    for _ in range(5):
        log.append("s", '{"x":2}')  # 3001..3005, a fragment each
    log.append_multi([("m", '{"x":3}')] * 1500)  # 3006..4505
    for _ in range(3):
        log.append("t", '{"x":4}')  # 4506..4508
    reader = streams._TailSource({"path": log.path}).streamReader(EVENT_SCHEMA)
    bounds = {e["hi"] for e in log._manifest.entries()}
    assert 3000 in bounds and 4505 in bounds

    def ranges(start, end):
        parts = reader.partitions({"version": start}, {"version": end})
        return [p.value for p in parts]

    assert ranges(0, 4508) == [(1, 3000), (3001, 4505), (4506, 4508)]
    assert ranges(1500, 3003) == [(1501, 3000), (3001, 3003)]
    assert ranges(2990, 4508) == [(2991, 4505), (4506, 4508)]
    for start, end in [(0, 4508), (1500, 3003), (2990, 4508), (3001, 3004), (7, 8)]:
        got = ranges(start, end)
        assert got[0][0] == start + 1 and got[-1][1] == end
        assert all(a[1] + 1 == b[0] for a, b in zip(got, got[1:]))
        assert all(hi in bounds or hi == end for _, hi in got)
        for lo, hi in got:
            batches = list(reader.read(InputPartition((lo, hi))))
            versions = [v for b in batches for v in b.column("version").to_pylist()]
            assert versions == list(range(lo, hi + 1))
            assert all(b.schema.names == EVENT_SCHEMA.fieldNames() for b in batches)
    with pytest.raises(RuntimeError, match="expected 2"):
        list(reader.read(InputPartition((4508, 4509))))

_INGEST_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
log_path, src, ckpt = sys.argv[2], sys.argv[3], sys.argv[4]
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from eventlog_spark.log import EventLog
from eventlog_spark.streaming import streams

log = EventLog.open(spark, log_path)
stream = (
    spark.readStream.schema("label string, payload string")
    .option("maxFilesPerTrigger", 1)  # one source file per micro-batch
    .parquet(src)
)
q = streams.append_stream(
    log, stream, ckpt, available_now=True, stream_id="crash-ingest"
)
q.awaitTermination(300)
print("INGEST_DONE", flush=True)
spark.stop()
"""


def test_append_stream_kill9_mid_batch_recovers_exactly_once(spark, tmp_path):
    """r7 verdict item 5: the 560k events/s streaming-ingest rehearsal's
    last untested claim. A WRITER PROCESS is SIGKILLed mid-run (between
    micro-batch commits — every crash window is fair game: fragment
    written/delta unclaimed → invisible orphan; log committed/
    checkpoint offset unwritten → batch replay deduped by the
    (stream_id, batch_id) marker). A fresh process restarts from the
    same checkpoint and must land every event EXACTLY ONCE: dense
    versions, distinct labels, clean integrity audit."""
    import json as _json
    import os as _os
    import signal
    import subprocess
    import sys

    path = str(tmp_path / "log")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    EventLog.create(spark, path)
    n_files, rows_per = 12, 200
    for fi in range(n_files):
        spark.createDataFrame(
            [(f"f{fi}-r{r}", _json.dumps({"f": fi, "r": r})) for r in range(rows_per)],
            "label string, payload string",
        ).coalesce(1).write.mode("append").parquet(src)
    total = n_files * rows_per

    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    args = [sys.executable, "-c", _INGEST_SCRIPT, repo, path, src, ckpt]

    # run 1: kill -9 the whole process group once ~a third has landed
    p = subprocess.Popen(
        args, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,
    )
    deadline = time.time() + 240
    killed = False
    while time.time() < deadline:
        head = EventLog.open(None, path).version()
        if head >= total // 3:
            _os.killpg(p.pid, signal.SIGKILL)  # no goodbye: JVM + driver
            killed = True
            break
        if p.poll() is not None:  # finished before we could kill it
            break
        time.sleep(0.02)
    p.wait(timeout=60)
    assert killed, "writer finished before the kill window — slow the source"

    # run 2: fresh process, same checkpoint — finish the ingest
    out = subprocess.run(
        args, capture_output=True, text=True, timeout=360
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "INGEST_DONE" in out.stdout

    # exactly-once across the crash: every event landed exactly once
    recovered = EventLog.open(spark, path)
    assert recovered.version() == total
    rows = recovered.scan().collect()
    assert len(rows) == total
    assert len({r.label for r in rows}) == total
    assert [r.version for r in sorted(rows, key=lambda r: r.version)] == list(
        range(1, total + 1)
    )
    audit = recovered.check_integrity().collect()[0]
    assert audit.checksum_violations == 0
    assert audit.chain_violations == 0
    assert audit.density_violation == 0


def test_last_click_attribution_stateful_matches_batch(spark, tmp_path, sf_dir):
    """The streaming bounded-output attribution (O(1) state per user:
    the latest click) must equal the DuckDB-oracled batch twin across a
    micro-batch boundary — per-user carried-click state survives the
    restart, ties break identically, and every purchase appears at most
    once."""
    from eventlog_spark.queries import REGISTRY, _ensure_loaded
    from eventlog_spark.tables import load_table

    _ensure_loaded()
    events = load_table(spark, sf_dir, "events")
    cut = events.selectExpr("percentile(unix_timestamp(ts), 0.5) AS c").collect()[0]["c"]
    src = str(tmp_path / "src")
    events.where(F.unix_timestamp("ts") <= cut).write.mode("append").parquet(src)

    rows: list = []

    def run():
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = (
            streams.last_click_attribution(stream)
            .writeStream.outputMode("append")
            .foreachBatch(lambda b, _: rows.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q, timeout=120)

    run()
    events.where(F.unix_timestamp("ts") > cut).write.mode("append").parquet(src)
    run()

    got = {
        (r.buy_id, r.user_id, r.buy_ts, r.click_id, r.click_ts) for r in rows
    }
    assert len(got) == len(rows), "a purchase attributed twice"
    expect = {
        (r.buy_id, r.user_id, r.buy_ts, r.click_id, r.click_ts)
        for r in REGISTRY["attribution_last_click"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    assert got, "no attributions produced"
