"""Structured Streaming operators.

Reference parity: O13 subscription (eventlog/eventlog.go:277-282,
api/fasthttp/serve.go:381-463) — a subscriber learns the newest head
version after every append. Spark rendition: a source whose offset is
the log version + ``foreachBatch`` publishing ``max(version)``;
multiple appends conflate into one micro-batch, which IS the
reference's "drop-if-slow, latest-wins" delivery (broadcast.go:24-27).

Beyond parity, the streaming analytics surface the task mandates:
watermarked tumbling/sliding/session windows and within-watermark
dedup over the events stream. Each helper takes a *streaming* frame
and returns a transformed streaming frame — callers pick the sink and
trigger (tests use availableNow + memory sink for determinism).

Scale notes: all stateful ops key their state by (window, group key) —
state size ∝ active windows × keys, bounded by the watermark horizon;
``spark.sql.streaming.statestore`` backends (RocksDB on real clusters)
keep it off-heap.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from ..log import EVENT_SCHEMA, ROW_GROUP_ROWS, EventLog
from ..log import _group_stats, _page_mask, _version_slice
from ..session import ship_package


# -- log tail / subscription (O13) -------------------------------------------


class _TailReader(DataSourceStreamReader):
    """The log as a replayable source whose offset is ``{"version": n}``:
    a micro-batch is the version range (start, end], which folds,
    compactions and vacuums cannot move."""

    def __init__(self, path: str):
        self.path = path

    def initialOffset(self) -> dict:
        return {"version": 0}

    def latestOffset(self) -> dict:
        return {"version": EventLog.open(None, self.path).version()}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        """Version ranges tiling (start, end], cut at the manifest-entry
        boundaries seen now, with adjacent entries packed until a range
        holds ``ROW_GROUP_ROWS`` versions. The offsets of the earlier
        file-source tail name no version: its checkpoints cannot resume."""
        if "version" not in start or "version" not in end:
            raise RuntimeError(
                f"stream offsets {start}, {end} name no log version: the checkpoint "
                "comes from the file-source tail of an earlier release and cannot "
                "resume; start the query on a fresh checkpoint (MIGRATION.md)"
            )
        lo, hi = start["version"] + 1, end["version"]
        entries = EventLog.open(None, self.path)._manifest.overlapping(lo, hi)
        out = []
        for cut in sorted({min(e["hi"], hi) for e in entries} | {hi}):
            if cut - lo + 1 >= ROW_GROUP_ROWS or cut == hi:
                out.append(InputPartition((lo, cut)))
                lo = cut + 1
        return out

    def read(self, partition: InputPartition):
        """The range's events as Arrow batches, found through a manifest
        loaded here, as a page finds its interval, so a fold or vacuum
        since planning cannot move them. Only row groups whose version
        stats meet the range are decoded, one at a time. Dense versions
        give ``scan_rows``' check: exactly hi-lo+1 rows, or RuntimeError."""
        import pyarrow.parquet as pq

        lo, hi = partition.value
        got, cols = 0, EVENT_SCHEMA.fieldNames()
        entries = EventLog.open(None, self.path)._manifest.overlapping(lo, hi)
        for entry in sorted(entries, key=lambda e: e["lo"]):
            pf = pq.ParquetFile(os.path.join(self.path, entry["n"]))
            stats = _group_stats(pf.metadata, "version")
            for g in range(pf.metadata.num_row_groups):
                g_lo, g_hi = stats[g] if stats else (lo, hi)
                if g_hi < lo or g_lo > hi:
                    continue
                tbl = pf.read_row_group(g, columns=cols, use_threads=False)
                part = _version_slice(tbl, max(lo, g_lo), min(hi, g_hi))
                if part is None:
                    part = tbl.filter(_page_mask(tbl, lo, hi, None))
                got += part.num_rows
                yield from part.to_batches()
        if got != hi - lo + 1:
            raise RuntimeError(
                f"stream range [{lo}, {hi}] read {got} rows, expected {hi - lo + 1}"
            )


class _TailSource(DataSource):
    def schema(self):
        return EVENT_SCHEMA

    def streamReader(self, schema) -> _TailReader:
        return _TailReader(self.options["path"])


def log_tail_stream(log: EventLog) -> DataFrame:
    """Streaming view of the log: every committed event exactly once
    per checkpoint, a fresh one starting at version 1. The source reads
    up to the published head through the manifest, so a crashed or
    losing writer's fragment, which no commit names, is never
    delivered; workers read the manifest beside the data."""
    ship_package(log.spark)
    log.spark.dataSource.register(_TailSource)
    return log.spark.readStream.format(_TailSource.name()).load(log.path)


def _start(stream: DataFrame, process, checkpoint_dir: str, available_now: bool):
    """Run ``process`` on every micro-batch of ``stream``, checkpointed."""
    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    return (writer.trigger(availableNow=True) if available_now else writer).start()


def subscribe_stream(
    log: EventLog,
    on_version: Callable[[int], None],
    checkpoint_dir: str,
    available_now: bool = False,
):
    """O13 over Structured Streaming: push the newest head version per
    micro-batch. Conflation of many appends into one callback matches
    the reference's at-most-once latest-wins contract."""

    def publish(batch: DataFrame, batch_id: int) -> None:
        row = batch.agg(F.max("version").alias("v")).collect()[0]
        if row["v"] is not None:
            on_version(int(row["v"]))

    return _start(log_tail_stream(log), publish, checkpoint_dir, available_now)


def replay(log: EventLog, process: Callable[[DataFrame, int], None], checkpoint_dir: str):
    """Batch replay of the full log through the streaming machinery
    (availableNow trigger): processes all existing data as micro-batches
    then stops — the reference's catch-up-scan (client/http.go:342-429)
    expressed as a stream."""
    return _start(log_tail_stream(log), process, checkpoint_dir, True)


# -- stream-stream interval join -----------------------------------------------


def conversion_join(
    clicks: DataFrame, buys: DataFrame, horizon: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join: purchases attributed to a same-user
    click within `horizon` (strictly after the click).

    The canonical funnel/attribution operator. Both inputs are
    watermarked and the join condition bounds buy_ts to a finite range
    of click_ts, so Spark can expire state: a click is dropped from the
    join buffer once the watermark passes click_ts + horizon, a buy once
    it passes buy_ts — state is O(events inside the watermark window),
    not O(stream). Without the time bounds the state store would grow
    forever; with them this runs indefinitely on a cluster. Batch twin
    (same expressions, DuckDB-verified): operators/streamlike.py
    stream_interval_join."""
    c = clicks.withWatermark("ts", watermark).select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    b = buys.withWatermark("ts", watermark).select(
        F.col("user_id").alias("buy_user"),
        F.col("event_id").alias("buy_id"),
        F.col("ts").alias("buy_ts"),
    )
    return c.join(
        b,
        (c.user_id == b.buy_user)
        & (b.buy_ts > c.click_ts)
        & (b.buy_ts <= c.click_ts + F.expr(f"INTERVAL {horizon}")),
    ).select("user_id", "click_id", "buy_id", "click_ts", "buy_ts")


def enrich_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch probes the static dimension,
    which Spark plans as a broadcast — no state store, no watermark
    needed (the static side is re-resolvable per batch, so dim updates
    between batches are picked up). The standard shape for decorating an
    event stream with user/account attributes at any scale: the stream
    never shuffles, only the (small) dim broadcasts. Batch twin with
    oracle: operators/streamlike.py stream_static_enrich."""
    return events.join(
        F.broadcast(dim), events.user_id == dim.c_custkey
    ).select("event_id", "user_id", "event_type", "value", "ts", "c_mktsegment")


# -- watermarked windows -------------------------------------------------------


def tumbling_counts(
    events: DataFrame, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time windows with late-data cutoff."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows: merge per-user activity separated by < gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once-per-key within the watermark horizon — the streaming
    twin of dedup_exact: state holds one entry per key, expired by the
    watermark instead of growing forever."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


# -- streaming ingest (O1 streaming form) -------------------------------------


def append_stream(
    log: EventLog,
    source: DataFrame,
    checkpoint_dir: str,
    label_col: str = "label",
    payload_col: str = "payload",
    on_invalid: str = "error",
    available_now: bool = False,
    stream_id: str | None = None,
):
    """O1 as a stream: every micro-batch commits atomically through the
    engine's bulk-append path (validation, dense versions, one shared
    timestamp, checksums) — SURVEY §2.1 O1 "streaming:
    writeStream.foreachBatch(append_batch)".

    foreachBatch alone is at-least-once (a crash between the log commit
    and the checkpoint write re-delivers the batch); exactly-once comes
    from the (stream_id, batch_id) idempotence marker the engine
    publishes atomically with the head version — a replayed batch_id is
    a no-op. Each micro-batch is versioned in arrival order without a
    cache: the count job and the write job both read the batch, which
    is a replayable offset range. An empty micro-batch finds 0 rows in
    the count job and commits nothing, not even its marker, which is
    safe, since replaying it commits nothing either."""
    sid = stream_id or checkpoint_dir

    def commit(batch: DataFrame, batch_id: int) -> None:
        log.append_dataframe(
            batch,
            label_col=label_col,
            payload_col=payload_col,
            on_invalid=on_invalid,
            txn=(sid, batch_id),
        )

    return _start(source, commit, checkpoint_dir, available_now)


# -- custom stateful operator (applyInPandasWithState) ------------------------

ALERT_CENTS_SCHEMA = "user_id long, event_id long, ts timestamp, cum_cents long"
_ALERT_CENTS_STATE_SCHEMA = "cum_cents long, alerted boolean"


def threshold_alerts_cents(events: DataFrame, threshold_cents: int = 50_000) -> DataFrame:
    """Emit exactly one alert per user: the first event at which the
    user's cumulative ``cents`` reaches ``threshold_cents``.

    This is a genuinely custom stateful operator — built-in streaming
    aggregates can't express "fire once on first crossing, then stay
    silent" — so it uses ``applyInPandasWithState``: per-user state is
    a (cumulative cents, alerted) pair, Arrow-batched per micro-batch.
    Batch-verifiable twin: ``stream_threshold_alert`` in
    operators/streamlike.py (running DECIMAL sum + first crossing row).

    State is EXACT integer cents: float accumulation is deterministic
    only in arrival order, and its last-ulp drift vs the batch twin's
    DECIMAL running sum could flip a crossing decision at the boundary;
    integer cents make state, crossing test, and output bit-exact
    across engines and micro-batch splits. Callers must supply a
    ``cents`` column (``value`` cast through DECIMAL(12,2)·100
    JVM-side, the same cast the batch twin and its DuckDB oracle agree
    on). State per user is (long, bool) — O(distinct users) in the
    state store (RocksDB off-heap on a real cluster), independent of
    event volume.

    ORDERING CONTRACT (round-4 advice): rows are sorted by
    (ts, event_id) only WITHIN each micro-batch; across batches the
    operator consumes arrival order. Equivalence to the batch twin's
    global ts order therefore requires batch boundaries that respect
    event time: stream_real_stateful feeds ONE file → one batch, and
    stream_real_restart splits files BY ts, so both satisfy it. A
    multi-file source with interleaved event times (or
    maxFilesPerTrigger) would need per-user buffering in state until
    the watermark advances before emitting — the production variant
    for out-of-order arrival, not what this operator claims."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fire(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            cum, alerted = state.get
        else:
            cum, alerted = 0, False
        out = []
        # A micro-batch group arrives as MULTIPLE Arrow chunks (capped by
        # arrow.maxRecordsPerBatch) in arbitrary post-shuffle order —
        # sorting per-chunk would accumulate out of time order for large
        # groups. Materialize the group's batch, sort once; memory is
        # bounded by one user's events per micro-batch.
        chunks = [pdf for pdf in pdf_iter if not alerted]
        if chunks and not alerted:
            batch = pd.concat(chunks).sort_values(["ts", "event_id"])
            # vectorized integer running sum (int64 cumsum is exact and
            # order-preserving — identical to the per-row loop, minus
            # the Python-level iterrows cost)
            totals = cum + batch["cents"].astype("int64").cumsum()
            crossed = totals >= threshold_cents
            if crossed.any():
                pos = int(crossed.to_numpy().argmax())
                row = batch.iloc[pos]
                cum = int(totals.iloc[pos])
                out.append((user_id, int(row["event_id"]), row["ts"], cum))
                alerted = True
            elif len(batch):
                cum = int(totals.iloc[-1])
        state.update((int(cum), bool(alerted)))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "event_id", "ts", "cum_cents"]
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fire,
        outputStructType=ALERT_CENTS_SCHEMA,
        stateStructType=_ALERT_CENTS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -- stateful last-click attribution (bounded output at any skew) --------------

ATTR_SCHEMA = "buy_id long, user_id long, buy_ts timestamp, click_id long, click_ts timestamp"
_ATTR_STATE_SCHEMA = "click_id long, click_ts timestamp"


def last_click_attribution(events: DataFrame, horizon_s: int = 3600) -> DataFrame:
    """Streaming twin of ``operators/streamlike.attribution_last_click``
    — the BOUNDED-OUTPUT attribution operator the sf1z Zipf rehearsal
    motivated: each purchase attributes to the user's most recent click
    within ``horizon_s``, ≤1 output row per purchase at ANY key skew
    (the all-pairs stream-stream join's state and output are quadratic
    in a hot user's events; this keeps O(1) state per user: the latest
    (click_id, click_ts) pair).

    ``applyInPandasWithState``: per micro-batch the group's rows sort
    by (ts, purchases-before-clicks, event_id) — the same tie
    discipline as the batch twin, so a same-instant click never
    attributes — then the carried click forward-fills across the batch
    seeded with the state. Cross-batch order is the stream's arrival
    order, same contract as ``threshold_alerts_cents``. Batch equivalence is
    asserted by tests/test_streaming.py against the DuckDB-oracled
    batch query."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def attribute(key, pdf_iter, state: GroupState):
        (user_id,) = key
        c_id, c_ts = state.get if state.exists else (None, None)
        chunks = list(pdf_iter)
        if chunks:
            batch = pd.concat(chunks)
            batch["isc"] = (batch["event_type"] == "click").astype(int)
            batch = batch.sort_values(["ts", "isc", "event_id"]).reset_index(drop=True)
            # carried click, seeded with state, forward-filled in order
            cid = pd.concat(
                [pd.Series([c_id], dtype="float64"),
                 batch["event_id"].where(batch["isc"] == 1).astype("float64")],
                ignore_index=True,
            ).ffill().iloc[1:].reset_index(drop=True)
            cts = pd.concat(
                [pd.Series([c_ts], dtype=batch["ts"].dtype),
                 batch["ts"].where(batch["isc"] == 1)],
                ignore_index=True,
            ).ffill().iloc[1:].reset_index(drop=True)
            ok = (
                (batch["isc"] == 0)
                & cid.notna()
                & (batch["ts"] <= cts + pd.Timedelta(seconds=horizon_s))
            )
            if pd.notna(cid.iloc[-1] if len(cid) else None):
                c_id, c_ts = int(cid.iloc[-1]), cts.iloc[-1]
            if c_id is not None:
                state.update((int(c_id), c_ts))
            if ok.any():
                yield pd.DataFrame(
                    {
                        "buy_id": batch.loc[ok, "event_id"].astype("int64"),
                        "user_id": int(user_id),
                        "buy_ts": batch.loc[ok, "ts"],
                        "click_id": cid[ok].astype("int64"),
                        "click_ts": cts[ok],
                    }
                )

    relevant = events.where(F.col("event_type").isin("click", "purchase")).select(
        "user_id", "event_id", "event_type", "ts"
    )
    return relevant.groupBy("user_id").applyInPandasWithState(
        attribute,
        outputStructType=ATTR_SCHEMA,
        stateStructType=_ATTR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
