"""Structured Streaming operators.

Reference parity: O13 subscription (eventlog/eventlog.go:277-282,
api/fasthttp/serve.go:381-463) — a subscriber learns the newest head
version after every append. Spark rendition: ``readStream`` over the
log directory + ``foreachBatch`` publishing ``max(version)``; multiple
appends conflate into one micro-batch, which IS the reference's
"drop-if-slow, latest-wins" delivery (broadcast.go:24-27).

Beyond parity, the streaming analytics surface the task mandates:
watermarked tumbling/sliding/session windows and within-watermark
dedup over the events stream. Each helper takes a *streaming* frame
and returns a transformed streaming frame — callers pick the sink and
trigger (tests use availableNow + memory sink for determinism).

Scale notes: all stateful ops key their state by (window, group key) —
state size ∝ active windows × keys, bounded by the watermark horizon;
``spark.sql.streaming.statestore`` backends (RocksDB on real clusters)
keep it off-heap. File-source streams at 100 TB use
``maxFilesPerTrigger`` to bound micro-batch size.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..log import EVENT_SCHEMA, EventLog


# -- log tail / subscription (O13) -------------------------------------------


def log_tail_stream(
    log: EventLog, committed_only: bool = True, commit_wait: float = 5.0
) -> DataFrame:
    """Streaming view of the log: every committed fragment becomes part
    of a micro-batch exactly once.

    ``committed_only`` (default): each micro-batch keeps only rows whose
    fragment a commit PUBLISHED (``EventLog.published_files``, read AT
    TASK EXECUTION TIME), so a crashed writer's fragment and a losing
    writer's fragment — which holds a ``part-*`` name, with versions the
    winner owns, until its writer discards it — are never delivered as
    if committed; the same snapshot-isolation contract the batch readers
    enforce. A fragment not yet published gets a bounded wait
    (``commit_wait`` seconds): a live writer claims its delta
    milliseconds after the rename, so in-flight commits pass; a crash
    fragment never commits and is dropped, and a discarded loser's file
    is gone, which drops it at once. The manifest lives next to the
    data, so executors can read it wherever the log directory is
    reachable (local FS here, shared storage on a cluster)."""
    # pathGlobFilter pins the stream to append fragments (``part-*``):
    # a compaction rewrites history into ``compact-*`` files, and without
    # the glob the file-stream source would discover those as NEW files
    # and re-deliver every compacted row. With it, compaction is
    # invisible to a live tail (fragments it retires stay on disk for
    # the vacuum grace window, log.py:compact, so an in-flight batch
    # still reads them). A tail started AFTER a compaction begins at the
    # surviving fragments — it is a tail, not a replay; use scan() for
    # history. ignoreMissingFiles: a loser's fragment may be listed and
    # then discarded before its task reads it.
    raw = (
        log.spark.readStream.schema(EVENT_SCHEMA)
        .option("pathGlobFilter", "part-*")
        .option("ignoreMissingFiles", "true")
        .parquet(log.path)
    )
    if not committed_only:
        return raw
    log_path = log.path
    cols = [f.name for f in EVENT_SCHEMA.fields]

    def _filter_published(batches):
        import time as _time

        reader = None
        published: set[str] = set()
        for pdf in batches:
            names = set(pdf["_file"].unique())
            pending = names - published
            deadline = _time.monotonic() + commit_wait
            while pending:
                if reader is None:
                    reader = EventLog.open(None, log_path)
                published = reader.published_files()
                pending = {
                    n
                    for n in pending - published
                    if os.path.exists(os.path.join(log_path, n))
                }
                if not pending or _time.monotonic() >= deadline:
                    break
                _time.sleep(0.05)
            yield pdf[pdf["_file"].isin(published)][cols]

    return raw.select("*", F.col("_metadata.file_name").alias("_file")).mapInPandas(
        _filter_published, EVENT_SCHEMA
    )


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

    writer = (
        log_tail_stream(log)
        .writeStream.foreachBatch(publish)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def replay(log: EventLog, process: Callable[[DataFrame, int], None], checkpoint_dir: str):
    """Batch replay of the full log through the streaming machinery
    (availableNow trigger): processes all existing data as micro-batches
    then stops — the reference's catch-up-scan (client/http.go:342-429)
    expressed as a stream."""
    return (
        log_tail_stream(log)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


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
    a no-op. ``spread=False``: micro-batches are small; a per-commit
    32-way shuffle would be pure overhead (log.py)."""
    sid = stream_id or checkpoint_dir

    def commit(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        log.append_dataframe(
            batch,
            label_col=label_col,
            payload_col=payload_col,
            on_invalid=on_invalid,
            spread=False,
            txn=(sid, batch_id),
        )

    writer = (
        source.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# -- custom stateful operator (applyInPandasWithState) ------------------------

ALERT_SCHEMA = "user_id long, event_id long, ts timestamp, cum_value double"
_ALERT_STATE_SCHEMA = "cum double, alerted boolean"


def threshold_alerts(events: DataFrame, threshold: float = 500.0) -> DataFrame:
    """Emit exactly one alert per user: the first event at which the
    user's cumulative ``value`` reaches ``threshold``.

    This is a genuinely custom stateful operator — built-in streaming
    aggregates can't express "fire once on first crossing, then stay
    silent" — so it uses ``applyInPandasWithState``: per-user state is
    a (cumulative_sum, alerted) pair, Arrow-batched per micro-batch.
    Batch-verifiable twin: ``stream_threshold_alert`` in
    operators/streamlike.py (running-sum window + first crossing row).

    Scale: state is two scalars per user — O(distinct users) bytes in
    the state store (RocksDB off-heap on a real cluster), independent of
    event volume. Rows are processed in (ts, event_id) order *within*
    each micro-batch; cross-batch order is the stream's arrival order,
    same as the reference log's append order.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fire(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            cum, alerted = state.get
        else:
            cum, alerted = 0.0, False
        out = []
        # A micro-batch group arrives as MULTIPLE Arrow chunks (capped by
        # arrow.maxRecordsPerBatch) in arbitrary post-shuffle order —
        # sorting per-chunk would accumulate out of time order for large
        # groups. Materialize the group's batch, sort once; memory is
        # bounded by one user's events per micro-batch.
        chunks = [pdf for pdf in pdf_iter if not alerted]
        if chunks and not alerted:
            batch = pd.concat(chunks).sort_values(["ts", "event_id"])
            # vectorized running sum, SEEDED with the carried-over state:
            # cumsum over [cum, v1, v2, ...] replays the row-at-a-time
            # fold ((cum+v1)+v2)+... exactly. `cum + values.cumsum()`
            # would instead compute cum+(v1+v2+...) — float addition is
            # non-associative, so with nonzero carried state a near-tie
            # crossing could flip across micro-batches (round-5 advice).
            totals = (
                pd.concat(
                    [pd.Series([cum]), batch["value"].astype(float)],
                    ignore_index=True,
                )
                .cumsum()
                .iloc[1:]
                .reset_index(drop=True)
            )
            crossed = totals >= threshold
            if crossed.any():
                pos = int(crossed.to_numpy().argmax())
                row = batch.iloc[pos]
                cum = float(totals.iloc[pos])
                out.append((user_id, int(row["event_id"]), row["ts"], cum))
                alerted = True
            elif len(batch):
                cum = float(totals.iloc[-1])
        state.update((cum, alerted))
        if out:
            yield pd.DataFrame(out, columns=["user_id", "event_id", "ts", "cum_value"])

    return events.groupBy("user_id").applyInPandasWithState(
        fire,
        outputStructType=ALERT_SCHEMA,
        stateStructType=_ALERT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ALERT_CENTS_SCHEMA = "user_id long, event_id long, ts timestamp, cum_cents long"
_ALERT_CENTS_STATE_SCHEMA = "cum_cents long, alerted boolean"


def threshold_alerts_cents(events: DataFrame, threshold_cents: int = 50_000) -> DataFrame:
    """``threshold_alerts`` with EXACT integer-cent state — the variant a
    driver can hash-check: float accumulation is deterministic only in
    arrival order, but its last-ulp drift vs the batch twin's DECIMAL
    running sum could flip a crossing decision at the boundary; integer
    cents make state, crossing test, and output bit-exact across
    engines and micro-batch splits. Callers must supply a ``cents``
    column (``value`` cast through DECIMAL(12,2)·100 JVM-side, the same
    cast the batch twin and its DuckDB oracle agree on). State per user
    is (long, bool) — still O(distinct users) in the state store.

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
    order, same contract as ``threshold_alerts``. Batch equivalence is
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
