#!/usr/bin/env python
"""Streaming-ingest throughput rehearsal: a Structured Streaming rate
source committed into the EventLog through ``append_stream`` (the O1
streaming path: per-micro-batch atomic bulk append with validation,
dense versioning, checksums, and the (stream_id, batch_id) exactly-once
idempotence marker), then a full integrity audit of everything that
landed.

This is the engine's sustained-write ceiling, the streaming twin of the
bulk-ingest rehearsal (BASELINE.md): the reference's analog is its
fsync-per-append file engine, which has no batched ingest shape at all.

Usage: python tools/stream_bench.py [rows_per_second] [seconds]
Prints ONE JSON line. ``duration_sec`` runs until the micro-batch in
flight when the window closes has committed, so it is the window plus
that batch's drain, and ``events_per_sec`` is committed events over it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    rate = int(sys.argv[1]) if len(sys.argv) > 1 else 600_000
    seconds = int(sys.argv[2]) if len(sys.argv) > 2 else 30

    from pyspark.sql import functions as F

    from eventlog_spark.log import EventLog
    from eventlog_spark.session import get_spark
    from eventlog_spark.streaming.streams import append_stream

    spark = get_spark(app_name="stream_bench")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="streambench_")
    try:
        log = EventLog.create(spark, os.path.join(tmp, "log"))
        src = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rate)
            .option("numPartitions", 16)
            .load()
            .select(
                F.lit("rate_event").alias("label"),
                F.concat(F.lit('{"v":'), F.col("value"), F.lit("}")).alias(
                    "payload"
                ),
            )
        )
        # The query must not stop while a micro-batch's Spark jobs run:
        # the cancelled job's Python traceback reaches Spark's
        # interruption check, whose regex overflows the stack of the
        # stream thread on a message that long. The source outruns the
        # sink, so the next trigger starts at once and the query is
        # never idle; instead, once the window is over, the batch in
        # flight is the last one committed and later batches commit
        # nothing, so stop() only interrupts a batch with no job.
        window_over, drained = threading.Event(), threading.Event()
        commit = log.append_dataframe

        def append_in_window(batch, **kw):
            if window_over.is_set():
                drained.set()
                return None
            return commit(batch, **kw)

        log.append_dataframe = append_in_window
        q = append_stream(log, src, checkpoint_dir=os.path.join(tmp, "ckpt"))
        t0 = time.monotonic()
        time.sleep(seconds)
        window_over.set()
        drained.wait(timeout=300)
        dt = time.monotonic() - t0
        q.stop()
        q.awaitTermination()
        head = log.version()
        audit = log.check_integrity().collect()[0]
        print(
            json.dumps(
                {
                    "metric": "stream_ingest_bench",
                    "rate_rows_per_sec": rate,
                    "duration_sec": round(dt, 1),
                    "events_committed": head,
                    "events_per_sec": round(head / dt, 1),
                    "audit_violations": sum(audit.asDict().values()),
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
