"""In-memory storage engine — the reference's second engine, Spark-native.

The reference runs its whole behavioral contract over two engines behind
one interface (``eventlog/inmem/inmem.go`` vs ``eventlog/file/file.go``;
harness ``eventlog/eventlog_test.go:424-461``). This is the inmem twin:
identical contract and commit logic (it reuses every EventLog code path
above the storage seam), state held in driver memory, no persistence —
rows become DataFrames via ``createDataFrame`` on read.

Checksums are bit-identical to the parquet engine's: the JVM computes
``xxhash64(timestamp, label, payload, version_prev)`` by CHAINING the
per-field XXH64 (each field's hash seeds the next, seed 42 at the
start); ``_spark_checksum`` reproduces that chain with the pure-Python
XXH64 from sources/binformat.py, so ``check_integrity`` — which recomputes
via the JVM expression — verifies inmem logs too (parity asserted in
tests/test_sources.py::test_xxh64_known_vectors_and_jvm_parity and the
dual-engine contract suite).

Like the reference's inmem engine, capacity is bounded by one machine's
memory — it exists for ephemeral serving (`cli run --inmem`) and as the
contract-suite second config, not for 100 TB data paths.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

from .log import EVENT_SCHEMA, EventLog, _check_bulk_range, _Hub
from .sources.binformat import spark_checksum as _spark_checksum  # noqa: F401 — shared fast-path checksum
from .validation import DEFAULT_MAX_PAYLOAD_LEN


class InMemEventLog(EventLog):
    """Same contract as EventLog, storage = a driver-side row list."""

    def __init__(self, spark: SparkSession, metadata: dict[str, str] | None = None):
        # deliberately NOT calling super().__init__: no path, no files
        self.spark = spark
        self.path = None
        self._lock = threading.RLock()
        self._hub = _Hub()
        # group-commit state (mirrors EventLog.__init__ — this class
        # deliberately skips super().__init__)
        self._gc_cv = threading.Condition()
        self._gc_queue = []
        self._gc_leader = False
        self._gc_commits = 0
        self._gc_ops = 0
        self._gc_last_batch = 0
        self._max_payload_len = DEFAULT_MAX_PAYLOAD_LEN
        self._metadata = dict(metadata or {})
        self._latest = 0
        self._initial = 0
        self._last_ts = 0
        self._stream_commits: dict[str, int] = {}
        self._rows: list[tuple] = []
        # manifest plumbing (unused: nothing on disk to track)
        self._manifest = None
        self._pending_add: list[dict] = []
        self._pending_remove: list[str] = []

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str | None = None,
        metadata: dict[str, str] | None = None,
        max_payload_len: int | None = None,
    ) -> "InMemEventLog":
        """O22 for the ephemeral engine; ``path`` accepted (ignored) so
        both engines share a creation signature in harnesses.
        ``max_payload_len`` overrides the payload size limit (the CLI's
        ``--max-payload-len``, cli.go:43) through the public API."""
        log = cls(spark, metadata=metadata)
        if max_payload_len:
            log._max_payload_len = max_payload_len
        return log

    # -- storage seam overrides ---------------------------------------------

    def _write_fragment(self, rows: list[tuple[int, int, int, str, str]]) -> None:
        self._rows.extend(
            (v, vp, ts, label, payload, _spark_checksum(ts, label, payload, vp))
            for (v, vp, ts, label, payload) in rows
        )

    def _write_out(
        self, out: DataFrame, expect: tuple[int, int], post_write_check=None
    ) -> None:
        # an inmem log is driver-bound by definition (inmem.go holds a
        # slice); collect() here is the engine's storage, not a data path
        collected = [tuple(r) for r in out.collect()]
        if post_write_check is not None:
            # streamed ingest: the collect above ran the write job, so
            # the observed validity tally is available; a raise here
            # keeps the rows out of the engine (all-or-nothing)
            post_write_check()
        versions = [r[0] for r in collected]
        _check_bulk_range(
            (min(versions), max(versions)) if versions else None, expect
        )
        self._rows.extend(collected)

    def _read_raw(self) -> DataFrame | None:
        if not self._rows:
            return None
        return self.spark.createDataFrame(self._rows, EVENT_SCHEMA)

    def _read_label_pruned(self, label: str, lo: int, hi: int) -> DataFrame | None:
        # no manifest to prune with: the exact filters in scan() select
        return self._read_raw()

    def _rows_in_range(
        self,
        lo: int,
        hi: int,
        label: str | None = None,
        limit: int | None = None,
        reverse: bool = False,
    ) -> list[tuple]:
        # limit/reverse are early-stop hints for the file engine's
        # fragment walk; an in-memory list scan gains nothing from them
        # the inmem engine IS driver-side: a list slice serves the page
        # (rows are appended in version order, but don't assume it)
        with self._lock:
            return [
                r
                for r in self._rows
                if lo <= r[0] <= hi and (label is None or r[3] == label)
            ]

    # -- lifecycle/state: nothing persists ------------------------------------

    def _data_files(self) -> list[str]:
        return []

    def _load_meta(self) -> None:
        pass

    def _load_state(self) -> None:
        pass

    def _write_state(self) -> None:
        pass

    def compact(self, target_partitions: int | None = None) -> None:
        pass
