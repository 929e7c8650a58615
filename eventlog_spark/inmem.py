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

from pyspark.sql import DataFrame, SparkSession

from .log import (
    EVENT_SCHEMA,
    EventLog,
    ScanRow,
    _check_bulk_range,
    _rows_on_page,
)
from .sources.binformat import spark_checksum as _spark_checksum  # noqa: F401 — shared fast-path checksum


class InMemEventLog(EventLog):
    """Same contract as EventLog, storage = a driver-side row list."""

    def __init__(self, spark: SparkSession, metadata: dict[str, str] | None = None):
        # path None: the file engine's state stays empty, and the
        # _load_meta/_load_state overrides below read nothing
        super().__init__(spark, None)
        self._metadata = dict(metadata or {})
        self._rows: list[tuple] = []

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

    def _write_fragment(self, rows: list[tuple[int, int, int, str, str]]) -> list[tuple]:
        return [
            (v, vp, ts, label, payload, _spark_checksum(ts, label, payload, vp))
            for (v, vp, ts, label, payload) in rows
        ]

    def _write_out(
        self, out: DataFrame, expect: tuple[int, int], post_write_check=None
    ) -> list[tuple]:
        # an inmem log is driver-bound by definition (inmem.go holds a
        # slice); collect() here is the engine's storage, not a data path
        collected = [tuple(r) for r in out.collect()]
        if post_write_check is not None:
            # streamed ingest: the collect above ran the write job, so
            # the observed validity tally is available; a raise here
            # keeps the rows out of the engine (all-or-nothing)
            post_write_check()
        # each collected row tiles as a one-row file of its version
        _check_bulk_range([(r[0], r[0], 1) for r in collected], expect)
        return collected

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
        latest: int,
        label: str | None = None,
        limit: int | None = None,
        reverse: bool = False,
    ) -> list[ScanRow]:
        # limit/reverse are early-stop hints for the file engine's
        # fragment walk; an in-memory list scan gains nothing from them
        # the inmem engine IS driver-side: a list filter serves the page
        # (rows are appended in version order, but don't assume it)
        with self._lock:
            return _rows_on_page(self._rows, lo, hi, label, latest)

    # -- lifecycle/state: nothing persists ------------------------------------

    def _data_files(self) -> list[str]:
        return []

    def _load_meta(self) -> None:
        pass

    def _load_state(self) -> None:
        pass

    def _publish(self, add: list[tuple], remove: list[str], head: dict) -> None:
        # this engine's entries are the checksummed rows themselves: they
        # join the log here, where the file engine's commit lands
        self._rows.extend(add)
        self._adopt_cas_head(head)

    def compact(self, target_partitions: int | None = None) -> None:
        pass
