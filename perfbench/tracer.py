"""In-memory span recorder and the wrappers the traced runs install.

A span is (name, start_ns, end_ns, span_id, parent_id, request_id,
extra). Spans nest per thread; the request id is the id of the
outermost span of the thread's current stack, so every span a request
causes shares it. Wrappers are installed from here, around the calls
into each layer, only in traced runs; ``uninstall`` restores the
originals.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # -- recording ----------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, *args, _extra=None, **kwargs):
        """Run ``fn`` inside a span. ``_extra(result, args)`` may return
        a small dict stored with the span (counts, bytes); a raised
        exception is recorded by its type name under ``exc``."""
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else 0
        req = stack[0] if stack else sid
        stack.append(sid)
        t0 = time.perf_counter_ns()
        result, error = None, None
        try:
            result = fn(*args, **kwargs)
            return result
        except BaseException as e:
            error = type(e).__name__
            raise
        finally:
            t1 = time.perf_counter_ns()
            stack.pop()
            extra = _extra(result, args) if _extra is not None else None
            if error is not None:
                extra = dict(extra or {}, exc=error)
            self.spans.append((name, t0, t1, sid, parent, req, extra))

    def wrap(self, owner, attr: str, name: str, extra=None) -> None:
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            return tracer.call(name, original, *args, _extra=extra, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, original))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def reset(self) -> None:
        self.spans = []

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def load_spans(path: str) -> list[tuple]:
    with open(path) as f:
        return [tuple(json.loads(line)) for line in f if line.strip()]


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def self_ns(spans: list[tuple]) -> dict[int, int]:
    """Span id -> its duration minus the part its direct children cover
    (children of one span never overlap: they ran on the same thread,
    one after the other)."""
    child_ns: dict[int, int] = defaultdict(int)
    for s in spans:
        if s[4]:
            child_ns[s[4]] += s[2] - s[1]
    return {s[3]: max(0, s[2] - s[1] - child_ns[s[3]]) for s in spans}


def self_times(spans: list[tuple]) -> dict[str, float]:
    """Seconds of self time per layer."""
    own = self_ns(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[layer_of(s[0])] += own[s[3]] / 1e9
    return dict(out)


def by_name(spans: list[tuple]) -> dict[str, list[tuple]]:
    out: dict[str, list[tuple]] = defaultdict(list)
    for s in spans:
        out[s[0]].append(s)
    return out


def durations_ms(spans: list[tuple]) -> list[float]:
    return [(s[2] - s[1]) / 1e6 for s in spans]


def _file_size(result, args) -> dict:
    where = args[1] if len(args) > 1 else None
    if isinstance(where, str) and os.path.exists(where):
        return {"bytes": os.path.getsize(where)}
    return {"bytes": 0}


def _count_result(result, args) -> dict:
    return {"n": len(result) if result is not None else 0}


def _pool_result(result, args) -> dict:
    return {"fallback": result is None}


def install_engine_wrappers(tracer: Tracer) -> None:
    """Spans around the storage engine's layers: the event log, input
    validation, checksumming, the manifest and parquet I/O."""
    import pyarrow.parquet as pq

    from eventlog_spark import hashpool, log, manifest
    from eventlog_spark.sources import binformat

    EventLog = log.EventLog
    tracer.wrap(EventLog, "append_multi", "log.append")
    tracer.wrap(EventLog, "append_check_multi", "log.append_check")
    tracer.wrap(EventLog, "scan_rows", "log.scan_rows")
    tracer.wrap(EventLog, "minor_compact", "log.minor_compact")
    # log.py binds the validation functions by name at import
    tracer.wrap(log, "validate_label", "validation.label")
    tracer.wrap(log, "validate_payload", "validation.payload")
    tracer.wrap(log, "minify_json", "validation.minify")
    tracer.wrap(binformat, "checksum_rows", "binformat.checksum")
    tracer.wrap(hashpool, "checksum_batch", "hashpool.checksum_batch", _pool_result)
    tracer.wrap(manifest.ManifestLog, "commit", "manifest.commit")
    tracer.wrap(manifest.ManifestLog, "candidates", "manifest.lookup", _count_result)
    tracer.wrap(manifest.PosixClaimStore, "get", "manifest.store_get")
    tracer.wrap(pq, "write_table", "storage.write", _file_size)
    tracer.wrap(pq, "read_table", "storage.read_table")
    tracer.wrap(pq.ParquetFile, "__init__", "storage.open")
    tracer.wrap(pq.ParquetFile, "read", "storage.read")
    tracer.wrap(pq.ParquetFile, "read_row_groups", "storage.read")
