"""Reader/writer for the reference's at-rest binary ``.eventlog`` format.

Layout parity (eventlog/file/file.go:21-43, internal/write_file_header.go,
internal/write_event.go, internal/read_event.go:22-142):

* file      = proto_version (4 B LE, == 5) ‖ metadata-entry ‖ entry*
* entry     = checksum (8 B LE XXH64)
              ‖ timestamp (8 B LE, unix seconds)
              ‖ label_len (2 B LE) ‖ payload_len (4 B LE)
              ‖ label ‖ payload
              ‖ version_prev (8 B LE)
* checksum  = XXH64(seed 0) over timestamp ‖ label_len ‖ payload_len
              ‖ label ‖ payload ‖ version_prev — the exact field order
              internal/checksum.go:9-67 hashes.
* versions are BYTE OFFSETS: an entry's version is the offset where it
  starts; ``version_prev`` is the previous entry's offset (0 for the
  first). The metadata pseudo-entry sits at offset 4 with an empty
  label and the metadata JSON as payload (read_header.go).

The XXH64 here is a from-spec pure-Python implementation of the public
xxHash algorithm (same function the reference uses via cespare/xxhash);
tests cross-check it against Spark's JVM XxHash64 (seed 42) and the
published test vectors. Parsing is sequential by design — the format
itself is a single-writer single-node log, so a file is one unsplittable
unit; at scale each *file* is one task (see ``eventlog_files_to_dataframe``),
which matches how the reference shards: one log per file.
"""

from __future__ import annotations

import json
import os
import struct
from dataclasses import dataclass

PROTO_VERSION = 5  # internal/read_event.go:12 SupportedProtoVersion
MAX_PAYLOAD_LEN = 1024 * 1024
MIN_PAYLOAD_LEN = 7
MAX_LABEL_LEN = 256
ENTRY_HEADER_LEN = 8 + 8 + 2 + 4  # checksum, timestamp, label_len, payload_len


class BinFormatError(ValueError):
    """Malformed or corrupted .eventlog content."""


# --- XXH64 (public algorithm; pure Python, no dependency) -----------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = 0) -> int:
    """Standard 64-bit xxHash (XXH64) of ``data``.

    The >=32-byte stripe loop is hand-inlined (one bulk
    ``struct.unpack_from`` for all words, locals for the primes, the
    rotl spelled out) — ~1.8x over the helper-call form, which matters
    because this is the per-row integrity checksum on the interactive
    append path (64 KiB payload: 5.2 -> 2.9 ms). Bit parity with the
    JVM ``xxhash64`` is pinned by tests/test_sources.py across lengths
    covering every tail branch."""
    n = len(data)
    i = 0
    P1, P2, M = _P1, _P2, _M
    if n >= 32:
        v1 = (seed + P1 + P2) & M
        v2 = (seed + P2) & M
        v3 = seed & M
        v4 = (seed - P1) & M
        nw = (n // 32) * 4
        words = struct.unpack_from("<%dQ" % nw, data)
        for j in range(0, nw, 4):
            v1 = (v1 + words[j] * P2) & M
            v1 = (((v1 << 31) | (v1 >> 33)) & M) * P1 & M
            v2 = (v2 + words[j + 1] * P2) & M
            v2 = (((v2 << 31) | (v2 >> 33)) & M) * P1 & M
            v3 = (v3 + words[j + 2] * P2) & M
            v3 = (((v3 << 31) | (v3 >> 33)) & M) * P1 & M
            v4 = (v4 + words[j + 3] * P2) & M
            v4 = (((v4 << 31) | (v4 >> 33)) & M) * P1 & M
        i = (n // 32) * 32
        h = (
            ((v1 << 1) | (v1 >> 63))
            + ((v2 << 7) | (v2 >> 57))
            + ((v3 << 12) | (v3 >> 52))
            + ((v4 << 18) | (v4 >> 46))
        ) & M
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


# --- entry codec ----------------------------------------------------------


def entry_checksum(
    timestamp: int, label: bytes, payload: bytes, version_prev: int
) -> int:
    """internal/checksum.go:9-67 — field-order-exact XXH64."""
    buf = (
        struct.pack("<Q", timestamp)
        + struct.pack("<H", len(label))
        + struct.pack("<I", len(payload))
        + label
        + payload
        + struct.pack("<Q", version_prev)
    )
    return xxh64(buf)


@dataclass(frozen=True)
class BinEntry:
    version: int  # byte offset of this entry (the format's version)
    version_prev: int
    timestamp: int
    label: str
    payload: str
    checksum: int


def _encode_entry(
    timestamp: int, label: bytes, payload: bytes, version_prev: int
) -> bytes:
    if not MIN_PAYLOAD_LEN <= len(payload) <= MAX_PAYLOAD_LEN:
        raise BinFormatError(f"payload length {len(payload)} out of bounds")
    if len(label) > MAX_LABEL_LEN:
        raise BinFormatError(f"label length {len(label)} exceeds {MAX_LABEL_LEN}")
    checksum = entry_checksum(timestamp, label, payload, version_prev)
    return (
        struct.pack("<Q", checksum)
        + struct.pack("<Q", timestamp)
        + struct.pack("<H", len(label))
        + struct.pack("<I", len(payload))
        + label
        + payload
        + struct.pack("<Q", version_prev)
    )


def _decode_entry(data: bytes, offset: int, *, verify: bool = True) -> tuple[BinEntry, int]:
    """Parse one entry at ``offset``; returns (entry, next_offset).
    Mirrors read_event.go:22-142 including the checksum verification."""
    if offset + ENTRY_HEADER_LEN > len(data):
        raise BinFormatError(f"truncated entry header at offset {offset}")
    checksum, timestamp = struct.unpack_from("<QQ", data, offset)
    label_len = struct.unpack_from("<H", data, offset + 16)[0]
    payload_len = struct.unpack_from("<I", data, offset + 18)[0]
    if not MIN_PAYLOAD_LEN <= payload_len <= MAX_PAYLOAD_LEN:
        raise BinFormatError(f"invalid payload length {payload_len} at {offset}")
    body_start = offset + ENTRY_HEADER_LEN
    end = body_start + label_len + payload_len + 8
    if end > len(data):
        raise BinFormatError(f"truncated entry body at offset {offset}")
    label = data[body_start : body_start + label_len]
    payload = data[body_start + label_len : body_start + label_len + payload_len]
    version_prev = struct.unpack_from("<Q", data, end - 8)[0]
    if verify and entry_checksum(timestamp, label, payload, version_prev) != checksum:
        raise BinFormatError(f"checksum mismatch for entry at offset {offset}")
    return (
        BinEntry(
            version=offset,
            version_prev=version_prev,
            timestamp=timestamp,
            label=label.decode("utf-8"),
            payload=payload.decode("utf-8"),
            checksum=checksum,
        ),
        end,
    )


# --- file codec -----------------------------------------------------------


def read_eventlog_bytes(
    data: bytes, *, verify: bool = True
) -> tuple[dict[str, str], list[BinEntry]]:
    """Parse a whole .eventlog image: (metadata, committed entries)."""
    if len(data) < 4:
        raise BinFormatError("file shorter than the 4-byte proto header")
    proto = struct.unpack_from("<I", data, 0)[0]
    if proto != PROTO_VERSION:
        raise BinFormatError(f"unsupported file version ({proto})")
    meta_entry, offset = _decode_entry(data, 4, verify=verify)
    metadata = {
        str(k): str(v) for k, v in json.loads(meta_entry.payload).items()
    }
    entries: list[BinEntry] = []
    while offset < len(data):
        entry, offset = _decode_entry(data, offset, verify=verify)
        entries.append(entry)
    return metadata, entries


def read_eventlog_file(
    path: str, *, verify: bool = True
) -> tuple[dict[str, str], list[BinEntry]]:
    with open(path, "rb") as f:
        return read_eventlog_bytes(f.read(), verify=verify)


def write_eventlog_file(
    path: str,
    metadata: dict[str, str],
    events: list[tuple[int, str, str]],  # (timestamp, label, payload)
    creation_ts: int | None = None,
) -> None:
    """Compose a reference-format file (write_file_header.go +
    write_event.go append semantics: version == write offset)."""
    meta_json = json.dumps(metadata or {"_": "0"}).encode("utf-8")
    blob = struct.pack("<I", PROTO_VERSION)
    ts0 = creation_ts if creation_ts is not None else (events[0][0] if events else 0)
    blob += _encode_entry(ts0, b"", meta_json, 0)
    latest = 0
    for timestamp, label, payload in events:
        offset = len(blob)
        blob += _encode_entry(
            timestamp, label.encode("utf-8"), payload.encode("utf-8"), latest
        )
        latest = offset
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(blob)
    os.replace(tmp, path)


# --- Spark surface --------------------------------------------------------

_ENTRY_SCHEMA = (
    "source_file string, version long, version_prev long, timestamp long, "
    "label string, payload string, checksum long"
)


def eventlog_files_to_dataframe(spark, paths: str | list[str], *, verify: bool = True):
    """Distributed ingest of reference .eventlog files: one file = one
    task (the format is sequential by construction — a single-writer
    single-node log), files fan out across the cluster via binaryFile.
    Returns the reference envelope (offset-versions); feed the result to
    ``EventLog.append_dataframe`` to migrate into the Spark-native log
    (which re-versions densely — versions are opaque to clients,
    SURVEY §1.1)."""
    import pandas as pd

    df = spark.read.format("binaryFile").load(paths).select("path", "content")

    def parse(batches):
        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                _, entries = read_eventlog_bytes(bytes(content), verify=verify)
                for e in entries:
                    out.append(
                        (
                            path,
                            e.version,
                            e.version_prev,
                            e.timestamp,
                            e.label,
                            e.payload,
                            # two's-complement into a signed long column
                            e.checksum - (1 << 64) if e.checksum >= (1 << 63) else e.checksum,
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "source_file",
                    "version",
                    "version_prev",
                    "timestamp",
                    "label",
                    "payload",
                    "checksum",
                ],
            )

    return df.mapInPandas(parse, _ENTRY_SCHEMA)


def spark_checksum(timestamp: int, label: str, payload: str, version_prev: int) -> int:
    """Chained XXH64 equal to ``F.xxhash64(timestamp, label, payload,
    version_prev)`` — long fields hash their 8-byte LE form, strings
    their UTF-8 bytes, each result seeding the next field's hash (seed
    42). Bit-parity with the JVM expression is asserted in
    tests/test_sources.py; both storage engines' fast write paths use
    this so ``check_integrity`` (which recomputes via the JVM
    expression) verifies their rows."""
    import struct as _struct

    h = 42
    h = xxh64(_struct.pack("<q", timestamp), h)
    h = xxh64(label.encode("utf-8"), h)
    h = xxh64(payload.encode("utf-8"), h)
    h = xxh64(_struct.pack("<q", version_prev), h)
    return h - (1 << 64) if h >= (1 << 63) else h  # signed long column


# Parity-checksum offload (round-12): the pure-Python XXH64 runs
# ~20 MiB/s under the GIL, which caps the interactive append path for
# WIDE payloads — a group commit coalescing eight 64 KiB appends spends
# ~25 ms hashing inside the commit section while the actual I/O is
# ~12 ms. Wide batches fan the per-row checksums out to the subprocess
# pool in hashpool.py (own-interpreter workers — real parallelism; see
# that module for why multiprocessing was rejected). Narrow rows never
# touch it (IPC would cost more than the hash), bulk ingest never
# touches it (append_dataframe checksums via the JVM F.xxhash64
# expression, distributed), so this is strictly the driver-side
# serving corner.
_POOL_MIN_BYTES = 256 * 1024  # below this, inline is faster than IPC


def checksum_rows(rows: list[tuple[int, int, int, str, str]]) -> list[int]:
    """Per-row parity checksums for a (version, version_prev, ts,
    label, payload) batch — pool-parallel when the batch is wide
    enough, inline otherwise; always falls back inline if the pool
    cannot serve (correctness never depends on it)."""
    args = [(r[2], r[3], r[4], r[1]) for r in rows]
    if len(rows) >= 2 and sum(len(r[4]) for r in rows) >= _POOL_MIN_BYTES:
        from ..hashpool import checksum_batch

        out = checksum_batch(args)
        if out is not None:
            return out
    return [spark_checksum(*a) for a in args]
