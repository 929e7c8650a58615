"""Per-layer metrics derived from a traced run's spans.

Layers are named after the engine's modules: ``serving`` (the HTTP
handler), ``log`` (EventLog), ``validation``, ``binformat`` (parity
checksums), ``hashpool``, ``manifest``, ``storage`` (parquet reads and
writes). ``client`` is the benchmark's own side of each operation: for
HTTP that is transport, request parsing and queueing outside the
handler.
"""

from __future__ import annotations

from collections import defaultdict

from common import median, percentile
from tracer import by_name, durations_ms, self_ns, self_times


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def engine_metrics(spans: list[tuple], counters: dict, user_bytes: int) -> dict[str, float]:
    """Commit-path, scan-path and storage metrics of the engine layers."""
    named = by_name(spans)
    m: dict[str, float] = {}

    requests = named.get("serving.request", [])
    if requests:
        st = self_ns(spans)
        m["serving.request_ms"] = _mean(durations_ms(requests))
        m["serving.self_ms"] = _mean([st[s[3]] / 1e6 for s in requests])

    appends = named.get("log.append", []) + named.get("log.append_check", [])
    validation_ms = sum(
        sum(durations_ms(named.get(n, [])))
        for n in ("validation.label", "validation.payload", "validation.minify")
    )
    if appends:
        ms = durations_ms(appends)
        m["validation.ms_per_op"] = validation_ms / len(appends)
        m["log.append_ms.p50"] = median(ms)
        m["log.append_ms.p99"] = percentile(ms, 99)
    checks = named.get("log.append_check", [])
    won = [s for s in checks if not (s[6] or {}).get("exc")]
    if won:
        m["log.occ_attempts_per_success"] = len(checks) / len(won)
    if counters.get("sections"):
        m["log.ops_per_section"] = counters["ops"] / counters["sections"]
    folds = named.get("log.minor_compact", [])
    m["log.minor_compact.count"] = float(len(folds))
    m["log.minor_compact.ms"] = _mean(durations_ms(folds))
    m["manifest.commit.ms"] = _mean(durations_ms(named.get("manifest.commit", [])))
    m["binformat.checksum_ms"] = _mean(durations_ms(named.get("binformat.checksum", [])))
    pool = named.get("hashpool.checksum_batch", [])
    m["hashpool.calls"] = float(len(pool))
    m["hashpool.fallbacks"] = float(sum(1 for s in pool if (s[6] or {}).get("fallback")))

    scans = named.get("log.scan_rows", [])
    if scans:
        # one scan_rows call per request (an HTTP page, or a page_scan
        # read, which is its own request): attribute by request id
        per = defaultdict(lambda: {"frags": 0, "opened": 0, "gets": 0, "read_ms": 0.0})
        for s in spans:
            row = per[s[5]]
            if s[0] == "manifest.lookup":
                row["frags"] += (s[6] or {}).get("n", 0)
            elif s[0] == "storage.open":
                row["opened"] += 1
            elif s[0] == "manifest.store_get":
                row["gets"] += 1
            elif s[0] == "storage.read":
                row["read_ms"] += (s[2] - s[1]) / 1e6
        rows = [per[s[5]] for s in scans]
        frags = sum(r["frags"] for r in rows)
        opened = sum(r["opened"] for r in rows)
        m["log.scan_rows.ms"] = _mean(durations_ms(scans))
        m["log.scan_rows.fragments_per_page"] = frags / len(rows)
        m["storage.files_opened_per_page"] = opened / len(rows)
        m["storage.read_ms"] = _mean([r["read_ms"] for r in rows])
        m["manifest.pages_loaded"] = _mean([float(r["gets"]) for r in rows])
        m["log.scan_rows.cache_hit_ratio"] = 1.0 - opened / frags if frags else 0.0
    m["manifest.lookup.ms"] = _mean(durations_ms(named.get("manifest.lookup", [])))

    writes = named.get("storage.write", [])
    m["storage.write_ms"] = _mean(durations_ms(writes))
    if user_bytes:
        m["storage.bytes_written_per_user_byte"] = (
            sum((s[6] or {}).get("bytes", 0) for s in writes) / user_bytes
        )
    return m


def shares(spans: list[tuple], e2e_s: float, client_s: float = 0.0) -> dict[str, float]:
    """Self time of every traced layer as a share of the end-to-end time
    the operations took. ``trace.accounted_ratio`` sums the traced
    layers; ``client_s`` (operation time outside every traced span) is
    reported as its own share."""
    if not e2e_s:
        return {}
    st = self_times(spans)
    out = {f"{layer}.self_share": v / e2e_s for layer, v in st.items()}
    out["trace.accounted_ratio"] = sum(st.values()) / e2e_s
    out["client.self_share"] = client_s / e2e_s
    return out
