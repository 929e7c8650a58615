"""Manifest-scale probe: per-commit cost and page-scan latency vs
fragment count (the round-8 verdict's done-criterion for the
log-structured manifest).

Drives REAL interactive appends (minor compaction disabled so every
commit leaves its fragment — the adversarial shape) to 1k / 10k / 100k
fragments and records, at each decade:

* per-commit latency percentiles over the last window (the commit
  claims ONE delta record — O(1) — plus an amortized paged checkpoint
  every K commits),
* what the round-7 design would have paid at the same file count
  (measured: serializing the full N-entry file list per commit),
* scan_rows 1000-event page latency, warm (live mirror) and cold
  (fresh open: roll-up hint → checkpoint page metas → only overlapped
  pages load),
* cold-open positioning cost.

No Spark session: the probe exercises exactly the driver-side commit
and serving paths (pyarrow fragment write, manifest chain, footer-free
page pruning). Usage:

    python tools/manifest_probe.py [--frags 100000] [--out BASELINE_row]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eventlog_spark.log import EventLog  # noqa: E402


# The interactive commit/serving paths never touch Spark (driver-side
# pyarrow writes, manifest chain, footer pruning), so the probe opens
# the engine with spark=None and measures exactly those paths.


def _pcts(xs: list[float]) -> dict:
    xs = sorted(xs)
    return {
        "p50_ms": round(1e3 * xs[len(xs) // 2], 3),
        "p99_ms": round(1e3 * xs[int(len(xs) * 0.99)], 3),
        "max_ms": round(1e3 * xs[-1], 3),
    }


def probe(total_frags: int) -> list[dict]:
    root = tempfile.mkdtemp(prefix="manifest_probe_")
    path = os.path.join(root, "log")
    results: list[dict] = []
    try:
        log = EventLog.create(None, path)
        log.MINOR_COMPACT_FRAGMENTS = 0  # keep every fragment — worst case
        decades = [d for d in (1_000, 10_000, 100_000) if d <= total_frags]
        window: list[float] = []
        done = 0
        for target in decades:
            window.clear()
            while done < target:
                t0 = time.perf_counter()
                log.append(f"probe-{done}", f'{{"i":{done}}}')
                window.append(time.perf_counter() - t0)
                done += 1
            head = log.version()

            # what round 7 paid per commit at this file count: one full
            # file-list JSON serialize + atomic rename
            names = log._manifest_files()
            t0 = time.perf_counter()
            tmp = os.path.join(root, "legacy_state.json")
            with open(tmp, "w") as f:
                json.dump({"latest_version": head, "files": names}, f)
            legacy_ms = 1e3 * (time.perf_counter() - t0)

            # warm page scan: head page and a middle page
            t0 = time.perf_counter()
            rows = log.scan_rows(version=head, reverse=True, limit=1000)
            warm_head_ms = 1e3 * (time.perf_counter() - t0)
            assert len(rows) == min(1000, head)
            t0 = time.perf_counter()
            rows = log.scan_rows(version=head // 2, limit=1000)
            warm_mid_ms = 1e3 * (time.perf_counter() - t0)
            assert len(rows) == min(1000, head - head // 2 + 1)

            # cold: a fresh open (hint → checkpoint metas; pages lazy)
            t0 = time.perf_counter()
            cold = EventLog.open(None, path)
            cold_open_ms = 1e3 * (time.perf_counter() - t0)
            t0 = time.perf_counter()
            rows = cold.scan_rows(version=head, reverse=True, limit=1000)
            cold_head_ms = 1e3 * (time.perf_counter() - t0)
            assert len(rows) == min(1000, head)
            pages_touched = len(cold._manifest._page_cache)

            results.append(
                {
                    "fragments": done,
                    "commit": _pcts(window[-1000:]),
                    "legacy_full_list_publish_ms": round(legacy_ms, 3),
                    "scan_rows_1000_warm_head_ms": round(warm_head_ms, 2),
                    "scan_rows_1000_warm_mid_ms": round(warm_mid_ms, 2),
                    "cold_open_ms": round(cold_open_ms, 2),
                    "scan_rows_1000_cold_head_ms": round(cold_head_ms, 2),
                    "cold_pages_touched": pages_touched,
                }
            )
            print(json.dumps(results[-1]), flush=True)
        return results
    finally:
        shutil.rmtree(root, ignore_errors=True)


def probe_labels(total_frags: int, n_labels: int) -> dict:
    """Label data-skipping probe (round 8): round-robin single-label
    commits, then measure how many fragments a label scan would open
    (``label_candidate_files`` — the exact pruning ``scan(label=...)``
    applies) and what the candidate computation costs. Expected: each
    label's candidates == total/n_labels (label bounds are exact for
    single-label interactive commits), an absent label prunes to 0."""
    root = tempfile.mkdtemp(prefix="manifest_lbl_probe_")
    path = os.path.join(root, "log")
    try:
        log = EventLog.create(None, path)
        log.MINOR_COMPACT_FRAGMENTS = 0
        for i in range(total_frags):
            log.append(f"label-{i % n_labels}", f'{{"i":{i}}}')
        t0 = time.perf_counter()
        cands = log.label_candidate_files(f"label-0")
        cand_ms = 1e3 * (time.perf_counter() - t0)
        t0 = time.perf_counter()
        absent = log.label_candidate_files("label-absent")
        absent_ms = 1e3 * (time.perf_counter() - t0)
        # serving path: a 1000-row label page driver-side (scan_rows
        # with label pruning — no Spark), and the absent-label page
        # (zero fragments opened)
        t0 = time.perf_counter()
        page = log.scan_rows(label="label-0", limit=1000)
        page_ms = 1e3 * (time.perf_counter() - t0)
        # round-robin gives label-0 ceil(total/n) commits
        assert len(page) == min(1000, -(-total_frags // n_labels))
        assert all(r.label == "label-0" for r in page)
        t0 = time.perf_counter()
        assert log.scan_rows(label="label-absent") == []
        absent_page_ms = 1e3 * (time.perf_counter() - t0)
        row = {
            "probe": "label_skipping",
            "fragments": total_frags,
            "labels": n_labels,
            "candidates_one_label": len(cands),
            "candidates_absent_label": len(absent),
            "prune_ratio": round(len(cands) / total_frags, 4),
            "candidate_calc_ms": round(cand_ms, 2),
            "absent_calc_ms": round(absent_ms, 2),
            "scan_rows_label_page_1000_ms": round(page_ms, 2),
            "scan_rows_absent_label_ms": round(absent_page_ms, 2),
        }
        print(json.dumps(row), flush=True)
        return row
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _build_label_chain(root, total_entries: int, n_labels: int, interleave: bool):
    """Synthetic manifest chain of ranged, label-stat-carrying entries
    (the exact dict shape interactive commits stage), rolled up so a
    cold mirror sees pages only. Returns (mirror, seq, entries/label)."""
    from eventlog_spark.manifest import ManifestLog

    m = ManifestLog(root)
    per = -(-total_entries // n_labels)
    stats = {
        k: {"lmin": f"label-{k:06d}", "lmax": f"label-{k:06d}"}
        for k in range(n_labels)
    }
    batch: list[dict] = []
    for i in range(total_entries):
        e = {"n": f"part-{i}.parquet", "lo": i + 1, "hi": i + 1}
        e.update(
            stats[i % n_labels if interleave else min(i // per, n_labels - 1)]
        )
        batch.append(e)
        if len(batch) == 4096:
            m.commit(batch, [])
            batch = []
    if batch:
        m.commit(batch, [])
    m._checkpoint()  # roll the tail up so probes see pages only
    return m, m.seq, per


def probe_layout_report(total_entries: int, n_labels: int) -> list[dict]:
    """Round-10 diagnostic scale check: the label-layout report
    (EventLog.label_layout_report / CLI ``stats``) must itself be
    usable at 10^6 manifest entries. Its cost is one page_survey per
    probed label — O(pages + kept-page entries), with the page cache
    shared across labels — so the CLUSTERED layout answers from page
    metas plus only the matching pages, while the INTERLEAVED layout
    (nothing refutable) pays one full page sweep for the first label
    and cache-resident walks after. Reports wall time, pages loaded,
    and the recommendation each layout earns."""
    from eventlog_spark.log import EventLog, _label_probes
    from eventlog_spark.manifest import ManifestLog

    rows = []
    for interleave in (False, True):
        root = tempfile.mkdtemp(prefix="layout_report_probe_")
        try:
            _, seq, _ = _build_label_chain(
                root, total_entries, n_labels, interleave
            )
            mirror = ManifestLog(root)
            mirror.load(seq)
            step = max(1, n_labels // 8)
            probe = [f"label-{k:06d}" for k in range(0, n_labels, step)][:8]
            t0 = time.perf_counter()
            rates = []
            page_cap = max(1, int(mirror.PAGE_ENTRIES))
            for label in probe:
                sv = mirror.page_survey(**_label_probes(label))
                kept = [p for p in sv["pages"] if p["kept"]]
                degraded = sum(
                    1 for p in kept if p["count"] and p["hits"] * 2 < p["count"]
                )
                # same improvability fence as label_layout_report: a
                # label whose matches already occupy the minimum page
                # count cannot be improved by any rewrite
                hits_total = sum(p["hits"] for p in kept)
                ideal = -(-hits_total // page_cap) if hits_total else 0
                improvable = len(kept) > ideal
                rates.append(
                    degraded / len(kept) if kept and improvable else 0.0
                )
            ms = 1e3 * (time.perf_counter() - t0)
            mean = sum(rates) / len(rates) if rates else 0.0
            row = {
                "probe": "layout_report",
                "layout": "interleaved" if interleave else "clustered",
                "entries": total_entries,
                "labels": n_labels,
                "labels_probed": len(probe),
                "report_ms": round(ms, 1),
                "pages_loaded": len(mirror._page_cache),
                "mean_degraded_page_rate": round(mean, 3),
                "recommend_cluster_by_label": mean
                > EventLog.LAYOUT_DEGRADED_PAGE_RATE,
            }
            rows.append(row)
            print(json.dumps(row), flush=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    # the detector must fire exactly on the interleaved layout
    assert rows[0]["recommend_cluster_by_label"] is False
    assert rows[1]["recommend_cluster_by_label"] is True
    return rows


def probe_label_pages(
    total_entries: int, n_labels: int, interleave: bool = False
) -> dict:
    """Round-9 done-criterion: per-label candidate enumeration at 10^6
    MANIFEST ENTRIES must be O(pages matched), not a linear walk over
    every entry (the r8 shape: 8→40 ms at 10k→100k, ~0.4 s at 10^6).

    Builds a synthetic manifest chain (batched commits of ranged,
    label-stat-carrying entries — the exact dict shape interactive
    commits stage) with version-CLUSTERED labels (the topic-log
    reality: a label's fragments cluster in commit time), forces a
    final roll-up, then measures on a COLD mirror (page metas only):

    * a present label's candidate pass — expect time ∝ its pages, with
      exactly those pages made resident,
    * an absent label — expect sub-ms, ZERO pages resident (refuted by
      every page meta's label bounds),
    * the r8 entry-level walk over the same snapshot, for scale.

    ``interleave=True`` is the adversarial layout: labels round-robin
    across entries, so EVERY page holds every label — page summaries
    cannot refute a present label (the pass degrades gracefully to the
    entry-level cost); an absent label outside every page's bounds
    still loads no page. Real topic logs cluster labels in commit time
    (the clustered case); this row bounds the worst case.
    """
    from eventlog_spark.log import _label_probes
    from eventlog_spark.manifest import ManifestLog

    root = tempfile.mkdtemp(prefix="manifest_pages_probe_")
    try:
        m, seq, per = _build_label_chain(root, total_entries, n_labels, interleave)

        def cold_candidates(label: str):
            mirror = ManifestLog(root)
            mirror.load(seq)
            t0 = time.perf_counter()
            got = mirror.candidates(**_label_probes(label))
            ms = 1e3 * (time.perf_counter() - t0)
            return got, ms, len(mirror._page_cache)

        present, present_ms, present_pages = cold_candidates("label-000000")
        mid, mid_ms, mid_pages = cold_candidates(
            f"label-{n_labels // 2:06d}"
        )
        absent, absent_ms, absent_pages = cold_candidates("label-absent")
        assert len(present) == per and len(mid) in (per, per - 1, total_entries - per * (n_labels - 1))
        assert absent == [] and absent_pages == 0

        # the r8 shape at the same scale: walk every entry
        entry_ok = _label_probes("label-000000")["entry_ok"]
        ents = m.entries()
        t0 = time.perf_counter()
        flat = [e for e in ents if entry_ok(e)]
        entry_walk_ms = 1e3 * (time.perf_counter() - t0)
        assert len(flat) == len(present)

        row = {
            "probe": "label_page_index",
            "layout": "interleaved" if interleave else "clustered",
            "entries": total_entries,
            "labels": n_labels,
            "pages": len(m._page_metas),
            "present_label_ms": round(present_ms, 2),
            "present_pages_loaded": present_pages,
            "mid_label_ms": round(mid_ms, 2),
            "mid_pages_loaded": mid_pages,
            "absent_label_ms": round(absent_ms, 3),
            "absent_pages_loaded": absent_pages,
            "r8_entry_walk_ms": round(entry_walk_ms, 2),
        }
        print(json.dumps(row), flush=True)
        return row
    finally:
        shutil.rmtree(root, ignore_errors=True)


def probe_open(total_frags: int) -> dict:
    """Round-9 done-criterion: cold open flat to 10^6 fragments.

    Synthesizes the on-disk shape of a clean log at ``total_frags``
    fragments — real manifest chain (batched commits + a forced roll-up
    carrying the head, named by the roll-up hint) and ``total_frags`` dummy fragment
    files (open never reads fragment BYTES on the clean path, so empty
    files measure exactly the control-plane cost) — then measures
    EventLog.open plus the r8 shape it replaced (one os.listdir +
    retirement-ledger parse)."""
    from eventlog_spark.manifest import ManifestLog

    root = tempfile.mkdtemp(prefix="open_probe_")
    path = os.path.join(root, "log")
    try:
        log = EventLog.create(None, path)
        m = log._manifest
        batch: list[dict] = []
        for i in range(total_frags):
            name = f"part-{i:09d}.parquet"
            with open(os.path.join(path, name), "wb"):
                pass
            batch.append({"n": name, "lo": i + 1, "hi": i + 1})
            if len(batch) == 4096:
                m.commit(batch, [])
                batch = []
        if batch:
            m.commit(batch, [])
        m._checkpoint({"latest": total_frags, "initial": 1, "ts": 1})

        t0 = time.perf_counter()
        cold = EventLog.open(None, path)
        open_ms = 1e3 * (time.perf_counter() - t0)
        assert cold.version() == total_frags
        assert not cold._manifest._page_cache  # metas only — pages lazy

        t0 = time.perf_counter()
        listing = cold._data_files()  # the r8 per-open cost
        listdir_ms = 1e3 * (time.perf_counter() - t0)
        assert len(listing) == total_frags

        row = {
            "probe": "cold_open",
            "fragments": total_frags,
            "open_ms": round(open_ms, 2),
            "r8_listing_ms": round(listdir_ms, 2),
        }
        print(json.dumps(row), flush=True)
        return row
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _zipf_label(i: int, n_labels: int) -> str:
    """~90% of commits take the hot label, the rest spread uniformly
    over a tail of n_labels-1, so mixed folds carry label bounds that
    span most of the tail."""
    if i % 10 < 9:
        return "label-000"
    return f"label-{1 + (i // 10) % (n_labels - 1):03d}"


def probe_label_tail(total_frags: int, n_labels: int) -> list[dict]:
    """Round-9 verdict item 7: a label-filtered FOLLOW (topic-consumer
    tail) over a big log during an append burst must cost ∝ NEW MATCHES
    per poll, never ∝ log age. Builds a Zipf-labeled log (~90% one hot
    label, a uniform tail over the rest) with default minor
    compaction ON (the realistic mixed-fold shape), and at each decade
    measures the exact driver-side calls the HTTP follow route serves:

    * empty poll (cursor at head, nothing new) — metadata-only, flat,
    * rare-label poll after a 1000-commit mixed burst — ∝ its ~10
      matches in the burst window,
    * hot-label poll with limit=100 over the same burst — the
      early-stop bound, ∝ the page.
    """
    root = tempfile.mkdtemp(prefix="label_tail_probe_")
    path = os.path.join(root, "log")
    results: list[dict] = []
    try:
        log = EventLog.create(None, path)
        decades = [d for d in (10_000, 100_000) if d <= total_frags]
        done = 0
        for target in decades:
            while done < target:
                log.append(_zipf_label(done, n_labels), f'{{"i":{done}}}')
                done += 1
            head = log.version()
            rare = "label-007"

            t0 = time.perf_counter()
            empty = log.scan_rows(version=head, skip_first=True, label=rare)
            empty_ms = 1e3 * (time.perf_counter() - t0)
            assert empty == []

            burst_tail: set[str] = set()
            for k in range(1000):
                lab = _zipf_label(done, n_labels)
                if lab != "label-000":
                    burst_tail.add(lab)
                log.append(lab, f'{{"i":{done}}}')
                done += 1
            rare = min(burst_tail)  # a tail label this burst DID emit
            t0 = time.perf_counter()
            got = log.scan_rows(version=head, skip_first=True, label=rare)
            rare_ms = 1e3 * (time.perf_counter() - t0)
            t0 = time.perf_counter()
            hot = log.scan_rows(
                version=head, skip_first=True, label="label-000", limit=100
            )
            hot_ms = 1e3 * (time.perf_counter() - t0)
            assert len(hot) == 100 and all(r.version > head for r in hot)
            assert all(r.label == rare for r in got) and got

            results.append(
                {
                    "probe": "label_tail",
                    "fragments_committed": done,
                    "labels": n_labels,
                    "empty_poll_ms": round(empty_ms, 3),
                    "rare_poll_ms": round(rare_ms, 2),
                    "rare_matches": len(got),
                    "hot_poll_limit100_ms": round(hot_ms, 2),
                }
            )
            print(json.dumps(results[-1]), flush=True)
        return results
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--frags", type=int, default=100_000)
    ap.add_argument("--labels", type=int, default=0,
                    help="run the label data-skipping probe with this many labels")
    ap.add_argument("--label-pages", type=int, default=0,
                    help="run the synthetic page-index probe at this many entries")
    ap.add_argument("--open", type=int, default=0,
                    help="run the cold-open probe at this many fragments")
    ap.add_argument("--label-tail", type=int, default=0,
                    help="run the zipf-label follow-tail probe to this many commits")
    ap.add_argument("--interleave", action="store_true",
                    help="label-pages: adversarial round-robin label layout")
    ap.add_argument("--layout-report", type=int, default=0,
                    help="time the label-layout diagnostic at N manifest "
                    "entries, both layouts (round-10)")
    args = ap.parse_args()
    if args.layout_report:
        probe_layout_report(
            args.layout_report, max(args.labels, 2) if args.labels else 64
        )
    elif args.label_tail:
        probe_label_tail(args.label_tail, max(args.labels, 2) if args.labels else 200)
    elif args.open:
        probe_open(args.open)
    elif args.label_pages:
        probe_label_pages(
            args.label_pages,
            max(args.labels, 2) if args.labels else 64,
            interleave=args.interleave,
        )
    elif args.labels:
        probe_labels(args.frags, args.labels)
    else:
        rows = probe(args.frags)
        print(json.dumps({"probe": "manifest_scale", "rows": rows}))
