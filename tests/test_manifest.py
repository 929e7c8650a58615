"""Log-structured manifest chain (manifest.py + log.py integration).

The round-7 design embedded the full data-file list in ``_state.json``
— O(total files) per commit and per snapshot read. These tests pin the
replacement's contract: O(1) per-commit delta records (the only commit
record), paged checkpoints that reuse clean pages, version-range page
pruning for the scan_rows page path, recovery through the roll-up hint
or one listing, and the refusals (pre-manifest log, list-format
retirement ledger, head-less delta, range-less entries, chain gone).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from eventlog_spark.log import EventLog
from eventlog_spark.manifest import ManifestChainBroken, ManifestLog


def _mk(spark, tmp_path, name="log"):
    return EventLog.create(spark, str(tmp_path / name))


def _manifest_listing(log) -> list[str]:
    try:
        return sorted(os.listdir(os.path.join(log.path, "_manifest")))
    except FileNotFoundError:
        return []


def _tree(root: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
    }


def test_commit_adds_one_fragment_and_one_delta(tmp_path):
    """A one-row commit without a roll-up adds exactly two files — its
    fragment and its delta — and rewrites none: the delta is the only
    commit record, O(1) per commit, and ``create`` writes only the
    metadata file and the empty chain's roll-up hint."""
    log = EventLog.create(None, str(tmp_path / "log"))
    hint = os.path.join("_manifest", "_last_checkpoint.json")
    assert _tree(log.path) == {"_eventlog_meta.json", hint}
    with open(os.path.join(log.path, hint)) as f:
        assert json.load(f) == {"seq": 0}
    log.append("l0", '{"i":0}')
    for i in range(1, 5):
        before = {f: os.stat(os.path.join(log.path, f)).st_mtime_ns for f in _tree(log.path)}
        log.append(f"l{i}", f'{{"i":{i}}}')
        after = _tree(log.path)
        added = sorted(after - set(before))
        assert len(added) == 2, added
        assert added[0] == os.path.join("_manifest", f"delta-{i + 1:020d}.json")
        assert added[1].startswith("part-") and added[1].endswith(".parquet")
        assert all(
            os.stat(os.path.join(log.path, f)).st_mtime_ns == t for f, t in before.items()
        )
    assert not os.path.exists(os.path.join(log.path, "_state.json"))


def test_delta_records_carry_version_ranges(spark, tmp_path):
    log = _mk(spark, tmp_path)
    log.append_multi([("a", '{"k":0}'), ("b", '{"k":0}'), ("c", '{"k":0}')])
    deltas = [f for f in _manifest_listing(log) if f.startswith("delta-")]
    with open(os.path.join(log.path, "_manifest", deltas[0])) as f:
        d = json.load(f)
    assert len(d["add"]) == 1
    assert (d["add"][0]["lo"], d["add"][0]["hi"]) == (1, 3)


def test_checkpoint_rolls_up_and_retires_deltas(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(ManifestLog, "CHECKPOINT_EVERY", 4)
    log = _mk(spark, tmp_path)
    log.MINOR_COMPACT_FRAGMENTS = 0  # isolate the manifest mechanics
    for i in range(9):
        log.append(f"l{i}", f'{{"i":{i}}}')
    names = _manifest_listing(log)
    ckpts = [f for f in names if f.startswith("checkpoint-")]
    assert "checkpoint-00000000000000000004.json" in ckpts
    assert "checkpoint-00000000000000000008.json" in ckpts
    # rolled-up deltas are retired (publish-before-delete), then vacuum
    # reclaims them past the grace window
    removed = log.vacuum(grace_seconds=0)
    assert removed > 0
    left = _manifest_listing(log)
    assert "delta-00000000000000000001.json" not in left
    assert "checkpoint-00000000000000000004.json" not in left  # superseded
    # a roll-up keeps its own delta until the next one (a mirror at 8
    # proves its position by it), and delta 9 past it must survive
    assert "delta-00000000000000000004.json" not in left
    assert "delta-00000000000000000008.json" in left
    assert "delta-00000000000000000009.json" in left
    # the hint in the claim store names the newest roll-up
    with open(os.path.join(log.path, "_manifest", "_last_checkpoint.json")) as f:
        assert json.load(f) == {"seq": 8}
    # a cold open reads the full log through checkpoint + tail deltas
    reopened = EventLog.open(spark, log.path)
    assert reopened.version() == 9
    assert [r.version for r in reopened.scan_rows()] == list(range(1, 10))


def test_cold_open_of_rolled_up_log_lists_nothing(tmp_path, monkeypatch):
    """Open is listing-free on a rolled-up log: the roll-up hint names
    the newest checkpoint, GETs roll forward past it, and a GET of the
    last delta proves the position. Only a missing hint costs a
    listing — one."""
    from eventlog_spark.manifest import PosixClaimStore

    monkeypatch.setattr(ManifestLog, "CHECKPOINT_EVERY", 4)
    log = EventLog.create(None, str(tmp_path / "log"))
    for i in range(10):
        log.append("e", f'{{"i":{i}}}')
    listings = []
    names = PosixClaimStore.names
    monkeypatch.setattr(
        PosixClaimStore, "names", lambda self: listings.append(1) or names(self)
    )
    assert EventLog.open(None, log.path).version() == 10
    assert listings == []
    os.remove(os.path.join(log.path, "_manifest", "_last_checkpoint.json"))
    assert EventLog.open(None, log.path).version() == 10
    assert listings == [1]


def test_open_at_listed_checkpoint_without_its_delta(tmp_path, monkeypatch):
    """A log whose tip is a roll-up that retired its own delta (the
    retirement order of earlier releases), reaped, with no roll-up
    hint: the listing's newest checkpoint is the newest roll-up, so
    open adopts the head it carries, a refresh that lands there again
    keeps the pages the mirror loaded, and the next commit follows it."""
    monkeypatch.setattr(ManifestLog, "CHECKPOINT_EVERY", 3)
    log = EventLog.create(None, str(tmp_path / "log"))
    for i in range(6):
        log.append("e", f'{{"i":{i}}}')
    log.vacuum(grace_seconds=0)
    mdir = os.path.join(log.path, "_manifest")
    os.remove(os.path.join(mdir, f"delta-{6:020d}.json"))
    os.remove(os.path.join(mdir, "_last_checkpoint.json"))
    reopened = EventLog.open(None, log.path)
    assert reopened.version() == 6
    # each refresh lands where the mirror stands, and keeps its pages
    assert [r.version for r in reopened.scan_rows()] == list(range(1, 7))
    pages = reopened._manifest._page_cache
    assert pages
    assert reopened._refresh_published_state()
    assert reopened._manifest._page_cache is pages
    assert reopened.append("e", '{"i":6}').version == 7
    assert [r.version for r in reopened.scan_rows()] == list(range(1, 8))


def test_checkpoint_reuses_clean_pages(spark, tmp_path, monkeypatch):
    """Pages untouched between roll-ups are reused by reference — the
    O(changed)-not-O(files) checkpoint property."""
    monkeypatch.setattr(ManifestLog, "CHECKPOINT_EVERY", 3)
    monkeypatch.setattr(ManifestLog, "PAGE_ENTRIES", 2)
    log = _mk(spark, tmp_path)
    log.MINOR_COMPACT_FRAGMENTS = 0
    for i in range(6):  # two checkpoints: seq 3 and seq 6
        log.append(f"l{i}", f'{{"i":{i}}}')

    def pages_of(seq):
        p = os.path.join(log.path, "_manifest", f"checkpoint-{seq:020d}.json")
        with open(p) as f:
            return [m["f"] for m in json.load(f)["pages"]]

    first, second = pages_of(3), pages_of(6)
    # the first checkpoint's full page (2 entries) is reused verbatim
    assert set(first) & set(second), (first, second)


def test_scan_rows_loads_only_overlapping_pages(spark, tmp_path, monkeypatch):
    """The serving fast path touches O(pages overlapped): a head page
    over a many-page manifest must not make cold pages resident."""
    monkeypatch.setattr(ManifestLog, "CHECKPOINT_EVERY", 16)
    monkeypatch.setattr(ManifestLog, "PAGE_ENTRIES", 4)
    log = _mk(spark, tmp_path)
    log.MINOR_COMPACT_FRAGMENTS = 0
    for i in range(16):  # checkpoint at 16 → 4 ranged pages
        log.append(f"l{i}", f'{{"i":{i}}}')
    # cold reader: page metas only, no page resident yet
    reader = EventLog.open(spark, log.path)
    assert reader._manifest._page_metas and not reader._manifest._page_cache
    rows = reader.scan_rows(version=16, reverse=True, limit=2)
    assert [r.version for r in rows] == [16, 15]
    # only the page covering versions 13-16 was loaded
    assert len(reader._manifest._page_cache) == 1
    # a full scan then faults the rest in
    assert len(reader.scan_rows()) == 16
    assert len(reader._manifest._page_cache) == 4


def test_label_candidates_prune_pages_before_loading(tmp_path, monkeypatch):
    """Per-label candidate enumeration is O(pages matched), not
    O(manifest entries): checkpoint pages carry rolled-up label bounds,
    so a label probe refutes whole pages from their metas — an absent
    label answers without making a single page resident, and a
    clustered label loads exactly the pages that may hold it."""
    monkeypatch.setattr(ManifestLog, "CHECKPOINT_EVERY", 32)
    monkeypatch.setattr(ManifestLog, "PAGE_ENTRIES", 8)
    log = EventLog.create(None, str(tmp_path / "lp"))
    log.MINOR_COMPACT_FRAGMENTS = 0
    # version-clustered labels: commits 0-15 are "aaa", 16-31 "zzz" →
    # after the roll-up, two pages per label, disjoint summaries
    for i in range(32):
        log.append("aaa" if i < 16 else "zzz", f'{{"i":{i}}}')
    metas = log._manifest._page_metas
    assert len(metas) == 4 and all("plmin" in m for m in metas)
    reader = EventLog.open(None, log.path)
    assert not reader._manifest._page_cache  # metas only, cold
    # absent label: refuted by every page's bounds — zero loads
    assert reader.label_candidate_files("mmm") == []
    assert not reader._manifest._page_cache
    # clustered label: exactly its two pages load, the other two don't
    cands = reader.label_candidate_files("aaa")
    assert len(cands) == 16
    assert len(reader._manifest._page_cache) == 2
    # ground truth: page pruning loses nothing vs the entry-level pass
    assert sorted(cands) == sorted(
        e["n"]
        for e in log._manifest.entries()
        if e.get("lmin", "") <= "aaa" <= e.get("lmax", "\xff")
    )
    # a page holding a stat-less entry gets no summary → kept, not lost
    from eventlog_spark.manifest import _page_label_meta

    assert _page_label_meta([{"n": "x", "lmin": "a", "lmax": "b"}]) == {
        "plmin": "a",
        "plmax": "b",
    }
    assert _page_label_meta([{"n": "x"}]) == {}
    # the driver-side label page path prunes pages too
    rows = reader.scan_rows(label="zzz", limit=3)
    assert [r.version for r in rows] == [17, 18, 19]


def _dict_keys(x):
    """Every dict key anywhere inside a decoded JSON record."""
    if isinstance(x, dict):
        for k, v in x.items():
            yield k
            yield from _dict_keys(v)
    elif isinstance(x, list):
        for v in x:
            yield from _dict_keys(v)


def test_label_bounds_are_the_only_label_stat(tmp_path, monkeypatch):
    """Commits, folds and roll-ups record label bounds and no label
    bloom (``lb`` on entries, ``plb`` on page metas). A chain an
    earlier release wrote, with blooms on its delta entries and page
    metas, opens, and readers ignore them: its label pages are exact.
    The blooms written here are all-zero, so a reader that consulted
    them would refute every label."""
    monkeypatch.setattr(ManifestLog, "CHECKPOINT_EVERY", 4)
    monkeypatch.setattr(ManifestLog, "PAGE_ENTRIES", 2)
    log = EventLog.create(None, str(tmp_path / "lb"))
    log.MINOR_COMPACT_FRAGMENTS = 0
    for i in range(6):  # versions 1-6, a roll-up at seq 4
        log.append("zzz" if i % 2 == 0 else "aaa", f'{{"i":{i}}}')
    assert log.minor_compact() == 6  # seq 7
    for i in range(3):  # versions 7-9, a roll-up at seq 8
        log.append("mmm", f'{{"j":{i}}}')
    (fold,) = [e for e in log._manifest.entries() if "minor" in e["n"]]
    assert (fold["lmin"], fold["lmax"]) == ("aaa", "zzz")
    mdir = os.path.join(log.path, "_manifest")
    records = {}
    for f in sorted(os.listdir(mdir)):
        with open(os.path.join(mdir, f)) as fh:
            records[f] = json.load(fh)
    assert any(f.startswith("checkpoint-") for f in records)
    assert any(f.startswith("page-") for f in records)
    keys = set(_dict_keys(list(records.values())))
    assert {"lmin", "lmax", "plmin", "plmax"} <= keys
    assert not keys & {"lb", "plb"}, keys

    # the same chain as an earlier release wrote it: a bloom on every
    # delta and page entry, a bloom union on every page meta
    zero = "0" * 64
    for f, rec in records.items():
        if f.startswith("delta-"):
            for e in rec["add"]:
                e["lb"] = zero
        elif f.startswith("page-"):
            for e in rec:
                e["lb"] = zero
        elif f.startswith("checkpoint-"):
            for m in rec["pages"]:
                m["plb"] = zero
        with open(os.path.join(mdir, f), "w") as fh:
            json.dump(rec, fh)
    reader = EventLog.open(None, log.path)
    assert reader.version() == 9
    want = {"zzz": [1, 3, 5], "aaa": [2, 4, 6], "mmm": [7, 8, 9]}
    for label, versions in want.items():
        assert [r.version for r in reader.scan_rows(label=label)] == versions
        assert reader.label_candidate_files(label)
    assert reader.label_candidate_files("zzzz") == []  # past every bound
    assert [r.version for r in reader.scan_rows()] == list(range(1, 10))


def test_cross_instance_visibility_by_delta_replay(spark, tmp_path):
    """A second EventLog instance on the same path advances by replaying
    the writer's delta records — no reopen."""
    a = _mk(spark, tmp_path)
    b = EventLog.open(spark, a.path)
    a.append("x", '{"v":1}')
    a.append("y", '{"v":2}')
    b._refresh_published_state()  # head + manifest advance by delta REPLAY
    assert b._manifest.seq == a._manifest.seq
    rows = b.scan_rows()
    assert [r.label for r in rows] == ["x", "y"]
    a.compact(target_partitions=1)
    assert [r.label for r in b.scan_rows()] == ["x", "y"]
    assert all(f.startswith("compact-") for f in b._manifest_files())


def test_legacy_state_file_refused(spark, tmp_path):
    """A round-7 log (file list embedded in _state.json, no manifest
    chain) is refused on open by the no-chain check, never adopted from
    a list nothing else vouches for."""
    log = _mk(spark, tmp_path)
    log.append_multi([("a", '{"k":0}'), ("b", '{"k":0}')])
    legacy = {
        "latest_version": 2,
        "version_initial": 1,
        "last_timestamp": 0,
        "stream_commits": {},
        "files": log._manifest_files(),
    }
    shutil.rmtree(os.path.join(log.path, "_manifest"))
    with open(os.path.join(log.path, "_state.json"), "w") as f:
        json.dump(legacy, f)
    with pytest.raises(RuntimeError, match="unrecoverable.*pre-manifest log"):
        EventLog.open(spark, log.path)


def test_retired_list_ledger_refused(tmp_path):
    """The list-format retirement ledger (``_retired.json``, written
    before the append-only ``_retired.jsonl``) is refused on open with
    an error naming the file, which stays in place: its files are
    neither adopted nor reaped."""
    log = EventLog.create(None, str(tmp_path / "log"))
    log.append("a", '{"k":0}')
    ledger = os.path.join(log.path, "_retired.json")
    body = json.dumps([{"ts": 0, "files": ["gone.parquet"]}])
    with open(ledger, "w") as f:
        f.write(body)
    with pytest.raises(RuntimeError, match="_retired.json"):
        EventLog.open(None, log.path)
    with open(ledger) as f:
        assert f.read() == body


def test_recovery_after_pointer_loss_rebuilds_chain(spark, tmp_path, monkeypatch):
    """Roll-up hint lost entirely (after a roll-up whose deltas were
    reaped): one listing finds the newest checkpoint, the head
    recovers from it and the delta past it, and the next commit claims
    the seq PAST everything in the store."""
    monkeypatch.setattr(ManifestLog, "CHECKPOINT_EVERY", 2)
    log = _mk(spark, tmp_path)
    for i in range(3):
        log.append(f"l{i}", '{"k":0}')
    log.vacuum(grace_seconds=0)
    old_seq = log._manifest.seq
    os.remove(os.path.join(log.path, "_manifest", "_last_checkpoint.json"))
    reopened = EventLog.open(spark, log.path)
    assert reopened.version() == 3
    reopened.append("after", '{"k":0}')
    assert reopened._manifest.seq == old_seq + 1
    assert [r.version for r in reopened.scan_rows()] == [1, 2, 3, 4]
    audit = reopened.check_integrity().collect()[0]
    assert audit.density_violation == 0 and audit.chain_violations == 0


def test_headless_delta_past_pointer_refused(spark, tmp_path):
    """A delta with no head record (the retired flock protocol's shape,
    e.g. one its crash left at the tip, never acknowledged) cannot be
    adopted: its head is unknown, and adopting it headless would hand
    its versions out a second time. Open refuses, naming the file; once
    the operator deletes it, the log opens and the next append takes
    the version the crashed commit never got."""
    log = _mk(spark, tmp_path)
    log.append("committed", '{"ok":1}')
    log.append("orphan", '{"crash":1}')  # delta 2
    orphan = os.path.join(log.path, "_manifest", f"delta-{2:020d}.json")
    with open(orphan) as f:
        rec = json.load(f)
    del rec["head"]  # the flock protocol's delta shape
    with open(orphan, "w") as f:
        json.dump(rec, f)

    with pytest.raises(RuntimeError, match=f"delta-{2:020d}.json"):
        EventLog.open(spark, log.path)
    os.remove(orphan)
    reopened = EventLog.open(spark, log.path)
    assert [r.label for r in reopened.scan_rows()] == ["committed"]
    assert reopened.append("next", '{"ok":2}').version == 2
    assert [row.label for row in reopened.scan_rows()] == ["committed", "next"]


def test_broken_chain_refuses_listing_fallback(spark, tmp_path):
    """A log whose manifest chain is gone from the store is refused
    loudly: the directory listing may hold an unpublished loser's
    fragment aliasing committed versions, so it is never a fallback —
    raising beats serving an empty or doubled log, and beats a vacuum
    reaping every fragment as an unclaimed leftover."""
    log = _mk(spark, tmp_path)
    log.append_multi([("a", '{"k":0}'), ("b", '{"k":0}')])
    mdir = os.path.join(log.path, "_manifest")
    for f in os.listdir(mdir):
        os.remove(os.path.join(mdir, f))
    with pytest.raises(RuntimeError, match="unrecoverable"):
        EventLog.open(spark, log.path)


def test_chain_missing_its_start_refuses_listing_fallback(tmp_path):
    """A chain whose start is gone from the store while later deltas
    remain is refused the same way."""
    log = EventLog.create(None, str(tmp_path / "log"))
    log.append_multi([("a", '{"k":0}'), ("b", '{"k":0}')])
    log.append("c", '{"k":0}')
    os.remove(os.path.join(log.path, "_manifest", f"delta-{1:020d}.json"))
    with pytest.raises(RuntimeError, match="unrecoverable"):
        EventLog.open(None, log.path)


def test_minor_compact_folds_show_as_one_delta(spark, tmp_path):
    """LSM minor compaction publishes one delta (removes + one add) and
    the folded fragments retire for straggler readers."""
    log = _mk(spark, tmp_path)
    log.MINOR_COMPACT_FRAGMENTS = 0
    for i in range(6):
        log.append(f"l{i}", '{"k":0}')
    folded = log.minor_compact()
    assert folded == 6
    names = log._manifest_files()
    assert len([f for f in names if f.endswith(".parquet")]) == 1
    assert names[0].endswith("-minor.parquet")
    # ranged entry: the fold's version span is recorded in the manifest
    ents = log._manifest.entries()
    minor = [e for e in ents if e["n"].endswith("-minor.parquet")]
    assert (minor[0]["lo"], minor[0]["hi"]) == (1, 6)
    assert [r.version for r in log.scan_rows()] == [1, 2, 3, 4, 5, 6]


def test_manifest_unit_overlapping_and_tombstones(tmp_path):
    """ManifestLog alone: delta replay, tombstones, page pruning."""
    m = ManifestLog(str(tmp_path))
    m.commit([{"n": "f1.parquet", "lo": 1, "hi": 10}], [])
    m.commit([{"n": "f2.parquet", "lo": 11, "hi": 20}], [])
    m.commit([{"n": "f3.parquet", "lo": 21, "hi": 30}], ["f1.parquet"])
    assert sorted(m.names()) == ["f2.parquet", "f3.parquet"]
    assert [e["n"] for e in m.overlapping(12, 15)] == ["f2.parquet"]
    # a second mirror replays the same chain from disk
    m2 = ManifestLog(str(tmp_path))
    m2.load(3)
    assert sorted(m2.names()) == ["f2.parquet", "f3.parquet"]
    # partial history: position at seq 2 (before the remove)
    m1 = ManifestLog(str(tmp_path))
    m1.load(2)
    assert sorted(m1.names()) == ["f1.parquet", "f2.parquet"]
    # broken chain raises
    os.remove(os.path.join(str(tmp_path), "_manifest", f"delta-{1:020d}.json"))
    with pytest.raises(ManifestChainBroken):
        ManifestLog(str(tmp_path)).load(3)


def test_commit_refuses_rangeless_entry(tmp_path):
    """Every published entry carries its version range — the only index
    a page read uses — so ``commit`` refuses an add without one before
    claiming anything: no delta lands and the mirror does not move."""
    m = ManifestLog(str(tmp_path))
    m.commit([{"n": "f1.parquet", "lo": 1, "hi": 10}], [])
    for bad in ({"n": "f2.parquet"}, {"n": "f2.parquet", "lo": 11, "hi": None}):
        with pytest.raises(ValueError, match="f2.parquet"):
            m.commit([bad], ["f1.parquet"])
        assert (m.seq, m.names()) == (1, ["f1.parquet"])
        assert m._store.get(f"delta-{2:020d}.json") is None


def test_open_refuses_rangeless_delta_entry(tmp_path):
    """A chain holding a range-less delta entry (an earlier release
    published one when a footer had no version stats) refuses to open,
    naming the file, instead of serving pages through a footer probe."""
    log = EventLog.create(None, str(tmp_path / "log"))
    log.append("a", '{"i":1}')
    log.append("b", '{"i":2}')
    delta = os.path.join(log.path, "_manifest", f"delta-{2:020d}.json")
    with open(delta) as f:
        rec = json.load(f)
    del rec["add"][0]["lo"], rec["add"][0]["hi"]
    with open(delta, "w") as f:
        json.dump(rec, f)
    with pytest.raises(RuntimeError, match=f"delta-{2:020d}.json"):
        EventLog.open(None, log.path)


def test_load_refuses_rangeless_checkpoint_page(tmp_path):
    """The checkpoint shape an earlier release wrote for range-less
    entries — one page meta with no ``lo``/``hi`` — refuses to load,
    naming the checkpoint."""
    m = ManifestLog(str(tmp_path))
    m.commit([{"n": "f1.parquet", "lo": 1, "hi": 10}], [])
    m._checkpoint()
    ckpt = os.path.join(str(tmp_path), "_manifest", f"checkpoint-{1:020d}.json")
    with open(ckpt) as f:
        rec = json.load(f)
    rec["pages"][0]["lo"] = rec["pages"][0]["hi"] = None
    with open(ckpt, "w") as f:
        json.dump(rec, f)
    with pytest.raises(RuntimeError, match=f"checkpoint-{1:020d}.json"):
        ManifestLog(str(tmp_path)).load(1)


_STORM_WRITER = r"""
import json, sys

repo, path, wid, n = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
sys.path.insert(0, repo)
from pyspark.sql import SparkSession

from eventlog_spark.log import EventLog
from eventlog_spark.manifest import ManifestLog

ManifestLog.CHECKPOINT_EVERY = 8
spark = (
    SparkSession.builder.master("local[1]")
    .appName(f"storm_writer_{wid}")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "1")
    .getOrCreate()
)
log = EventLog.open(spark, path)
wins = []
for i in range(n):
    r = log.try_append(
        log.version(),
        lambda: (f"writer{wid}", json.dumps({"writer": wid, "seq": i})),
        max_retries=2048,
    )
    wins.append(r.version)
print("WINS:" + ",".join(map(str, wins)))
spark.stop()
"""


def test_eight_process_occ_manifest_storm(spark, tmp_path):
    """EIGHT OS processes hammer one log through the OCC path while the
    log-structured manifest checkpoints every 8 commits — so ~8 paged
    roll-ups (page rewrites + delta retirement + hint puts) race
    64 interleaved commits from 8 independent claim contenders. This is
    the multi-writer shape a shared object-store prefix sees: every
    writer advances its mirror by replaying the OTHERS' delta records.
    Must hold: exactly-one-winner per version (union of acked versions
    is a permutation of 1..64), dense scan, clean audit, and a fresh
    process adopts the final chain (manifest count == live fragment
    reality)."""
    import os as _os
    import subprocess
    import sys

    path = str(tmp_path / "storm")
    EventLog.create(spark, path, metadata={"test": "storm"})
    n_writers, n_each = 8, 8
    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _STORM_WRITER, repo, path, str(wid), str(n_each)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for wid in range(n_writers)
    ]
    wins = []
    for p in procs:
        out, err = p.communicate(timeout=540)
        assert p.returncode == 0, f"writer failed:\n{err[-2000:]}"
        (line,) = [ln for ln in out.splitlines() if ln.startswith("WINS:")]
        wins.extend(int(v) for v in line[5:].split(","))
    total = n_writers * n_each
    assert sorted(wins) == list(range(1, total + 1))
    reopened = EventLog.open(spark, path)
    assert reopened.version() == total
    rows = reopened.scan(version=1, limit=total).collect()
    assert [r.version for r in rows] == list(range(1, total + 1))
    audit = reopened.check_integrity().collect()[0]
    assert audit.checksum_violations == 0
    assert audit.chain_violations == 0
    assert audit.payload_violations == 0


def test_socket_claim_store_contract(tmp_path):
    """claimsvc: the served object-store contract behaves exactly like
    the other two ClaimStores — atomic whole-object put, conditional
    put_if_absent (exactly one winner under concurrency), strong
    read-after-write get, delete, list — across SEPARATE client
    connections (each EventLog instance owns one)."""
    import tempfile
    import threading

    from eventlog_spark.claimsvc import ClaimServer, SocketClaimStore

    d = tempfile.mkdtemp(prefix="claimsvc-", dir="/tmp")
    srv = ClaimServer(os.path.join(d, "s")).start()
    try:
        a = SocketClaimStore(srv.socket_path)
        b = SocketClaimStore(srv.socket_path)
        assert a.get("x") is None
        a.put("x", b"v1")
        assert b.get("x") == b"v1"  # read-after-write across clients
        a.put("x", b"v2")  # unconditional put overwrites
        assert b.get("x") == b"v2"
        assert not b.put_if_absent("x", b"loser")  # name taken
        assert b.get("x") == b"v2"  # loser wrote nothing
        assert a.put_if_absent("y", b"w")  # free name claims
        assert sorted(a.names()) == ["x", "y"]
        assert b.delete("x") and not b.delete("x")
        assert a.names() == ["y"]
        # conditional PUT under real concurrency: 16 threads x own
        # connection race for one name - exactly one winner
        results = []
        stores = [SocketClaimStore(srv.socket_path) for _ in range(16)]

        def claim(i):
            results.append((i, stores[i].put_if_absent("race", b"%d" % i)))

        ts = [threading.Thread(target=claim, args=(i,)) for i in range(16)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=30)
        winners = [i for i, ok in results if ok]
        assert len(results) == 16 and len(winners) == 1
        assert a.get("race") == b"%d" % winners[0]  # winner's bytes, whole
        # checkpoint-page-sized objects (hundreds of KB at 4096
        # entries) must frame cleanly through the length-prefixed wire
        big = bytes(range(256)) * (2 * 1024 * 1024 // 256)  # 2 MiB
        a.put("ckpt", big)
        assert b.get("ckpt") == big
        # transport errors RAISE (never a silent retry — a re-sent
        # put_if_absent whose first copy applied would report a false
        # claim loss) and the NEXT call reconnects fresh — which is
        # what lets the manifest layer's disambiguating GET succeed
        # after a mid-claim drop
        a._sock.close()  # simulate a dropped connection
        with pytest.raises((OSError, ConnectionError)):
            a.get("ckpt")
        assert a.get("ckpt") == big  # reconnected
    finally:
        srv.stop()
        shutil.rmtree(d, ignore_errors=True)
