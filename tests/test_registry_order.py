"""The driver checks exactly the first 50 registry entries, so the
registry order is derived from the CORRECTNESS_r<round>.json ledgers:
the queries checked longest ago lead, the catalog-side-effect query goes
last, everything else keeps registration order."""

from __future__ import annotations

import json

from eventlog_spark import queries
from eventlog_spark.queries import REGISTRY, _ensure_loaded, last_checks, registry_order

_LAST = "join_bucketed_colocated"


def _ledger(d, name, queries_checked):
    (d / name).write_text(json.dumps({q: {"hash_match": True} for q in queries_checked}))


def test_registry_order_oldest_check_first(tmp_path, monkeypatch):
    monkeypatch.setattr(queries, "_WINDOW", 3)
    _ledger(tmp_path, "CORRECTNESS_r01.json", ["a", "b", "c", "d", _LAST])
    _ledger(tmp_path, "CORRECTNESS_r2.json", ["c", "e"])
    _ledger(tmp_path, "CORRECTNESS_r10.json", ["a"])  # round 10 > round 2
    _ledger(tmp_path, "CORRECTNESS_notes.json", ["b"])  # not a round ledger
    checks = last_checks(str(tmp_path))
    assert checks == {"a": 10, "b": 1, "c": 2, "d": 1, "e": 2, _LAST: 1}
    names = ["a", _LAST, "e", "f", "d", "c", "b"]  # registration order
    # f never checked (round 0), then b/d (round 1, by name); the rest
    # keep registration order; the catalog query stays last
    assert registry_order(checks, names) == ["f", "b", "d", "a", "e", "c", _LAST]


def test_registry_order_without_ledgers_is_registration_order(tmp_path, monkeypatch):
    monkeypatch.setattr(queries, "_WINDOW", 3)
    assert last_checks(str(tmp_path)) == {}
    names = ["a", _LAST, "e", "f", "d", "c", "b"]
    assert registry_order({}, names) == ["a", "e", "f", "d", "c", "b", _LAST]


def test_registry_window_is_the_oldest_checks_on_the_committed_ledgers():
    _ensure_loaded()
    names = list(REGISTRY)
    checks = last_checks()
    window, rest = names[:50], names[50:-1]
    assert names[-1] == _LAST and _LAST not in window
    assert window == registry_order(checks, names)[:50]
    newest_in_window = max(checks.get(n, 0) for n in window)
    assert all(checks.get(n, 0) >= newest_in_window for n in rest)
