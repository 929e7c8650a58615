"""Model-based stateful test of the manifest chain.

Hypothesis drives random sequences of commits (ranged adds, refused
range-less adds, removes hitting both paged and tail entries) across
forced-small checkpoint roll-ups and page repacks, interleaved with
cold reloads and stale-mirror replays — checking after every step that
the mirror equals a trivially-correct model (a dict of live entries):
``names()``/``count()`` exact, ``candidates(lo, hi)`` exactly the
entries whose range overlaps, and ``page_survey`` accounting closed.
The example-based tests in test_manifest.py pin known shapes; this
machine searches the repack/tombstone/reuse state space.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from hypothesis import settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    rule,
)

from eventlog_spark.manifest import ManifestLog


class ManifestChain(RuleBasedStateMachine):
    def __init__(self):
        super().__init__()
        self._root = None

    @initialize()
    def fresh_chain(self):
        self._root = tempfile.mkdtemp(prefix="manifest_model_")
        self.m = ManifestLog(self._root)
        # tiny pages + frequent roll-ups: every commit exercises the
        # repack/reuse/tombstone machinery instead of hiding in the tail
        self.m.CHECKPOINT_EVERY = 3
        self.m.PAGE_ENTRIES = 4
        self.model: dict[str, tuple[int, int]] = {}
        self.next_id = 0

    # -- operations ------------------------------------------------------------

    @rule(n=st.integers(1, 5), ranged=st.booleans())
    def commit_add(self, n, ranged):
        add = []
        for _ in range(n):
            i = self.next_id
            self.next_id += 1
            e: dict = {"n": f"part-{i:06d}.parquet"}
            if ranged:
                e["lo"], e["hi"] = i * 10 + 1, i * 10 + 7
            add.append(e)
        if not ranged:
            # every published entry carries its range: a range-less add
            # is refused before anything is claimed
            seq = self.m.seq
            with pytest.raises(ValueError):
                self.m.commit(add, [])
            assert self.m.seq == seq
            return
        self.m.commit(add, [])
        self.model.update((e["n"], (e["lo"], e["hi"])) for e in add)

    @rule(k=st.integers(1, 4), seed=st.integers(0, 10**6))
    def commit_remove(self, k, seed):
        if not self.model:
            return
        live = sorted(self.model)
        victims = [live[(seed + j * 7919) % len(live)] for j in range(k)]
        victims = sorted(set(victims))
        for v in victims:
            del self.model[v]
        self.m.commit([], victims)

    @rule()
    def cold_reload(self):
        fresh = ManifestLog(self._root)
        fresh.CHECKPOINT_EVERY = 3
        fresh.PAGE_ENTRIES = 4
        fresh.load(self.m.seq)
        self.m = fresh

    @rule(back=st.integers(1, 3))
    def stale_mirror_replays_forward(self, back):
        """A reader that loaded an OLDER pointer replays the delta
        records forward and must land on exactly the current model."""
        target = self.m.seq
        old_seq = max(0, target - back)
        stale = ManifestLog(self._root)
        stale.CHECKPOINT_EVERY = 3
        stale.PAGE_ENTRIES = 4
        try:
            stale.load(old_seq)
        except Exception:
            return  # old_seq predates the first checkpoint's coverage
        stale.replay_to(target)
        assert sorted(stale.names()) == sorted(self.model)

    # -- the property ------------------------------------------------------------

    @invariant()
    def mirror_is_the_model(self):
        if self._root is None:
            return
        assert sorted(self.m.names()) == sorted(self.model)
        assert self.m.count() == len(self.model)
        # candidates(lo, hi): keeps every overlapping entry, drops every
        # disjoint one
        lo, hi = 25, 95
        got = {e["n"] for e in self.m.candidates(lo, hi)}
        for name, rng in self.model.items():
            if rng[1] >= lo and rng[0] <= hi:
                assert name in got  # overlap: must never be missed
            else:
                assert name not in got  # disjoint range: must be pruned
        # page_survey accounting is closed: with every page kept, page
        # counts are LIVE entries (tombstones filtered at load), so
        # pages + tail must equal the model exactly — and every live
        # entry is a hit under the always-true entry predicate
        sv = self.m.page_survey(lambda pm: True, lambda e: True)
        paged = sum(p["count"] for p in sv["pages"])
        assert paged + sv["tail"] == len(self.model)
        assert sum(p["hits"] for p in sv["pages"]) == paged

    def teardown(self):
        if self._root is not None:
            shutil.rmtree(self._root, ignore_errors=True)


TestManifestChain = ManifestChain.TestCase
TestManifestChain.settings = settings(
    max_examples=25, stateful_step_count=30, deadline=None
)
