"""Log-structured file manifest — the Delta/Iceberg-shaped commit log.

Why this exists: through round 7 the committed data-file list rode
inside ``_state.json`` — one atomic publish, trivially consistent, but
O(total files) twice over: every commit re-serialized the complete
list and every snapshot read re-parsed it. Fine at the rehearsed
scales (≤1 KB); at 100 TB (~10^5-10^6 fragments even at 1 GB/file) the
per-commit JSON rewrite and per-read parse are the one remaining O(n)
asymptote in the storage design. The reference has no analog (its log
is a single file + offset, eventlog/file/file.go); this is the shape a
table format uses instead:

* **Per-commit delta records** (``_manifest/delta-<seq>.json``): each
  commit appends ONE small immutable record — the files it added (with
  their version ranges) and the files it removed. O(1) per commit, no
  rewrite of anything, published whole so a half-written record is
  never visible under its final name.
* **Paged checkpoints** (``_manifest/checkpoint-<seq>.json`` +
  ``_manifest/page-<uuid>.json``): every CHECKPOINT_EVERY commits the
  live entry set is rolled up into pages of PAGE_ENTRIES entries keyed
  by version range. Pages are immutable; a checkpoint REUSES every
  page untouched since the last roll-up and rewrites only dirty ones
  (pages that lost an entry to compaction) plus the tail — so the
  steady-state checkpoint cost is O(changed), not O(files).
* **Version-range keyed pages**: a page read for versions [lo, hi]
  loads only the pages whose range overlaps — O(pages overlapped),
  not O(files). This is what keeps the serving layer's ``scan_rows``
  flat as fragments accumulate, and it is the ONLY index a page read
  uses: every entry carries its fragment's ``lo``/``hi``. ``commit``
  refuses an entry without a range before claiming anything, and
  loading a chain that holds one (written by an earlier release)
  refuses to open, naming the file.
* **The delta claim is the commit point, and the only commit
  record**: a delta is published with an atomic create-if-absent
  (``put_if_absent``), so of two writers racing for one seq exactly one
  wins and the other retries at the next seq. Each delta carries the
  head fields of its commit; nothing else is written per commit.
* **Checkpoints carry the head, and a hint names the newest**: a
  roll-up's record carries the head fields (and stream markers) of the
  delta it rolls up, and ``_last_checkpoint.json`` (``{"seq": N}``,
  put after ``checkpoint-N``) lets an open find it with one GET instead
  of a listing; ``create`` puts it as ``{"seq": 0}``, so an empty
  chain without it beside data fragments reads as lost, not new. The
  hint only shortens open: a missing, stale or rolled-back hint costs
  one listing, never a wrong head. A chain that yields no head — deltas
  of the retired flock protocol, or a checkpoint written before
  checkpoints carried heads at the tip — is refused, naming the file.
* **Superseded manifest files retire, never die in place**: a roll-up
  at N hands its base checkpoint, then deltas [base, N-1] ascending,
  then dissolved pages to the log's deferred-deletion ledger (log.py
  ``_retire``/``vacuum``), the same grace-window mechanism that
  protects data fragments from straggler readers. Delta N stays until
  the next roll-up. The reaper deletes retired deltas in ascending seq
  order across all ledger batches, and none at or above the lowest
  delta of a batch still inside the grace window, so the deltas gone
  from the store are always a prefix of the chain.

Consistency model (mirrors log.py's snapshot isolation): writers are
ordered by the delta claim, so no sequence number is ever assigned
twice; readers are lock-free — every manifest file is immutable once
published. A mirror refreshes by rolling forward along the deltas
(``refresh``). When none lies past it, it proves its position by
finding delta ``seq`` itself: the reaper never deletes delta s+1
before delta s. A mirror that cannot prove its position (a writer
stale past a reaped roll-up) re-positions on the newest roll-up; one
that finds the chain ending below the seq it already reached raises
ManifestChainBroken, and the log refuses to serve or commit rather
than re-assign acknowledged versions.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import uuid

_DELTA = "delta-{:020d}.json"
_CKPT = "checkpoint-{:020d}.json"
_HINT = "_last_checkpoint.json"


def _delta_seq(name: str) -> int | None:
    """Seq of a delta record named ``name`` (under any directory), None
    for any other name."""
    base = os.path.basename(name)
    ok = base.startswith("delta-") and base.endswith(".json") and base[6:-5].isdigit()
    return int(base[6:-5]) if ok else None


class PosixClaimStore:
    """Directory-backed claim store (the default). ``put`` is an atomic
    rename publish; ``put_if_absent`` is a hard-link create — link(2)
    fails with EEXIST when ANY writer already owns the name, and a
    reader can never observe a torn record because the name only exists
    once the bytes do. Correct on any filesystem with POSIX link
    semantics (local disk, NFS)."""

    def __init__(self, root: str):
        self._root = root

    def _p(self, name: str) -> str:
        return os.path.join(self._root, name)

    def put(self, name: str, data: bytes) -> None:
        os.makedirs(self._root, exist_ok=True)
        tmp = self._p(f".{name}.tmp.{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, self._p(name))

    def put_if_absent(self, name: str, data: bytes) -> bool:
        os.makedirs(self._root, exist_ok=True)
        tmp = self._p(f".{name}.tmp.{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(data)
        try:
            os.link(tmp, self._p(name))
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        return True

    def get(self, name: str) -> bytes | None:
        try:
            with open(self._p(name), "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def delete(self, name: str) -> bool:
        try:
            os.remove(self._p(name))
            return True
        except FileNotFoundError:
            return False

    def names(self) -> list[str]:
        try:
            return [n for n in os.listdir(self._root) if not n.startswith(".")]
        except FileNotFoundError:
            return []


class MemoryClaimStore:
    """Object-store-semantics fake (SCALE.md §1, round-9 verdict gap):
    models the primitives a 100 TB deployment's manifest store actually
    offers — S3/GCS-style atomic whole-object PUT, conditional PUT
    (``If-None-Match: *``), strong read-after-write, and list-after-
    write — with NO rename, NO hard link, NO flock anywhere. Shared
    between EventLog instances, it stands in for the bucket in the
    multi-writer fencing tests, proving the commit protocol depends on
    nothing beyond the 5-method ClaimStore contract. In-process only
    (a dict under one lock); the cross-process storms keep exercising
    the POSIX store."""

    def __init__(self):
        self._objs: dict[str, bytes] = {}
        self._lock = threading.Lock()

    def put(self, name: str, data: bytes) -> None:
        with self._lock:
            self._objs[name] = bytes(data)

    def put_if_absent(self, name: str, data: bytes) -> bool:
        with self._lock:
            if name in self._objs:
                return False
            self._objs[name] = bytes(data)
            return True

    def get(self, name: str) -> bytes | None:
        with self._lock:
            return self._objs.get(name)

    def delete(self, name: str) -> bool:
        with self._lock:
            return self._objs.pop(name, None) is not None

    def names(self) -> list[str]:
        with self._lock:
            return list(self._objs)


class ManifestChainBroken(Exception):
    """The checkpoint/delta chain cannot position a mirror: a
    checkpoint or delta it needs is missing or unreadable, or the chain
    ends below the seq the mirror already reached."""


class ManifestSeqClaimed(Exception):
    """Another writer already claimed this delta sequence number (the
    exclusive create of ``delta-<seq>.json`` found the name taken). The caller lost the
    commit race — it must discard its staged fragment, resync to the
    winner's state, and retry at the next seq."""


class _PageGone(FileNotFoundError):
    """A page of the mirror's base checkpoint is gone from the store: a
    newer roll-up dissolved it, and vacuum reaped it."""


def _rebasing(method):
    """Run a mirror method that loads pages; if one is gone, re-base
    the mirror on the newest checkpoint at its seq (the same snapshot,
    found by one listing) and run the method again. Pages load lazily,
    so a long-lived mirror can outlive the pages of its base."""

    @functools.wraps(method)
    def run(self, *args, **kwargs):
        try:
            return method(self, *args, **kwargs)
        except _PageGone:
            self.load(self.seq)
            return method(self, *args, **kwargs)

    return run


def _entry_overlaps(e: dict, lo: int, hi: int) -> bool:
    """Whether an entry's version range meets [lo, hi]."""
    return not (e["hi"] < lo or e["lo"] > hi)


def _rangeless(entries: list[dict]) -> list:
    """Names of the entries that carry no version range."""
    return [
        e.get("n") or e.get("f")  # a data-file entry, or a page meta
        for e in entries
        if None in (e.get("lo"), e.get("hi"))
    ]


def _refuse_rangeless(name: str, entries: list[dict]) -> None:
    """Refuse to load a manifest file holding range-less entries: page
    reads select fragments by range alone, so such an entry could never
    be served."""
    missing = _rangeless(entries)
    if missing:
        raise RuntimeError(
            f"manifest file {name} holds entries without a version range "
            f"({missing[:3]}), a format this release no longer opens. Run "
            "compact with the release that wrote it (compaction records "
            "every fragment's range), then reopen; see MIGRATION.md."
        )


def _page_label_meta(chunk: list[dict]) -> dict:
    """Page-level label bounds rolled up from the entries a page holds
    — the same Iceberg shape one level up (manifest-file column bounds
    over its data-file entries): ``plmin``/``plmax`` when EVERY entry
    carries label bounds. A page with one bound-less entry gets none —
    the page is then conservatively kept by any label probe, so page
    bounds can only SKIP pages that provably lack the label. This is
    what keeps the per-label candidate pass O(pages matched), not
    O(manifest entries): at 10^6 fragments / 4096-entry pages a label
    probe touches ~250 page metas instead of walking a million entry
    dicts."""
    if chunk and all("lmin" in e for e in chunk):
        return {
            "plmin": min(e["lmin"] for e in chunk),
            "plmax": max(e["lmax"] for e in chunk),
        }
    return {}


class ManifestLog:
    """In-process mirror of one log's manifest chain.

    Owned by an EventLog; all mutation happens inside the log's commit
    section (thread RLock; other writers are fenced by the delta
    claim), reads under the thread lock. The mirror advances by replaying delta records —
    O(new commits) — and only cold-positions (checkpoint + tail replay)
    on open or when it cannot prove its position (``refresh``).
    """

    CHECKPOINT_EVERY = 64
    PAGE_ENTRIES = 4096

    def __init__(self, log_dir: str, store=None):
        self._dir = os.path.join(log_dir, "_manifest")
        # Every manifest read and write goes through the claim store —
        # the 5-method seam (put / put_if_absent / get / delete / names) a
        # shared store must offer. Default: the POSIX directory store;
        # MemoryClaimStore models an object store for the fencing
        # tests. The put_if_absent of the delta seq IS the commit
        # point, so swapping the store swaps the whole commit
        # protocol's substrate (SCALE.md §1: S3 If-None-Match PUT
        # slots in here).
        self._store = store if store is not None else PosixClaimStore(self._dir)
        self.seq = 0  # the snapshot this mirror currently reflects
        self._ckpt_seq = 0  # seq of the checkpoint the mirror is based on
        # head fields of the base checkpoint (those of the delta it
        # rolled up), None for the empty chain or a checkpoint written
        # before checkpoints carried heads — a cold position adopts it
        # before rolling forward
        self.ckpt_head: dict | None = None
        # page metas from the base checkpoint: {"f", "lo", "hi", "count"}
        self._page_metas: list[dict] = []
        self._page_cache: dict[str, list[dict]] = {}  # page file -> raw entries
        self._tail: list[dict] = []  # adds since the base checkpoint
        # names removed whose entry lives in a page (tail removals are
        # applied eagerly); resolved at the next checkpoint
        self._tombstones: set[str] = set()

    # -- discovery ---------------------------------------------------------------

    def _latest_checkpoint_at(self, seq: int | None = None) -> int | None:
        """Seq of the newest checkpoint in the store at or below ``seq``
        (any seq when None) — one listing."""
        best = None
        for f in self._store.names():
            if f.startswith("checkpoint-") and f.endswith(".json"):
                try:
                    s = int(f[len("checkpoint-") : -5])
                except ValueError:
                    continue
                if (seq is None or s <= seq) and (best is None or s > best):
                    best = s
        return best

    # -- positioning -------------------------------------------------------------

    def mark_created(self) -> None:
        """Put the hint of a new, empty chain (``{"seq": 0}``): an open
        that finds the chain empty and this hint in place knows nothing
        was claimed yet; without it, beside data fragments, the chain
        was lost."""
        self._write_json(_HINT, {"seq": 0})

    def chain_lost(self, has_fragments) -> bool:
        """Whether an empty chain was lost rather than never claimed:
        the store holds manifest records besides the hint, or
        ``has_fragments()`` while the hint ``mark_created`` put is gone."""
        return bool(set(self._store.names()) - {_HINT}) or (
            self._hinted_checkpoint() != 0 and has_fragments()
        )

    def reap_deltas(self, top: int) -> int:
        """Delete every delta at or below ``top`` in the store, in
        ascending seq order; returns how many went."""
        seqs = sorted(s for s in map(_delta_seq, self._store.names()) if s and s <= top)
        return sum(self._store.delete(_DELTA.format(s)) for s in seqs)

    def _hinted_checkpoint(self) -> int | None:
        """Seq the roll-up hint names, None when it is absent or torn."""
        try:
            return int(json.loads(self._store.get(_HINT))["seq"])
        except (TypeError, ValueError, KeyError):
            return None

    def _based_at(self, ck: int) -> "ManifestLog":
        """A new mirror positioned on checkpoint ``ck`` (0: the empty
        chain) — page METAS only, pages load lazily on first touch.
        Raises ManifestChainBroken when the checkpoint is unreadable."""
        fresh = ManifestLog(os.path.dirname(self._dir), store=self._store)
        if ck:
            name = _CKPT.format(ck)
            try:
                data = json.loads(self._store.get(name))
                fresh._page_metas = list(data["pages"])
            except (TypeError, ValueError, KeyError) as e:
                raise ManifestChainBroken(f"checkpoint {ck} unreadable") from e
            _refuse_rangeless(name, fresh._page_metas)
            fresh.ckpt_head = data.get("head")
            fresh.seq = fresh._ckpt_seq = ck
        return fresh

    def load(self, seq: int) -> None:
        """Cold-position at seq: newest checkpoint ≤ seq (one listing)
        + replay of the delta records (checkpoint, seq]. Raises
        ManifestChainBroken if any link is missing — ATOMICALLY: the
        mirror keeps its prior state on failure."""
        fresh = self._based_at(self._latest_checkpoint_at(seq) or 0)
        try:
            for s in range(fresh.seq + 1, seq + 1):
                fresh._apply_delta_file(s)
        except (FileNotFoundError, ValueError, KeyError) as e:
            raise ManifestChainBroken(f"delta chain broken below seq {seq}") from e
        fresh.seq = seq
        self.__dict__.update(fresh.__dict__)

    def refresh(self) -> dict | None:
        """Advance the mirror to the tip of the chain and return the
        head fields to adopt (None: no commit past the mirror). The one
        routine behind open and every refresh:

        1. Roll forward along the deltas past the mirror (GET probes,
           no listing).
        2. If none lay past it, prove the mirror's position by finding
           delta ``seq``: a roll-up keeps its own delta, and the
           reaper deletes retired deltas as a prefix of the chain
           (log.py ``_reap_retired``), never delta s+1 before delta s.
        3. If that proof fails (a fresh mirror, or a writer stale past
           a reaped roll-up), cold-position at the newest roll-up —
           named by the hint, else by one listing — and return the head
           it carries, rolled forward along the deltas past it. A
           hinted roll-up with no delta past it must prove itself the
           same way: a rolled-back hint can name a checkpoint that a
           newer roll-up's retirement passed.

        Raises ManifestChainBroken, leaving the mirror unchanged, when
        no position can be proven, or when the chain found ends below
        the seq this mirror already reached: commits it saw are gone
        from the store, and serving or committing on what is left would
        re-assign acknowledged versions."""
        reached = self.seq
        if reached:
            head = self.roll_forward()
            if self.seq > reached or self._store.get(_DELTA.format(reached)):
                return head
        for ck, hinted in self._rollups():
            try:
                fresh = self._based_at(ck)
            except ManifestChainBroken:
                continue
            head = fresh.roll_forward(fresh.ckpt_head)
            if fresh.seq < reached:
                continue
            if hinted and fresh.seq == ck and not self._store.get(_DELTA.format(ck)):
                continue
            # landing where the mirror already stands (a tip roll-up
            # without its own delta) keeps its loaded pages
            if (fresh._ckpt_seq, fresh.seq) != (self._ckpt_seq, self.seq):
                self.__dict__.update(fresh.__dict__)
            return head
        raise ManifestChainBroken(
            f"no roll-up in the store positions a chain at or past seq {reached}"
        )

    def _rollups(self):
        """The roll-ups a cold position tries, as (seq, named by the
        hint): the hint's, then the newest one listed (0: none, the
        empty chain)."""
        hinted = self._hinted_checkpoint()
        if hinted is not None:
            yield hinted, True
        yield self._latest_checkpoint_at() or 0, False

    def _apply_delta_file(self, s: int) -> None:
        raw = self._store.get(_DELTA.format(s))
        if raw is None:
            raise FileNotFoundError(_DELTA.format(s))
        d = json.loads(raw)
        _refuse_rangeless(_DELTA.format(s), d.get("add", []))
        self._apply(d.get("add", []), d.get("remove", []))

    def _apply(self, add: list[dict], remove: list[str]) -> None:
        # removes first: a compaction's delta removes the files that
        # existed before its adds
        if remove:
            rm = set(remove)
            in_tail = {e["n"] for e in self._tail if e["n"] in rm}
            if in_tail:
                self._tail = [e for e in self._tail if e["n"] not in in_tail]
                rm -= in_tail
            self._tombstones |= rm
        if add:
            self._tail.extend(add)

    # -- queries -------------------------------------------------------------

    def _load_page(self, meta: dict) -> list[dict]:
        pf = meta["f"]
        got = self._page_cache.get(pf)
        if got is None:
            raw = self._store.get(pf)
            if raw is None:
                raise _PageGone(pf)
            got = json.loads(raw)
            self._page_cache[pf] = got
        return got

    def count(self) -> int:
        """Committed file count WITHOUT loading any page: page metas
        carry counts, tombstones are page-resident by construction, and
        the tail is in memory."""
        return (
            sum(m["count"] for m in self._page_metas)
            - len(self._tombstones)
            + len(self._tail)
        )

    def entries(self) -> list[dict]:
        """The full snapshot (forces every page resident) — the data
        plane's file set for a whole-log scan."""
        return self.candidates()

    def names(self) -> list[str]:
        return [e["n"] for e in self.entries()]

    def overlapping(self, lo: int, hi: int) -> list[dict]:
        """Entries whose version range meets [lo, hi]: loads only the
        pages whose page-level range overlaps, plus the in-memory tail
        — O(pages overlapped), the property that keeps a 1000-event
        page read flat at any fragment count."""
        return self.candidates(lo, hi)

    @_rebasing
    def candidates(
        self,
        lo: int | None = None,
        hi: int | None = None,
        page_ok=None,
        entry_ok=None,
    ) -> list[dict]:
        """Entries whose version range meets [lo, hi] (every entry
        when no range is given) and that pass the caller's predicates
        — with ``page_ok(meta)`` consulted BEFORE a page is loaded, so
        a predicate that can refute a whole page from its rolled-up
        summaries (label bounds, ``_page_label_meta``)
        skips the page file and every entry in it. Both predicates
        must be conservative (True when the page/entry lacks the stats
        to refute); the tail is in-memory and gets only the entry
        predicate."""
        out: list[dict] = []
        for m in self._page_metas:
            if lo is not None and (m["hi"] < lo or m["lo"] > hi):
                continue
            if page_ok is not None and not page_ok(m):
                continue
            for e in self._load_page(m):
                if e["n"] in self._tombstones:
                    continue
                if lo is not None and not _entry_overlaps(e, lo, hi):
                    continue
                if entry_ok is not None and not entry_ok(e):
                    continue
                out.append(e)
        for e in self._tail:
            if lo is not None and not _entry_overlaps(e, lo, hi):
                continue
            if entry_ok is not None and not entry_ok(e):
                continue
            out.append(e)
        return out

    @_rebasing
    def page_survey(self, page_ok, entry_ok) -> dict:
        """Pruning-health survey for one predicate pair: per page,
        whether the page-level summary refuted it (page skipped — zero
        page I/O) and, for kept pages, how many of the page's live
        entries the entry-level predicate keeps. Feeds the label-layout
        report (log.py ``label_layout_report``) that detects
        adversarially interleaved ingest — a kept page whose entries
        mostly refuse the label means the summaries stopped pruning."""
        pages = []
        for m in self._page_metas:
            if not page_ok(m):
                pages.append({"kept": False, "count": m["count"]})
                continue
            ents = [
                e for e in self._load_page(m) if e["n"] not in self._tombstones
            ]
            hits = sum(1 for e in ents if entry_ok(e))
            pages.append({"kept": True, "count": len(ents), "hits": hits})
        tail_hits = sum(1 for e in self._tail if entry_ok(e))
        return {"pages": pages, "tail": len(self._tail), "tail_hits": tail_hits}

    # -- commit -------------------------------------------------------------

    def commit(
        self,
        add: list[dict],
        remove: list[str],
        head: dict | None = None,
    ) -> tuple[int, list[str]]:
        """Publish one commit's manifest change: ONE immutable delta
        record (O(1) — nothing is rewritten), then a paged checkpoint
        roll-up every CHECKPOINT_EVERY commits. The delta write itself
        IS the commit point: an exclusive create that raises
        ManifestSeqClaimed — atomically, before the mirror mutates —
        when another writer took the seq. ``head`` (the head fields
        this commit publishes) rides in the record, which is how every
        reader learns the head, and in the checkpoint a roll-up at this
        seq writes, so a cold open finds it there. Returns (new seq,
        manifest files superseded by a roll-up) — the caller retires
        the latter into the vacuum ledger, in the order given
        (publish-before-delete, same as data fragments). An add entry without a
        version range is refused with ValueError before anything is
        claimed: page reads select fragments by range alone."""
        missing = _rangeless(add)
        if missing:
            raise ValueError(
                f"manifest entries {missing} carry no version range (lo/hi); "
                "every published entry must"
            )
        s = self.seq + 1
        rec: dict = {"seq": s, "add": add, "remove": remove}
        if head is not None:
            rec["head"] = head
        self._write_json_exclusive(_DELTA.format(s), rec)
        self._apply(add, remove)
        self.seq = s
        superseded: list[str] = []
        if s - self._ckpt_seq >= self.CHECKPOINT_EVERY:
            superseded = self._checkpoint(head)
        return s, superseded

    def roll_forward(self, head: dict | None = None) -> dict | None:
        """Advance the mirror to the newest complete delta in the store
        — O(gap), sequential GET probes, no listing — and return the
        last head fields seen (``head``, the caller's starting head,
        when no delta lies past the mirror), with the stream markers of
        every delta rolled merged in.

        Every claimed delta carries a head. One without it was written
        by the retired flock protocol, and is refused, naming the file:
        its head cannot be recovered, and adopting the delta headless
        would re-assign its versions."""
        # stream markers merge across ALL rolled deltas — the newest
        # head may predate an older delta's marker
        sc = {k: int(v) for k, v in (head or {}).get("sc", {}).items()}
        while True:
            name = _DELTA.format(self.seq + 1)
            raw = self._store.get(name)
            try:
                if raw is None:
                    raise FileNotFoundError
                d = json.loads(raw)
            except (FileNotFoundError, ValueError):
                if head is not None and sc:
                    head = dict(head)
                    head["sc"] = sc
                return head
            _refuse_rangeless(name, d.get("add", []))
            if not d.get("head"):
                raise RuntimeError(
                    f"manifest delta {name} lies past seq {self.seq} and "
                    "carries no head record, a delta of the retired flock "
                    "protocol; this release cannot recover its head. See "
                    "MIGRATION.md."
                )
            self._apply(d.get("add", []), d.get("remove", []))
            self.seq += 1
            head = d["head"]
            for k, v in head.get("sc", {}).items():
                if int(v) > sc.get(k, -1):
                    sc[k] = int(v)

    def _write_json(self, name: str, payload) -> None:
        self._store.put(name, json.dumps(payload).encode())

    def _write_json_exclusive(self, name: str, payload) -> None:
        """Atomic create-if-absent publish through the claim store's
        put_if_absent (hard link on POSIX, ``If-None-Match: *`` PUT on
        an object store): fails — atomically, before the mirror mutates
        — when ANY writer already owns the name, and a reader can never
        observe a torn record because the store only publishes whole
        objects.

        AMBIGUOUS failures are disambiguated by content (round 11): on
        a networked store (the served arbiter, S3/DynamoDB), the claim
        request can fail AFTER applying server-side — a timeout on the
        response leg. Treating that as "lost" would be a data-loss
        bug, not a retry: the committed delta names this writer's
        fragment files, and the loser path DELETES its staged
        fragments — the log would reference deleted data. So on a
        store exception we GET the name and compare bytes: our bytes →
        the claim landed, proceed as winner; different bytes → a real
        loss; absent → the PUT never applied, retry it once (a second
        failure propagates — the store is unhealthy, crashing is safe
        because an unpublished fragment is invisible garbage while a
        published delta is found by roll_forward on recovery). Only
        ManifestSeqClaimed is definitive, and only it sends the caller
        off to discard its fragment: any other exception leaves the
        fragment in place, since the claim may have landed. Claim
        records are byte-deterministic per call, so the comparison is
        exact. POSIX link cannot fail ambiguously (local syscall), so
        this path never triggers there.

        The retry's ok=False is NOT definitive either (round-11
        advice): the ORIGINAL in-flight PUT can land between the
        disambiguating GET and the retry — a timed-out request
        applying late on a networked store, or a served-arbiter
        handler thread still draining the frame. The name being taken
        then means WE took it, and raising ManifestSeqClaimed would
        send the loser path off to delete staged fragments its own
        committed delta references — the exact false-loss shape this
        method exists to prevent. So a losing retry re-reads the name
        and decides by content: our bytes → winner; anything else →
        claimed (different bytes is a true loss; an absent read means
        our bytes are definitively NOT committed, so the loser
        cleanup is safe either way)."""
        data = json.dumps(payload).encode()
        try:
            ok = self._store.put_if_absent(name, data)
        except ManifestSeqClaimed:
            raise
        except Exception:
            winner = self._store.get(name)  # store down → propagate
            if winner == data:
                return  # our claim applied before the failure
            if winner is not None:
                raise ManifestSeqClaimed(name) from None
            if not self._store.put_if_absent(name, data):
                winner = self._store.get(name)
                if winner == data:
                    return  # the first PUT landed late — still ours
                raise ManifestSeqClaimed(name) from None
            return
        if not ok:
            raise ManifestSeqClaimed(name)

    @_rebasing
    def _checkpoint(self, head: dict | None = None) -> list[str]:
        """Roll the live snapshot into pages. Clean pages (no entry
        tombstoned) are REUSED by reference; dirty pages dissolve and
        their survivors repack with the tail — cost O(changed), not
        O(files), in the steady state where compaction touches only
        the recent tail of the version space. The record carries
        ``head``, the head fields of the delta it rolls up; the hint is
        put after it."""
        # A page dissolves when an entry was tombstoned OR it never grew
        # to half capacity (each roll-up's tail would otherwise leave a
        # permanent sliver page — the growing tail page is re-absorbed
        # until full, size-tiered, so page count stays files/PAGE_ENTRIES
        # and per-roll-up work stays O(tail + one growing page)).
        small = self.PAGE_ENTRIES // 2
        if not self._tombstones and all(
            m["count"] >= small for m in self._page_metas
        ):
            # pure-append window, all pages full: reuse everything,
            # repack only the tail — no page load, no O(files) scan.
            kept_metas = list(self._page_metas)
            repack = list(self._tail)
        else:
            kept_metas = []
            repack = []
            for m in self._page_metas:
                if m["count"] >= small and self._tombstones:
                    ents = self._load_page(m)
                    if any(e["n"] in self._tombstones for e in ents):
                        repack.extend(
                            e for e in ents if e["n"] not in self._tombstones
                        )
                    else:
                        kept_metas.append(m)
                elif m["count"] >= small:
                    kept_metas.append(m)
                else:
                    repack.extend(
                        e
                        for e in self._load_page(m)
                        if e["n"] not in self._tombstones
                    )
            repack.extend(self._tail)
        old_pages = {m["f"] for m in self._page_metas}
        old_ckpt_seq, had_ckpt = self._ckpt_seq, self._ckpt_seq > 0

        repack.sort(key=lambda e: e["lo"])
        new_metas: list[dict] = []
        for i in range(0, len(repack), self.PAGE_ENTRIES):
            chunk = repack[i : i + self.PAGE_ENTRIES]
            pf = f"page-{uuid.uuid4().hex}.json"
            self._write_json(pf, chunk)
            meta = {
                "f": pf,
                "lo": chunk[0]["lo"],
                "hi": max(e["hi"] for e in chunk),
                "count": len(chunk),
            }
            meta.update(_page_label_meta(chunk))
            new_metas.append(meta)
            self._page_cache[pf] = chunk

        metas = kept_metas + new_metas
        rec: dict = {"seq": self.seq, "pages": metas}
        if head is not None:
            rec["head"] = head
        self._write_json(_CKPT.format(self.seq), rec)
        self._write_json(_HINT, {"seq": self.seq})

        # retirement order: base checkpoint, deltas [base, seq-1]
        # ascending, then dissolved pages. Delta seq stays until the
        # next roll-up, so a mirror at seq proves its position by it,
        # and a mirror based on a checkpoint still in the store finds
        # every delta past it.
        referenced = {m["f"] for m in metas}
        names = [_CKPT.format(old_ckpt_seq)] if had_ckpt else []
        names += [_DELTA.format(s) for s in range(max(old_ckpt_seq, 1), self.seq)]
        names += sorted(old_pages - referenced)
        superseded = [os.path.join("_manifest", f) for f in names]

        for pf in old_pages - referenced:
            self._page_cache.pop(pf, None)
        self._page_metas = metas
        self._tail = []
        self._tombstones = set()
        self._ckpt_seq = self.seq
        self.ckpt_head = head
        return superseded
