"""Save, roll back and lose the records a log keeps only to shorten
open: the roll-up hint in its claim store (``_last_checkpoint.json``)
and, where a release writes one, the ``_state.json`` pointer. The delta
chain is the commit record, so losing these records, or putting back
the bytes they held earlier (a crash, or a write landing out of order),
must never lose an acknowledged event.

``store`` is the log's claim store; None means the default POSIX store
under ``<path>/_manifest``.
"""

from __future__ import annotations

import os

from eventlog_spark.manifest import PosixClaimStore

HINT = "_last_checkpoint.json"


def _store(path: str, store):
    return store if store is not None else PosixClaimStore(os.path.join(path, "_manifest"))


def save(path: str, store=None) -> tuple:
    """The records' bytes now (None: absent)."""
    state = os.path.join(path, "_state.json")
    pointer = None
    if os.path.exists(state):
        with open(state, "rb") as f:
            pointer = f.read()
    return pointer, _store(path, store).get(HINT)


def restore(path: str, store, saved: tuple) -> None:
    """Put the records back to ``saved``, deleting one that was absent."""
    pointer, hint = saved
    state = os.path.join(path, "_state.json")
    if pointer is None:
        if os.path.exists(state):
            os.remove(state)
    else:
        with open(state, "wb") as f:
            f.write(pointer)
    if hint is None:
        _store(path, store).delete(HINT)
    else:
        _store(path, store).put(HINT, hint)


def lose(path: str, store=None) -> None:
    restore(path, store, (None, None))
