"""One-slot persisted-intermediate registry (r16).

Several operators materialize a corpus-derived intermediate ONCE per call
and return a DataFrame that stays lazy over it (bpe_token_counts' encoded
vocab, bigram_xent's hashed-bigram stream). The root cannot be
unpersisted inside the operator — the returned table still reads it — so
without bookkeeping every call leaks one evictable-but-live storage
entry for the life of the driver session.

``one_slot_persist(slot, df)`` keeps AT MOST ONE live entry per slot
name: persisting a new root releases the previous call's. Recompute-safe
by construction — a still-held result from an earlier call simply
re-derives its fold from the source (values unchanged, lazily slower).
``release_slot(slot)`` lets a caller drop the last entry too;
``queries.uncache_tables`` releases every slot along with the base tables.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# Concurrent operator calls share the registry: the lock makes each
# release-then-replace atomic, so no persisted entry is ever dropped from
# it while still live.
_LOCK = threading.Lock()
_SLOTS: dict[str, DataFrame] = {}


def one_slot_persist(slot: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` (evictable MEMORY_AND_DISK), releasing the slot's
    previous entry first. Returns the persisted DataFrame."""
    with _LOCK:
        _unpersist(_SLOTS.pop(slot, None))
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        _SLOTS[slot] = out
    return out


def release_slot(slot: str) -> None:
    with _LOCK:
        _unpersist(_SLOTS.pop(slot, None))


def release_all_slots() -> None:
    with _LOCK:
        for df in _SLOTS.values():
            _unpersist(df)
        _SLOTS.clear()


def _unpersist(df: DataFrame | None) -> None:
    if df is not None:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass
