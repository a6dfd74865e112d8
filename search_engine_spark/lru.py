"""The one bounded LRU behind every per-index serving and query memo
(df, decoded postings, doc rows, WAND block metadata).  Stdlib only."""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable, Hashable, Iterable, Mapping


class BoundedLRU(Mapping):
    """Thread-safe LRU memo bounded by ``cap``: an entry count, or the
    summed ``weight(value)`` when ``weight`` is given.

    :meth:`fetch` is the only way in.  The current call's keys are
    refreshed to the back and exempt from eviction, so a key can never
    be evicted by the very call that is about to use it.  A keep set
    larger than ``cap`` loses nothing; the memo shrinks on a later call.

    Reading (``in``, ``[]``, ``get``, ``len``, iteration, ``==``) is
    the read-only ``Mapping`` API; it neither refreshes nor evicts."""

    def __init__(
        self, cap: int, weight: Callable[[object], int] | None = None
    ):
        self._cap = cap
        self._weight = weight or (lambda _v: 1)
        self._data: OrderedDict = OrderedDict()
        self._total = 0
        self._lock = threading.Lock()

    def fetch(
        self,
        keys: Iterable[Hashable],
        fill: Callable[[list], Mapping],
    ) -> dict:
        """``{key: value}`` for the distinct ``keys`` held or filled,
        in ``keys`` order.

        Hits are snapshot (and refreshed) under the lock; ``fill`` is
        called with the misses OUTSIDE it, so slow reads never block
        other callers, and returns the values it found — a key it
        leaves out is neither memoized nor returned.  The return value
        holds references taken under the lock, so a concurrent
        eviction cannot invalidate it.  Two threads missing the same
        key may both fill it; the first insert wins, and the values
        are equal."""
        keys = list(dict.fromkeys(keys))
        with self._lock:
            out = {k: self._data[k] for k in keys if k in self._data}
            for k in out:
                self._data.move_to_end(k)
        missing = [k for k in keys if k not in out]
        if not missing:
            return out
        filled = fill(missing)
        with self._lock:
            for k, v in filled.items():
                if k not in self._data:
                    self._data[k] = v
                    self._total += self._weight(v)
            # refresh every current key still present, then evict
            # oldest-first only beyond them
            floor = 0
            for k in keys:
                if k in self._data:
                    self._data.move_to_end(k)
                    floor += 1
            while self._total > self._cap and len(self._data) > floor:
                _, old = self._data.popitem(last=False)
                self._total -= self._weight(old)
        out.update(filled)
        return {k: out[k] for k in keys if k in out}

    def __getitem__(self, key):
        return self._data[key]

    def __contains__(self, key) -> bool:
        return key in self._data

    def __iter__(self):
        with self._lock:
            return iter(list(self._data))

    def __len__(self) -> int:
        return len(self._data)


def index_memo(obj, name: str, cap: int) -> BoundedLRU:
    """The ``BoundedLRU`` attached to ``obj`` as attribute ``name``,
    created on first use.

    An index object is one committed generation and maintenance hands
    back fresh objects, so a memo that lives and dies with its object
    can never serve a value across a commit.  An object that cannot
    carry attributes gets a fresh, unattached memo (no memoization)."""
    memo = getattr(obj, name, None)
    if memo is None:
        try:
            memo = vars(obj).setdefault(name, BoundedLRU(cap))
        except TypeError:
            memo = BoundedLRU(cap)
    return memo
