"""Compact set of point ids for the model's per-node id stores.

G-Stream keeps, for every node, the ids of every point ever assigned to
it (batchStreamModel.scala:163), so the stores grow with the points a
stream has fed.  A builtin ``set`` of Python ints costs about 60-130
bytes per id; ``IdSet`` keeps the ids as int64 numpy chunks, 8 bytes
per id, and still behaves as a mutable set of ints (``==`` against a
builtin set, ``in``, ``len``, iteration, ``|=``, ``add`` ...).

Merging a batch's ids (``|=``) appends a chunk to a short unsorted tail
and never sorts the whole store.  A full tail is deduplicated into one
sorted chunk, and the newest sorted chunks are folded together while
the one before is at most twice the size of the last — a binary
counter, so a store holds O(log n) chunks and each id is re-sorted
O(log n) times over its life.  Reads (``len``, iteration, ``in``, ``==``)
fold everything into one sorted chunk first.  Chunks are never written
in place, so copies share them.
"""

from __future__ import annotations

from collections.abc import Iterable, MutableSet

import numpy as np


# Merged chunks wait, unsorted, in a tail of up to this many before they
# are folded in, so merging a few ids costs a list append, not a sort.
_TAIL = 16

_EMPTY = np.zeros(0, np.int64)
_EMPTY.flags.writeable = False


def _as_ids(values) -> np.ndarray:
    if isinstance(values, np.ndarray):
        return np.array(values, dtype=np.int64).ravel()  # a copy: chunks are never shared out
    return np.fromiter(values, dtype=np.int64)


class IdSet(MutableSet):
    """Mutable set of int64 ids; iteration yields Python ints in
    ascending order."""

    __hash__ = None  # mutable, like set

    def __init__(self, ids: Iterable[int] = ()):
        if isinstance(ids, IdSet):
            self._chunks, self._tail, self._flat = ids._chunks, ids._tail, ids._flat
        else:
            self._set_sorted(_EMPTY)
            self._append(_as_ids(ids))

    @classmethod
    def _from_iterable(cls, it) -> "IdSet":
        return cls(it)

    def _set_sorted(self, arr: np.ndarray) -> None:
        self._chunks, self._tail, self._flat = ([arr] if len(arr) else []), [], True

    def _sorted(self) -> np.ndarray:
        """All ids as one sorted, duplicate-free chunk."""
        if not self._flat:
            self._set_sorted(np.unique(np.concatenate([*self._chunks, *self._tail])))
        return self._chunks[0] if self._chunks else _EMPTY

    def _append(self, chunk: np.ndarray) -> None:
        if not len(chunk):
            return
        self._flat = False
        tail = [*self._tail, chunk]
        if len(tail) < _TAIL:
            self._tail = tail
            return
        chunks = [*self._chunks, np.unique(np.concatenate(tail))]
        while len(chunks) > 1 and len(chunks[-2]) <= 2 * len(chunks[-1]):
            chunks[-2:] = [np.union1d(chunks[-2], chunks[-1])]
        self._chunks, self._tail = chunks, []

    # --- Set protocol -----------------------------------------------------
    def __len__(self) -> int:
        return len(self._sorted())

    def __iter__(self):
        return iter(self._sorted().tolist())

    def __contains__(self, x) -> bool:
        if not isinstance(x, (int, np.integer)) or not -(2**63) <= x < 2**63:
            return False
        arr = self._sorted()
        i = int(np.searchsorted(arr, x))
        return i < len(arr) and arr[i] == x

    def __eq__(self, other) -> bool:
        if isinstance(other, IdSet):
            return np.array_equal(self._sorted(), other._sorted())
        return super().__eq__(other)

    def __ior__(self, other) -> "IdSet":
        for chunk in [*other._chunks, *other._tail] if isinstance(other, IdSet) else [_as_ids(other)]:
            self._append(chunk)
        return self

    def __repr__(self) -> str:
        return f"IdSet({set(self)!r})" if len(self) else "IdSet()"

    # --- MutableSet -------------------------------------------------------
    def add(self, x: int) -> None:
        self._append(np.array([x], dtype=np.int64))

    def discard(self, x: int) -> None:
        if x in self:
            arr = self._sorted()
            self._set_sorted(arr[arr != x])

    def pop(self) -> int:
        arr = self._sorted()
        if not len(arr):
            raise KeyError("pop from an empty IdSet")
        self._set_sorted(arr[:-1])
        return int(arr[-1])

    def clear(self) -> None:
        self._set_sorted(_EMPTY)
