"""Misra–Gries heavy-hitter summary — numpy-vectorized, mergeable.

Deterministic counter-based heavy-hitter summary; `queries.heavy_hitters`
uses its keys as the candidates a CMS ranks. It keeps at most k (item,
count) pairs; any item with true frequency
> n/(k+1) is guaranteed present, and every reported count is an
UNDER-estimate by at most the tracked `dec` (global decrement total),
which itself is bounded by n/(k+1). That one-sided error is the mirror
image of CMS (which never underestimates), so running both brackets the
true count from both sides — the bracketing test lives in
tests/test_kernels.py.

Batch update and merge both use the summary-merge rule of Agarwal,
Cormode, Huang, Phillips, Wei, Yi, "Mergeable Summaries" (PODS'12, §3):
concatenate counter sets, sum duplicates, and if more than k survive,
subtract the (k+1)-th largest count from everything and drop the
non-positive remainder. The ERROR GUARANTEE (undercount <= dec <=
n/(k+1), heavy items never evicted) is preserved under any merge order,
but unlike HLL/theta the counter set itself is NOT order-independent —
different partition splits may shed different light items — so the
property tests gate the bound and the bracketing invariant across
random build orders, not byte-equality.

Role parallel in the reference: the same bounded per-partition counter
state the streaming partitioners keep (`partitionSizes[]`,
/root/reference/src/main/java/ca/uwaterloo/cs/sgp/streaming/EdgeCutSGP.java:28),
generalized to per-item frequency tracking with a provable bound.
"""

from __future__ import annotations

import struct

import numpy as np

from . import serde

MAGIC = b"SK"
VERSION = 1
TYPE_MG = 7


class MG:
    __slots__ = ("k", "keys", "counts", "n_items", "dec")

    def __init__(self, k: int = 256, keys: np.ndarray | None = None,
                 counts: np.ndarray | None = None, n_items: int = 0,
                 dec: int = 0):
        if k < 1:
            raise ValueError("k must be >= 1")
        self.k = int(k)
        self.keys = keys if keys is not None else np.empty(0, dtype=np.int64)
        self.counts = (counts if counts is not None
                       else np.empty(0, dtype=np.int64))
        self.n_items = int(n_items)
        self.dec = int(dec)  # total decrement applied; max undercount

    # -- core reduce: counter union + (k+1)-th-largest subtraction --------
    def _absorb(self, keys: np.ndarray, counts: np.ndarray) -> "MG":
        ak = np.concatenate([self.keys, keys])
        ac = np.concatenate([self.counts, counts])
        uk, inv = np.unique(ak, return_inverse=True)
        uc = np.zeros(uk.size, dtype=np.int64)
        np.add.at(uc, inv, ac)
        if uk.size > self.k:
            # threshold = (k+1)-th largest count; subtracting it leaves
            # at most k strictly-positive counters
            t = int(np.partition(uc, uc.size - (self.k + 1))
                    [uc.size - (self.k + 1)])
            uc = uc - t
            keep = uc > 0
            uk, uc = uk[keep], uc[keep]
            self.dec += t
        self.keys, self.counts = uk, uc
        return self

    def update(self, values: np.ndarray, counts: np.ndarray | None = None
               ) -> "MG":
        v = np.asarray(values)
        if counts is not None:
            # validate BEFORE any state mutation (n_items) — a mismatch
            # must be a clean error on an unchanged sketch, for integer
            # inputs just as for the float/NaN path below
            counts = np.asarray(counts, dtype=np.int64)
            if counts.shape[0] != v.shape[0]:
                raise ValueError("values/counts length mismatch")
        if v.dtype.kind == "f":
            # apply ONE mask to both arrays so they never misalign (a
            # values-only filter would silently pair counts with the
            # wrong keys, or blow up mid-update with state half-changed)
            keep = ~np.isnan(v)
            v = v[keep]
            if counts is not None:
                counts = counts[keep]
        v = v.astype(np.int64, copy=False)
        if v.size == 0:
            return self
        if counts is None:
            v, counts = np.unique(v, return_counts=True)
        self.n_items += int(counts.sum())
        return self._absorb(v, counts.astype(np.int64, copy=False))

    def merge(self, other: "MG") -> "MG":
        if not isinstance(other, MG):
            raise TypeError(f"cannot merge MG with {type(other).__name__}")
        if self.k != other.k:
            raise ValueError("MG k mismatch")
        out = MG(self.k, self.keys.copy(), self.counts.copy(),
                 self.n_items + other.n_items, self.dec + other.dec)
        return out._absorb(other.keys, other.counts)

    def estimate(self, values: np.ndarray) -> np.ndarray:
        """Lower-bound counts (0 for untracked items). True count lies in
        [est, est + dec]."""
        v = np.asarray(values)
        if v.dtype.kind == "f":
            # NaN -> int64 is platform-defined (INT64_MIN on x86), which
            # could silently alias a tracked key; NaN queries return 0
            # like update() drops NaN inputs.
            nan = ~np.isfinite(v)
            if nan.any():
                v = np.where(nan, 0.0, v)
                out = self.estimate(v.astype(np.int64))
                out[nan] = 0
                return out
        v = v.astype(np.int64, copy=False)
        idx = np.searchsorted(self.keys, v)
        idx = np.clip(idx, 0, max(self.keys.size - 1, 0))
        out = np.zeros(v.size, dtype=np.int64)
        if self.keys.size:
            hit = self.keys[idx] == v
            out[hit] = self.counts[idx][hit]
        return out

    def heavy_hitters(self, min_count: int = 1):
        """(keys, lower-bound counts) sorted by count desc, key asc."""
        sel = self.counts >= min_count
        k, c = self.keys[sel], self.counts[sel]
        order = np.lexsort((k, -c))
        return k[order], c[order]

    @property
    def max_undercount(self) -> int:
        return self.dec

    def to_bytes(self) -> bytes:
        head = struct.pack("<2sBBIQQQ", MAGIC, VERSION, TYPE_MG, self.k,
                           self.n_items, self.dec, self.keys.size)
        return (head + self.keys.astype("<i8").tobytes()
                + self.counts.astype("<i8").tobytes())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "MG":
        magic, ver, typ, k, n_items, dec, sz = struct.unpack_from(
            "<2sBBIQQQ", buf, 0)
        if magic != MAGIC or typ != TYPE_MG:
            raise ValueError("not an MG blob")
        off = struct.calcsize("<2sBBIQQQ")
        serde.check_end(buf, off + 16 * sz, "mg")
        keys = np.frombuffer(buf, dtype="<i8", count=sz, offset=off)
        counts = np.frombuffer(buf, dtype="<i8", count=sz,
                               offset=off + 8 * sz)
        return cls(k, keys.astype(np.int64), counts.astype(np.int64),
                   n_items, dec)


def empty(k: int = 256) -> MG:
    return MG(k)
