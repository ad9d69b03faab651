"""HyperLogLog++ — sparse/dense registers, numpy-vectorized, exactly mergeable.

Distinct counting is the approximate counterpart of the reference's exact
dedupe (`/root/reference/scripts/analytics/snap2metis.scala:44` `distinct` on
edge pairs) and its set-union adjacency build
(`/root/reference/scripts/analytics/snap2adj.scala:16` `reduceByKey(_ ++ _)`):
register-max is the same associative/commutative/idempotent merge shape, in
O(m) memory instead of O(n).

Design (documented deviations from Google's HLL++ paper):
  * sparse mode stores (idx << 6 | rank) codes at the SAME precision p and
    estimates with linear counting; the paper's higher-precision-sparse
    (p'=25) refinement is skipped because linear counting at occupancy
    <= 25% of m is already well inside the 1.04/sqrt(m) gate.
  * dense estimation uses Ertl's improved estimator ("New cardinality
    estimation algorithms for HyperLogLog sketches", 2017, arXiv:1702.01284)
    — no empirical bias tables, accurate across the whole range.

Merge semantics: register-wise max — associative, commutative, idempotent,
byte-stable (tested property). Sparse unions dedupe to max-rank-per-index so
a sparse state has one canonical byte representation.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from . import serde
from .hashing import hash64

MAGIC = b"SK"
VERSION = 1
TYPE_HLL = 1

_U64_1 = np.uint64(1)


def _clz64(w: np.ndarray) -> np.ndarray:
    """Exact leading-zero count of uint64 (w may contain zeros → returns 64)."""
    w = w.copy()
    n = np.zeros(w.shape, dtype=np.int64)
    zero = w == 0
    for s in (32, 16, 8, 4, 2, 1):
        shifted = np.uint64(64 - s)
        top_zero = (w >> shifted) == 0
        n += np.where(top_zero, s, 0)
        w = np.where(top_zero, w << np.uint64(s), w)
    n[zero] = 64
    return n


class HLL:
    """HyperLogLog++ state. ``sparse`` is a sorted uint32 code array
    (idx<<6|rank, max rank per idx) or None once promoted to ``dense``
    (uint8[m] register array)."""

    __slots__ = ("p", "sparse", "dense")

    def __init__(self, p: int = 14, sparse=None, dense=None):
        if not 4 <= p <= 20:
            raise ValueError(f"p must be in [4,20], got {p}")
        self.p = p
        if dense is not None:
            self.sparse = None
            self.dense = dense
        else:
            self.sparse = sparse if sparse is not None else np.empty(0, np.uint32)
            self.dense = None

    @property
    def m(self) -> int:
        return 1 << self.p

    # -- construction -------------------------------------------------------

    def _promote_threshold(self) -> int:
        return self.m // 4  # sparse bytes (4/code) would exceed dense bytes

    def _codes_from_hashes(self, h: np.ndarray) -> np.ndarray:
        p64 = np.uint64(self.p)
        idx = (h >> np.uint64(64 - self.p)).astype(np.uint32)
        w = h << p64  # remaining 64-p bits, left-aligned
        rank = np.minimum(_clz64(w) + 1, 64 - self.p + 1).astype(np.uint32)
        return (idx << np.uint32(6)) | rank

    @staticmethod
    def _canon(codes: np.ndarray) -> np.ndarray:
        """Sort codes and keep only the max rank per register index."""
        if codes.size == 0:
            return codes.astype(np.uint32, copy=False)
        codes = np.sort(codes)
        idxs = codes >> np.uint32(6)
        keep = np.empty(codes.size, dtype=bool)
        keep[:-1] = idxs[1:] != idxs[:-1]
        keep[-1] = True
        return codes[keep]

    def _to_dense(self) -> None:
        dense = np.zeros(self.m, dtype=np.uint8)
        if self.sparse is not None and self.sparse.size:
            idx = (self.sparse >> np.uint32(6)).astype(np.int64)
            rank = (self.sparse & np.uint32(63)).astype(np.uint8)
            dense[idx] = rank  # sparse is canonical: one code per idx
        self.sparse = None
        self.dense = dense

    def update_hashes(self, h: np.ndarray, assume_unique: bool = False) -> "HLL":
        """Add pre-hashed uint64 values (vectorized).

        HLL updates are idempotent — dedupe the batch first (one O(n log n)
        sort beats the interpreted ~100ns/element maximum.at scatter 5-10×
        on skewed batches). Callers that already deduped (the shared
        unique-then-hash path in agg.py) pass assume_unique=True."""
        if h.size == 0:
            return self
        h = np.asarray(h, dtype=np.uint64)
        if not assume_unique and h.size > 4096:
            h = np.unique(h)
        if self.dense is not None:
            p64 = np.uint64(self.p)
            idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
            rank = np.minimum(_clz64(h << p64) + 1, 64 - self.p + 1).astype(np.uint8)
            np.maximum.at(self.dense, idx, rank)
        else:
            codes = self._codes_from_hashes(h)
            self.sparse = self._canon(np.concatenate([self.sparse, codes]))
            if self.sparse.size > self._promote_threshold():
                self._to_dense()
        return self

    def update(self, values: np.ndarray, seed: int = 0) -> "HLL":
        return self.update_hashes(hash64(np.asarray(values), seed=seed))

    # -- merge --------------------------------------------------------------

    def merge(self, other: "HLL") -> "HLL":
        """Associative + commutative + idempotent merge → new HLL."""
        if not isinstance(other, HLL):
            raise TypeError(f"cannot merge HLL with {type(other).__name__}")
        if self.p != other.p:
            raise ValueError(f"precision mismatch: {self.p} vs {other.p}")
        if self.dense is not None or other.dense is not None:
            out = HLL(self.p, dense=np.zeros(self.m, dtype=np.uint8))
            for s in (self, other):
                if s.dense is not None:
                    np.maximum(out.dense, s.dense, out=out.dense)
                elif s.sparse.size:
                    idx = (s.sparse >> np.uint32(6)).astype(np.int64)
                    rank = (s.sparse & np.uint32(63)).astype(np.uint8)
                    np.maximum.at(out.dense, idx, rank)
            return out
        merged = self._canon(np.concatenate([self.sparse, other.sparse]))
        out = HLL(self.p, sparse=merged)
        if out.sparse.size > out._promote_threshold():
            out._to_dense()
        return out

    # -- estimate -----------------------------------------------------------

    @staticmethod
    def _sigma(x: float) -> float:
        if x == 1.0:
            return math.inf
        y, z = 1.0, x
        while True:
            x = x * x
            z_prev = z
            z = z + x * y
            y = 2.0 * y
            if z == z_prev:
                return z

    @staticmethod
    def _tau(x: float) -> float:
        if x == 0.0 or x == 1.0:
            return 0.0
        y, z = 1.0, 1.0 - x
        while True:
            x = math.sqrt(x)
            z_prev = z
            y = 0.5 * y
            z = z - (1.0 - x) ** 2 * y
            if z == z_prev:
                return z / 3.0

    def estimate(self) -> float:
        m = float(self.m)
        if self.dense is None:
            # linear counting over occupied registers (sparse occupancy <=25%)
            c = float(self.sparse.size)
            if c == 0:
                return 0.0
            return m * math.log(m / (m - c))
        q = 64 - self.p  # ranks run 1..q+1; histogram has slots 0..q+1
        hist = np.bincount(self.dense, minlength=q + 2).astype(np.float64)
        if hist[0] == m:
            return 0.0
        z = m * self._tau((m - hist[q + 1]) / m)
        for k in range(q, 0, -1):
            z = 0.5 * (z + hist[k])
        z += m * self._sigma(hist[0] / m)
        return (m / (2.0 * math.log(2.0))) * m / z

    def rel_error_bound(self) -> float:
        return 1.04 / math.sqrt(self.m)

    # -- serialization ------------------------------------------------------

    def to_bytes(self) -> bytes:
        mode = 1 if self.dense is not None else 0
        # explicit little-endian so blobs are byte-identical across hosts
        # (dense is uint8 — endianness-free; sparse codes must be <u4)
        payload = (self.dense.tobytes() if mode
                   else self.sparse.astype("<u4").tobytes())
        n = self.m if mode else self.sparse.size
        head = struct.pack("<2sBBBBI", MAGIC, VERSION, TYPE_HLL, self.p, mode, n)
        return head + payload

    @classmethod
    def from_bytes(cls, buf: bytes) -> "HLL":
        magic, ver, typ, p, mode, n = struct.unpack_from("<2sBBBBI", buf, 0)
        if magic != MAGIC or typ != TYPE_HLL:
            raise ValueError("not an HLL blob")
        off = struct.calcsize("<2sBBBBI")
        serde.check_end(buf, off + (n if mode else 4 * n), "hll")
        if mode:
            dense = np.frombuffer(buf, dtype=np.uint8, count=n, offset=off).copy()
            return cls(p, dense=dense)
        sparse = np.frombuffer(buf, dtype="<u4", count=n, offset=off).astype(np.uint32)
        return cls(p, sparse=sparse)


def empty(p: int = 14) -> HLL:
    return HLL(p)
