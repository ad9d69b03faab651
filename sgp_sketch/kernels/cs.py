"""Count-Sketch (AMS) — signed frequency/second-moment sketch,
numpy-vectorized, mergeable.

Charikar, Chen, Farach-Colton, "Finding Frequent Items in Data Streams"
(ICALP'02) tables with the Alon–Matias–Szegedy (STOC'96) F₂ estimator per
row: `depth` independent (bucket-hash, ±1 sign-hash) pairs over `width`
buckets; update adds sign·count into one cell per row.

Why a third frequency kernel: CMS never UNDERestimates (one-sided up), MG
never OVERestimates (one-sided down) — Count-Sketch is the UNBIASED
two-sided member of the family, and the only one that also answers the
second frequency moment F₂ = Σ f(x)² (self-join size / token-skew mass),
via the per-row bucket norm Σⱼ C[r,j]².

Published bounds (gated in tests/test_kernels.py):
  * point frequency: each row estimate sign(x)·C[r,h(x)] is unbiased with
    Var ≤ F₂/width; the median over `depth` rows lands within
    ±√(3·F₂/width) with probability ≥ 1 − 2^(−Ω(depth)) (CCF'02 Lemma 4).
  * F₂: each row's Σⱼ C[r,j]² has expectation F₂ and Var ≤ 2·F₂²/width
    (AMS); the median over rows is within F₂·√(6/width) w.h.p.

Merge: cell-wise integer addition — associative, commutative, and EXACT,
so unlike MG/FD the merged state is BYTE-IDENTICAL under any partition
split or merge order (tested property, same strength as HLL/theta).

Role parallel in the reference: the same fixed-size per-partition counter
state its streaming partitioners keep (`partitionSizes[]`,
/root/reference/src/main/java/ca/uwaterloo/cs/sgp/streaming/EdgeCutSGP.java:28),
here with signs so errors cancel instead of accumulating.
"""

from __future__ import annotations

import struct

import numpy as np

from . import serde
from .hashing import hash64

MAGIC = b"SK"
TYPE_CS = 9


class CS:
    __slots__ = ("depth", "width", "seed", "table", "n_items")

    def __init__(self, depth: int = 5, width: int = 1 << 13, seed: int = 11,
                 table: np.ndarray | None = None, n_items: int = 0):
        if width <= 0 or width & (width - 1):
            raise ValueError("width must be a positive power of two")
        if depth < 1:
            raise ValueError("depth must be >= 1")
        self.depth = depth
        self.width = width
        self.seed = seed
        if table is not None:
            table = np.asarray(table, dtype=np.int64)
            if table.shape != (depth, width):
                raise ValueError(
                    f"table shape {table.shape} != ({depth}, {width})")
        self.table = (table if table is not None
                      else np.zeros((depth, width), dtype=np.int64))
        self.n_items = int(n_items)

    # column index + ±1 sign per row, from independent seed streams
    # (rows use seed..seed+depth-1 for buckets like CMS; signs come from
    # the disjoint seed+depth..seed+2·depth-1 stream)
    def _cols_signs(self, h: np.ndarray):
        cols = np.empty((self.depth, h.size), dtype=np.int64)
        signs = np.empty((self.depth, h.size), dtype=np.int64)
        mask = np.uint64(self.width - 1)
        one = np.uint64(1)
        s63 = np.uint64(63)
        for j in range(self.depth):
            cols[j] = (hash64(h, seed=self.seed + j) & mask).astype(np.int64)
            bit = (hash64(h, seed=self.seed + self.depth + j) >> s63) & one
            signs[j] = 1 - 2 * bit.astype(np.int64)
        return cols, signs

    def update_hashes(self, h: np.ndarray,
                      counts: np.ndarray | None = None) -> "CS":
        h = np.asarray(h, dtype=np.uint64)
        if h.size == 0:
            return self
        if counts is None:
            h, counts = np.unique(h, return_counts=True)
        else:
            counts = np.asarray(counts, dtype=np.int64)
            if counts.shape[0] != h.shape[0]:
                raise ValueError("hashes/counts length mismatch")
        cols, signs = self._cols_signs(h)
        self.n_items += int(counts.sum())
        for j in range(self.depth):
            np.add.at(self.table[j], cols[j], signs[j] * counts)
        return self

    def update(self, values: np.ndarray, counts=None, seed: int = 0) -> "CS":
        v = np.asarray(values)
        if v.dtype.kind == "f":
            # one mask applied to BOTH arrays (same discipline as MG):
            # NaN rows drop without misaligning explicit counts
            keep = ~np.isnan(v)
            v = v[keep]
            if counts is not None:
                counts = np.asarray(counts, dtype=np.int64)[keep]
            # negative float → uint64 directly is platform-defined; the
            # int64 hop wraps deterministically (same route as MG)
            v = v.astype(np.int64)
        return self.update_hashes(hash64(v, seed=seed), counts=counts)

    def merge(self, other: "CS") -> "CS":
        if not isinstance(other, CS):
            raise TypeError(f"cannot merge CS with {type(other).__name__}")
        if (self.depth, self.width, self.seed) != (other.depth, other.width,
                                                   other.seed):
            raise ValueError("CS shape/seed mismatch")
        return CS(self.depth, self.width, self.seed,
                  table=self.table + other.table,
                  n_items=self.n_items + other.n_items)

    def estimate_hashes(self, h: np.ndarray) -> np.ndarray:
        """Unbiased two-sided point-frequency estimates (float64: the
        median of an even `depth` is a half-integer). True count lies in
        est ± √(3·F₂/width) w.h.p."""
        h = np.asarray(h, dtype=np.uint64)
        if h.size == 0:
            return np.empty(0, dtype=np.float64)
        cols, signs = self._cols_signs(h)
        rows = np.empty((self.depth, h.size), dtype=np.int64)
        for j in range(self.depth):
            rows[j] = signs[j] * self.table[j, cols[j]]
        return np.median(rows, axis=0)

    def estimate(self, values: np.ndarray, seed: int = 0) -> np.ndarray:
        v = np.asarray(values)
        if v.dtype.kind == "f":
            # NaN → int64 is platform-defined; NaN queries answer 0.0,
            # mirroring update()'s NaN drop
            nan = ~np.isfinite(v)
            if nan.any():
                out = self.estimate(np.where(nan, 0.0, v)
                                    .astype(np.int64), seed=seed)
                out[nan] = 0.0
                return out
        return self.estimate_hashes(hash64(v, seed=seed))

    def f2_estimate(self) -> float:
        """Second frequency moment Σ f(x)² — median of the per-row bucket
        norms (AMS estimator; relative error ≤ √(6/width) w.h.p.)."""
        per_row = (self.table.astype(np.float64) ** 2).sum(axis=1)
        return float(np.median(per_row))

    @property
    def point_error_bound(self) -> float:
        """±bound on point estimates at ~2/3-per-row confidence, boosted
        by the median: √(3·F₂_est/width). Uses the sketch's own F₂
        estimate, so it is itself approximate — tests gate against the
        EXACT F₂."""
        return float(np.sqrt(3.0 * max(self.f2_estimate(), 0.0)
                             / self.width))

    def to_bytes(self) -> bytes:
        """Dense or sparse COO, whichever is smaller, with counters in the
        narrowest signed (or, with no negative cell, unsigned) width that
        holds them — versions 3/4, or 1/2 when a counter needs 8 bytes
        (serde.py); pure function of the state so byte-equality holds
        across build orders."""
        ver, payload = serde.pack_flat(self.table.ravel(), "<i8")
        head = struct.pack("<2sBBBIQQ", MAGIC, ver, TYPE_CS,
                           self.depth, self.width, self.seed, self.n_items)
        return head + payload

    @classmethod
    def from_bytes(cls, buf: bytes) -> "CS":
        magic, ver, typ, depth, width, seed, n_items = struct.unpack_from(
            "<2sBBBIQQ", buf, 0)
        if magic != MAGIC or typ != TYPE_CS:
            raise ValueError("not a CS blob")
        off = struct.calcsize("<2sBBBIQQ")
        flat, end = serde.unpack_flat(buf, off, ver, depth * width, "<i8",
                                      np.int64, "cs")
        serde.check_end(buf, end, "cs")
        return cls(depth, width, seed, table=flat.reshape(depth, width),
                   n_items=n_items)


def empty(depth: int = 5, width: int = 1 << 13, seed: int = 11) -> CS:
    return CS(depth, width, seed)
