"""Count-Min Sketch with conservative update — numpy-vectorized, mergeable.

Approximate counterpart of the reference's per-partition frequency accounting:
`partitionSizes[]` running counters and neighbor histograms
(`/root/reference/src/main/java/ca/uwaterloo/cs/sgp/streaming/EdgeCutSGP.java:28,97-110`)
— small fixed-size state updated once per streamed record, merged by addition.

Conservative update is vectorized batch-wise: within an Arrow batch, items are
grouped (np.unique w/ counts); for each unique item the new cell value is
max(cell, min_over_rows(cell) + batch_count). This preserves the
no-underestimate invariant (every cell stays >= the true count of every item
hashing to it) and upper-bounds plain update cell values (tested property),
while staying a single gather/scatter per batch instead of a per-item loop.
Deviation from the strictly-sequential textbook CU is documented here: batch
granularity matches the reference's own batch-relaxation stance for parallel
execution (SURVEY.md §7.4).

Merge: cell-wise sum — associative and commutative. NOTE merged conservative
sketches lose some CU tightness (sum of per-shard mins >= global min) but the
epsilon-delta guarantee `est <= true + eps*N with prob >= 1-delta` still holds
because cell-wise sum never drops counts and the plain-CMS overestimate bound
applies to the sum.
"""

from __future__ import annotations

import struct

import numpy as np

from . import serde
from .hashing import hash64

MAGIC = b"SK"
TYPE_CMS = 2


class CMS:
    __slots__ = ("depth", "width", "seed", "table", "n_items", "conservative")

    def __init__(self, depth: int = 4, width: int = 1 << 14, seed: int = 7,
                 table: np.ndarray | None = None, n_items: int = 0,
                 conservative: bool = True):
        if width <= 0 or width & (width - 1):
            raise ValueError("width must be a positive power of two")
        if depth < 1:
            raise ValueError("depth must be >= 1")
        self.depth = depth
        self.width = width
        self.seed = seed
        self.table = table if table is not None else np.zeros((depth, width), dtype=np.int64)
        self.n_items = n_items
        # Update POLICY, not state: conservative=False makes every cell a
        # plain sum (order/partitioning-independent → the DuckDB
        # counter-replay oracle can re-derive the table exactly), at the
        # cost of the CU overestimate reduction. Deliberately NOT
        # serialized — from_bytes restores the default — because all
        # updates in the agg pipeline happen before the first to_bytes;
        # resuming callers that keep updating must re-supply it.
        self.conservative = conservative

    # eps/delta of the classic analysis: width = ceil(e/eps), depth = ceil(ln 1/delta)
    @property
    def eps(self) -> float:
        return np.e / self.width

    @property
    def delta(self) -> float:
        return float(np.exp(-self.depth))

    def _rows(self, h: np.ndarray) -> np.ndarray:
        """(depth, n) matrix of column indices for pre-hashed uint64 values."""
        cols = np.empty((self.depth, h.size), dtype=np.int64)
        mask = np.uint64(self.width - 1)
        for j in range(self.depth):
            cols[j] = (hash64(h, seed=self.seed + j) & mask).astype(np.int64)
        return cols

    def update_hashes(self, h: np.ndarray, counts: np.ndarray | None = None,
                      conservative: bool | None = None) -> "CMS":
        if conservative is None:
            conservative = self.conservative
        h = np.asarray(h, dtype=np.uint64)
        if h.size == 0:
            return self
        if counts is None:
            h, counts = np.unique(h, return_counts=True)
        else:
            counts = np.asarray(counts, dtype=np.int64)
            # collapse duplicate items so CU sees one delta per item
            uh, inv = np.unique(h, return_inverse=True)
            if uh.size != h.size:
                agg = np.zeros(uh.size, dtype=np.int64)
                np.add.at(agg, inv, counts)
                h, counts = uh, agg
        cols = self._rows(h)
        self.n_items += int(counts.sum())
        if conservative:
            cells = np.empty((self.depth, h.size), dtype=np.int64)
            for j in range(self.depth):
                cells[j] = self.table[j, cols[j]]
            target = cells.min(axis=0) + counts
            for j in range(self.depth):
                # scatter-max: cells shared by several unique items must take
                # the largest target, and never shrink
                np.maximum.at(self.table[j], cols[j], target)
        else:
            for j in range(self.depth):
                np.add.at(self.table[j], cols[j], counts)
        return self

    def update(self, values: np.ndarray, counts=None,
               conservative: bool | None = None, seed: int = 0) -> "CMS":
        return self.update_hashes(hash64(np.asarray(values), seed=seed),
                                  counts=counts, conservative=conservative)

    def merge(self, other: "CMS") -> "CMS":
        if not isinstance(other, CMS):
            raise TypeError(f"cannot merge CMS with {type(other).__name__}")
        if (self.depth, self.width, self.seed) != (other.depth, other.width, other.seed):
            raise ValueError("CMS shape/seed mismatch")
        # the merged sketch keeps the plain-sum update policy only if BOTH
        # inputs had it — a single conservative-updated input already
        # broke the cell-sum invariant, so continuing non-conservative
        # would claim a replayability the table no longer has
        return CMS(self.depth, self.width, self.seed,
                   table=self.table + other.table,
                   n_items=self.n_items + other.n_items,
                   conservative=self.conservative or other.conservative)

    def estimate_hashes(self, h: np.ndarray) -> np.ndarray:
        h = np.asarray(h, dtype=np.uint64)
        if h.size == 0:
            return np.empty(0, dtype=np.int64)
        cols = self._rows(h)
        cells = np.empty((self.depth, h.size), dtype=np.int64)
        for j in range(self.depth):
            cells[j] = self.table[j, cols[j]]
        return cells.min(axis=0)

    def estimate(self, values: np.ndarray, seed: int = 0) -> np.ndarray:
        return self.estimate_hashes(hash64(np.asarray(values), seed=seed))

    def to_bytes(self) -> bytes:
        """Dense or sparse COO, whichever is smaller, with counters in the
        narrowest unsigned width that holds them (versions 3/4; versions
        1/2 when a counter needs 8 bytes; serde.py). Partial states from
        small partitions are mostly zeros; sparse encoding cuts the
        shuffled partial-blob bytes by orders of magnitude at bench scale
        while the merged/dense case stays compact. The choice is a pure
        function of the state, so byte-equality properties across build
        orders are preserved."""
        ver, payload = serde.pack_flat(self.table.ravel(), "<i8")
        head = struct.pack("<2sBBBIQQ", MAGIC, ver, TYPE_CMS,
                           self.depth, self.width, self.seed, self.n_items)
        return head + payload

    @classmethod
    def from_bytes(cls, buf: bytes) -> "CMS":
        magic, ver, typ, depth, width, seed, n_items = struct.unpack_from("<2sBBBIQQ", buf, 0)
        if magic != MAGIC or typ != TYPE_CMS:
            raise ValueError("not a CMS blob")
        off = struct.calcsize("<2sBBBIQQ")
        flat, end = serde.unpack_flat(buf, off, ver, depth * width, "<i8",
                                      np.int64, "cms")
        serde.check_end(buf, end, "cms")
        return cls(depth, width, seed, table=flat.reshape(depth, width),
                   n_items=n_items)


def empty(depth: int = 4, width: int = 1 << 14, seed: int = 7,
          conservative: bool = True) -> CMS:
    return CMS(depth, width, seed, conservative=conservative)
