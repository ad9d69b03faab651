"""Blocked Bloom filter — cacheline (512-bit) blocks, numpy-vectorized.

Approximate membership is the counterpart of the reference's point-lookup
joins: memcached `get("person:<id>")` partition lookups
(`/root/reference/scripts/interactive/gremlin/partitionLookupImporter.groovy:54-68`)
and the frontier-intersection `contains` scan
(`/root/reference/scripts/interactive/gremlin/shortestPathTest.groovy:198-206`).

Blocked layout (Putze/Sanders/Singler 2007): one 64-bit block hash selects a
512-bit block; k bit positions inside the block derive from two more lanes of
the same hash (h1 + i*h2 double hashing, Kirsch-Mitzenmauer). All probes of an
item touch one cacheline; updates are np.bitwise_or.at over uint64 words.

Merge: bitwise OR — associative, commutative, idempotent, byte-stable.
Invariant: zero false negatives (tested); FPR of a blocked filter is slightly
above the classic bound, gate at <= 2x configured (BASELINE.md).
"""

from __future__ import annotations

import struct

import numpy as np

from . import serde
from .hashing import hash64

MAGIC = b"SK"
VERSION = 1
TYPE_BLOOM = 3

BLOCK_BITS = 512
BLOCK_WORDS = BLOCK_BITS // 64


class Bloom:
    __slots__ = ("n_blocks", "k", "seed", "words", "n_items")

    def __init__(self, n_blocks: int = 1 << 11, k: int = 8, seed: int = 11,
                 words: np.ndarray | None = None, n_items: int = 0):
        if n_blocks & (n_blocks - 1):
            raise ValueError("n_blocks must be a power of two")
        self.n_blocks = n_blocks
        self.k = k
        self.seed = seed
        self.words = words if words is not None else np.zeros(n_blocks * BLOCK_WORDS,
                                                              dtype=np.uint64)
        self.n_items = n_items

    @classmethod
    def for_capacity(cls, n: int, bits_per_item: int = 16, seed: int = 11) -> "Bloom":
        n_blocks = 1
        while n_blocks * BLOCK_BITS < n * bits_per_item:
            n_blocks <<= 1
        return cls(n_blocks=n_blocks, k=8, seed=seed)

    def _positions(self, h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """→ (word_index[k,n], bit_mask[k,n]) global uint64-word coordinates."""
        hb = hash64(h, seed=self.seed)
        block = (hb & np.uint64(self.n_blocks - 1)).astype(np.int64) * BLOCK_WORDS
        h1 = hash64(h, seed=self.seed + 1)
        h2 = hash64(h, seed=self.seed + 2) | np.uint64(1)
        widx = np.empty((self.k, h.size), dtype=np.int64)
        masks = np.empty((self.k, h.size), dtype=np.uint64)
        for i in range(self.k):
            pos = (h1 + np.uint64(i) * h2) & np.uint64(BLOCK_BITS - 1)
            widx[i] = block + (pos >> np.uint64(6)).astype(np.int64)
            masks[i] = np.uint64(1) << (pos & np.uint64(63))
        return widx, masks

    def update_hashes(self, h: np.ndarray, assume_unique: bool = False,
                      n_raw: int | None = None) -> "Bloom":
        """`n_raw`: pre-dedup occurrence count when the caller already
        deduped (keeps n_items chunking-invariant → byte-stable blobs)."""
        h = np.asarray(h, dtype=np.uint64)
        if h.size == 0:
            return self
        n = n_raw if n_raw is not None else h.size
        # bit-sets are idempotent — dedupe the batch before the expensive
        # bitwise_or.at scatter (interpreted ~100ns/element × k probes);
        # np.unique also sorts, giving sequential block access.
        if not assume_unique and n > 4096:
            h = np.unique(h)
        widx, masks = self._positions(h)
        np.bitwise_or.at(self.words, widx.ravel(), masks.ravel())
        self.n_items += n
        return self

    def update(self, values: np.ndarray, seed: int = 0) -> "Bloom":
        return self.update_hashes(hash64(np.asarray(values), seed=seed))

    def contains_hashes(self, h: np.ndarray) -> np.ndarray:
        h = np.asarray(h, dtype=np.uint64)
        if h.size == 0:
            return np.empty(0, dtype=bool)
        widx, masks = self._positions(h)
        hit = np.ones(h.size, dtype=bool)
        for i in range(self.k):
            hit &= (self.words[widx[i]] & masks[i]) != 0
        return hit

    def contains(self, values: np.ndarray, seed: int = 0) -> np.ndarray:
        return self.contains_hashes(hash64(np.asarray(values), seed=seed))

    def merge(self, other: "Bloom") -> "Bloom":
        if not isinstance(other, Bloom):
            raise TypeError(f"cannot merge Bloom with {type(other).__name__}")
        if (self.n_blocks, self.k, self.seed) != (other.n_blocks, other.k, other.seed):
            raise ValueError("Bloom shape/seed mismatch")
        return Bloom(self.n_blocks, self.k, self.seed,
                     words=self.words | other.words,
                     n_items=self.n_items + other.n_items)

    def fill_fraction(self) -> float:
        """Exact fraction of set bits (popcount over the words array)."""
        if hasattr(np, "bitwise_count"):  # numpy >= 2.0
            bits = int(np.bitwise_count(self.words).sum())
        else:
            bits = int(np.unpackbits(self.words.view(np.uint8)).sum())
        return bits / (self.n_blocks * BLOCK_BITS)

    def fpr_configured(self) -> float:
        """FPR estimate from the MEASURED fill fraction: fill**k.

        Derived from the filter's actual state, not from n_items — n_items
        counts raw occurrences (update_hashes' n_raw contract), which
        over-states fill on duplicate-heavy streams and would make any
        'measured <= c * configured' gate vacuously loose. Slight lower
        bound for the blocked layout (per-block fill variance raises the
        true FPR a touch above the global fill**k)."""
        return float(self.fill_fraction() ** self.k)

    def to_bytes(self) -> bytes:
        """Dense (version 1) or sparse nonzero-word COO (version 2) —
        whichever is smaller; shared codec in serde.py."""
        ver, payload = serde.pack_flat(self.words, "<u8")
        head = struct.pack("<2sBBBIQQ", MAGIC, ver, TYPE_BLOOM,
                           self.k, self.n_blocks, self.seed, self.n_items)
        return head + payload

    @classmethod
    def from_bytes(cls, buf: bytes) -> "Bloom":
        magic, ver, typ, k, n_blocks, seed, n_items = struct.unpack_from("<2sBBBIQQ", buf, 0)
        if magic != MAGIC or typ != TYPE_BLOOM:
            raise ValueError("not a Bloom blob")
        off = struct.calcsize("<2sBBBIQQ")
        words, end = serde.unpack_flat(buf, off, ver, n_blocks * BLOCK_WORDS,
                                       "<u8", np.uint64, "bloom")
        serde.check_end(buf, end, "bloom")
        return cls(n_blocks, k, seed, words=words, n_items=n_items)


def empty(n_blocks: int = 1 << 11, k: int = 8, seed: int = 11) -> Bloom:
    return Bloom(n_blocks, k, seed)
