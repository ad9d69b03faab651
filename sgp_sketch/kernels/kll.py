"""KLL quantile compactors — numpy-vectorized, mergeable, deterministic.

Streaming counterpart of the reference's load-percentile aggregation:
`numpy.percentile(load, {0,25,50,75,100})`
(`/root/reference/containers/analytics/scripts/log_parser.py:134-138`,
`/root/reference/containers/interactive/master/scripts/ldbc_run.py:129-133`)
computed without materializing the full value set.

Karnin-Lang-Liberty (FOCS'16) compactor hierarchy: level i holds items of
weight 2^i; level capacities decay geometrically (c = 2/3) from k at the top.
Compaction sorts a full level, promotes every other item to level i+1, and
discards the rest.

Documented deviation (SURVEY.md §7.4.2 — no runtime randomness allowed): the
compaction coin is a deterministic per-level alternating bit carried in the
state, not a random draw. Error stays within the usual ~O(1/k) envelope in
practice and is gated empirically by tests, at the cost of the formal
randomized guarantee.

Merge: concatenate level-wise then re-compact — associative up to the rank
error bound (merge order may change bytes; tests assert bounds, not bytes,
unlike HLL/CMS/Bloom which are byte-stable).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from . import serde

MAGIC = b"SK"
VERSION = 1
TYPE_KLL = 4


class KLL:
    __slots__ = ("k", "levels", "n", "flips", "vmin", "vmax")

    def __init__(self, k: int = 200, levels=None, n: int = 0, flips: int = 0,
                 vmin: float = math.inf, vmax: float = -math.inf):
        self.k = k
        self.levels: list[np.ndarray] = levels if levels is not None else [
            np.empty(0, dtype=np.float64)]
        self.n = n
        self.flips = flips
        self.vmin = vmin
        self.vmax = vmax

    def _capacity(self, level: int) -> int:
        depth = len(self.levels) - 1 - level
        return max(8, int(math.ceil(self.k * (2.0 / 3.0) ** depth)))

    def _compress(self) -> None:
        while True:
            total = sum(a.size for a in self.levels)
            cap_total = sum(self._capacity(i) for i in range(len(self.levels)))
            if total <= cap_total:
                return
            for i in range(len(self.levels)):
                if self.levels[i].size > self._capacity(i):
                    arr = np.sort(self.levels[i])
                    offset = (self.flips >> i) & 1
                    self.flips ^= 1 << i
                    promoted = arr[offset::2]
                    self.levels[i] = np.empty(0, dtype=np.float64)
                    if i + 1 == len(self.levels):
                        self.levels.append(np.empty(0, dtype=np.float64))
                    self.levels[i + 1] = np.concatenate([self.levels[i + 1], promoted])
                    break
            else:
                return  # no level over capacity; total bound satisfied enough

    def update(self, values: np.ndarray) -> "KLL":
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return self
        self.n += v.size
        self.vmin = min(self.vmin, float(v.min()))
        self.vmax = max(self.vmax, float(v.max()))
        self.levels[0] = np.concatenate([self.levels[0], v])
        self._compress()
        return self

    def merge(self, other: "KLL") -> "KLL":
        if not isinstance(other, KLL):
            raise TypeError(f"cannot merge KLL with {type(other).__name__}")
        if self.k != other.k:
            raise ValueError("KLL k mismatch")
        depth = max(len(self.levels), len(other.levels))
        levels = []
        for i in range(depth):
            a = self.levels[i] if i < len(self.levels) else np.empty(0, np.float64)
            b = other.levels[i] if i < len(other.levels) else np.empty(0, np.float64)
            levels.append(np.concatenate([a, b]))
        out = KLL(self.k, levels=levels, n=self.n + other.n,
                  flips=self.flips ^ other.flips,
                  vmin=min(self.vmin, other.vmin), vmax=max(self.vmax, other.vmax))
        out._compress()
        return out

    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for i, arr in enumerate(self.levels):
            if arr.size:
                items.append(arr)
                weights.append(np.full(arr.size, 1 << i, dtype=np.int64))
        if not items:
            return np.empty(0, np.float64), np.empty(0, np.int64)
        it = np.concatenate(items)
        w = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], w[order]

    def quantiles(self, qs) -> np.ndarray:
        """Vectorized quantile query (q in [0,1])."""
        qs = np.atleast_1d(np.asarray(qs, dtype=np.float64))
        if self.n == 0:
            return np.full(qs.shape, np.nan)
        items, w = self._weighted_items()
        cum = np.cumsum(w)
        total = cum[-1]
        ranks = np.clip(qs * total, 0, total)
        pos = np.searchsorted(cum, ranks, side="left")
        pos = np.clip(pos, 0, items.size - 1)
        out = items[pos]
        out[qs <= 0.0] = self.vmin
        out[qs >= 1.0] = self.vmax
        return out

    def rank(self, value: float) -> float:
        """Approximate normalized rank of `value`."""
        if self.n == 0:
            return math.nan
        items, w = self._weighted_items()
        mask = items <= value
        return float(w[mask].sum()) / float(w.sum())

    def to_bytes(self) -> bytes:
        head = struct.pack("<2sBBIQQddB", MAGIC, VERSION, TYPE_KLL, self.k,
                           self.n, self.flips, self.vmin, self.vmax,
                           len(self.levels))
        parts = [head]
        for arr in self.levels:
            parts.append(struct.pack("<I", arr.size))
            parts.append(arr.astype("<f8").tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, buf: bytes) -> "KLL":
        fmt = "<2sBBIQQddB"
        magic, ver, typ, k, n, flips, vmin, vmax, nlev = struct.unpack_from(fmt, buf, 0)
        if magic != MAGIC or typ != TYPE_KLL:
            raise ValueError("not a KLL blob")
        off = struct.calcsize(fmt)
        levels = []
        for _ in range(nlev):
            (cnt,) = struct.unpack_from("<I", buf, off)
            off += 4
            levels.append(np.frombuffer(buf, dtype="<f8", count=cnt,
                                        offset=off).astype(np.float64))
            off += 8 * cnt
        serde.check_end(buf, off, "kll")
        return cls(k, levels=levels, n=n, flips=flips, vmin=vmin, vmax=vmax)


def empty(k: int = 200) -> KLL:
    return KLL(k)
