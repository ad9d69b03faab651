"""t-digest (merging variant) — numpy-vectorized centroid clustering.

Second quantile sketch next to KLL (BASELINE.json north_star names both);
same reference analog: percentile aggregation
(`/root/reference/containers/analytics/scripts/log_parser.py:134-138`).

Dunning & Ertl's merging t-digest with the k1 scale function
k(q) = (delta / 2π) · asin(2q − 1): fine clusters at the tails, coarse in the
middle, so extreme quantiles stay sharp. Compression is fully vectorized —
sorted (mean, weight) pairs are bucketed by floor(k(q_mid)) and each bucket
collapses to its weighted mean; every bucket spans < 1 unit of k, which is
the t-digest size invariant.

Merge: concatenate centroid lists, re-compress. Associative up to rank-error
bound (centroid bytes depend on merge order; tests assert bounds, not bytes).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from . import serde

MAGIC = b"SK"
VERSION = 1
TYPE_TDIGEST = 5


class TDigest:
    __slots__ = ("delta", "means", "weights", "n", "vmin", "vmax")

    def __init__(self, delta: float = 100.0, means=None, weights=None,
                 n: int = 0, vmin: float = math.inf, vmax: float = -math.inf):
        self.delta = float(delta)
        self.means = means if means is not None else np.empty(0, np.float64)
        self.weights = weights if weights is not None else np.empty(0, np.float64)
        self.n = n
        self.vmin = vmin
        self.vmax = vmax

    def _compress(self, means: np.ndarray, weights: np.ndarray) -> None:
        if means.size == 0:
            self.means, self.weights = means, weights
            return
        order = np.argsort(means, kind="stable")
        means, weights = means[order], weights[order]
        total = weights.sum()
        q_mid = (np.cumsum(weights) - weights / 2.0) / total
        kq = (self.delta / (2.0 * math.pi)) * np.arcsin(np.clip(2.0 * q_mid - 1.0, -1, 1))
        bins = np.floor(kq).astype(np.int64)
        uniq, inv = np.unique(bins, return_inverse=True)
        w_out = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(w_out, inv, weights)
        m_out = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(m_out, inv, weights * means)
        m_out /= w_out
        self.means, self.weights = m_out, w_out

    def update(self, values: np.ndarray) -> "TDigest":
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return self
        self.n += v.size
        self.vmin = min(self.vmin, float(v.min()))
        self.vmax = max(self.vmax, float(v.max()))
        self._compress(np.concatenate([self.means, v]),
                       np.concatenate([self.weights, np.ones(v.size)]))
        return self

    def merge(self, other: "TDigest") -> "TDigest":
        if not isinstance(other, TDigest):
            raise TypeError(f"cannot merge TDigest with {type(other).__name__}")
        if self.delta != other.delta:
            raise ValueError("TDigest delta mismatch")
        out = TDigest(self.delta, n=self.n + other.n,
                      vmin=min(self.vmin, other.vmin),
                      vmax=max(self.vmax, other.vmax))
        out._compress(np.concatenate([self.means, other.means]),
                      np.concatenate([self.weights, other.weights]))
        return out

    def quantiles(self, qs) -> np.ndarray:
        qs = np.atleast_1d(np.asarray(qs, dtype=np.float64))
        if self.n == 0 or self.means.size == 0:
            return np.full(qs.shape, np.nan)
        w = self.weights
        total = w.sum()
        # centroid midpoints in cumulative-weight space
        cum_mid = np.cumsum(w) - w / 2.0
        targets = np.clip(qs, 0, 1) * total
        xp = np.concatenate(([0.0], cum_mid, [total]))
        fp = np.concatenate(([self.vmin], self.means, [self.vmax]))
        return np.interp(targets, xp, fp)

    def to_bytes(self) -> bytes:
        head = struct.pack("<2sBBdQddI", MAGIC, VERSION, TYPE_TDIGEST,
                           self.delta, self.n, self.vmin, self.vmax,
                           self.means.size)
        return head + self.means.astype("<f8").tobytes() + \
            self.weights.astype("<f8").tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes) -> "TDigest":
        fmt = "<2sBBdQddI"
        magic, ver, typ, delta, n, vmin, vmax, c = struct.unpack_from(fmt, buf, 0)
        if magic != MAGIC or typ != TYPE_TDIGEST:
            raise ValueError("not a TDigest blob")
        off = struct.calcsize(fmt)
        serde.check_end(buf, off + 16 * c, "tdigest")
        means = np.frombuffer(buf, dtype="<f8", count=c, offset=off).astype(np.float64)
        off += 8 * c
        weights = np.frombuffer(buf, dtype="<f8", count=c, offset=off).astype(np.float64)
        return cls(delta, means=means, weights=weights, n=n, vmin=vmin, vmax=vmax)


def empty(delta: float = 100.0) -> TDigest:
    return TDigest(delta)
