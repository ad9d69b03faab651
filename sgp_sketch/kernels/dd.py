"""DDSketch — relative-error quantiles, numpy-vectorized, mergeable.

Completes the quantile family with the third published guarantee: KLL and
t-digest bound the RANK error of an estimate; DDSketch (Masson, Rim & Lee,
"DDSketch: a fast and fully-mergeable quantile sketch with relative-error
guarantees", PVLDB 12(12), 2019) bounds the VALUE error — the returned
x̃ for quantile q satisfies |x̃ − x_q| ≤ α·x_q. That is the guarantee that
matters for long-tailed positive metrics (latencies, token counts, byte
sizes), where a fixed rank error near the p99 can hide a 10× value blowup.

Design (paper §2, unbounded-store variant):
  - value x > 0 maps to bucket i = ⌈log_γ(x)⌉ with γ = (1+α)/(1−α); the
    bucket interval (γ^(i−1), γ^i] has midpoint-ratio error exactly α, so
    the returned estimate 2γ^i/(γ+1) is within α·x of every x it covers.
  - negative values mirror into a second store on |x|; zeros get a scalar
    counter — together the sketch covers all of ℝ, matching the paper's
    production variants.
  - state = two sorted (bucket_index → count) sparse arrays + zero count.
    Merge is cell-wise counter addition — associative, commutative, and
    BYTE-STABLE under any build split/order (the strong equivalence class
    HLL/CMS/Bloom/theta/CS live in; KLL/t-digest only promise bounds).
  - everything is DETERMINISTIC — no randomness, no data-dependent
    restructuring — so an exact oracle (DuckDB) can replay bucket
    assignment AND the quantile walk bit-for-bit; `__spark_entry__`'s
    `dd_ntok_quantiles` is adjudicated that way.

Quantile rule (matches the reference implementations): for q in [0,1] with
n items total, walk buckets in ascending VALUE order (negative store by
descending index, then zeros, then positive store ascending) and return
the first bucket whose cumulative count exceeds the 0-based target rank
q·(n−1); the estimate is the bucket midpoint ±2γ^i/(γ+1) (0 for the zero
bucket).

The unbounded store is the right call for this engine's inputs: bucket
count grows with log_γ(max/min) — ~2,300 buckets span 1..10^20 at α=0.01
— and the serialized sparse state stays KB-sized. A `max_buckets` collapse
(paper §2.4) is intentionally NOT implemented: it would trade the
byte-stable merge for a bounded worst case this workload never reaches.

Reference analog: the exact `numpy.percentile` result-aggregation the
reference runs per experiment (/root/reference/containers/analytics/
scripts/log_parser.py:134-138) — here as a mergeable state whose error is
relative to the VALUE, not the rank.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from . import serde

MAGIC = b"SK"
VERSION = 1
TYPE_DD = 10


def _combine(keys_a: np.ndarray, cnt_a: np.ndarray,
             keys_b: np.ndarray, cnt_b: np.ndarray):
    """Merge two sorted sparse (key → count) stores by key-wise addition.
    Output keys stay sorted and unique → canonical, hence byte-stable."""
    if keys_a.size == 0:
        return keys_b.copy(), cnt_b.copy()
    if keys_b.size == 0:
        return keys_a.copy(), cnt_a.copy()
    keys = np.concatenate([keys_a, keys_b])
    cnts = np.concatenate([cnt_a, cnt_b])
    uk, inv = np.unique(keys, return_inverse=True)
    out = np.zeros(uk.size, dtype=np.int64)
    np.add.at(out, inv, cnts)
    return uk, out


class DD:
    __slots__ = ("alpha", "gamma", "pos_keys", "pos_cnt",
                 "neg_keys", "neg_cnt", "zero", "n")

    def __init__(self, alpha: float = 0.01,
                 pos_keys=None, pos_cnt=None, neg_keys=None, neg_cnt=None,
                 zero: int = 0, n: int = 0):
        if not 0.0 < alpha < 1.0:
            raise ValueError("alpha must be in (0, 1)")
        self.alpha = float(alpha)
        self.gamma = (1.0 + alpha) / (1.0 - alpha)
        e = np.empty(0, dtype=np.int64)
        self.pos_keys = pos_keys if pos_keys is not None else e
        self.pos_cnt = pos_cnt if pos_cnt is not None else e.copy()
        self.neg_keys = neg_keys if neg_keys is not None else e.copy()
        self.neg_cnt = neg_cnt if neg_cnt is not None else e.copy()
        self.zero = int(zero)
        self.n = int(n)

    def _bucket(self, v: np.ndarray) -> np.ndarray:
        # i = ceil(log_gamma(v)); log quotient (not a precomputed
        # reciprocal multiply) so DuckDB's ln(x)/ln(gamma) replays the
        # identical double-precision operations. The bulk pass uses
        # numpy's vectorized log, but SIMD log implementations may drift
        # from scalar libm by ~1 ulp — harmless except where the quotient
        # lands within epsilon of an integer, where the drift can flip
        # ceil and break the exact-oracle replay contract. Those few
        # boundary candidates (probability ~1e-9 per value for random
        # inputs) are recomputed with scalar math.log, the same libm
        # function DuckDB's ln calls; _mid applies the same policy to the
        # estimate side.
        lg = math.log(self.gamma)
        y = np.log(v) / lg
        i = np.ceil(y)
        near = np.abs(y - np.rint(y)) < 1e-9
        if near.any():
            idx = np.flatnonzero(near)
            i[idx] = [math.ceil(math.log(float(x)) / lg) for x in v[idx]]
        return i.astype(np.int64)

    def update(self, values: np.ndarray) -> "DD":
        v = np.asarray(values, dtype=np.float64).ravel()
        # drop NaN AND ±inf: log(inf) → inf and ceil(inf).astype(int64) is
        # undefined — same policy as the other numeric kernels (KLL,
        # t-digest, FD) of ignoring values that carry no usable magnitude
        v = v[np.isfinite(v)]
        if v.size == 0:
            return self
        pos = v[v > 0.0]
        neg = v[v < 0.0]
        self.zero += int(v.size - pos.size - neg.size)
        self.n += int(v.size)
        if pos.size:
            k, c = np.unique(self._bucket(pos), return_counts=True)
            self.pos_keys, self.pos_cnt = _combine(
                self.pos_keys, self.pos_cnt, k, c.astype(np.int64))
        if neg.size:
            k, c = np.unique(self._bucket(-neg), return_counts=True)
            self.neg_keys, self.neg_cnt = _combine(
                self.neg_keys, self.neg_cnt, k, c.astype(np.int64))
        return self

    def merge(self, other: "DD") -> "DD":
        if not isinstance(other, DD):
            raise TypeError(f"cannot merge DD with {type(other).__name__}")
        if self.alpha != other.alpha:
            raise ValueError("DD alpha mismatch")
        pk, pc = _combine(self.pos_keys, self.pos_cnt,
                          other.pos_keys, other.pos_cnt)
        nk, nc = _combine(self.neg_keys, self.neg_cnt,
                          other.neg_keys, other.neg_cnt)
        return DD(self.alpha, pk, pc, nk, nc,
                  zero=self.zero + other.zero, n=self.n + other.n)

    def _mid(self, i: int, sign: float = 1.0) -> float:
        # scalar libm exp/log (NOT numpy's SIMD kernels, which drift by
        # ulps from libm): the identical double comes out of DuckDB's
        # `2*exp(i*ln(gamma))/(gamma+1)`, so the exact oracle replays the
        # estimate bit-for-bit — verified empirically in tests and the
        # dd_ntok_quantiles contract query
        return sign * 2.0 * math.exp(int(i) * math.log(self.gamma)) \
            / (self.gamma + 1.0)

    def quantiles(self, qs) -> np.ndarray:
        """Quantile query (q in [0,1]); NaN on an empty sketch.

        Walks ascending value order: negative buckets by DESCENDING index
        (−γ^i is more negative for larger i), the zero bucket, then
        positive buckets ascending. Returns the midpoint of the first
        bucket whose cumulative count exceeds the 0-based rank q·(n−1).
        Bucket selection is a vectorized searchsorted over the cumulative
        counts; only the few selected midpoints go through scalar libm."""
        qs = np.atleast_1d(np.asarray(qs, dtype=np.float64))
        if self.n == 0:
            return np.full(qs.shape, np.nan)
        keys = np.concatenate([
            self.neg_keys[::-1],
            np.zeros(1 if self.zero else 0, dtype=np.int64),
            self.pos_keys])
        signs = np.concatenate([
            np.full(self.neg_keys.size, -1.0),
            np.zeros(1 if self.zero else 0),
            np.ones(self.pos_keys.size)])
        cnts = np.concatenate([
            self.neg_cnt[::-1],
            np.asarray([self.zero] if self.zero else [], dtype=np.int64),
            self.pos_cnt])
        cum = np.cumsum(cnts)
        ranks = qs * (self.n - 1)
        idx = np.searchsorted(cum, ranks, side="right")
        idx = np.minimum(idx, keys.size - 1)
        return np.asarray([0.0 if signs[j] == 0.0
                           else self._mid(keys[j], signs[j]) for j in idx])

    def to_bytes(self) -> bytes:
        head = struct.pack("<2sBBdQQII", MAGIC, VERSION, TYPE_DD,
                           self.alpha, self.n, self.zero,
                           self.pos_keys.size, self.neg_keys.size)
        return (head
                + self.pos_keys.astype("<i8").tobytes()
                + self.pos_cnt.astype("<i8").tobytes()
                + self.neg_keys.astype("<i8").tobytes()
                + self.neg_cnt.astype("<i8").tobytes())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "DD":
        fmt = "<2sBBdQQII"
        magic, _ver, typ, alpha, n, zero, npos, nneg = \
            struct.unpack_from(fmt, buf, 0)
        if magic != MAGIC or typ != TYPE_DD:
            raise ValueError("not a DD blob")
        off = struct.calcsize(fmt)

        def arr(count):
            nonlocal off
            out = np.frombuffer(buf, dtype="<i8", count=count,
                                offset=off).astype(np.int64)
            off += 8 * count
            return out

        pk, pc, nk, nc = arr(npos), arr(npos), arr(nneg), arr(nneg)
        serde.check_end(buf, off, "dd")
        return cls(alpha, pk, pc, nk, nc, zero=zero, n=n)


def empty(alpha: float = 0.01) -> DD:
    return DD(alpha)
