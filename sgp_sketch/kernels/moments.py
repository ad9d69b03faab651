"""Moments summary — exact integer power sums, numpy-vectorized, mergeable.

The moments sketch of Gan, Ding, Tai, Sharan & Bailis ("Moment-based
quantile sketches for efficient high cardinality aggregation queries",
PVLDB 11(11), 2018) observes that (n, min, max, Σx, Σx², …, Σx^k) is the
smallest useful mergeable summary there is: a handful of scalars whose
merge is plain addition — associative, commutative, and (for integer
inputs, which is what this engine's token/count columns are) EXACT. This
kernel implements that summary for k = 4 with arbitrary-precision integer
accumulators, giving the distribution-shape family (mean, variance,
skewness, excess kurtosis) the same strong guarantee the counting family
already has:

  - merges are byte-stable under ANY build split/order (the HLL/theta/
    CS/DD equivalence class) — not approximately, but because the state
    is an exact integer and integer addition has no rounding;
  - the derived statistics are deterministic pure functions of that
    integer state, evaluated with only IEEE-754 correctly-rounded
    operations (+, −, ×, ÷, sqrt — no libm pow), so an external engine
    (DuckDB over HUGEINT power sums) reproduces every output double
    bit-for-bit. `__spark_entry__`'s `moments_profile` is adjudicated
    that way. PRECONDITION for the cross-engine bit-exact replay: each
    power sum must stay below 2^63 — DuckDB materializes HUGEINT→DOUBLE
    as (double)upper·2^64 + (double)lower, which double-rounds above
    that (the kernel itself stays exact at any magnitude; only the
    REPLAY comparison degrades, to ~1 ulp on the derived doubles). For
    n_chars-scale inputs (x ≤ 10^4) that holds to Σx⁴ ≈ 2^63 ⇒ n ≲
    5·10^2 trillion rows — compare with 1-ulp tolerance beyond it.

Exactness mechanics: per Arrow batch, Σx^p is computed in int64 with a
chunk size chosen so no partial sum can overflow (chunk ≤ ⌊2⁶²/max|x|^p⌋),
chunk totals accumulated into Python's arbitrary-precision int; inputs
whose |x|^p itself exceeds int64 fall back to elementwise Python ints
(correct for any magnitude, just slower — token counts never hit it).
Values must be integral (token counts, byte sizes, degrees, ids): the
update REJECTS non-integral finite values with ValueError rather than
silently rounding, because exactness is the entire point of this kernel.
Non-finite values are dropped, matching the numeric-kernel policy
(KLL/t-digest/DD/FD).

Why carry this next to KLL/t-digest/DD: those answer quantiles with
bounded error; the moments state answers mean/variance/skew/kurtosis with
ZERO error at ~64 bytes, merges by addition alone, and is the state
behind drift gates (variance ratios, |skew| explosions) where an
approximate answer would have to be re-verified anyway.

Reference analog: the per-experiment mean/σ result aggregation the
reference computes with numpy after collecting logs
(/root/reference/containers/analytics/scripts/log_parser.py:134-138) —
here as a mergeable state built in one distributed scan.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from . import serde

MAGIC = b"SK"
VERSION = 1
TYPE_MOMENTS = 11

_K = 4  # power sums Σx^1 .. Σx^4


def _exact_power_sum(v: np.ndarray, p: int, amax: int) -> int:
    """Σ v^p as an exact Python int; v is int64, amax = max|v| (> 0)."""
    if amax ** p < (1 << 62):
        pw = v ** p if p > 1 else v
        # chunk so every partial sum fits int64: per · amax^p ≤ 2^62
        per = max(1, (1 << 62) // (amax ** p))
        if pw.size <= per:
            return int(pw.sum(dtype=np.int64))
        total = 0
        for i in range(0, pw.size, per):
            total += int(pw[i:i + per].sum(dtype=np.int64))
        return total
    # |x|^p overflows int64 (|x| ≳ 2^15.5 at p=4): exact slow path
    return sum(int(x) ** p for x in v.tolist())


def _encode_bigint(x: int) -> bytes:
    raw = x.to_bytes((x.bit_length() + 8) // 8 or 1, "little", signed=True)
    return struct.pack("<I", len(raw)) + raw


def _decode_bigint(buf: bytes, off: int) -> tuple[int, int]:
    (ln,) = struct.unpack_from("<I", buf, off)
    off += 4
    if off + ln > len(buf):
        raise ValueError(f"truncated Moments blob: power sum needs {ln} "
                         f"bytes at offset {off}, blob has {len(buf)}")
    return int.from_bytes(buf[off:off + ln], "little", signed=True), off + ln


class Moments:
    __slots__ = ("n", "mn", "mx", "s")

    def __init__(self, n: int = 0, mn: int | None = None,
                 mx: int | None = None, s: list | None = None):
        self.n = int(n)
        self.mn = mn
        self.mx = mx
        self.s = [int(x) for x in s] if s is not None else [0] * _K

    # ------------------------------------------------------------- build
    def update(self, values: np.ndarray) -> "Moments":
        v = np.asarray(values).ravel()
        if v.dtype.kind == "f":
            v = v[np.isfinite(v)]
            if v.size and not (np.abs(v) < 2.0 ** 53).all():
                raise ValueError("moments: |value| ≥ 2^53 arrived as float "
                                 "— integer exactness already lost upstream")
            if v.size and (np.floor(v) != v).any():
                raise ValueError("moments: non-integral values — this "
                                 "kernel is exact for integers only "
                                 "(token counts, sizes, degrees)")
            v = v.astype(np.int64)
        elif v.dtype.kind not in "iu":
            raise ValueError(f"moments: unsupported dtype {v.dtype}")
        else:
            # unsigned guard symmetric to the float one above: a uint64
            # above 2^63-1 would silently WRAP under astype(int64),
            # corrupting the "exact" power sums — reject loudly instead
            if (v.dtype.kind == "u" and v.size
                    and int(v.max()) > np.iinfo(np.int64).max):
                raise ValueError("moments: unsigned value > 2^63-1 would "
                                 "wrap under int64 — rescale upstream")
            v = v.astype(np.int64)
        if v.size == 0:
            return self
        lo, hi = int(v.min()), int(v.max())
        self.mn = lo if self.mn is None else min(self.mn, lo)
        self.mx = hi if self.mx is None else max(self.mx, hi)
        self.n += int(v.size)
        amax = max(abs(lo), abs(hi))
        if amax == 0:
            return self
        for p in range(1, _K + 1):
            self.s[p - 1] += _exact_power_sum(v, p, amax)
        return self

    # ------------------------------------------------------------- merge
    def merge(self, other: "Moments") -> "Moments":
        if not isinstance(other, Moments):
            raise TypeError(
                f"cannot merge Moments with {type(other).__name__}")
        mn = self.mn if other.mn is None else (
            other.mn if self.mn is None else min(self.mn, other.mn))
        mx = self.mx if other.mx is None else (
            other.mx if self.mx is None else max(self.mx, other.mx))
        return Moments(self.n + other.n, mn, mx,
                       [a + b for a, b in zip(self.s, other.s)])

    # ---------------------------------------------------------- finalize
    def stats(self) -> dict:
        """Exact-state-derived statistics. Every float below comes from
        IEEE-754 correctly-rounded ops only (int→double conversion,
        +, −, ×, ÷, sqrt), in a FIXED evaluation order mirrored by the
        DuckDB oracle in `__spark_entry__._moments_oracle_sql` — identical
        bits on both engines. Population (biased) moments; skewness is
        Fisher g1, kurtosis is excess g2."""
        if self.n == 0:
            return {"n": 0, "min": None, "max": None, "mean": None,
                    "variance": None, "skewness": None, "kurt_excess": None}
        fn = float(self.n)
        m1 = float(self.s[0]) / fn
        m2 = float(self.s[1]) / fn
        m3 = float(self.s[2]) / fn
        m4 = float(self.s[3]) / fn
        var = m2 - m1 * m1
        out = {"n": self.n, "min": self.mn, "max": self.mx,
               "mean": m1, "variance": var,
               "skewness": None, "kurt_excess": None}
        if var > 0.0:
            sd = math.sqrt(var)
            out["skewness"] = (m3 - 3.0 * m1 * m2 + 2.0 * (m1 * m1 * m1)) \
                / (sd * sd * sd)
            out["kurt_excess"] = (m4 - 4.0 * m1 * m3
                                  + 6.0 * (m1 * m1) * m2
                                  - 3.0 * ((m1 * m1) * (m1 * m1))) \
                / (var * var) - 3.0
        return out

    def estimate(self) -> dict:
        return self.stats()

    # ------------------------------------------------------------- serde
    def to_bytes(self) -> bytes:
        head = struct.pack("<2sBBQB", MAGIC, VERSION, TYPE_MOMENTS,
                           self.n, 1 if self.n else 0)
        body = b""
        if self.n:
            body = struct.pack("<qq", self.mn, self.mx)
            for x in self.s:
                body += _encode_bigint(x)
        return head + body

    @classmethod
    def from_bytes(cls, buf: bytes) -> "Moments":
        magic, ver, typ, n, has = struct.unpack_from("<2sBBQB", buf, 0)
        if magic != MAGIC or typ != TYPE_MOMENTS:
            raise ValueError("not a Moments blob")
        if ver != VERSION:
            raise ValueError(f"unsupported Moments version {ver}")
        off = struct.calcsize("<2sBBQB")
        if not has:
            serde.check_end(buf, off, "moments")
            return cls()
        mn, mx = struct.unpack_from("<qq", buf, off)
        off += 16
        s = []
        for _ in range(_K):
            x, off = _decode_bigint(buf, off)
            s.append(x)
        serde.check_end(buf, off, "moments")
        return cls(n, mn, mx, s)


def empty() -> Moments:
    return Moments()
