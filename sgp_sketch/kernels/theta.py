"""Theta (KMV) sketch — distinct counting WITH set algebra.

The theta sketch framework (Dasgupta, Lang, Rhodes, Thompson, 2016; the
KMV/bottom-k instantiation): retain the k smallest 64-bit hashes below a
threshold θ. Every retained hash is a uniform sample of the distinct
items at inclusion probability θ/2⁶⁴, so ANY set expression evaluated on
the retained samples — union, intersection, A-minus-B — is an unbiased
estimate when divided by that probability. That is the capability HLL
lacks: HLL unions exactly but can only approximate intersections by
inclusion–exclusion, whose error scales with the UNION size; theta
intersections are estimated directly from the sample overlap.

State: (k, theta uint64, retained sorted-unique uint64 < theta).
θ = 2⁶⁴ (sentinel _THETA_MAX) means exact mode — everything retained.
Update/merge trim to the (k+1)-th smallest hash when over capacity; the
trim rule is deterministic on the value set, so merges are associative,
commutative, idempotent, and byte-stable (property-tested like the other
byte-exact kernels).

Relative standard error in estimation mode ≈ 1/√(k−1) for unions;
intersection/difference error scales with √(union/result) — still far
tighter than inclusion–exclusion for small intersections of big sets.
Reference tie-in: replaces the driver-side exact set ops of the loaders
(e.g. distinct-edge accounting, snap2metis.scala:44) with mergeable
per-partition state, like every other kernel here.
"""

from __future__ import annotations

import struct

import numpy as np

from . import serde
from .hashing import hash64

MAGIC = b"SK"
VERSION = 1
TYPE_THETA = 6

_THETA_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)
_FULL = float(2 ** 64)


class Theta:
    __slots__ = ("k", "theta", "retained")

    def __init__(self, k: int = 4096, theta: np.uint64 = _THETA_MAX,
                 retained: np.ndarray | None = None):
        if k < 16:
            raise ValueError("k must be >= 16")
        self.k = int(k)
        self.theta = np.uint64(theta)
        self.retained = (retained if retained is not None
                         else np.empty(0, dtype=np.uint64))

    # -- internals ----------------------------------------------------------

    def _theta_frac(self) -> float:
        return 1.0 if self.theta == _THETA_MAX else float(self.theta) / _FULL

    def _trim(self) -> None:
        """Canonical capacity rule: θ ← (k+1)-th smallest retained hash,
        keep the k strictly below it. Deterministic on the value set —
        the property that makes merges order-independent."""
        if self.retained.size > self.k:
            self.theta = self.retained[self.k]
            self.retained = self.retained[:self.k]

    # -- updates ------------------------------------------------------------

    def update_hashes(self, h: np.ndarray,
                      assume_unique: bool = False) -> "Theta":
        if h.size == 0:
            return self
        h = np.asarray(h, dtype=np.uint64)
        if self.theta != _THETA_MAX:
            h = h[h < self.theta]
        if not assume_unique:
            h = np.unique(h)
        merged = np.union1d(self.retained, h)
        self.retained = merged
        self._trim()
        return self

    def update(self, values: np.ndarray, seed: int = 0) -> "Theta":
        return self.update_hashes(hash64(np.asarray(values), seed=seed))

    # -- merge / set algebra ------------------------------------------------

    def merge(self, other: "Theta") -> "Theta":
        """Union merge → new Theta (associative, commutative, idempotent,
        byte-stable)."""
        if not isinstance(other, Theta):
            raise TypeError(f"cannot merge Theta with "
                            f"{type(other).__name__}")
        if self.k != other.k:
            raise ValueError(f"k mismatch: {self.k} vs {other.k}")
        theta = min(self.theta, other.theta)
        r = np.union1d(self.retained, other.retained)
        if theta != _THETA_MAX:
            r = r[r < theta]
        out = Theta(self.k, theta, r)
        out._trim()
        return out

    def intersect(self, other: "Theta") -> "Theta":
        """A∩B result sketch: sample overlap at θ = min(θ_a, θ_b). The
        result is NOT trimmed (it can only shrink) and estimates
        |A∩B| directly — no inclusion–exclusion."""
        if self.k != other.k:
            raise ValueError(f"k mismatch: {self.k} vs {other.k}")
        theta = min(self.theta, other.theta)
        r = np.intersect1d(self.retained, other.retained)
        if theta != _THETA_MAX:
            r = r[r < theta]
        return Theta(self.k, theta, r)

    def a_not_b(self, other: "Theta") -> "Theta":
        """A−B result sketch (samples of A below the common θ that are
        not samples of B)."""
        if self.k != other.k:
            raise ValueError(f"k mismatch: {self.k} vs {other.k}")
        theta = min(self.theta, other.theta)
        ra = self.retained
        if theta != _THETA_MAX:
            ra = ra[ra < theta]
        r = np.setdiff1d(ra, other.retained, assume_unique=True)
        return Theta(self.k, theta, r)

    # -- estimates ----------------------------------------------------------

    def estimate(self) -> float:
        return self.retained.size / self._theta_frac()

    def rel_error_bound(self) -> float:
        """Union-estimate RSE ≈ 1/√(k−1) in estimation mode; 0 exact."""
        if self.theta == _THETA_MAX:
            return 0.0
        return 1.0 / np.sqrt(self.k - 1)

    # -- serialization ------------------------------------------------------

    def to_bytes(self) -> bytes:
        head = struct.pack("<2sBBIQI", MAGIC, VERSION, TYPE_THETA, self.k,
                           int(self.theta), self.retained.size)
        # explicit little-endian to match from_bytes' "<u8" on any host
        return head + self.retained.astype("<u8").tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes) -> "Theta":
        magic, _ver, typ, k, theta, n = struct.unpack_from("<2sBBIQI", buf, 0)
        if magic != MAGIC or typ != TYPE_THETA:
            raise ValueError("not a Theta blob")
        off = struct.calcsize("<2sBBIQI")
        serde.check_end(buf, off + 8 * n, "theta")
        retained = np.frombuffer(buf, dtype="<u8", count=n,
                                 offset=off).astype(np.uint64)
        return cls(k, np.uint64(theta), retained)


def empty(k: int = 4096) -> Theta:
    return Theta(k)
