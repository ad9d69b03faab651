"""Frequent Directions matrix sketch — numpy-vectorized, mergeable.

Liberty, "Simple and Deterministic Matrix Sketching" (KDD'13) with the
mergeability analysis of Ghashami, Liberty, Phillips, Woodruff, "Frequent
Directions: Simple and Deterministic Matrix Sketching" (SIAM J. Comput.
2016, §3): a sketch B of at most `ell` rows such that

    0 <= x'A'Ax - x'B'Bx <= shed <= ||A||_F^2 / ell   for all unit x,

i.e. the sketch's Gram matrix underestimates the data's by at most the
tracked `shed` (the sum of shrink deltas), which is itself bounded by
||A||_F^2 / ell. This is the deterministic streaming answer to "what are
the dominant directions of a 10^12-row embedding table" — the spectral
analogue of the frequency sketches: covariance without materializing the
d x d Gram or shuffling anything larger than an (ell x d) float block.

Update: rows buffer into a (2*ell, d) working matrix; when full, one SVD
shrinks it back to ell rows (sigma' = sqrt(sigma^2 - sigma_ell^2), zeroing
the tail). Each shrink sheds delta = sigma_ell^2 from at least ell
directions, so total shed <= ||A||_F^2 / ell (the KDD'13 argument).

Merge: concatenate the two sketches' rows and shrink once — the
"mergeable summaries" property: bounds add (shed_a + shed_b + merge
delta) and the combined sketch obeys the same ||A||_F^2 / ell bound for
the union stream. Like Misra-Gries (and unlike HLL/theta), the sketch
MATRIX is not byte-identical across build orders — the guarantee is the
spectral bound, gated in tests across random splits, not byte equality.

State floats are float64 regardless of input width: the Gram-error
guarantee compounds through repeated SVD shrinks, and float32
accumulation would contaminate the tracked `shed` bound.
"""

from __future__ import annotations

import struct

import numpy as np

from . import serde

MAGIC = b"SK"
VERSION = 1
TYPE_FD = 8


class FD:
    __slots__ = ("ell", "d", "rows", "shed", "n_rows")

    def __init__(self, ell: int = 16, d: int = 64,
                 rows: np.ndarray | None = None, shed: float = 0.0,
                 n_rows: int = 0):
        if ell < 2:
            raise ValueError("ell must be >= 2")
        self.ell = int(ell)
        self.d = int(d)
        self.rows = (rows if rows is not None
                     else np.empty((0, self.d), dtype=np.float64))
        self.shed = float(shed)
        self.n_rows = int(n_rows)

    def _shrink(self) -> None:
        """SVD-shrink the working rows back to < ell non-zero rows."""
        if self.rows.shape[0] <= self.ell:
            return
        # full_matrices=False: (n, d) -> S (min(n,d),), Vt (min(n,d), d)
        _, s, vt = np.linalg.svd(self.rows, full_matrices=False)
        if s.size <= self.ell:
            delta = 0.0
        else:
            delta = float(s[self.ell - 1] ** 2)
        s2 = np.maximum(s**2 - delta, 0.0)
        keep = s2 > 0
        self.rows = np.sqrt(s2[keep])[:, None] * vt[keep]
        self.shed += delta

    def update(self, x: np.ndarray) -> "FD":
        """Absorb a (n, d) row block (or a single d-vector)."""
        x = np.asarray(x, dtype=np.float64)
        if x.ndim == 1:
            x = x[None, :]
        if x.shape[1] != self.d:
            raise ValueError(f"dim mismatch: got {x.shape[1]}, want {self.d}")
        # Non-finite rows (element-level nulls decode to NaN through Arrow)
        # would make the SVD raise or poison every later gram()/spectrum();
        # drop them like the scalar kernels (KLL/TDigest/MG) drop NaN.
        finite = np.isfinite(x).all(axis=1)
        if not finite.all():
            x = x[finite]
        if x.shape[0] == 0:
            return self
        self.n_rows += x.shape[0]
        buf = self.rows
        cap = 2 * self.ell
        i = 0
        while i < x.shape[0]:
            take = min(cap - buf.shape[0], x.shape[0] - i)
            buf = np.concatenate([buf, x[i:i + take]])
            i += take
            if buf.shape[0] >= cap:
                self.rows = buf
                self._shrink()
                buf = self.rows
        self.rows = buf
        return self

    def merge(self, other: "FD") -> "FD":
        if not isinstance(other, FD):
            raise TypeError(f"cannot merge FD with {type(other).__name__}")
        if (self.ell, self.d) != (other.ell, other.d):
            raise ValueError("FD shape mismatch")
        out = FD(self.ell, self.d,
                 np.concatenate([self.rows, other.rows]),
                 self.shed + other.shed, self.n_rows + other.n_rows)
        out._shrink()
        return out

    def gram(self) -> np.ndarray:
        """B'B — the sketched Gram/covariance estimate (d x d)."""
        return self.rows.T @ self.rows

    def spectrum(self, k: int | None = None):
        """Top-k singular values of the SKETCH (lower bounds on the data's:
        sigma_i(A)^2 - shed <= sigma_i(B)^2 <= sigma_i(A)^2)."""
        s = np.linalg.svd(self.rows, compute_uv=False)
        return s[:k] if k is not None else s

    @property
    def error_bound(self) -> float:
        """Spectral-norm bound on A'A - B'B actually incurred (<=
        ||A||_F^2 / ell by construction)."""
        return self.shed

    def to_bytes(self) -> bytes:
        """Serialize a SHRUNK SNAPSHOT (<= ell rows) so shuffled partials
        stay small. Shrinking happens on a copy: to_bytes is read-only on
        self, so spectrum()/gram() return identical values before and
        after serialization (both within the tracked bound either way)."""
        snap = self
        if self.rows.shape[0] > self.ell:
            snap = FD(self.ell, self.d, self.rows.copy(),
                      self.shed, self.n_rows)
            snap._shrink()
        head = struct.pack("<2sBBIIQdQ", MAGIC, VERSION, TYPE_FD,
                           snap.ell, snap.d, snap.n_rows, snap.shed,
                           snap.rows.shape[0])
        return head + np.ascontiguousarray(snap.rows, dtype="<f8").tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes) -> "FD":
        magic, ver, typ, ell, d, n_rows, shed, nr = struct.unpack_from(
            "<2sBBIIQdQ", buf, 0)
        if magic != MAGIC or typ != TYPE_FD:
            raise ValueError("not an FD blob")
        off = struct.calcsize("<2sBBIIQdQ")
        serde.check_end(buf, off + 8 * nr * d, "fd")
        rows = np.frombuffer(buf, dtype="<f8", count=nr * d,
                             offset=off).reshape(nr, d)
        return cls(ell, d, rows.astype(np.float64), shed, n_rows)


def empty(ell: int = 16, d: int = 64) -> FD:
    return FD(ell, d)
