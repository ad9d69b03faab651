"""Sketch type registry: dispatch (de)serialization and construction by the
type byte in the blob header, so the Spark layer can carry heterogeneous
sketch states through one BinaryType column."""

from __future__ import annotations

import struct

from . import (bloom, cms, cs, dd, fd, hll, kll, mg, moments, serde,
               tdigest, theta)

# kind → (type byte, class, empty(**params), header versions its
# from_bytes reads). The array kernels write serde's sparse (and, for the
# integer tables, narrowed) payloads under their own version bytes.
_KINDS = {
    "hll": (hll.TYPE_HLL, hll.HLL, hll.empty, {hll.VERSION}),
    "cms": (cms.TYPE_CMS, cms.CMS, cms.empty, serde.INT_VERSIONS),
    "bloom": (bloom.TYPE_BLOOM, bloom.Bloom, bloom.empty,
              {bloom.VERSION, serde.SPARSE_VER}),
    "kll": (kll.TYPE_KLL, kll.KLL, kll.empty, {kll.VERSION}),
    "tdigest": (tdigest.TYPE_TDIGEST, tdigest.TDigest, tdigest.empty,
                {tdigest.VERSION}),
    "theta": (theta.TYPE_THETA, theta.Theta, theta.empty, {theta.VERSION}),
    "mg": (mg.TYPE_MG, mg.MG, mg.empty, {mg.VERSION}),
    "fd": (fd.TYPE_FD, fd.FD, fd.empty, {fd.VERSION}),
    "cs": (cs.TYPE_CS, cs.CS, cs.empty, serde.INT_VERSIONS),
    "dd": (dd.TYPE_DD, dd.DD, dd.empty, {dd.VERSION}),
    "moments": (moments.TYPE_MOMENTS, moments.Moments, moments.empty,
                {moments.VERSION}),
}
_BY_TYPE = {typ: (kind, cls, versions)
            for kind, (typ, cls, _, versions) in _KINDS.items()}


def from_bytes(buf: bytes):
    """Decode a blob of any kind. A blob cut short, or with a header
    version its kernel does not read, raises ValueError naming the kind."""
    try:
        magic, ver, typ = struct.unpack_from("<2sBB", buf, 0)
    except struct.error:
        raise ValueError(f"sketch blob too short ({len(buf)} bytes)") \
            from None
    if magic != b"SK":
        raise ValueError("bad sketch magic")
    # look up BEFORE calling so a KeyError raised inside a kernel's
    # from_bytes is never misreported as "unknown sketch type"
    entry = _BY_TYPE.get(typ)
    if entry is None:
        raise ValueError(f"unknown sketch type {typ}")
    kind, cls, versions = entry
    if ver not in versions:
        raise ValueError(f"unsupported {kind} blob version {ver} "
                         f"(reads {sorted(versions)})")
    try:
        return cls.from_bytes(buf)
    except struct.error as e:
        raise ValueError(f"truncated {kind} blob ({len(buf)} bytes): {e}") \
            from None


def make(kind: str, **params):
    """Empty state of `kind`. An unknown kind raises ValueError; a param
    the kind's `empty()` does not take raises TypeError naming it."""
    entry = _KINDS.get(kind)
    if entry is None:
        raise ValueError(f"unknown sketch kind {kind!r} "
                         f"(known: {', '.join(_KINDS)})")
    return entry[2](**params)


def merge_blobs(blobs) -> bytes:
    """Merge an iterable of serialized sketch states of one kind."""
    it = iter(blobs)
    try:
        acc = from_bytes(next(it))
    except StopIteration:
        # bare StopIteration inside a generator becomes an opaque
        # PEP-479 RuntimeError at the mapInPandas/mapInArrow call site
        raise ValueError("merge_blobs: empty blob iterable") from None
    for b in it:
        acc = acc.merge(from_bytes(b))
    return acc.to_bytes()
