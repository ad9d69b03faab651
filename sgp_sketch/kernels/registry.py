"""Sketch type registry: dispatch (de)serialization and construction by the
type byte in the blob header, so the Spark layer can carry heterogeneous
sketch states through one BinaryType column."""

from __future__ import annotations

import struct

from . import (bloom, cms, cs, dd, fd, hll, kll, mg, moments, serde,
               tdigest, theta)

# type byte → (kind, class, header versions its from_bytes reads). The
# array kernels write serde's sparse payload under its own version byte.
_TYPES = {
    hll.TYPE_HLL: ("hll", hll.HLL, {hll.VERSION}),
    cms.TYPE_CMS: ("cms", cms.CMS, {cms.VERSION, serde.SPARSE_VER}),
    bloom.TYPE_BLOOM: ("bloom", bloom.Bloom,
                       {bloom.VERSION, serde.SPARSE_VER}),
    kll.TYPE_KLL: ("kll", kll.KLL, {kll.VERSION}),
    tdigest.TYPE_TDIGEST: ("tdigest", tdigest.TDigest, {tdigest.VERSION}),
    theta.TYPE_THETA: ("theta", theta.Theta, {theta.VERSION}),
    mg.TYPE_MG: ("mg", mg.MG, {mg.VERSION}),
    fd.TYPE_FD: ("fd", fd.FD, {fd.VERSION}),
    cs.TYPE_CS: ("cs", cs.CS, {cs.VERSION, serde.SPARSE_VER}),
    dd.TYPE_DD: ("dd", dd.DD, {dd.VERSION}),
    moments.TYPE_MOMENTS: ("moments", moments.Moments, {moments.VERSION}),
}

_FACTORIES = {
    "hll": hll.empty,
    "cms": cms.empty,
    "bloom": bloom.empty,
    "kll": kll.empty,
    "tdigest": tdigest.empty,
    "theta": theta.empty,
    "mg": mg.empty,
    "fd": fd.empty,
    "cs": cs.empty,
    "dd": dd.empty,
    "moments": moments.empty,
}


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
    entry = _TYPES.get(typ)
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
    return _FACTORIES[kind](**params)


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
