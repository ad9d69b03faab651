"""Shared dense/sparse-COO payload codec for array-backed sketch states.

CMS tables and Bloom word arrays from small partitions are mostly zeros;
encoding only the nonzero (index, value) pairs cuts the shuffled
partial-blob bytes by orders of magnitude, while a well-filled merged
state stays dense. The dense/sparse choice is a pure function of the
state, so byte-equality properties across build orders are preserved.

Wire format (everything little-endian):
  dense  (version DENSE_VER):  flat.astype(value_dtype).tobytes()
  sparse (version SPARSE_VER): pack('<q', nnz) + indices '<u4' + values
The version byte lives in each kernel's own header; this module only
packs/unpacks the payload so the two kernels cannot drift apart.
"""

from __future__ import annotations

import struct

import numpy as np

DENSE_VER = 1
SPARSE_VER = 2


def pack_flat(flat: np.ndarray, value_dtype: str) -> tuple[int, bytes]:
    """Encode a 1-D array; returns (version, payload). Sparse only when it
    is strictly smaller AND indices fit the '<u4' index encoding."""
    nz = np.flatnonzero(flat)
    if flat.size < (1 << 32) and nz.size * 12 < flat.size * 8:
        payload = (struct.pack("<q", nz.size)
                   + nz.astype("<u4").tobytes()
                   + flat[nz].astype(value_dtype).tobytes())
        return SPARSE_VER, payload
    return DENSE_VER, flat.astype(value_dtype).tobytes()


def unpack_flat(buf: bytes, off: int, ver: int, size: int,
                value_dtype: str, out_dtype) -> tuple[np.ndarray, int]:
    """Decode a payload written by pack_flat into a fresh 1-D array;
    returns (array, offset just past the payload)."""
    width = np.dtype(value_dtype).itemsize
    if ver == SPARSE_VER:
        (nnz,) = struct.unpack_from("<q", buf, off)
        off += 8
        idx = np.frombuffer(buf, dtype="<u4", count=nnz, offset=off)
        off += 4 * nnz
        vals = np.frombuffer(buf, dtype=value_dtype, count=nnz, offset=off)
        flat = np.zeros(size, dtype=out_dtype)
        flat[idx.astype(np.int64)] = vals
        return flat, off + width * nnz
    flat = np.frombuffer(buf, dtype=value_dtype, count=size, offset=off)
    return flat.astype(out_dtype), off + width * size


def check_end(buf: bytes, end: int, kind: str) -> None:
    """A blob's payload must end exactly at len(buf): a count field lowered
    inside the blob, or bytes appended to it, would otherwise decode to a
    wrong state."""
    if end != len(buf):
        raise ValueError(f"malformed {kind} blob: payload ends at byte "
                         f"{end}, blob has {len(buf)}")
