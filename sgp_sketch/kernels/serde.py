"""Shared dense/sparse-COO payload codec for array-backed sketch states.

CMS tables and Bloom word arrays from small partitions are mostly zeros;
encoding only the nonzero (index, value) pairs cuts the shuffled
partial-blob bytes by orders of magnitude, while a well-filled merged
state stays dense. Signed-integer tables (CMS, CS) are also stored in the
narrowest integer width that holds every value: a CMS partial whose
largest counter is ~35k needs 2 bytes per cell, not 8. Both choices are
pure functions of the state, so byte-equality properties across build
orders are preserved.

Wire format (everything little-endian):
  dense         (version DENSE_VER):  flat.astype(value_dtype).tobytes()
  sparse        (version SPARSE_VER): pack('<q', nnz) + indices '<u4'
                                      + values as value_dtype
  narrow dense  (version NARROW_DENSE_VER):  width code byte + values
  narrow sparse (version NARROW_SPARSE_VER): width code byte
                                      + the sparse layout, values narrowed
The width code indexes NARROW: '<u1'/'<u2'/'<u4' when no value is
negative, '<i1'/'<i2'/'<i4' otherwise; a table that needs all 8 bytes
keeps versions 1/2. Unsigned word arrays (Bloom) never narrow. The
version byte lives in each kernel's own header; this module only
packs/unpacks the payload so the kernels cannot drift apart.
"""

from __future__ import annotations

import struct

import numpy as np

DENSE_VER = 1
SPARSE_VER = 2
NARROW_DENSE_VER = 3
NARROW_SPARSE_VER = 4
# header versions a signed-integer table kernel reads
INT_VERSIONS = frozenset({DENSE_VER, SPARSE_VER, NARROW_DENSE_VER,
                          NARROW_SPARSE_VER})

# width code → value dtype of a narrowed payload; pack_flat takes the
# first that holds every value, so unsigned wins when nothing is negative
NARROW = ("<u1", "<u2", "<u4", "<i1", "<i2", "<i4")


def _narrowest(flat: np.ndarray) -> int | None:
    """Width code of the narrowest NARROW dtype holding every value of a
    signed-integer array, or None when only 8 bytes do."""
    lo, hi = int(flat.min()), int(flat.max())
    for code, dt in enumerate(NARROW):
        info = np.iinfo(dt)
        if info.min <= lo and hi <= info.max:
            return code
    return None


def pack_flat(flat: np.ndarray, value_dtype: str) -> tuple[int, bytes]:
    """Encode a 1-D array; returns (version, payload). A signed-integer
    `value_dtype` narrows to the smallest width holding every value.
    Sparse only when it is strictly smaller AND indices fit the '<u4'
    index encoding."""
    code = (_narrowest(flat) if np.dtype(value_dtype).kind == "i"
            else None)
    head = b""
    dense_ver, sparse_ver = DENSE_VER, SPARSE_VER
    if code is not None:
        value_dtype = NARROW[code]
        head = bytes([code])
        dense_ver, sparse_ver = NARROW_DENSE_VER, NARROW_SPARSE_VER
    width = np.dtype(value_dtype).itemsize
    nz = np.flatnonzero(flat)
    if flat.size < (1 << 32) and nz.size * (4 + width) < flat.size * width:
        payload = (head + struct.pack("<q", nz.size)
                   + nz.astype("<u4").tobytes()
                   + flat[nz].astype(value_dtype).tobytes())
        return sparse_ver, payload
    return dense_ver, head + flat.astype(value_dtype).tobytes()


def unpack_flat(buf: bytes, off: int, ver: int, size: int,
                value_dtype: str, out_dtype, kind: str
                ) -> tuple[np.ndarray, int]:
    """Decode a payload written by pack_flat into a fresh 1-D array;
    returns (array, offset just past the payload). An unknown width code,
    or sparse indices that are out of range or not strictly increasing,
    raise ValueError("malformed <kind> blob …")."""
    if ver in (NARROW_DENSE_VER, NARROW_SPARSE_VER):
        (code,) = struct.unpack_from("<B", buf, off)
        if code >= len(NARROW):
            raise ValueError(f"malformed {kind} blob: unknown width code "
                             f"{code}")
        value_dtype = NARROW[code]
        off += 1
    width = np.dtype(value_dtype).itemsize
    if ver in (SPARSE_VER, NARROW_SPARSE_VER):
        (nnz,) = struct.unpack_from("<q", buf, off)
        off += 8
        if not 0 <= nnz <= size:
            raise ValueError(f"malformed {kind} blob: {nnz} sparse entries "
                             f"for {size} cells")
        idx = np.frombuffer(buf, dtype="<u4", count=nnz,
                            offset=off).astype(np.int64)
        off += 4 * nnz
        if nnz and (idx[-1] >= size or (np.diff(idx) <= 0).any()):
            raise ValueError(f"malformed {kind} blob: sparse indices out of "
                             f"range or not strictly increasing")
        vals = np.frombuffer(buf, dtype=value_dtype, count=nnz, offset=off)
        flat = np.zeros(size, dtype=out_dtype)
        flat[idx] = vals
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
