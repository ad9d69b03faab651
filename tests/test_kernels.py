"""Kernel unit tests (pure numpy, no Spark) — SURVEY.md §5.2.1."""

import struct
import warnings

import numpy as np
import pytest

from sgp_sketch.kernels import bloom, cms, fd, hll, kll, mg, registry, tdigest, theta
from sgp_sketch.kernels.hashing import hash64, hash_str_array, pmod, splitmix64

RNG = np.random.default_rng(42)


# ---------------------------------------------------------------- hashing

def test_splitmix_known_values():
    # splitmix64(0) reference value (Vigna's test vectors)
    out = splitmix64(np.array([0], dtype=np.uint64))
    assert out.dtype == np.uint64
    assert out[0] == np.uint64(0xE220A8397B1DCDAF)


def test_hash64_seed_independence():
    x = RNG.integers(0, 2**63, 10000, dtype=np.uint64)
    h0, h1 = hash64(x, 0), hash64(x, 1)
    assert h0.dtype == np.uint64  # no silent float promotion (numpy 1.26!)
    assert (h0 != h1).mean() > 0.999


def test_hash64_uniformity():
    x = np.arange(100000, dtype=np.uint64)
    buckets = pmod(hash64(x), 16)
    counts = np.bincount(buckets, minlength=16)
    assert counts.max() / counts.mean() < 1.05


def test_hash_str_deterministic_and_distinct():
    a = hash_str_array(["foo", "bar", "foo", ""])
    b = hash_str_array(["foo", "bar", "foo", ""])
    assert (a == b).all()
    assert a[0] == a[2] and a[0] != a[1] and a[3] != a[0]


# ---------------------------------------------------------------- HLL

def test_hll_clz_exact():
    w = np.array([0, 1, 2, 2**63, 2**62 - 1, 2**64 - 1], dtype=np.uint64)
    assert list(hll._clz64(w)) == [64, 63, 62, 0, 2, 0]


@pytest.mark.parametrize("n", [0, 1, 100, 3000, 50000, 500000])
def test_hll_accuracy(n):
    h = hll.HLL(p=14)
    h.update(RNG.integers(0, 2**62, n * 2, dtype=np.uint64)[:n] if n else
             np.empty(0, dtype=np.uint64))
    exact = len(np.unique(RNG.integers(0, 2**62, 0)))  # placeholder
    vals = np.arange(n, dtype=np.uint64) * np.uint64(2654435761)
    h2 = hll.HLL(p=14).update(vals)
    est = h2.estimate()
    bound = 3 * h2.rel_error_bound()
    if n == 0:
        assert est == 0.0
    else:
        assert abs(est - n) / n <= max(bound, 0.03), (n, est)


def test_hll_sparse_to_dense_promotion():
    h = hll.HLL(p=10)
    h.update(np.arange(50, dtype=np.uint64))
    assert h.dense is None
    h.update(np.arange(50, 5000, dtype=np.uint64))
    assert h.dense is not None
    est = h.estimate()
    assert abs(est - 5000) / 5000 < 0.15  # p=10 → σ≈3.3%


def test_hll_idempotent_update():
    v = np.arange(1000, dtype=np.uint64)
    a = hll.HLL(p=12).update(v).update(v).update(v)
    b = hll.HLL(p=12).update(v)
    assert a.to_bytes() == b.to_bytes()


def test_hll_serde_roundtrip():
    for n in (10, 10000):
        h = hll.HLL(p=12).update(np.arange(n, dtype=np.uint64))
        h2 = hll.HLL.from_bytes(h.to_bytes())
        assert h2.to_bytes() == h.to_bytes()
        assert h2.estimate() == h.estimate()


# ---------------------------------------------------------------- CMS

def test_cms_never_underestimates():
    s = cms.CMS(depth=4, width=1 << 10)
    vals = RNG.integers(0, 5000, 200000, dtype=np.int64)
    s.update(vals)
    uniq, counts = np.unique(vals, return_counts=True)
    est = s.estimate(uniq)
    assert (est >= counts).all()


def test_cms_conservative_beats_plain():
    vals = RNG.zipf(1.3, 100000).astype(np.int64)
    cons = cms.CMS(depth=4, width=1 << 10).update(vals, conservative=True)
    plain = cms.CMS(depth=4, width=1 << 10).update(vals, conservative=False)
    assert cons.table.sum() <= plain.table.sum()
    uniq, counts = np.unique(vals, return_counts=True)
    assert (cons.estimate(uniq) >= counts).all()
    assert cons.estimate(uniq).sum() <= plain.estimate(uniq).sum()


def test_cms_eps_bound():
    s = cms.CMS(depth=5, width=1 << 12)
    vals = RNG.zipf(1.2, 300000)
    vals = vals[vals < 10**9].astype(np.int64)
    s.update(vals)
    uniq, counts = np.unique(vals, return_counts=True)
    err = s.estimate(uniq) - counts
    n = len(vals)
    # eps*N bound with prob 1-delta; allow the expected tiny tail
    frac_over = (err > s.eps * n).mean()
    assert frac_over <= s.delta * 2


def test_cms_merge_equals_plain_sum():
    # merge is cell-wise sum: exactly associative/commutative, byte-stable
    a_vals = RNG.integers(0, 1000, 5000, dtype=np.int64)
    b_vals = RNG.integers(0, 1000, 5000, dtype=np.int64)
    a = cms.CMS(width=1 << 10).update(a_vals)
    b = cms.CMS(width=1 << 10).update(b_vals)
    ab, ba = a.merge(b), b.merge(a)
    assert ab.to_bytes() == ba.to_bytes()
    assert ab.n_items == 10000


def test_cms_weighted_update():
    s = cms.CMS(width=1 << 12)
    s.update(np.array([7, 7, 9]), counts=np.array([3, 2, 10]))
    assert s.estimate(np.array([7]))[0] >= 5
    assert s.estimate(np.array([9]))[0] >= 10
    assert s.n_items == 15


def test_cms_serde():
    s = cms.CMS(width=1 << 10).update(np.arange(1000))
    s2 = cms.CMS.from_bytes(s.to_bytes())
    assert (s2.table == s.table).all() and s2.n_items == s.n_items


# ---------------------------------------------------------------- Bloom

def test_bloom_no_false_negatives():
    b = bloom.Bloom.for_capacity(20000)
    vals = RNG.integers(0, 2**60, 20000, dtype=np.uint64)
    b.update(vals)
    assert b.contains(vals).all()


def test_bloom_fpr():
    b = bloom.Bloom.for_capacity(10000, bits_per_item=16)
    ins = np.arange(10000, dtype=np.uint64)
    b.update(ins)
    probe = np.arange(10**6, 10**6 + 50000, dtype=np.uint64)
    fpr = b.contains(probe).mean()
    assert fpr <= max(2 * b.fpr_configured(), 0.02), fpr


def test_bloom_merge_or():
    a = bloom.Bloom(n_blocks=64).update(np.arange(100, dtype=np.uint64))
    c = bloom.Bloom(n_blocks=64).update(np.arange(100, 200, dtype=np.uint64))
    m = a.merge(c)
    assert m.contains(np.arange(200, dtype=np.uint64)).all()
    assert m.to_bytes() == c.merge(a).to_bytes()


def test_bloom_serde():
    b = bloom.Bloom(n_blocks=64).update(np.arange(500, dtype=np.uint64))
    b2 = bloom.Bloom.from_bytes(b.to_bytes())
    assert b2.to_bytes() == b.to_bytes()


# ---------------------------------------------------------------- KLL

def test_kll_rank_error():
    vals = RNG.lognormal(5.5, 0.8, 100000)
    k = kll.KLL(k=200).update(vals)
    qs = np.array([0.01, 0.25, 0.5, 0.75, 0.99])
    est = k.quantiles(qs)
    sorted_vals = np.sort(vals)
    for q, e in zip(qs, est):
        true_rank = np.searchsorted(sorted_vals, e) / len(vals)
        assert abs(true_rank - q) <= 0.015, (q, true_rank)


def test_kll_min_max_exact():
    vals = RNG.normal(0, 10, 50000)
    k = kll.KLL(k=128).update(vals)
    assert k.quantiles([0.0])[0] == vals.min()
    assert k.quantiles([1.0])[0] == vals.max()


def test_kll_merge_bound():
    a_vals = RNG.normal(0, 1, 40000)
    b_vals = RNG.normal(5, 2, 60000)
    merged = kll.KLL(k=200).update(a_vals).merge(kll.KLL(k=200).update(b_vals))
    assert merged.n == 100000
    all_vals = np.sort(np.concatenate([a_vals, b_vals]))
    for q in (0.1, 0.5, 0.9):
        e = merged.quantiles([q])[0]
        true_rank = np.searchsorted(all_vals, e) / len(all_vals)
        assert abs(true_rank - q) <= 0.02, (q, true_rank)


def test_kll_serde():
    k = kll.KLL(k=160).update(RNG.normal(0, 1, 30000))
    k2 = kll.KLL.from_bytes(k.to_bytes())
    assert k2.to_bytes() == k.to_bytes()
    assert (k2.quantiles([0.5]) == k.quantiles([0.5])).all()


def test_kll_state_is_sublinear():
    k = kll.KLL(k=200).update(RNG.normal(0, 1, 10**6))
    assert sum(a.size for a in k.levels) < 5000


# ---------------------------------------------------------------- t-digest

def test_tdigest_rank_error():
    vals = RNG.lognormal(5.5, 0.8, 100000)
    t = tdigest.TDigest(delta=100).update(vals)
    sorted_vals = np.sort(vals)
    for q in (0.001, 0.01, 0.25, 0.5, 0.75, 0.99, 0.999):
        e = t.quantiles([q])[0]
        true_rank = np.searchsorted(sorted_vals, e) / len(vals)
        tol = 0.005 if q < 0.02 or q > 0.98 else 0.02  # k1 scale: sharp tails
        assert abs(true_rank - q) <= tol, (q, true_rank)


def test_tdigest_centroid_invariants():
    t = tdigest.TDigest(delta=100).update(RNG.normal(0, 1, 200000))
    assert t.means.size <= 2 * t.delta
    assert (np.diff(t.means) >= 0).all()  # sorted centroids
    assert t.weights.sum() == 200000  # weight conservation


def test_tdigest_merge_bound():
    a = tdigest.TDigest().update(RNG.normal(0, 1, 50000))
    b = tdigest.TDigest().update(RNG.normal(3, 1, 50000))
    m = a.merge(b)
    assert m.n == 100000
    assert abs(m.quantiles([0.5])[0] - 1.5) < 0.3


def test_tdigest_serde():
    t = tdigest.TDigest().update(RNG.normal(0, 1, 10000))
    t2 = tdigest.TDigest.from_bytes(t.to_bytes())
    assert t2.to_bytes() == t.to_bytes()


# ---------------------------------------------------------------- registry

def test_registry_dispatch():
    states = [
        hll.HLL(p=10).update(np.arange(100, dtype=np.uint64)),
        cms.CMS(width=1 << 10).update(np.arange(100)),
        bloom.Bloom(n_blocks=64).update(np.arange(100, dtype=np.uint64)),
        kll.KLL().update(np.arange(100.0)),
        tdigest.TDigest().update(np.arange(100.0)),
    ]
    for s in states:
        rt = registry.from_bytes(s.to_bytes())
        assert type(rt) is type(s)
        assert rt.to_bytes() == s.to_bytes()


def test_registry_merge_blobs():
    blobs = [hll.HLL(p=12).update(np.arange(i * 1000, (i + 1) * 1000,
                                            dtype=np.uint64)).to_bytes()
             for i in range(4)]
    merged = registry.from_bytes(registry.merge_blobs(blobs))
    assert abs(merged.estimate() - 4000) / 4000 < 0.05



def _one_state(kind):
    """A non-empty state of `kind` built from small deterministic input."""
    ints = np.arange(1, 301, dtype=np.int64) % 97
    st = registry.make(kind, **{"hll": {"p": 10}, "cms": {"width": 256},
                                "bloom": {"n_blocks": 64},
                                "cs": {"width": 256},
                                "fd": {"ell": 4, "d": 3}}.get(kind, {}))
    if kind == "fd":
        return st.update(np.arange(30.0).reshape(10, 3))
    if kind in ("kll", "tdigest", "dd"):
        return st.update(ints.astype(np.float64) + 0.5)
    if kind in ("hll", "bloom", "theta"):
        return st.update(ints.astype(np.uint64))
    return st.update(ints)


@pytest.mark.parametrize("kind", ["hll", "cms", "bloom", "kll", "tdigest",
                                  "theta", "mg", "fd", "cs", "dd",
                                  "moments"])
def test_damaged_or_version_skewed_blob_raises(kind):
    """An intact blob round-trips; an unknown header version, a cut blob,
    a blob with bytes appended or (hll) a lowered count field raises
    ValueError, never returns a state."""
    blob = _one_state(kind).to_bytes()
    assert registry.from_bytes(blob).to_bytes() == blob
    skewed = blob[:2] + bytes([99]) + blob[3:]
    with pytest.raises(ValueError, match="version 99"):
        registry.from_bytes(skewed)
    for cut in (blob[:-1], blob[:8]):
        with pytest.raises(ValueError):
            registry.from_bytes(cut)
    with pytest.raises(ValueError, match=f"malformed {kind} blob"):
        registry.from_bytes(blob + b"\x00")
    if kind == "hll":
        # sparse p=10 blob: header '<2sBBBBI', code count at byte 6
        mode, n = struct.unpack_from("<BI", blob, 5)
        assert mode == 0 and n > 10
        lowered = blob[:6] + struct.pack("<I", n - 10) + blob[10:]
        with pytest.raises(ValueError, match="malformed hll blob"):
            registry.from_bytes(lowered)
    if kind in ("cms", "cs", "bloom"):
        _check_damaged_sparse_payload(kind)


# array kernels' blob header '<2sBBBIQQ': the serde payload starts here
_ARRAY_HEAD = struct.calcsize("<2sBBBIQQ")


def _check_damaged_sparse_payload(kind):
    """A sparse index past the table, indices out of order, or (cms/cs)
    an unknown width code raise "malformed <kind> blob", never an
    IndexError or a wrong state."""
    from sgp_sketch.kernels import serde

    st = registry.make(kind, **{"cms": {"width": 256}, "cs": {"width": 256},
                                "bloom": {"n_blocks": 64}}[kind])
    blob = st.update(np.array([3, 5, 8], dtype=np.uint64
                              if kind == "bloom" else np.int64)).to_bytes()
    narrow = blob[2] == serde.NARROW_SPARSE_VER
    assert narrow or (kind == "bloom" and blob[2] == serde.SPARSE_VER)
    at = _ARRAY_HEAD + (1 if narrow else 0)       # the '<q' nnz field
    (nnz,) = struct.unpack_from("<q", blob, at)
    idx = list(struct.unpack_from(f"<{nnz}I", blob, at + 8))
    assert nnz >= 2

    def with_idx(new):
        return (blob[:at + 8] + struct.pack(f"<{nnz}I", *new)
                + blob[at + 8 + 4 * nnz:])

    assert registry.from_bytes(with_idx(idx)).to_bytes() == blob
    size = st.table.size if kind != "bloom" else st.words.size
    for bad in (idx[:-1] + [size], idx[:-1] + [0xFFFFFFF0],
                [idx[1], idx[0]] + idx[2:], [idx[0], idx[0]] + idx[2:]):
        with pytest.raises(ValueError, match=f"malformed {kind} blob"):
            registry.from_bytes(with_idx(bad))
    too_many = blob[:at] + struct.pack("<q", size + 1) + blob[at + 8:]
    with pytest.raises(ValueError, match=f"malformed {kind} blob"):
        registry.from_bytes(too_many)
    if narrow:
        coded = blob[:_ARRAY_HEAD] + bytes([99]) + blob[_ARRAY_HEAD + 1:]
        with pytest.raises(ValueError,
                           match=f"malformed {kind} blob: unknown width"):
            registry.from_bytes(coded)


# --------------------------------------------------- width-adaptive payloads

def _old_blob(st, sparse: bool) -> bytes:
    """A cms/cs blob in the version-1 (dense) / version-2 (sparse) wire
    format, every counter as '<i8': what blobs looked like before the
    narrow payloads."""
    typ = st.to_bytes()[3]
    flat = st.table.ravel()
    if sparse:
        nz = np.flatnonzero(flat)
        payload = (struct.pack("<q", nz.size) + nz.astype("<u4").tobytes()
                   + flat[nz].astype("<i8").tobytes())
    else:
        payload = flat.astype("<i8").tobytes()
    return struct.pack("<2sBBBIQQ", b"SK", 2 if sparse else 1, typ,
                       st.depth, st.width, st.seed, st.n_items) + payload


# (largest |counter| set, width code expected) at each width boundary;
# None = needs 8 bytes, so the blob keeps the version-1/2 format
_UNSIGNED_EDGES = [(255, 0), (256, 1), (65535, 1), (65536, 2),
                   ((1 << 32) - 1, 2), (1 << 32, None)]
_SIGNED_EDGES = [(-128, 3), (127, 3), (-129, 4), (-32768, 4), (-32769, 5),
                 (-(1 << 31), 5), (-(1 << 31) - 1, None),
                 ((1 << 32), None)]


def _table_state(kind, edge, sparse):
    """cms/cs state whose table holds `edge` (and, for cs with a positive
    edge, a -1 cell), dense or with two or three nonzero cells."""
    from sgp_sketch.kernels import cs

    cls = {"cms": cms.CMS, "cs": cs.CS}[kind]
    table = np.zeros((4, 64), dtype=np.int64)
    if sparse:
        table[0, 3], table[2, 40] = 7, edge
    else:
        table[:] = np.arange(table.size).reshape(table.shape) % 100 + 1
        table[3, 63] = edge
    if kind == "cs" and edge > 0:
        table[1, 5] = -1
    return cls(4, 64, 7, table=table, n_items=12345)


@pytest.mark.parametrize("sparse", [False, True])
@pytest.mark.parametrize("kind,edge,code",
                         [("cms", e, c) for e, c in _UNSIGNED_EDGES]
                         + [("cs", e, c) for e, c in _SIGNED_EDGES])
def test_narrow_payload_round_trips_at_every_width(kind, edge, code, sparse):
    from sgp_sketch.kernels import serde

    st = _table_state(kind, edge, sparse)
    blob = st.to_bytes()
    back = registry.from_bytes(blob)
    np.testing.assert_array_equal(back.table, st.table)
    assert back.table.dtype == np.int64 and back.n_items == st.n_items
    if code is None:
        assert blob[2] == (serde.SPARSE_VER if sparse else serde.DENSE_VER)
        assert blob == _old_blob(st, sparse)
        return
    assert blob[2] == (serde.NARROW_SPARSE_VER if sparse
                       else serde.NARROW_DENSE_VER)
    assert blob[_ARRAY_HEAD] == code
    w = np.dtype(serde.NARROW[code]).itemsize
    n = 2 + (kind == "cs" and edge > 0) if sparse else st.table.size
    assert len(blob) == _ARRAY_HEAD + 1 + (8 + (4 + w) * n if sparse
                                           else w * n)


def test_narrow_payload_sparse_choice_uses_real_width():
    """Sparse wins only when nnz·(4+w) < size·w for the narrowed w: of
    256 one-byte cells, 40 nonzero go sparse (200 B < 256 B), 60 stay
    dense (300 B)."""
    from sgp_sketch.kernels import serde

    for nnz, ver in ((40, serde.NARROW_SPARSE_VER),
                     (60, serde.NARROW_DENSE_VER)):
        flat = np.zeros(256, dtype=np.int64)
        flat[:nnz] = 9
        assert serde.pack_flat(flat, "<i8")[0] == ver
    # Bloom's '<u8' words never narrow
    words = np.zeros(256, dtype=np.uint64)
    words[:3] = 1
    assert serde.pack_flat(words, "<u8")[0] == serde.SPARSE_VER


@pytest.mark.parametrize("kind", ["cms", "cs"])
@pytest.mark.parametrize("sparse", [False, True])
def test_old_wire_format_blobs_still_decode_and_merge(kind, sparse):
    """Version-1/2 blobs (written before the narrow payloads) decode to the
    same table as today's blobs, re-encode to today's bytes, and merge
    with today's blobs to the all-new merge, byte for byte."""
    a = _table_state(kind, 300, sparse)
    b = _table_state(kind, 70000, not sparse)
    old_a = _old_blob(a, sparse)
    assert old_a != a.to_bytes() and old_a[2] in (1, 2)
    back = registry.from_bytes(old_a)
    np.testing.assert_array_equal(back.table, a.table)
    assert back.to_bytes() == a.to_bytes()
    new = registry.merge_blobs([a.to_bytes(), b.to_bytes()])
    assert registry.merge_blobs([old_a, b.to_bytes()]) == new
    assert registry.merge_blobs([b.to_bytes(), old_a]) == new
    assert registry.merge_blobs([old_a, _old_blob(b, sparse)]) == new


@pytest.mark.parametrize("kind", ["cms", "cs"])
def test_narrow_payload_equal_bytes_across_build_orders(kind):
    """Two build orders (chunk order, and merge order of the chunks'
    states) give one byte string; cms is built with plain updates, whose
    cells do not depend on order."""
    vals = RNG.integers(0, 5000, size=20_000)
    chunks = np.array_split(vals, 5)
    params = {"width": 1 << 10} | ({"conservative": False}
                                   if kind == "cms" else {})

    def build(parts):
        st = registry.make(kind, **params)
        for p in parts:
            st.update(p)
        return st.to_bytes()

    one = build(chunks)
    assert one == build(chunks[::-1])
    states = [build([c]) for c in chunks]
    assert registry.merge_blobs(states) == one
    assert registry.merge_blobs(states[::-1]) == one
    assert one[2] in (3, 4)


# ================================================================= theta

def test_theta_exact_mode_small_sets():
    from sgp_sketch.kernels import theta

    st = theta.Theta(k=64)
    st.update(np.arange(50, dtype=np.int64).view(np.uint64))
    assert st.estimate() == 50.0          # below capacity: exact
    assert st.rel_error_bound() == 0.0


def test_theta_estimation_accuracy():
    from sgp_sketch.kernels import theta

    rng = np.random.default_rng(3)
    vals = rng.choice(1 << 62, size=200_000, replace=False).astype(np.int64)
    st = theta.Theta(k=4096).update(vals.view(np.uint64))
    rse = 1.0 / np.sqrt(4096 - 1)
    assert abs(st.estimate() - 200_000) <= 4 * rse * 200_000


def test_theta_set_algebra_vs_exact():
    """Intersection and A-minus-B estimates — the operations HLL cannot do
    directly — within the sampling bound."""
    from sgp_sketch.kernels import theta

    rng = np.random.default_rng(7)
    shared = rng.choice(1 << 62, size=30_000, replace=False)
    only_a = rng.choice(1 << 61, size=70_000, replace=False)
    only_b = (rng.choice(1 << 61, size=50_000, replace=False)
              + (1 << 62))
    A = np.concatenate([shared, only_a]).astype(np.int64)
    B = np.concatenate([shared, only_b]).astype(np.int64)
    a = theta.Theta(k=4096).update(A.view(np.uint64))
    b = theta.Theta(k=4096).update(B.view(np.uint64))
    union = len(set(A.tolist()) | set(B.tolist()))
    tol = 4 / np.sqrt(4096) * union
    assert abs(a.merge(b).estimate() - union) <= tol
    inter_exact = len(set(A.tolist()) & set(B.tolist()))
    assert abs(a.intersect(b).estimate() - inter_exact) <= tol
    diff_exact = len(set(A.tolist()) - set(B.tolist()))
    assert abs(a.a_not_b(b).estimate() - diff_exact) <= tol


def test_theta_serde_and_mismatch():
    from sgp_sketch.kernels import registry, theta

    st = theta.Theta(k=128).update(
        np.arange(1000, dtype=np.int64).view(np.uint64))
    rt = registry.from_bytes(st.to_bytes())
    assert rt.estimate() == st.estimate()
    assert rt.to_bytes() == st.to_bytes()
    other = theta.Theta(k=64)
    import pytest

    with pytest.raises(ValueError, match="k mismatch"):
        st.merge(other)

# ---------------------------------------------------------------- MG

def test_mg_exact_when_capacity_sufficient():
    import numpy as np

    from sgp_sketch.kernels.mg import MG

    rng = np.random.default_rng(7)
    data = rng.integers(0, 50, size=10000)  # 50 distinct << k=64
    s = MG(k=64).update(data)
    assert s.dec == 0
    import collections
    true = collections.Counter(data.tolist())
    keys, cnts = s.heavy_hitters()
    assert dict(zip(keys.tolist(), cnts.tolist())) == dict(true)


def test_mg_bound_and_bracket_under_eviction():
    import collections

    import numpy as np

    from sgp_sketch.kernels.mg import MG

    rng = np.random.default_rng(11)
    data = rng.zipf(1.3, 100000)
    data = data[data < 1 << 20]
    k = 32
    s = MG(k=k).update(data)
    n = data.size
    assert 0 < s.dec <= n // (k + 1)
    assert s.keys.size <= k
    true = collections.Counter(data.tolist())
    items = np.fromiter(true.keys(), dtype=np.int64)
    est = s.estimate(items)
    for v, e in zip(items.tolist(), est.tolist()):
        assert e <= true[v] <= e + s.dec
    # heavy guarantee: anything above n/(k+1) must be tracked
    tracked = set(s.keys.tolist())
    for v, c in true.items():
        if c > n / (k + 1):
            assert v in tracked


def test_mg_merge_bound_any_split_order():
    """Counter sets are split-dependent (documented), but the error bound
    and the bracket invariant must survive every merge order."""
    import collections

    import numpy as np

    from sgp_sketch.kernels.mg import MG

    rng = np.random.default_rng(23)
    data = rng.zipf(1.4, 60000)
    data = data[data < 1 << 16]
    true = collections.Counter(data.tolist())
    n = data.size
    k = 24
    for n_parts, seed in ((3, 0), (7, 1), (16, 2)):
        perm = np.random.default_rng(seed).permutation(data)
        parts = np.array_split(perm, n_parts)
        m = MG(k=k)
        for p in parts:
            m = m.merge(MG(k=k).update(p))
        assert m.n_items == n and m.dec <= n // (k + 1)
        est = m.estimate(np.fromiter(true.keys(), dtype=np.int64))
        for v, e in zip(true.keys(), est.tolist()):
            assert e <= true[v] <= e + m.dec


def test_mg_serde_roundtrip_and_mismatch():
    import numpy as np
    import pytest

    from sgp_sketch.kernels import registry
    from sgp_sketch.kernels.mg import MG

    s = MG(k=8).update(np.array([1, 1, 2, 3, 3, 3]))
    r = registry.from_bytes(s.to_bytes())
    assert np.array_equal(r.keys, s.keys)
    assert np.array_equal(r.counts, s.counts)
    assert (r.k, r.n_items, r.dec) == (s.k, s.n_items, s.dec)
    with pytest.raises(ValueError):
        s.merge(MG(k=16))
    with pytest.raises(TypeError):
        s.merge(object())


def test_mg_cms_bracket_true_count():
    """MG never overestimates, CMS never underestimates: together they
    bracket the truth — the cross-kernel invariant the module docstring
    promises."""
    import collections

    import numpy as np

    from sgp_sketch.kernels.cms import CMS
    from sgp_sketch.kernels.mg import MG

    rng = np.random.default_rng(31)
    data = rng.zipf(1.5, 50000)
    data = data[data < 1 << 16]
    true = collections.Counter(data.tolist())
    mg = MG(k=64).update(data)
    cms = CMS(depth=4, width=1 << 12).update(data)
    items = np.fromiter(true.keys(), dtype=np.int64)
    lo = mg.estimate(items)
    hi = cms.estimate(items)
    for v, l, h in zip(items.tolist(), lo.tolist(), hi.tolist()):
        assert l <= true[v] <= h

# ---------------------------------------------------------------- FD

def test_fd_gram_bound_and_underestimate():
    import numpy as np

    from sgp_sketch.kernels.fd import FD

    rng = np.random.default_rng(5)
    n, d, ell = 2000, 32, 8
    A = (rng.normal(size=(n, 3)) @ rng.normal(size=(3, d)) * 3
         + rng.normal(size=(n, d)) * 0.1)
    s = FD(ell, d).update(A)
    G, Gs = A.T @ A, s.gram()
    frob = float((A ** 2).sum())
    assert np.linalg.norm(G - Gs, 2) <= s.shed + 1e-6
    assert s.shed <= frob / ell + 1e-6
    # one-sided: sketch Gram never exceeds the data Gram in any direction
    assert np.linalg.eigvalsh(G - Gs).min() >= -1e-6
    # working buffer may hold up to 2*ell-1 rows; serialization shrinks
    from sgp_sketch.kernels import registry
    assert registry.from_bytes(s.to_bytes()).rows.shape[0] <= ell
    assert s.n_rows == n


def test_fd_merge_bound_any_split():
    import numpy as np

    from sgp_sketch.kernels.fd import FD

    rng = np.random.default_rng(9)
    n, d, ell = 1500, 16, 6
    A = rng.normal(size=(n, 2)) @ rng.normal(size=(2, d)) * 2
    G = A.T @ A
    frob = float((A ** 2).sum())
    for parts, seed in ((2, 0), (5, 1), (11, 2)):
        order = np.random.default_rng(seed).permutation(n)
        m = FD(ell, d)
        for p in np.array_split(A[order], parts):
            m = m.merge(FD(ell, d).update(p))
        assert m.n_rows == n
        assert np.linalg.norm(G - m.gram(), 2) <= m.shed + 1e-6
        assert m.shed <= frob / ell + 1e-6


def test_fd_low_rank_spectrum_recovery():
    """On genuinely low-rank data the shed mass is tiny and the sketch's
    top singular values match the data's."""
    import numpy as np

    from sgp_sketch.kernels.fd import FD

    rng = np.random.default_rng(13)
    A = rng.normal(size=(4000, 2)) @ rng.normal(size=(2, 24)) * 5
    s = FD(12, 24).update(A)
    sv_a = np.linalg.svd(A, compute_uv=False)[:2]
    sv_b = s.spectrum(2)
    assert np.all(sv_b <= sv_a + 1e-6)
    assert np.all(sv_b ** 2 >= sv_a ** 2 - s.shed - 1e-6)
    # rank-2 data into a 12-row sketch: near-exact
    assert np.allclose(sv_b, sv_a, rtol=1e-3)


def test_fd_serde_and_mismatch():
    import numpy as np
    import pytest

    from sgp_sketch.kernels import registry
    from sgp_sketch.kernels.fd import FD

    s = FD(4, 8).update(np.arange(80, dtype=np.float64).reshape(10, 8))
    r = registry.from_bytes(s.to_bytes())
    # to_bytes serializes a SHRUNK SNAPSHOT without mutating s: the
    # round-tripped sketch is <= ell rows and its Gram underestimates
    # s's by at most the (possibly larger) tracked shed
    assert (r.ell, r.d, r.n_rows) == (4, 8, 10)
    assert r.rows.shape[0] <= r.ell and r.shed >= s.shed
    diff_eigs = np.linalg.eigvalsh(s.gram() - r.gram())
    assert diff_eigs.min() >= -1e-6 and diff_eigs.max() <= r.shed + 1e-6
    # if no shrink was needed, serialization is byte-faithful
    small = FD(4, 8).update(np.ones((2, 8)))
    r2 = registry.from_bytes(small.to_bytes())
    assert np.array_equal(r2.rows, small.rows) and r2.shed == small.shed
    with pytest.raises(ValueError):
        s.merge(FD(4, 16))
    with pytest.raises(ValueError):
        s.update(np.ones((2, 5)))
    with pytest.raises(TypeError):
        s.merge(42)


def test_mg_nan_values_with_explicit_counts_stay_aligned():
    """Regression (ADVICE r03): a float values array containing NaN plus
    an explicit counts array must drop the SAME rows from both — the old
    values-only filter misaligned the arrays and left n_items already
    incremented when numpy raised."""
    import numpy as np

    from sgp_sketch.kernels.mg import MG

    s = MG(k=8)
    s.update(np.array([1.0, np.nan, 2.0, np.nan, 3.0]),
             np.array([5, 99, 7, 98, 9]))
    assert s.n_items == 5 + 7 + 9
    est = s.estimate(np.array([1, 2, 3]))
    assert list(est) == [5, 7, 9]
    # mismatched lengths are an explicit error, not a silent broadcast
    import pytest as _pytest
    with _pytest.raises(ValueError, match="length mismatch"):
        MG(k=8).update(np.array([1.0, np.nan]), np.array([1, 2, 3]))


def test_fd_to_bytes_is_read_only():
    """Regression (ADVICE r03): serialization must not mutate the sketch —
    spectrum()/gram() are identical before and after to_bytes()."""
    import numpy as np

    from sgp_sketch.kernels.fd import FD

    rng = np.random.default_rng(7)
    s = FD(ell=8, d=16)
    s.update(rng.normal(size=(50, 16)))
    # leave the working buffer over-full so to_bytes WOULD shrink
    s.rows = np.concatenate([s.rows, rng.normal(size=(9, 16))])
    before_rows = s.rows.copy()
    before_spec = s.spectrum().copy()
    blob = s.to_bytes()
    assert np.array_equal(s.rows, before_rows)
    assert np.array_equal(s.spectrum(), before_spec)
    # and the serialized snapshot IS shrunk (<= ell rows)
    assert FD.from_bytes(blob).rows.shape[0] <= s.ell


def test_mg_integer_length_mismatch_rejected_before_mutation():
    """Review follow-up: the length guard must run on the INTEGER path
    too, before n_items is touched."""
    import numpy as np
    import pytest

    from sgp_sketch.kernels.mg import MG

    s = MG(k=8)
    with pytest.raises(ValueError, match="length mismatch"):
        s.update(np.array([1, 2, 3]), np.array([5, 6]))
    assert s.n_items == 0 and s.keys.size == 0  # state untouched


def test_fd_drops_nonfinite_rows():
    """Element-level nulls arrive as NaN through Arrow; one such row must
    not poison the sketch (SVD would raise or propagate NaN everywhere)."""
    f = fd.FD(ell=4, d=8)
    x = np.random.default_rng(0).normal(size=(50, 8))
    x[3, 2] = np.nan
    x[10, 5] = np.inf
    f.update(x)
    assert f.n_rows == 48
    assert np.isfinite(f.gram()).all()
    assert np.isfinite(f.spectrum()).all()


def test_fd_spectrum_k_zero_and_none():
    f = fd.FD(ell=4, d=8)
    f.update(np.random.default_rng(1).normal(size=(20, 8)))
    assert f.spectrum(0).size == 0
    assert f.spectrum(None).size > 0
    assert f.spectrum(2).size == 2


def test_hll_theta_serialization_explicit_little_endian():
    """Payloads must be byte-identical regardless of host byte order:
    the arrays passed to tobytes() must already be little-endian."""
    h = hll.HLL(p=14)
    h.update(np.arange(100))  # stays sparse
    assert h.dense is None
    blob = h.to_bytes()
    rt = hll.HLL.from_bytes(blob)
    assert rt.to_bytes() == blob
    assert abs(rt.estimate() - h.estimate()) < 1e-12

    t = theta.Theta(k=64)
    t.update(np.arange(1000))
    bt = t.to_bytes()
    rt2 = theta.Theta.from_bytes(bt)
    assert rt2.to_bytes() == bt
    assert abs(rt2.estimate() - t.estimate()) < 1e-9


def test_bloom_fpr_configured_duplicate_insensitive():
    """fpr_configured derives from the measured fill, so re-inserting the
    same keys 50x must not inflate it (n_items counts raw occurrences)."""
    keys = np.arange(100)
    once = bloom.Bloom(n_blocks=1 << 8)
    once.update(keys)
    many = bloom.Bloom(n_blocks=1 << 8)
    for _ in range(50):
        many.update(keys)
    assert many.n_items == 50 * once.n_items
    assert abs(once.fpr_configured() - many.fpr_configured()) < 1e-15
    assert 0.0 < once.fill_fraction() < 1.0


def test_cms_rejects_nonpositive_shape():
    with pytest.raises(ValueError):
        cms.CMS(depth=0)
    with pytest.raises(ValueError):
        cms.CMS(width=0)


def test_mg_estimate_nan_returns_zero():
    m = mg.MG(k=8)
    m.update(np.array([1, 1, 1, 2, 2, 3]))
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # the raw NaN->int cast would warn
        est = m.estimate(np.array([1.0, np.nan, 3.0]))
    assert list(est) == [3, 0, 1]


def test_merge_blobs_empty_iterable_raises_valueerror():
    """Bare StopIteration inside a generator would become an opaque
    PEP-479 RuntimeError at the mapInPandas call site."""
    with pytest.raises(ValueError, match="empty"):
        registry.merge_blobs([])

    def gen():
        yield registry.merge_blobs(iter(()))

    with pytest.raises(ValueError, match="empty"):
        list(gen())


# ----------------------------------------------------------- Count-Sketch

def _cs_zipf_stream(seed=42, n=200_000):
    rng = np.random.default_rng(seed)
    toks = rng.zipf(1.5, n).astype(np.int64)
    return toks[toks < 100_000]


def test_cs_f2_within_ams_bound():
    from sgp_sketch.kernels import cs

    toks = _cs_zipf_stream()
    _, counts = np.unique(toks, return_counts=True)
    f2 = float((counts.astype(np.float64) ** 2).sum())
    s = cs.empty().update(toks)
    assert abs(s.f2_estimate() - f2) <= f2 * np.sqrt(6 / s.width)


def test_cs_point_estimates_two_sided_within_bound():
    from sgp_sketch.kernels import cs

    toks = _cs_zipf_stream()
    vals, counts = np.unique(toks, return_counts=True)
    f2 = float((counts.astype(np.float64) ** 2).sum())
    s = cs.empty().update(toks)
    order = np.argsort(-counts)
    top, true = vals[order][:20], counts[order][:20].astype(np.float64)
    bound = np.sqrt(3 * f2 / s.width)
    assert np.all(np.abs(s.estimate(top) - true) <= bound)
    # absent keys estimate near zero — the two-sided (unbiased) property
    # CMS structurally cannot have
    absent = np.arange(10**9, 10**9 + 50, dtype=np.int64)
    assert np.all(np.abs(s.estimate(absent)) <= bound)


def test_cs_merge_byte_equal_any_split_order():
    """Cell-wise signed addition is exact: unlike MG/FD, the merged state
    must be BYTE-identical for any partition split and any merge order
    (the same strength HLL/theta guarantee)."""
    import functools

    from sgp_sketch.kernels import cs

    toks = _cs_zipf_stream(seed=7)
    whole = cs.empty().update(toks)
    for n_chunks in (2, 5, 13):
        parts = [cs.empty().update(c) for c in np.array_split(toks, n_chunks)]
        fwd = functools.reduce(lambda a, b: a.merge(b), parts)
        rev = functools.reduce(lambda a, b: a.merge(b), parts[::-1])
        assert fwd.to_bytes() == rev.to_bytes() == whole.to_bytes()


def test_cs_serde_roundtrip_and_mismatch():
    from sgp_sketch.kernels import cs, mg, registry

    s = cs.empty().update(np.arange(5000, dtype=np.int64))
    r = registry.from_bytes(s.to_bytes())
    assert isinstance(r, cs.CS)
    assert np.array_equal(r.table, s.table)
    assert (r.depth, r.width, r.seed, r.n_items) == (
        s.depth, s.width, s.seed, s.n_items)
    with pytest.raises(ValueError, match="shape/seed"):
        s.merge(cs.CS(depth=s.depth, width=s.width, seed=s.seed + 1))
    with pytest.raises(TypeError):
        s.merge(mg.empty())
    with pytest.raises(ValueError, match="not a CS blob"):
        cs.CS.from_bytes(mg.empty().to_bytes())


def test_cs_nan_values_with_explicit_counts_stay_aligned():
    from sgp_sketch.kernels import cs

    vals = np.array([1.0, np.nan, 2.0, np.nan, 3.0])
    counts = np.array([10, 99, 20, 77, 30])
    a = cs.empty().update(vals, counts=counts)
    b = cs.empty().update(np.array([1, 2, 3], dtype=np.int64),
                          counts=np.array([10, 20, 30]))
    assert a.to_bytes() == b.to_bytes()
    # NaN queries answer 0.0, mirroring the update-side drop
    est = a.estimate(np.array([1.0, np.nan]))
    assert est[1] == 0.0


def test_cs_validation_and_empty():
    from sgp_sketch.kernels import cs

    with pytest.raises(ValueError, match="power of two"):
        cs.CS(width=1000)
    with pytest.raises(ValueError, match="depth"):
        cs.CS(depth=0)
    with pytest.raises(ValueError, match="length mismatch"):
        cs.empty().update_hashes(np.arange(3, dtype=np.uint64),
                                 counts=np.array([1, 2]))
    s = cs.empty()
    s.update(np.empty(0, dtype=np.int64))
    assert s.n_items == 0 and s.f2_estimate() == 0.0
    assert s.estimate(np.empty(0, dtype=np.int64)).size == 0


def test_cs_table_shape_validated_on_load():
    from sgp_sketch.kernels import cs

    with pytest.raises(ValueError, match="shape"):
        cs.CS(depth=2, width=8, table=np.zeros((3, 8), dtype=np.int64))


# ------------------------------------------------------------------- DD

def test_dd_relative_error_bound():
    """Published guarantee: the returned quantile estimate is within
    alpha (relative) of the exact item at rank floor(q*(n-1))."""
    from sgp_sketch.kernels import dd

    vals = RNG.lognormal(5.5, 1.2, 100000)
    for alpha in (0.01, 0.05):
        s = dd.DD(alpha=alpha).update(vals)
        srt = np.sort(vals)
        qs = np.array([0.01, 0.25, 0.5, 0.75, 0.99])
        est = s.quantiles(qs)
        for q, e in zip(qs, est):
            exact = srt[int(np.floor(q * (len(vals) - 1)))]
            assert abs(e - exact) <= alpha * abs(exact) + 1e-12, (q, e, exact)


def test_dd_negative_zero_and_mixed_sign():
    from sgp_sketch.kernels import dd

    vals = np.concatenate([-RNG.lognormal(2, 1, 30000),
                           np.zeros(5000),
                           RNG.lognormal(2, 1, 65000)])
    RNG.shuffle(vals)
    s = dd.DD(alpha=0.02).update(vals)
    srt = np.sort(vals)
    for q in (0.05, 0.3, 0.5, 0.9):
        exact = srt[int(np.floor(q * (len(vals) - 1)))]
        e = s.quantiles([q])[0]
        assert abs(e - exact) <= 0.02 * abs(exact) + 1e-12, (q, e, exact)
    # the zero run around the 30-35% ranks must report exactly 0
    assert s.quantiles([0.32])[0] == 0.0


def test_dd_merge_byte_equal_any_split_order():
    from sgp_sketch.kernels import dd

    vals = RNG.lognormal(3, 2, 20000)
    whole = dd.DD(alpha=0.01).update(vals)
    parts = np.array_split(vals, 7)
    acc = dd.DD(alpha=0.01)
    for p in reversed(parts):
        acc = dd.DD(alpha=0.01).update(p).merge(acc)
    assert acc.to_bytes() == whole.to_bytes()
    assert acc.n == whole.n == vals.size


def test_dd_serde_roundtrip_and_registry():
    from sgp_sketch.kernels import dd

    s = dd.DD(alpha=0.03).update(RNG.normal(0, 50, 10000))
    blob = s.to_bytes()
    s2 = registry.from_bytes(blob)
    assert isinstance(s2, dd.DD)
    assert s2.to_bytes() == blob
    assert (s2.quantiles([0.1, 0.9]) == s.quantiles([0.1, 0.9])).all()
    assert registry.make("dd", alpha=0.03).alpha == 0.03


def test_dd_validation_nan_and_empty():
    from sgp_sketch.kernels import dd

    with pytest.raises(ValueError, match="alpha"):
        dd.DD(alpha=0.0)
    with pytest.raises(ValueError, match="alpha mismatch"):
        dd.DD(alpha=0.01).merge(dd.DD(alpha=0.02))
    with pytest.raises(TypeError):
        dd.DD().merge(object())
    s = dd.DD()
    assert np.isnan(s.quantiles([0.5])[0])
    s.update(np.array([np.nan, np.nan]))
    assert s.n == 0
    s.update(np.array([np.nan, 7.0]))
    assert s.n == 1 and s.quantiles([0.5])[0] == pytest.approx(7.0, rel=0.01)


def test_dd_state_is_logarithmic():
    """Bucket count grows with log(max/min), not n: 10^6 values spanning
    9 decades stay in a KB-scale state."""
    from sgp_sketch.kernels import dd

    vals = np.exp(RNG.uniform(0, 20, 10**6))
    s = dd.DD(alpha=0.01).update(vals)
    assert s.pos_keys.size < 1200
    assert len(s.to_bytes()) < 20000


def test_dd_nonfinite_values_dropped():
    from sgp_sketch.kernels import dd

    s = dd.DD(alpha=0.02).update(
        np.array([np.inf, -np.inf, np.nan, 5.0, 5.0]))
    assert s.n == 2
    assert s.quantiles([0.5])[0] == pytest.approx(5.0, rel=0.02)


def test_dd_bucket_boundaries_match_scalar_libm():
    """Values sitting exactly on bucket boundaries (x = gamma^k) must get
    the scalar-libm bucket — the exact-oracle replay contract pins bucket
    assignment to ceil(ln(x)/ln(gamma)) as libm computes it, and numpy's
    SIMD log may drift a ulp there."""
    import math

    from sgp_sketch.kernels import dd

    s = dd.DD(alpha=0.01)
    lg = math.log(s.gamma)
    ks = np.arange(-200, 1200)
    xs = np.array([math.exp(int(k) * lg) for k in ks])
    got = s._bucket(xs)
    want = np.array([math.ceil(math.log(float(x)) / lg) for x in xs])
    assert np.array_equal(got, want)


# ---------------------------------------------------------------- moments

def test_moments_exact_stats_match_reference():
    """stats() must equal the direct float expressions over EXACT
    arbitrary-precision power sums — zero estimation error by design
    (Gan et al. VLDB'18 summary, exact-int variant)."""
    import math

    from sgp_sketch.kernels import moments

    vals = RNG.integers(0, 5000, 20000).astype(np.int64)
    s = moments.Moments().update(vals)
    xs = [int(x) for x in vals.tolist()]
    n = len(xs)
    assert s.n == n and s.mn == min(xs) and s.mx == max(xs)
    fn = float(n)
    m1 = float(sum(xs)) / fn
    m2 = float(sum(x * x for x in xs)) / fn
    st = s.stats()
    assert st["mean"] == m1
    assert st["variance"] == m2 - m1 * m1
    # sanity vs numpy within float tolerance (numpy uses a different
    # summation order — equality is only guaranteed vs the exact sums)
    assert st["mean"] == pytest.approx(np.mean(vals), rel=1e-12)
    assert st["variance"] == pytest.approx(np.var(vals), rel=1e-9)
    sd = math.sqrt(st["variance"])
    sk = np.mean(((vals - np.mean(vals)) / sd) ** 3)
    ku = np.mean(((vals - np.mean(vals)) / sd) ** 4) - 3.0
    assert st["skewness"] == pytest.approx(sk, abs=1e-9)
    assert st["kurt_excess"] == pytest.approx(ku, abs=1e-6)


def test_moments_validation_and_edge_cases():
    from sgp_sketch.kernels import moments

    with pytest.raises(ValueError, match="non-integral"):
        moments.Moments().update(np.array([1.0, 2.5]))
    with pytest.raises(ValueError, match="2\\^53"):
        moments.Moments().update(np.array([2.0 ** 60]))
    with pytest.raises(TypeError):
        moments.Moments().merge(object())
    # unsigned guard symmetric to the float 2^53 one: uint64 above
    # 2^63-1 must raise, not wrap under astype(int64)
    with pytest.raises(ValueError, match="wrap"):
        moments.Moments().update(np.array([2 ** 63], dtype=np.uint64))
    # in-range uint64 stays exact
    u = moments.Moments().update(
        np.array([2 ** 62, 3], dtype=np.uint64))
    assert u.s[0] == 2 ** 62 + 3 and u.mx == 2 ** 62
    # non-finite dropped (numeric-kernel policy), integral floats accepted
    s = moments.Moments().update(np.array([np.nan, np.inf, 3.0, 4.0]))
    assert s.n == 2 and s.s[0] == 7 and s.mn == 3 and s.mx == 4
    # empty: all-None stats, zero-length serde roundtrip
    e = moments.Moments()
    assert e.stats()["mean"] is None and e.stats()["n"] == 0
    assert registry.from_bytes(e.to_bytes()).to_bytes() == e.to_bytes()
    # constant column: variance 0 → skew/kurt undefined (None), not a crash
    c = moments.Moments().update(np.full(100, 7, dtype=np.int64))
    st = c.stats()
    assert st["variance"] == 0.0 and st["skewness"] is None


def test_moments_huge_magnitudes_stay_exact():
    """|x|^4 far beyond int64 (and sums beyond float64's 2^53) — the
    elementwise big-int fallback keeps every digit."""
    from sgp_sketch.kernels import moments

    vals = np.array([2**40, -(2**40), 2**40 + 1], dtype=np.int64)
    s = moments.Moments().update(vals)
    xs = [2**40, -(2**40), 2**40 + 1]
    for p in range(1, 5):
        assert s.s[p - 1] == sum(x ** p for x in xs)
    rt = registry.from_bytes(s.to_bytes())
    assert rt.s == s.s and rt.mn == -(2**40) and rt.mx == 2**40 + 1


def test_moments_serde_roundtrip_and_registry():
    from sgp_sketch.kernels import moments

    s = moments.Moments().update(RNG.integers(-1000, 1000, 5000))
    blob = s.to_bytes()
    s2 = registry.from_bytes(blob)
    assert isinstance(s2, moments.Moments)
    assert s2.to_bytes() == blob and s2.stats() == s.stats()
    assert registry.make("moments").n == 0
    assert len(blob) < 120  # a handful of scalars — the smallest state
