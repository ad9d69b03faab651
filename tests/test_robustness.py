"""Edge-case robustness: empty inputs, null/empty token arrays, singleton
groups, and blob-format integrity through the full Spark path."""

import numpy as np
import pytest

from sgp_sketch import agg, queries
from sgp_sketch.kernels import registry


def test_empty_input(spark):
    df = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string")
    out = agg.sketch_agg(df, "hll", "tokens", ("source",), {"p": 10})
    assert out.count() == 0


def test_null_and_empty_token_arrays(spark):
    rows = [("a", [1, 2, 3], 3, "s1"),
            ("b", None, 0, "s1"),
            ("c", [], 0, "s1"),
            ("d", [3, 4], 2, "s2")]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    out = {r["source"]: r for r in
           agg.sketch_agg(df, "hll", "tokens", ("source",),
                          {"p": 10}).collect()}
    est1 = registry.from_bytes(bytes(out["s1"]["state"])).estimate()
    est2 = registry.from_bytes(bytes(out["s2"]["state"])).estimate()
    assert round(est1) == 3 and round(est2) == 2
    assert out["s1"]["n_items"] == 3 and out["s2"]["n_items"] == 2


def test_singleton_groups_many(spark):
    """One doc per group — worst case for per-group batching."""
    rows = [(f"d{i}", [i, i + 1], 2, f"g{i}") for i in range(50)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    out = agg.sketch_agg(df.repartition(7), "hll", "tokens", ("source",),
                         {"p": 10})
    got = out.collect()
    assert len(got) == 50
    for r in got:
        assert round(registry.from_bytes(bytes(r["state"])).estimate()) == 2


def test_multi_sketch_null_numeric(spark):
    rows = [("a", [1], 1, "s1", 2.0), ("b", [2], 1, "s1", None)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string, "
              "value double")
    specs = {"hll": {"kind": "hll", "value_col": "tokens", "params": {"p": 10}},
             "td": {"kind": "tdigest", "value_col": "value", "params": {}}}
    out = agg.multi_sketch_agg(df, specs, ("source",)).collect()
    by = {r["sketch"]: r for r in out}
    assert by["td"]["n_items"] == 1  # null filtered
    assert round(registry.from_bytes(bytes(by["hll"]["state"])).estimate()) == 2


def test_garbage_blob_rejected():
    with pytest.raises(ValueError):
        registry.from_bytes(b"XX\x01\x01garbage")
    with pytest.raises(ValueError):
        registry.from_bytes(b"SK\x01\xee" + b"\x00" * 32)


def test_mismatched_param_merge_rejected():
    a = registry.make("hll", p=10)
    b = registry.make("hll", p=12)
    a.update(np.arange(10, dtype=np.int64).view(np.uint64))
    b.update(np.arange(10, dtype=np.int64).view(np.uint64))
    with pytest.raises(ValueError):
        a.merge(b)
    c = registry.make("cms", width=1 << 10)
    with pytest.raises(TypeError):
        a.merge(c)


def test_int64_token_path(spark):
    """xxhash64-derived bigint tokens exercise the non-packed grouped path
    (no bincount, no uint32 packing)."""
    rows = [("a", [2**40 + 1, -(2**40)], 2, "s1"),
            ("b", [2**40 + 1, 7], 2, "s2")]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<long>, n_tok int, source string")
    out = {r["source"]: r for r in
           agg.sketch_agg(df, "hll", "tokens", ("source",),
                          {"p": 10}).collect()}
    for s in ("s1", "s2"):
        assert round(registry.from_bytes(bytes(out[s]["state"])).estimate()) == 2


def test_group_count_one_global(spark, tokens_sdf):
    """Global (no group cols) build returns exactly one row."""
    out = agg.sketch_agg(tokens_sdf, "hll", "tokens", (), {"p": 12})
    rows = out.collect()
    assert len(rows) == 1
    assert registry.from_bytes(bytes(rows[0]["state"])).estimate() > 0


def test_null_group_values(spark):
    """Null in a group column must form its own group, not corrupt codes."""
    rows = [("a", [1, 2], 2, "s1"), ("b", [3], 1, None),
            ("c", [3, 4], 2, None)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    out = agg.sketch_agg(df, "hll", "tokens", ("source",), {"p": 10})
    got = {r["source"]: r for r in out.collect()}
    assert set(got) == {"s1", None}
    assert round(registry.from_bytes(
        bytes(got[None]["state"])).estimate()) == 2  # distinct {3, 4}
    assert got[None]["n_items"] == 3                 # 3 occurrences


def test_kernel_throughput_floor():
    """Anti-regression guard (SURVEY §7.4.4): the shared scan prep + all
    three hash-sketch updates must sustain well over 0.5M tokens/sec on one
    core — a per-row-Python regression would land orders of magnitude
    below this deliberately loose floor (noisy-VM safe)."""
    import time

    from sgp_sketch.agg import _unique_counts
    from sgp_sketch.kernels.hashing import hash64

    rng = np.random.default_rng(2)
    flat = ((rng.zipf(1.2, 2_000_000) - 1) % (1 << 20)).astype(np.int32)
    hll = registry.make("hll", p=14)
    cms = registry.make("cms", depth=4, width=1 << 14)
    blm = registry.make("bloom", n_blocks=1 << 12)
    t0 = time.perf_counter()
    uniq, counts = _unique_counts(flat)
    h = hash64(uniq.astype(np.uint64, copy=False))
    cms.update_hashes(h, counts=counts)
    hll.update_hashes(h, assume_unique=True)
    blm.update_hashes(h, assume_unique=True, n_raw=flat.size)
    dt = time.perf_counter() - t0
    assert flat.size / dt > 500_000, f"{flat.size / dt:,.0f} tok/s"


def test_flatten_list_column_null_slots_nondegenerate_offsets():
    """The Arrow spec permits non-degenerate offsets under null slots
    (Spark emits zero-length ones today). _flatten_list_column must mask
    with the validity bitmap, not trust offsets alone — otherwise garbage
    values under a null slot would be attributed to that row."""
    import pyarrow as pa

    from sgp_sketch.agg import _flatten_list_column

    # row 1 is null but its offsets span the garbage values [98, 99]
    offsets = pa.array([0, 2, 4, 7], type=pa.int32())
    values = pa.array([1, 2, 98, 99, 3, 4, 5], type=pa.int64())
    mask = pa.array([False, True, False])  # True = null slot
    col = pa.ListArray.from_arrays(offsets, values, mask=mask)
    assert col.null_count == 1
    flat, lens = _flatten_list_column(col)
    assert lens.tolist() == [2, 0, 3]
    assert flat.tolist() == [1, 2, 3, 4, 5]  # 98/99 dropped with their row


def test_flatten_list_column_sliced_offset():
    """Zero-copy fast path on a sliced, null-free column keeps absolute
    offsets straight."""
    import pyarrow as pa

    from sgp_sketch.agg import _flatten_list_column

    col = pa.array([[1], [2, 3], [4, 5, 6]], type=pa.list_(pa.int64()))
    flat, lens = _flatten_list_column(col.slice(1))
    assert lens.tolist() == [2, 3]
    assert flat.tolist() == [2, 3, 4, 5, 6]


def test_cap_buckets_stats_and_filter(spark):
    """dropped_rows counts member ROWS of over-cap buckets; kept rows are
    exactly the members of within-cap buckets."""
    from pyspark.sql import functions as F

    from sgp_sketch.dedup import _cap_buckets

    rows = ([("d%d" % i, 0, 7) for i in range(5)]      # bucket of 5 > cap
            + [("e%d" % i, 0, 8) for i in range(2)]    # bucket of 2
            + [("f0", 1, 7)])                          # bucket of 1
    df = spark.createDataFrame(rows, ["doc_id", "band", "bucket"])
    stats = {}
    kept = _cap_buckets(df, ("band", "bucket"), max_bucket=2, stats=stats)
    assert stats == {"dropped_rows": 5, "max_bucket_size": 5}
    got = {r.doc_id for r in kept.collect()}
    assert got == {"e0", "e1", "f0"}


def test_bench_runners_degrade_on_failing_stages():
    """bench.py's runners must record a failing query/probe and keep the
    rest of the run (a thrown-away 25-minute run that prints no summary
    line is the failure mode the driver actually suffers from)."""
    import bench

    calls = {"good": 0}

    def good(spark, sf):
        calls["good"] += 1

        class _DF:
            def count(self):
                return 7
        return _DF()

    def bad(spark, sf):
        raise RuntimeError("executor lost")

    times, spread, repeats, errors = bench.run_headline(
        None, ["good", "bad"], {"good": good, "bad": bad}, repeats=2)
    assert calls["good"] == 2
    assert "good" in times and "bad" not in times
    assert "bad" in errors and "executor lost" in errors["bad"]

    flaky_state = {"n": 0}

    def flaky_probe():
        flaky_state["n"] += 1
        if flaky_state["n"] == 1:
            raise RuntimeError("transient")
        return {"seconds": 1.0, "payload": 42}

    def dead_probe():
        raise RuntimeError("always down")

    out = bench.run_probes_interleaved(
        {"flaky": flaky_probe, "dead": dead_probe}, repeats=3)
    assert out["flaky"]["payload"] == 42
    assert out["flaky"]["probe_errors"] == ["RuntimeError: transient"]
    assert out["dead"]["seconds"] is None
    assert "always down" in out["dead"]["error"]
