"""Spark integration tests — SURVEY.md §5.2.3.

Estimates from the distributed build (partials → tree merge) must match
exact answers computed on the same data, within each sketch's bound; and the
pipeline must never mutate the token arrays (input_hint row invariant).
"""

import numpy as np
import pandas as pd
import pytest

from sgp_sketch import agg, queries
from sgp_sketch.datagen import SOURCES
from sgp_sketch.kernels import registry


def exact_stats(tokens_pdf):
    per_source = {}
    for src, sub in tokens_pdf.groupby("source"):
        flat = np.concatenate(sub["tokens"].to_numpy())
        per_source[src] = flat
    return per_source


def test_hll_distinct_vs_exact(spark, tokens_sdf, tokens_pdf):
    out = queries.distinct_tokens(tokens_sdf, include_global=True).toPandas()
    per_source = exact_stats(tokens_pdf)
    bound = 3 * 1.04 / np.sqrt(1 << 14)
    for src, flat in per_source.items():
        exact = len(np.unique(flat))
        est = float(out.loc[out.source == src, "est_distinct"].iloc[0])
        assert abs(est - exact) / exact <= bound, (src, est, exact)
    exact_g = len(np.unique(np.concatenate(list(per_source.values()))))
    est_g = float(out.loc[out.source == "__all__", "est_distinct"].iloc[0])
    assert abs(est_g - exact_g) / exact_g <= bound


def test_partition_count_invariance(spark, tokens_sdf):
    """Chunking invariance at the Spark level: different partition counts
    must give byte-identical merged HLL state."""
    a = agg.sketch_agg(tokens_sdf.repartition(3), "hll", "tokens",
                       ("source",), {"p": 12}).toPandas()
    b = agg.sketch_agg(tokens_sdf.repartition(13), "hll", "tokens",
                       ("source",), {"p": 12}).toPandas()
    for src in SOURCES:
        sa = bytes(a.loc[a.source == src, "state"].iloc[0])
        sb = bytes(b.loc[b.source == src, "state"].iloc[0])
        assert sa == sb, src


def test_heavy_hitters_vs_exact(spark, tokens_sdf, tokens_pdf):
    k = 10
    out = queries.heavy_hitters(tokens_sdf, k=k).toPandas()
    per_source = exact_stats(tokens_pdf)
    for src, flat in per_source.items():
        uniq, counts = np.unique(flat, return_counts=True)
        order = np.lexsort((uniq, -counts))
        exact_topk = uniq[order[:k]]
        exact_counts = dict(zip(uniq.tolist(), counts.tolist()))
        got = out[out.source == src].sort_values("rank")
        n = counts.sum()
        eps_n = (np.e / (1 << 14)) * n
        # every reported token's estimate is within CMS bound of its true count
        for t, e in zip(got.token, got.est_count):
            true = exact_counts.get(int(t), 0)
            assert true <= e <= true + eps_n, (src, t, e, true)
        # the true top-5 are all recovered (allow boundary ties at the tail)
        assert set(exact_topk[:5].tolist()) <= set(got.token.tolist()), src


def test_quantiles_vs_exact(spark, tokens_sdf, tokens_pdf):
    qs = (0.01, 0.25, 0.5, 0.75, 0.99)
    for kind in ("kll", "tdigest"):
        out = queries.n_tok_quantiles(tokens_sdf, qs=qs, kind=kind).toPandas()
        for src, sub in tokens_pdf.groupby("source"):
            vals = np.sort(sub["n_tok"].to_numpy().astype(float))
            got = out[out.source == src].sort_values("q")
            for q, v in zip(got.q, got.value):
                rank = np.searchsorted(vals, v, side="right") / len(vals)
                assert abs(rank - q) <= 0.035, (kind, src, q, rank)


def test_bloom_membership(spark, tokens_sdf, tokens_pdf):
    blobs = queries.build_membership(tokens_sdf, n_blocks=1 << 12)
    per_source = exact_stats(tokens_pdf)
    src = "web"
    present = np.unique(per_source[src])[:200]
    absent = np.arange(2_000_000, 2_000_200, dtype=np.int64)  # outside vocab
    probes = [(src, int(t)) for t in present] + [(src, int(t)) for t in absent]
    out = queries.probe_membership(spark, blobs, probes).toPandas()
    got_present = out.iloc[:200]["maybe_present"]
    got_absent = out.iloc[200:]["maybe_present"]
    assert got_present.all(), "Bloom false negative"
    assert got_absent.mean() <= 0.05


def test_tree_merge_to_global_equals_direct_global(spark, tokens_sdf):
    per_source = agg.sketch_agg(tokens_sdf, "hll", "tokens", ("source",),
                                {"p": 12})
    via_merge = agg.tree_merge(per_source, group_cols=()).toPandas()
    direct = agg.sketch_agg(tokens_sdf, "hll", "tokens", (), {"p": 12}).toPandas()
    assert bytes(via_merge["state"].iloc[0]) == bytes(direct["state"].iloc[0])


def test_coarser_tree_merge_keeps_specs_apart(spark, tokens_sdf,
                                             tokens_pdf):
    """A merge to a coarser grouping keeps `sketch` in its key: two kll
    specs on different columns stay two global rows, each over its own
    column, never one kll folded from both."""
    from pyspark.sql import functions as F

    specs = {"kll_tok": {"kind": "kll", "value_col": "n_tok"},
             "kll_sq": {"kind": "kll", "value_col": "sq"}}
    per_source = agg.multi_sketch_agg(
        tokens_sdf.withColumn("sq", F.col("n_tok") * F.col("n_tok")),
        specs, ("source",))
    rows = agg.tree_merge(per_source, group_cols=()).collect()
    assert sorted(r["sketch"] for r in rows) == sorted(specs)
    n_tok = np.sort(tokens_pdf["n_tok"].to_numpy(float))
    exact = {"kll_tok": n_tok, "kll_sq": n_tok * n_tok}
    for r in rows:
        vals = exact[r["sketch"]]
        assert r["n_items"] == len(vals)
        st = registry.from_bytes(bytes(r["state"]))
        for q, v in zip((0.25, 0.5, 0.75), st.quantiles((0.25, 0.5, 0.75))):
            rank = np.searchsorted(vals, v, side="right") / len(vals)
            assert abs(rank - q) <= 0.035, (r["sketch"], q, rank)


def test_table_without_part_id_merges_in_one_round(spark, tokens_sdf,
                                                   tmp_path):
    """Stored blobs carry no part_id: every row of a key shares one
    bucket, so a re-merge plans one round whatever `n_parts` says, and
    gives back the same blobs."""
    agg.sketch_agg(tokens_sdf, "hll", "tokens", ("source",),
                   {"p": 12}).write.parquet(str(tmp_path / "blobs"))
    blobs = spark.read.parquet(str(tmp_path / "blobs"))
    again = agg.tree_merge(blobs, n_parts=1000)
    plan = again._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("MapInArrow merge(") == 1, plan
    assert ({r["source"]: bytes(r["state"]) for r in again.collect()}
            == {r["source"]: bytes(r["state"]) for r in blobs.collect()})


def test_multi_round_tree_merge(spark, tokens_sdf, tokens_pdf):
    """More partials than FANIN: two merge rounds, still one row per
    (source, sketch), and the byte-stable kinds equal the one-round build
    of the same partials byte for byte."""
    specs = {
        "hll": {"kind": "hll", "value_col": "tokens", "params": {"p": 12}},
        "bloom": {"kind": "bloom", "value_col": "tokens",
                  "params": {"n_blocks": 1 << 10}},
        "cms": {"kind": "cms", "value_col": "tokens"},
        "moments": {"kind": "moments", "value_col": "n_tok"},
        "kll": {"kind": "kll", "value_col": "n_tok"},
    }
    rep = tokens_sdf.repartition(130)
    deep = agg.multi_sketch_agg(rep, specs, n_parts=130)
    plan = deep._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("MapInArrow merge(") == 2, plan
    rows = deep.collect()
    got = {(r["source"], r["sketch"]): bytes(r["state"]) for r in rows}
    assert len(rows) == len(got) == len(SOURCES) * len(specs)
    flat = {(r["source"], r["sketch"]): bytes(r["state"])
            for r in agg.multi_sketch_agg(rep, specs).collect()}
    for key, blob in flat.items():
        if key[1] != "kll":
            assert got[key] == blob, key
    for src, sub in tokens_pdf.groupby("source"):
        vals = np.sort(sub["n_tok"].to_numpy().astype(float))
        st = registry.from_bytes(got[(src, "kll")])
        qs = (0.01, 0.25, 0.5, 0.75, 0.99)
        for q, v in zip(qs, st.quantiles(qs)):
            rank = np.searchsorted(vals, v, side="right") / len(vals)
            assert abs(rank - q) <= 0.035, (src, q, rank)


def test_row_invariant_tokens_unmutated(spark, tokens_sdf):
    """input_hint invariant: running the sketch pipeline must not mutate the
    token arrays of the input DataFrame."""
    before = tokens_sdf.orderBy("doc_id").limit(50).toPandas()
    queries.distinct_tokens(tokens_sdf).collect()
    after = tokens_sdf.orderBy("doc_id").limit(50).toPandas()
    for a, b in zip(before["tokens"], after["tokens"]):
        assert np.array_equal(a, b)


def test_numeric_scalar_column_agg(spark, tokens_sdf):
    blobs = agg.sketch_agg(tokens_sdf, "tdigest", "n_tok", ("source",)).toPandas()
    assert len(blobs) == len(SOURCES)
    st = registry.from_bytes(bytes(blobs["state"].iloc[0]))
    assert st.n > 0


def test_sharded_membership_point_reads(spark, tokens_sdf, tmp_path):
    """R6 shard-routed point queries: present tokens always hit (no false
    negatives), absent tokens mostly miss, and the probe's blob scan is
    partition-pruned to the probes' shards."""
    from pyspark.sql import functions as F

    from sgp_sketch.queries import (build_sharded_membership,
                                    probe_sharded_membership)

    path = str(tmp_path / "bloom_shards")
    blobs = build_sharded_membership(tokens_sdf, n_shards=16)
    blobs.write.partitionBy("shard").parquet(path)

    present = [r["t"] for r in
               tokens_sdf.select(F.explode("tokens").alias("t"))
               .distinct().limit(20).collect()]
    absent = [10**15 + i for i in range(50)]
    got = {r["token"]: r["maybe_present"]
           for r in probe_sharded_membership(
               spark, path, present + absent, 16).collect()}
    assert all(got[t] for t in present)           # zero false negatives
    fp = sum(got[t] for t in absent)
    assert fp <= 10                               # FPR sanity at this fill
    # pruning evidence: a single-shard read plan mentions PartitionFilters
    plan = (spark.read.parquet(path).filter(F.col("shard") == 3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan


def test_vocabulary_overlap_vs_exact(spark, tokens_sdf, tokens_pdf):
    """HLL inclusion-exclusion overlap within combined error bound of the
    three estimates involved."""
    from sgp_sketch.queries import vocabulary_overlap

    got = vocabulary_overlap(tokens_sdf, p=14).toPandas()
    exact_sets = {src: set(np.unique(np.concatenate(sub["tokens"].to_numpy())))
                  for src, sub in tokens_pdf.groupby("source")}
    bound = 3 * 1.04 / np.sqrt(1 << 14)
    checked = 0
    for _, r in got.iterrows():
        A, B = exact_sets[r.group_a], exact_sets[r.group_b]
        union = len(A | B)
        inter = len(A & B)
        # inclusion-exclusion compounds three estimates; allow 3x the
        # single-estimate bound, relative to the union size
        assert abs(r.est_overlap - inter) <= 3 * bound * union + 1, (
            r.group_a, r.group_b, r.est_overlap, inter)
        checked += 1
    assert checked == len(exact_sets) * (len(exact_sets) - 1) // 2


def test_vocabulary_overlap_matches_kernel_merge(spark, tokens_sdf):
    """The distributed blob-self-join path must reproduce exactly what a
    driver-side kernel merge of the collected blobs produces (the shape it
    replaced) — same pairs, same estimates."""
    from sgp_sketch import agg
    from sgp_sketch.kernels import registry
    from sgp_sketch.queries import vocabulary_overlap

    got = {(r.group_a, r.group_b): (r.est_a, r.est_b, r.est_union)
           for r in vocabulary_overlap(tokens_sdf, p=14).collect()}
    blobs = sorted((r["source"], bytes(r["state"]))
                   for r in agg.sketch_agg(tokens_sdf, "hll", "tokens",
                                           ("source",), {"p": 14}).collect())
    want = {}
    for i, (ka, sa) in enumerate(blobs):
        for kb, sb in blobs[i + 1:]:
            a, b = registry.from_bytes(sa), registry.from_bytes(sb)
            want[(ka, kb)] = (round(a.estimate(), 1), round(b.estimate(), 1),
                              round(a.merge(b).estimate(), 1))
    assert got == want


def test_blob_pairs_keys_two_column_groups_injectively(spark):
    """Pairs are keyed by the struct of the group columns, not by their
    '|'-joined label: ('a|b','c') and ('a','b|c') share a label, NULL and
    '' share one too when joined, yet every one of the 7 groups pairs
    with each other group exactly once — C(7, 2) = 21 rows."""
    from sgp_sketch.queries import vocabulary_overlap

    groups = [("a|b", "c"), ("a", "b|c"), (None, "z"), ("", "z"),
              ("x", "y"), ("x", None), ("y", "x")]
    df = spark.createDataFrame(
        [(g1, g2, [i]) for i, (g1, g2) in enumerate(groups)],
        "g1 string, g2 string, tokens array<bigint>")
    got = vocabulary_overlap(df, group_cols=("g1", "g2")).collect()
    assert len(got) == 21
    # one token per group: each pair's union holds exactly two tokens
    assert {(r.est_a, r.est_b, r.est_union, r.est_overlap)
            for r in got} == {(1.0, 1.0, 2.0, 0.0)}


def test_heavy_hitters_global(spark, tokens_sdf, tokens_pdf):
    """Ungrouped top-k: the candidate union + merged-CMS ranking must find
    the global exact top-5."""
    got = queries.heavy_hitters(tokens_sdf, k=5, group_cols=()).toPandas()
    flat = np.concatenate(tokens_pdf["tokens"].to_numpy())
    uniq, counts = np.unique(flat, return_counts=True)
    exact_top = set(uniq[np.lexsort((uniq, -counts))[:5]].tolist())
    assert set(got.token.tolist()) == exact_top


def test_theta_vocab_overlap_vs_exact(spark, tokens_sdf, tokens_pdf):
    """Theta set algebra end-to-end on Spark: union/intersection/difference
    estimates within the k=4096 sampling bound of the exact sets."""
    from sgp_sketch.queries import vocabulary_overlap_theta

    got = vocabulary_overlap_theta(tokens_sdf, k=4096).toPandas()
    exact_sets = {src: set(np.unique(np.concatenate(sub["tokens"].to_numpy())))
                  for src, sub in tokens_pdf.groupby("source")}
    checked = 0
    for _, r in got.iterrows():
        A, B = exact_sets[r.group_a], exact_sets[r.group_b]
        union = len(A | B)
        tol = 4 / np.sqrt(4096) * union + 1
        assert abs(r.est_union - union) <= tol, (r.group_a, r.group_b)
        assert abs(r.est_inter - len(A & B)) <= tol, (r.group_a, r.group_b)
        assert abs(r.est_diff_ab - len(A - B)) <= tol, (r.group_a, r.group_b)
        checked += 1
    assert checked == len(exact_sets) * (len(exact_sets) - 1) // 2

def test_mg_heavy_hitters_bracket_and_topk(spark, tokens_sdf, tokens_pdf):
    """Distributed MG build: every reported [est_min, est_max] must bracket
    the exact count, and with a generous counter budget (no eviction,
    dec=0) the top-k must equal the exact top-k."""
    k = 10
    out = queries.mg_heavy_hitters(tokens_sdf, k=k,
                                   counters=1 << 15).toPandas()
    per_source = exact_stats(tokens_pdf)
    for src, flat in per_source.items():
        uniq, counts = np.unique(flat, return_counts=True)
        truth = dict(zip(uniq.tolist(), counts.tolist()))
        sub = out[out.source == src].sort_values("rank")
        assert len(sub) == k
        for _, r in sub.iterrows():
            assert r.est_min <= truth[r.token] <= r.est_max
        order = np.lexsort((uniq, -counts))
        assert sub.token.tolist() == uniq[order[:k]].tolist()
        # capacity sufficient => exact: bracket collapses
        assert (sub.est_min == sub.est_max).all()


def test_mg_eviction_regime_bounds(spark, tokens_sdf, tokens_pdf):
    """Small counter budget forces evictions across partitions; the merged
    summary must keep dec <= n/(k+1) per group (reported as the bracket
    width) and still never overestimate."""
    out = queries.mg_heavy_hitters(tokens_sdf, k=5,
                                   counters=16).toPandas()
    per_source = exact_stats(tokens_pdf)
    for src, flat in per_source.items():
        truth = dict(zip(*[a.tolist() for a in
                           np.unique(flat, return_counts=True)]))
        sub = out[out.source == src]
        n = flat.size
        for _, r in sub.iterrows():
            width = r.est_max - r.est_min
            assert width <= n // 17 + 1
            assert r.est_min <= truth.get(r.token, 0)


def test_null_group_keys_get_their_own_sketch(spark):
    """Rows whose group key is NULL must contribute a sketch slot (pandas
    groupby default dropna=True silently dropped them; the Arrow path
    always kept them — the two build paths must agree)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", list(range(0, 50))), (None, list(range(25, 100))),
         ("a", list(range(10, 60))), (None, list(range(50, 150)))],
        "source string, tokens array<long>")
    blobs = agg.sketch_agg(df, "hll", "tokens", ("source",), {"p": 14})
    got = {r["source"]: r["n_items"] for r in blobs.collect()}
    assert set(got) == {"a", None}
    assert got[None] == 75 + 100
    from sgp_sketch.kernels import registry
    by_key = {r["source"]: registry.from_bytes(bytes(r["state"])).estimate()
              for r in blobs.collect()}
    assert abs(by_key[None] - 125) / 125 < 0.05


def test_heavy_hitters_ignores_null_token_elements(spark):
    """A NULL element inside a token array arrives as NaN through Arrow;
    it must be dropped, not cast to a garbage int64 candidate."""
    from sgp_sketch import queries

    df = spark.createDataFrame(
        [("s", [1, 1, 1, None, 2]), ("s", [1, None, None, 3])],
        "source string, tokens array<long>")
    out = queries.heavy_hitters(df, k=5).toPandas()
    assert set(out["token"]) == {1, 2, 3}
    top = out[out["rank"] == 1].iloc[0]
    assert top["token"] == 1 and top["est_count"] == 4


def test_distinct_tokens_global_rejects_nonstring_groups(spark):
    from sgp_sketch import queries

    df = spark.createDataFrame([(1, [1, 2])], "day int, tokens array<long>")
    with pytest.raises(TypeError, match="string group columns"):
        queries.distinct_tokens(df, group_cols=("day",), include_global=True)
    # non-global path works fine with int group cols
    assert queries.distinct_tokens(df, group_cols=("day",),
                                   include_global=False).count() == 1


def test_heavy_hitters_int32_signed_tokens_int_groups(spark):
    """Signed int32 tokens under an int group column, with several groups
    per batch (coalesce(2): the packed (group, token) sort) and with 130
    partials per group: the exact top-k, each count within the CMS
    bound."""
    k, width = 10, 1 << 14
    rng = np.random.default_rng(11)
    rows = []
    for day in range(3):
        # 12 heavy tokens with distinct counts (no tie at rank k), the
        # rest a light tail over [-400, 400)
        heavy = np.repeat(np.arange(-6, 6) * 37 - day,
                          600 - 40 * np.arange(12))
        toks = np.concatenate([heavy, rng.integers(-400, 400, 20000)])
        rng.shuffle(toks)
        rows += [(day, chunk.tolist()) for chunk in np.array_split(toks, 300)]
    df = spark.createDataFrame(rows, "day int, tokens array<int>")
    pdf = pd.DataFrame(rows, columns=["day", "tokens"])
    for inp in (df.coalesce(2), df.repartition(130)):
        out = queries.heavy_hitters(inp, k=k, group_cols=("day",),
                                    width=width).toPandas()
        assert sorted(out.day.unique().tolist()) == [0, 1, 2]
        for day, sub in pdf.groupby("day"):
            flat = np.concatenate(sub.tokens.map(np.asarray).to_numpy())
            uniq, counts = np.unique(flat, return_counts=True)
            truth = dict(zip(uniq.tolist(), counts.tolist()))
            exact = set(uniq[np.lexsort((uniq, -counts))[:k]].tolist())
            got = out[out.day == day]
            assert set(got.token.tolist()) == exact, day
            eps_n = np.e / width * flat.size
            for t, e in zip(got.token, got.est_count):
                assert truth[t] <= e <= truth[t] + eps_n, (day, t, e)


def test_cs_distributed_build_byte_equal_and_f2(spark, tokens_sdf,
                                                tokens_pdf):
    """Distributed Count-Sketch build: (a) partition-count invariance must
    be BYTE-exact (cell-wise signed addition, unlike MG/FD), and (b) the
    merged per-source sketch's F2 / point estimates must satisfy the AMS
    and CCF bounds against the exact per-source stream."""
    from sgp_sketch.kernels.hashing import hash64

    specs = {"cs": {"kind": "cs", "value_col": "tokens",
                    "params": {"depth": 5, "width": 1 << 13}}}
    a = agg.multi_sketch_agg(tokens_sdf.repartition(3), specs,
                             ("source",)).toPandas()
    b = agg.multi_sketch_agg(tokens_sdf.repartition(13), specs,
                             ("source",)).toPandas()
    per_source = exact_stats(tokens_pdf)
    for src, flat in per_source.items():
        sa = bytes(a.loc[a.source == src, "state"].iloc[0])
        sb = bytes(b.loc[b.source == src, "state"].iloc[0])
        assert sa == sb, src
        sk = registry.from_bytes(sa)
        uniq, counts = np.unique(flat, return_counts=True)
        f2 = float((counts.astype(np.float64) ** 2).sum())
        assert abs(sk.f2_estimate() - f2) <= f2 * np.sqrt(6 / sk.width), src
        order = np.argsort(-counts)
        top = uniq[order][:5]
        true = counts[order][:5].astype(np.float64)
        # the Spark path pre-hashes tokens (hash64) before the kernel;
        # query through the same stream
        est = sk.estimate_hashes(hash64(top.astype(np.uint64)))
        assert np.all(np.abs(est - true) <= np.sqrt(3 * f2 / sk.width)), src


def test_dd_distributed_build_byte_equal_and_relative_error(
        spark, tokens_sdf, tokens_pdf):
    """Distributed DDSketch build over n_tok: (a) partition-count
    invariance must be BYTE-exact (cell-wise counter addition over
    canonical sorted stores), and (b) the merged per-source quantile
    estimates must be within alpha (relative) of the exact item at rank
    floor(q*(n-1)) — the published DDSketch guarantee."""
    alpha = 0.01
    specs = {"dd": {"kind": "dd", "value_col": "n_tok",
                    "params": {"alpha": alpha}}}
    a = agg.multi_sketch_agg(tokens_sdf.repartition(3), specs,
                             ("source",)).toPandas()
    b = agg.multi_sketch_agg(tokens_sdf.repartition(13), specs,
                             ("source",)).toPandas()
    for src, sub in tokens_pdf.groupby("source"):
        sa = bytes(a.loc[a.source == src, "state"].iloc[0])
        sb = bytes(b.loc[b.source == src, "state"].iloc[0])
        assert sa == sb, src
        sk = registry.from_bytes(sa)
        vals = np.sort(sub["n_tok"].to_numpy().astype(np.float64))
        assert sk.n == vals.size
        for q in (0.1, 0.5, 0.95, 0.99):
            exact = vals[int(np.floor(q * (vals.size - 1)))]
            est = sk.quantiles([q])[0]
            assert abs(est - exact) <= alpha * abs(exact) + 1e-12, (src, q)


def test_fd_agg_int_group_column(spark):
    """fd_agg with a non-string (int32) group column: the partial batch
    must pin Arrow types to the declared schema or Spark's ArrowColumnVector
    accessor dies on the int64/int32 width mismatch (regression)."""
    import pandas as pd

    from sgp_sketch.matrix import fd_agg

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "label": np.arange(200, dtype=np.int32) % 3,
        "embedding": list(rng.normal(size=(200, 8)).astype(np.float32)),
    })
    sdf = spark.createDataFrame(pdf, "label int, embedding array<float>")
    out = fd_agg(sdf, "embedding", d=8, ell=4,
                 group_cols=("label",)).toPandas()
    assert sorted(out["label"].tolist()) == [0, 1, 2]
    assert int(out["n_items"].sum()) == 200


def test_moments_distributed_build_byte_equal_and_exact(
        spark, tokens_sdf, tokens_pdf):
    """Distributed moments build over n_tok: partition-count invariance is
    BYTE-exact (arbitrary-precision integer addition — zero rounding), and
    the merged per-source statistics equal a direct exact computation: the
    one kernel whose estimates carry NO error at all."""
    specs = {"mom": {"kind": "moments", "value_col": "n_tok"}}
    a = agg.multi_sketch_agg(tokens_sdf.repartition(3), specs,
                             ("source",)).toPandas()
    b = agg.multi_sketch_agg(tokens_sdf.repartition(13), specs,
                             ("source",)).toPandas()
    for src, sub in tokens_pdf.groupby("source"):
        sa = bytes(a.loc[a.source == src, "state"].iloc[0])
        sb = bytes(b.loc[b.source == src, "state"].iloc[0])
        assert sa == sb, src
        sk = registry.from_bytes(sa)
        xs = [int(x) for x in sub["n_tok"].tolist()]
        assert sk.n == len(xs) and sk.mn == min(xs) and sk.mx == max(xs)
        for p in range(1, 5):
            assert sk.s[p - 1] == sum(x ** p for x in xs), (src, p)
        st = sk.stats()
        fn = float(len(xs))
        assert st["mean"] == float(sum(xs)) / fn


def test_sketch_agg_bykey_exact_below_k_and_partition_invariant(
        spark, tokens_sdf, tokens_pdf):
    """High-cardinality per-key path: theta per doc_id over its tokens.
    (a) every per-key estimate is EXACT (|set| < k keeps theta in raw-hash
    mode), (b) the per-key state is byte-identical across shuffle-partition
    counts (each key's rows land whole in one partition either way, and
    the retained-hash set is canonical sorted-unique), (c) exactly one
    blob row per key — no partial leaks through."""
    from sgp_sketch import queries as Q

    for nparts in (4, 17):
        blobs = agg.sketch_agg_bykey(tokens_sdf, "theta", "tokens",
                                     ("doc_id",),
                                     num_partitions=nparts).toPandas()
        assert blobs.groupby("doc_id").size().max() == 1
        if nparts == 4:
            first = blobs.set_index("doc_id")["state"].map(bytes)
        else:
            second = blobs.set_index("doc_id")["state"].map(bytes)
    assert first.sort_index().equals(second.sort_index())
    est = Q.distinct_per_key(tokens_sdf, ["doc_id"], "tokens",
                             "theta").toPandas()
    got = {r.doc_id: int(r.est_distinct) for r in est.itertuples()}
    for doc_id, sub in tokens_pdf.groupby("doc_id"):
        exact = len({t for row in sub["tokens"] for t in row})
        assert got[doc_id] == exact, doc_id

    # edge inputs: a null key (its own row), null and empty token arrays,
    # a key with no tokens at all (no row), and int64 scalar tokens with
    # a null; one partition puts every key in one batch, three leave
    # some keys alone in theirs
    lists = [("a", [1, 2, 2]), ("a", None), ("a", []), (None, [3, 4]),
             (None, [4, 5]), ("e", []), ("e", None), ("b", [7])]
    scalars = [("a", 5), ("a", 5), ("a", -3), ("a", None), ("b", 1 << 40),
               (None, 9), (None, -(1 << 62)), ("e", None)]
    for rows, schema in ((lists, "k string, v array<long>"),
                         (scalars, "k string, v long")):
        pdf = pd.DataFrame(rows, columns=["k", "v"])
        exact = {}
        for k, sub in pdf.groupby("k", dropna=False):
            vals = [t for v in sub["v"] if v is not None
                    for t in (v if isinstance(v, list) else [v])
                    if not pd.isna(t)]
            if vals:
                exact[None if pd.isna(k) else k] = (len(set(vals)),
                                                    len(vals))
        sdf = spark.createDataFrame(rows, schema)
        for nparts in (1, 3):
            got = {r["k"]: (round(registry.from_bytes(
                bytes(r["state"])).estimate()), r["n_items"])
                for r in agg.sketch_agg_bykey(
                    sdf, "theta", "v", ("k",),
                    num_partitions=nparts).collect()}
            assert got == exact, (schema, nparts)


def test_sketch_agg_bykey_moments_exact_per_key(spark, tokens_sdf,
                                                tokens_pdf):
    """Per-key moments: numeric kinds ride the same per-key plan; power
    sums per source-as-key equal the direct exact computation."""
    blobs = agg.sketch_agg_bykey(tokens_sdf, "moments", "n_tok",
                                 ("source",)).toPandas()
    for src, sub in tokens_pdf.groupby("source"):
        sk = registry.from_bytes(
            bytes(blobs.loc[blobs.source == src, "state"].iloc[0]))
        xs = [int(x) for x in sub["n_tok"].tolist()]
        assert sk.n == len(xs)
        assert sk.s[3] == sum(x ** 4 for x in xs)

    # edge inputs: a null key, null and NaN values (dropped), and a key
    # with no finite value at all (no row)
    rows = [("a", 1.0), ("a", None), ("a", float("nan")), ("a", 3.0),
            (None, 2.0), (None, 5.0), ("e", None), ("e", float("nan"))]
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    sdf = spark.createDataFrame(rows, "k string, v double")
    for nparts in (1, 3):
        got = {r["k"]: (registry.from_bytes(bytes(r["state"])), r["n_items"])
               for r in agg.sketch_agg_bykey(
                   sdf, "moments", "v", ("k",),
                   num_partitions=nparts).collect()}
        exact = {None if pd.isna(k) else k: [int(x) for x in sub["v"]
                                             .dropna()]
                 for k, sub in pdf.groupby("k", dropna=False)}
        exact = {k: xs for k, xs in exact.items() if xs}
        assert set(got) == set(exact), nparts
        for k, xs in exact.items():
            sk, n_items = got[k]
            assert sk.n == n_items == len(xs), (k, nparts)
            for p in range(1, 5):
                assert sk.s[p - 1] == sum(x ** p for x in xs), (k, p)


def test_quantiles_per_key_zero_values(spark):
    """Per-key DD quantiles with planted zero values: each per-key state
    must equal a direct kernel build (zero bucket included), and the p50
    of an all-zeros key is exactly 0.0 — the sf0.1 events table contains
    real zeros, so the oracle walk covers this path (regression)."""
    import pandas as pd

    from sgp_sketch import queries as Q
    from sgp_sketch.kernels import dd

    pdf = pd.DataFrame({
        "k": ["a"] * 5 + ["b"] * 4 + ["z"] * 3,
        "v": [0.0, 1.0, 2.0, 3.0, 4.0, 10.0, 20.0, 0.0, 0.0, 0.0, 0.0, 0.0],
    })
    sdf = spark.createDataFrame(pdf, "k string, v double")
    out = Q.quantiles_per_key(sdf, ["k"], "v", qs=(0.5,), kind="dd",
                              params={"alpha": 0.01}).toPandas()
    got = {r.k: r.value for r in out.itertuples()}
    for k, sub in pdf.groupby("k"):
        exact = dd.DD(alpha=0.01).update(sub["v"].to_numpy())
        assert got[k] == exact.quantiles([0.5])[0], k
    assert got["z"] == 0.0


@pytest.mark.parametrize("kind", ["hll", "theta", "cms", "bloom", "mg",
                                  "cs", "kll"])
def test_group_without_tokens_emits_no_state(spark, kind):
    """A group whose rows are all empty or null token arrays gets no
    state row, whether or not it shares its Arrow batch with another
    group."""
    alone = spark.createDataFrame(
        [("a", []), ("a", None), ("a", [])],
        "source string, tokens array<long>").repartition(1)
    assert agg.sketch_agg(alone, kind, "tokens").collect() == []
    mixed = spark.createDataFrame(
        [("a", []), ("a", None), ("b", [1, 2, 2])],
        "source string, tokens array<long>").repartition(1)
    got = {r["source"]: r["n_items"]
           for r in agg.sketch_agg(mixed, kind, "tokens").collect()}
    assert got == {"b": 3}


def test_bad_spec_raises_on_driver_before_any_job(spark, tokens_sdf):
    """An unknown kind, a param its kernel does not take and a param value
    its kernel rejects each raise ValueError naming the spec and the kind
    when the build is called, before any Spark job runs."""
    import re

    sc = spark.sparkContext
    group = "bad_spec"
    sc.setJobGroup(group, "plan only")
    try:
        for kind, params, needle in (("hyperloglog", {}, "hyperloglog"),
                                     ("hll", {"precision": 12}, "precision"),
                                     ("hll", {"sparse": []}, "sparse"),
                                     ("hll", {"p": 30}, "p must be")):
            specs = {"s1": {"kind": kind, "value_col": "tokens",
                            "params": params}}
            with pytest.raises(ValueError, match=re.escape(
                    f"sketch spec 's1' (kind {kind!r})")) as err:
                agg.build_partials_multi(tokens_sdf, specs)
            assert needle in str(err.value)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [], jobs


def test_finalizer_output_schemas(spark, tokens_sdf):
    """Exact output types of every blob-to-answer query: a long column
    silently decoded as a double would pass every value test."""
    from sgp_sketch.matrix import principal_spectrum

    t = tokens_sdf
    hll = agg.sketch_agg(t, "hll", "tokens", ("source",), {"p": 10})
    theta = agg.sketch_agg(t, "theta", "tokens", ("source",), {"k": 64})
    vec = spark.createDataFrame([(1, [1.0, 2.0, 3.0])],
                                "h int, vec array<double>")
    pair = ("group_a:string,group_b:string,est_a:double,est_b:double,"
            "est_union:double,")
    quant = "source:string,q:double,value:double"
    cases = [
        (queries.distinct_tokens(t, include_global=True),
         "source:string,est_distinct:double"),
        (queries.distinct_per_key(t, ["doc_id"]),
         "doc_id:string,est_distinct:double"),
        (queries.n_tok_quantiles(t), quant),
        (queries.quantiles_per_key(t, ["source"], "n_tok"), quant),
        (queries.vocabulary_overlap(t),
         pair + "est_overlap:double,jaccard:double"),
        (queries.vocabulary_overlap_theta(t),
         pair + "est_inter:double,est_diff_ab:double,jaccard:double"),
        (queries.mg_heavy_hitters(t),
         "source:string,token:bigint,est_min:bigint,est_max:bigint,"
         "rank:int"),
        (queries.hll_register_table(hll, ("source",)),
         "source:string,idx:int,rank:int"),
        (queries.theta_summary_table(theta, ("source",)),
         "source:string,n_retained:bigint,theta_frac:double,"
         "est_distinct:double"),
        (principal_spectrum(vec, "vec", d=3, ell=2, k=2, group_cols=("h",)),
         "h:int,rank:int,sing_value:double,gram_error_bound:double,"
         "n_rows:bigint"),
    ]
    for df, want in cases:
        assert df.schema.simpleString() == f"struct<{want}>"


# ---------------------------------------------------------------------------
# Builds over a bare parquet scan read the files in their own Python tasks
# (agg._file_scan); a cached frame of the same files takes the Spark-scan
# path, so the two give the same input rows through the two readers.

READER_SPECS = {
    "hll": {"kind": "hll", "value_col": "tokens", "params": {"p": 12}},
    "bloom": {"kind": "bloom", "value_col": "tokens",
              "params": {"n_blocks": 1 << 10}},
    "theta": {"kind": "theta", "value_col": "tokens", "params": {"k": 256}},
    "cs": {"kind": "cs", "value_col": "tokens", "params": {"width": 1 << 10}},
    "dd": {"kind": "dd", "value_col": "n_tok", "params": {"alpha": 0.01}},
    "moments": {"kind": "moments", "value_col": "n_tok", "params": {}},
    "cms": {"kind": "cms", "value_col": "tokens",
            "params": {"width": 1 << 10}},
    "mg": {"kind": "mg", "value_col": "tokens", "params": {"k": 64}},
    "kll": {"kind": "kll", "value_col": "n_tok", "params": {}},
    "tdigest": {"kind": "tdigest", "value_col": "n_tok", "params": {}},
    "fd": {"kind": "fd", "value_col": "vec", "params": {"d": 4, "ell": 2}},
}
BYTE_EQUAL_KINDS = ("hll", "bloom", "theta", "cs", "dd", "moments")


def _vectors(pdf):
    return np.stack([[len(t), t[0] % 7, t[-1] % 5, 1.0] for t in pdf.tokens]
                    ).astype(np.float64)


def _write_parquet(pdf, path, partition=True, columns=("doc_id", "tokens",
                                                       "n_tok", "vec")):
    """`pdf` rows as a pyarrow-written table: per-source directories
    (`source=<s>/`, 3 files each) or 3 flat files carrying `source`."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    def table(sub):
        cols = {"doc_id": pa.array(sub.doc_id.tolist(), pa.string()),
                "tokens": pa.array([t.tolist() for t in sub.tokens],
                                   pa.list_(pa.int32())),
                "n_tok": pa.array(sub.n_tok.tolist(), pa.int32()),
                "vec": pa.array(list(_vectors(sub)),
                                pa.list_(pa.float64()))}
        out = {c: cols[c] for c in columns}
        if not partition:
            out["source"] = pa.array(sub.source.tolist(), pa.string())
        return pa.table(out)

    groups = pdf.groupby("source") if partition else [(None, pdf)]
    for src, sub in groups:
        d = os.path.join(path, f"source={src}") if partition else path
        os.makedirs(d, exist_ok=True)
        for i, part in enumerate(np.array_split(np.arange(len(sub)), 3)):
            pq.write_table(table(sub.iloc[part]),
                           os.path.join(d, f"part-{i:05d}.parquet"))


@pytest.fixture(scope="module")
def tokens_parquet(tokens_pdf, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("reader") / "tokens")
    _write_parquet(tokens_pdf, path)
    return path


def _partials_plan(df, specs, group_cols=("source",)):
    parts, _schema = agg.build_partials_multi(df, specs, group_cols)
    return parts._jdf.queryExecution().executedPlan().toString()


def _by_key(df, group_cols=("source",)):
    return {tuple(r[c] for c in group_cols) + (r.sketch,):
            (bytes(r.state), r.n_items) for r in df.collect()}


def test_parquet_reader_matches_dataframe_path(spark, tokens_parquet,
                                               tokens_pdf):
    """Every kind built by the reader tasks: the order-independent kinds
    are byte-equal to the Spark-scan build of the same files, the others
    keep their bounds (cms never under-counts)."""
    df = spark.read.parquet(tokens_parquet)
    assert "FileScan" not in _partials_plan(df, READER_SPECS)
    got = _by_key(agg.multi_sketch_agg(df, READER_SPECS))
    # cached, the same files (a new read of them too) take the Spark scan
    cached = spark.read.parquet(tokens_parquet).cache()
    try:
        assert "InMemoryTableScan" in _partials_plan(df, READER_SPECS)
        want = _by_key(agg.multi_sketch_agg(cached, READER_SPECS))
    finally:
        cached.unpersist()
    assert set(got) == set(want) == {(s, n) for s in SOURCES
                                     for n in READER_SPECS}
    for (src, name), (blob, n) in got.items():
        kind = READER_SPECS[name]["kind"]
        assert n == want[src, name][1], (src, name)
        if kind in BYTE_EQUAL_KINDS:
            assert blob == want[src, name][0], (src, name)
            continue
        sub = tokens_pdf[tokens_pdf.source == src]
        flat = np.concatenate(sub.tokens.to_numpy())
        uniq, counts = np.unique(flat, return_counts=True)
        st = registry.from_bytes(blob)
        if kind == "cms":
            est = st.estimate(uniq)
            assert (est >= counts).all(), src
            assert (est - counts).max() <= np.e / (1 << 10) * flat.size
        elif kind == "mg":
            est = st.estimate(uniq)
            assert (est <= counts).all() and \
                (counts <= est + st.dec).all(), src
        elif kind in ("kll", "tdigest"):
            vals = np.sort(sub.n_tok.to_numpy().astype(float))
            for q, v in zip((0.1, 0.5, 0.9), st.quantiles([0.1, 0.5, 0.9])):
                rank = np.searchsorted(vals, v, side="right") / vals.size
                assert abs(rank - q) <= 0.035, (kind, src, q)
        else:  # fd: ||A'A - B'B||₂ within the tracked shed
            a = _vectors(sub)
            gap = np.linalg.norm(a.T @ a - st.gram(), 2)
            assert gap <= st.error_bound * (1 + 1e-9) + 1e-6, src


def test_parquet_reader_partition_values(spark, tmp_path):
    """Hive partition values as Spark reads them: a null partition, an
    escaped value, an int-typed column, two levels."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "parts")
    dirs = {"g=a/d=1": range(0, 40), "g=a%3Db/d=2": range(20, 90),
            "g=__HIVE_DEFAULT_PARTITION__/d=1": range(50, 60),
            "g=a/d=07": range(100, 130)}
    for d, toks in dirs.items():
        os.makedirs(os.path.join(path, d))
        pq.write_table(pa.table({"tokens": pa.array(
            [list(toks)[i::3] for i in range(3)], pa.list_(pa.int64()))}),
            os.path.join(path, d, "part-0.parquet"))
    df = spark.read.parquet(path)
    assert df.schema["d"].dataType.simpleString() == "int"
    specs = {"hll": READER_SPECS["hll"], "theta": READER_SPECS["theta"]}
    assert "FileScan" not in _partials_plan(df, specs, ("g", "d"))
    got = _by_key(agg.multi_sketch_agg(df, specs, ("g", "d")), ("g", "d"))
    cached = spark.read.parquet(path).cache()
    try:
        want = _by_key(agg.multi_sketch_agg(cached, specs, ("g", "d")),
                       ("g", "d"))
    finally:
        cached.unpersist()
    assert got == want
    assert {k[:2] for k in got} == {("a", 1), ("a=b", 2), (None, 1),
                                    ("a", 7)}
    assert got["a", 7, "theta"][1] == 30


def test_parquet_reader_file_edge_cases(spark, tokens_pdf, tmp_path):
    """`_`- and `.`-prefixed files are not read, an empty file adds
    nothing, and a file without a value column reads it as nulls, as
    Spark does."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                                   StructField, StructType)

    path = str(tmp_path / "edges")
    half = len(tokens_pdf) // 2
    _write_parquet(tokens_pdf.iloc[:half], path, partition=False)
    _write_parquet(tokens_pdf.iloc[half:], str(tmp_path / "no_ntok"),
                   partition=False, columns=("doc_id", "tokens"))
    os.rename(str(tmp_path / "no_ntok" / "part-00001.parquet"),
              os.path.join(path, "part-10000.parquet"))
    src = os.path.join(path, "part-00000.parquet")
    for junk in ("_junk.parquet", ".junk.parquet"):
        pq.write_table(pq.read_table(src), os.path.join(path, junk))
    pq.write_table(pq.read_table(src).slice(0, 0),
                   os.path.join(path, "part-20000.parquet"))
    schema = StructType([
        StructField("doc_id", StringType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("n_tok", IntegerType()),
        StructField("source", StringType())])
    specs = {n: READER_SPECS[n] for n in ("hll", "bloom", "moments", "dd")}
    df = spark.read.schema(schema).parquet(path)
    assert "FileScan" not in _partials_plan(df, specs)
    got = _by_key(agg.multi_sketch_agg(df, specs))
    cached = spark.read.schema(schema).parquet(path).cache()
    try:
        want = _by_key(agg.multi_sketch_agg(cached, specs))
        n_null = cached.filter("n_tok IS NULL").count()
    finally:
        cached.unpersist()
    assert got == want
    assert n_null > 0
    # every n_tok of the first half, none of the file without the column
    assert sum(n for (_s, name), (_b, n) in got.items()
               if name == "moments") == half


def test_filtered_and_prepared_inputs_keep_the_dataframe_path(
        spark, tokens_parquet):
    """A filter or a computed column (what `prepare=` adds) is Spark's to
    evaluate: such builds keep the Spark scan, and a filtered build still
    prunes partitions."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(tokens_parquet)
    specs = {"hll": READER_SPECS["hll"]}
    plan = _partials_plan(df.filter(F.col("source") == "web"), specs)
    assert "FileScan" in plan and "PartitionFilters: [isnotnull(source" \
        in plan, plan
    prepared = df.withColumn("toks", F.slice("tokens", 1, 3))
    plan = _partials_plan(prepared, agg.single_spec("hll", "toks"))
    assert "FileScan" in plan, plan
