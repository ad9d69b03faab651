"""Router tests — SURVEY.md §5.3 routing-parity strategy.

Kernel level: the LDG/Fennel scoring math must reproduce the reference's
argmax (EdgeCutSGP.java:145, :182-183) on a hand-checked fixture, computed
here with a direct transliteration of the formulas (chunk=1 sequential mode =
the reference's per-record semantics under the documented deterministic
tie-break). Spark level: invariants only — capacity, balance, cut vs hash
baseline, salting-invariance of merged estimates.
"""

import numpy as np
import pytest

from sgp_sketch.kernels.hashing import hash64, pmod
from sgp_sketch.routing import GreedyShardRouter, fennel_alpha


def _mini_docs():
    """8 docs in two obvious token clusters (docs 0-3 share tokens 1-4,
    docs 4-7 share tokens 100-103)."""
    return [
        np.array([1, 2, 3], dtype=np.int64),
        np.array([1, 2, 4], dtype=np.int64),
        np.array([2, 3, 4], dtype=np.int64),
        np.array([1, 3, 4], dtype=np.int64),
        np.array([100, 101, 102], dtype=np.int64),
        np.array([100, 101, 103], dtype=np.int64),
        np.array([101, 102, 103], dtype=np.int64),
        np.array([100, 102, 103], dtype=np.int64),
    ]


def _keys(n):
    return np.arange(n, dtype=np.uint64)


def _sequential_reference(docs, keys, k, capacity, algorithm, gamma=1.5,
                          alpha=1.0):
    """Direct per-record transliteration of EdgeCutSGP's loops: hash is
    `pmod(hash64(doc_key), k)` (EdgeCutSGP.java:122); LDG/Fennel collect
    the max-score tie list (EdgeCutSGP.java:150-160), then pick
    `hash64(doc_key) % n_ties` — our deterministic stand-in for its
    Random.nextInt. Also counts cut occurrences: a token whose home shard
    differs from its doc's (EdgeCutSGP.java:125-130). The parity oracle
    for the vectorized router."""
    sizes = np.zeros(k, dtype=np.int64)
    token2shard: dict[int, int] = {}
    out = []
    n_cut = 0
    for toks, key in zip(docs, keys):
        h = int(hash64(np.array([key], dtype=np.uint64))[0])
        hist = np.zeros(k)
        for t in toks:
            p = token2shard.get(int(t))
            if p is not None:
                hist[p] += 1  # neighbors_in_partition, EdgeCutSGP.java:97-110
        ties, best_score = [], -np.inf
        for i in range(k):
            if sizes[i] >= capacity:  # capacity guard, EdgeCutSGP.java:147,185
                continue
            if algorithm == "ldg":  # EdgeCutSGP.java:145
                s = (1.0 - sizes[i] / capacity) * hist[i]
            else:  # fennel, EdgeCutSGP.java:182-183
                s = hist[i] - gamma * alpha * sizes[i] ** (gamma - 1.0)
            if s > best_score:
                ties, best_score = [i], s
            elif s == best_score:
                ties.append(i)
        if algorithm == "hash":
            best = h % k
        elif not ties:
            best = int(np.argmin(sizes))
        else:
            best = ties[h % len(ties)]
        sizes[best] += 1
        out.append(best)
        n_cut += sum(token2shard.get(int(t), best) != best for t in toks)
        for t in toks:
            token2shard.setdefault(int(t), best)  # first writer wins
    return np.array(out), sizes, n_cut


@pytest.mark.parametrize("algorithm", ["hash", "ldg", "fennel"])
def test_greedy_matches_sequential_reference(algorithm):
    docs = _mini_docs()
    k, cap = 2, 4 * 1.05
    alpha = fennel_alpha(k, sum(len(d) for d in docs), len(docs))
    router = GreedyShardRouter(k, cap, algorithm, alpha=alpha, chunk=1)
    got = router.assign_batch(_keys(len(docs)), docs)
    want, want_sizes, want_cut = _sequential_reference(
        docs, _keys(len(docs)), k, cap, algorithm, alpha=alpha)
    np.testing.assert_array_equal(got, want)
    np.testing.assert_array_equal(router.sizes, want_sizes)
    assert router.n_cut == want_cut


@pytest.mark.parametrize("algorithm", ["ldg", "fennel"])
def test_clusters_stay_together(algorithm):
    """On the two-cluster fixture the affinity term must co-locate each
    cluster (the whole point of LDG/Fennel over hash)."""
    docs = _mini_docs()
    # α small so the affinity term dominates (the large-scale regime:
    # α = √k·m/n^1.5 → 0 as n grows with bounded degree); formula-α on an
    # 8-doc fixture makes the balance penalty swamp a 2-token affinity.
    alpha = 0.1
    # capacity exactly 4: once cluster 1 fills shard 0, the guard
    # (EdgeCutSGP.java:147,185) forces cluster 2 onto shard 1, and affinity
    # keeps it there (deterministic lowest-index tie-break on empty hist)
    router = GreedyShardRouter(2, 4, algorithm, alpha=alpha, chunk=1)
    got = router.assign_batch(_keys(8), docs)
    assert len(set(got[:4].tolist())) == 1
    assert len(set(got[4:].tolist())) == 1
    assert got[0] != got[4]
    m = router.metrics()
    assert m["cut_fraction"] == 0.0
    assert m["max_size"] <= 4


def test_hash_router_is_stateless_pmod():
    docs = [np.array([], dtype=np.int64)] * 100
    keys = np.arange(100, dtype=np.uint64) * 7919
    router = GreedyShardRouter(16, 1e9, "hash")
    got = router.assign_batch(keys, docs)
    np.testing.assert_array_equal(got, pmod(hash64(keys), 16))


def test_capacity_respected_under_batching():
    """Vectorized chunks must never overflow the capacity bound even when
    every doc wants the same shard (hot cluster)."""
    rng = np.random.default_rng(7)
    docs = [rng.choice(50, size=8).astype(np.int64) for _ in range(400)]
    k, cap = 4, 400 / 4 * 1.05
    router = GreedyShardRouter(k, cap, "ldg", chunk=64)
    router.assign_batch(_keys(len(docs)), docs)
    assert router.sizes.max() <= int(np.ceil(cap))
    assert router.sizes.sum() == 400


def test_determinism():
    rng = np.random.default_rng(11)
    docs = [rng.zipf(1.5, size=12).astype(np.int64) for _ in range(500)]
    runs = []
    for _ in range(2):
        r = GreedyShardRouter(8, 500 / 8 * 1.05, "fennel", alpha=0.5, chunk=128)
        runs.append(r.assign_batch(_keys(500), docs))
    np.testing.assert_array_equal(runs[0], runs[1])


def test_greedy_cut_beats_hash_on_clustered_data():
    """LDG must achieve a lower token-cut fraction than stateless hash on
    clustered docs — the reference's headline experimental finding
    (streaming partitioners beat random/hash on edge-cut)."""
    rng = np.random.default_rng(3)
    docs, keys = [], []
    for c in range(8):  # 8 clusters of 100 docs over disjoint vocab
        for i in range(100):
            docs.append((rng.choice(200, size=10) + c * 1000).astype(np.int64))
            keys.append(c * 100 + i)
    keys = np.asarray(keys, dtype=np.uint64)
    cap = len(docs) / 8 * 1.05
    # identical chunk barriers on both sides — cut accounting only counts
    # occurrences whose home was known at chunk start, so granularity must
    # match for a fair comparison
    ldg = GreedyShardRouter(8, cap, "ldg", chunk=64)
    ldg.assign_batch(keys, docs)
    fen = GreedyShardRouter(8, cap, "fennel", alpha=0.05, chunk=64)
    fen.assign_batch(keys, docs)
    hsh = GreedyShardRouter(8, cap, "hash", chunk=64)
    hsh.assign_batch(keys, docs)
    assert ldg.metrics()["cut_fraction"] < hsh.metrics()["cut_fraction"]
    assert fen.metrics()["cut_fraction"] < hsh.metrics()["cut_fraction"]


# ===================================================================== Spark

def test_assign_shards_spark(spark, tokens_sdf):
    from sgp_sketch.routing import assign_shards, balance_metrics

    n_docs = tokens_sdf.count()
    out = assign_shards(tokens_sdf, n_shards=8, algorithm="ldg").cache()
    assert out.count() == n_docs
    pdf = out.toPandas()
    assert pdf["shard"].between(0, 7).all()
    bm = balance_metrics(out).collect()[0]
    # per-partition capacity apportioning + stale-state chunks: allow 25%
    # over perfect balance (slack 5% is per-router; partitions uneven)
    assert bm["li_max"] <= n_docs / 8 * 1.30
    out.unpersist()


def test_replication_factor_ldg_leq_hash(spark, tokens_sdf):
    from sgp_sketch.routing import assign_shards, replication_factor, route_hash

    ldg = assign_shards(tokens_sdf, n_shards=8, algorithm="fennel")
    rf_ldg = replication_factor(tokens_sdf, ldg).collect()[0]["rf"]
    hsh = route_hash(tokens_sdf, "doc_id", 8).select("doc_id", "shard")
    rf_hash = replication_factor(tokens_sdf, hsh).collect()[0]["rf"]
    assert rf_ldg <= rf_hash * 1.02  # affinity routing shouldn't be worse


def test_salted_routing_preserves_estimates(spark, tokens_sdf):
    """Salting heavy tokens across sub-shards must not change merged HLL
    estimates — associativity is what makes skew mitigation free."""
    from pyspark.sql import functions as F

    from sgp_sketch import agg
    from sgp_sketch.routing import route_tokens_salted

    routed = route_tokens_salted(tokens_sdf, n_shards=8, replication=4)
    assert routed.filter("salted").count() > 0  # datagen has hot keys
    # per-shard partial HLLs (shard = routing decision), then global merge
    by_shard = agg.sketch_agg(routed, "hll", "token", ("shard",), {"p": 12})
    merged_salted = agg.tree_merge(by_shard, group_cols=())
    direct = agg.sketch_agg(
        tokens_sdf.select(F.explode("tokens").alias("token")),
        "hll", "token", (), {"p": 12})
    est_s = merged_salted.collect()[0]
    est_d = direct.collect()[0]
    from sgp_sketch.kernels import registry
    assert bytes(est_s["state"]) == bytes(est_d["state"])
    assert registry.from_bytes(bytes(est_s["state"])).estimate() > 0


def test_shard_load_sums_to_total(spark, tokens_sdf):
    from pyspark.sql import functions as F

    from sgp_sketch.routing import route_hash, shard_load

    n = tokens_sdf.count()
    load = shard_load(route_hash(tokens_sdf, "doc_id", 16))
    assert load.agg(F.sum("n_docs")).collect()[0][0] == n


# ======================================================= property (hypothesis)

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(st.integers(2, 16), st.integers(20, 300), st.floats(0.0, 0.2),
       st.sampled_from(["ldg", "fennel", "hash"]), st.integers(0, 10**6))
def test_capacity_and_totals_invariant(k, n_docs, slack, algorithm, seed):
    """For ANY input: every doc assigned exactly once, shards in range, and
    (for the greedy algorithms) the reference's capacity bound holds
    (EdgeCutSGP.java:58 — hash is stateless and unbounded by design)."""
    rng = np.random.default_rng(seed)
    docs = [rng.integers(0, 500, size=rng.integers(0, 12)).astype(np.int64)
            for _ in range(n_docs)]
    keys = rng.integers(0, 2**63, size=n_docs).astype(np.uint64)
    cap = n_docs / k * (1.0 + slack)
    router = GreedyShardRouter(k, cap, algorithm, alpha=0.3,
                               chunk=int(rng.integers(1, 64)))
    out = router.assign_batch(keys, docs)
    assert out.size == n_docs
    assert ((out >= 0) & (out < k)).all()
    assert router.sizes.sum() == n_docs
    if algorithm != "hash":
        assert router.sizes.max() <= int(np.ceil(cap)), (
            algorithm, router.sizes, cap)


@settings(max_examples=15, deadline=None)
@given(st.integers(0, 10**6), st.integers(1, 64))
def test_chunk_size_changes_nothing_for_hash(seed, chunk):
    """Hash routing is stateless: chunking must not affect assignments."""
    rng = np.random.default_rng(seed)
    docs = [rng.integers(0, 100, size=5).astype(np.int64) for _ in range(100)]
    keys = rng.integers(0, 2**63, size=100).astype(np.uint64)
    a = GreedyShardRouter(8, 1e9, "hash", chunk=chunk).assign_batch(keys, docs)
    b = GreedyShardRouter(8, 1e9, "hash", chunk=7).assign_batch(keys, docs)
    np.testing.assert_array_equal(a, b)


def test_range_partitioned_export(spark, tokens_sdf):
    """R7 range partitioning: repartitionByRange on n_tok gives physical
    partitions whose [min, max] key ranges are non-overlapping and ordered
    — the ordered-export layout (writer-side clustering for range-pruned
    reads)."""
    from pyspark.sql import functions as F

    ranged = (tokens_sdf.select("doc_id", "n_tok")
              .repartitionByRange(4, F.col("n_tok")))
    stats = (ranged.withColumn("p", F.spark_partition_id())
             .groupBy("p").agg(F.min("n_tok").alias("lo"),
                               F.max("n_tok").alias("hi"),
                               F.count("*").alias("n"))
             .orderBy("p").collect())
    assert 2 <= len(stats) <= 4
    assert sum(r["n"] for r in stats) == tokens_sdf.count()
    for prev, cur in zip(stats, stats[1:]):
        assert prev["hi"] <= cur["lo"]  # ordered, non-overlapping ranges


def test_salted_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    from sgp_sketch.routing import salted_join

    # maximally skewed key: 2 values over 2000 rows
    big = spark.range(2000).select(
        F.col("id").alias("row_id"),
        (F.col("id") % 2).cast("string").alias("k"),
        (F.col("id") * 7 % 101).alias("v"))
    small = spark.createDataFrame(
        [("0", 10), ("1", 20)], "k string, bonus int")
    got = (salted_join(big, small, "k", n_salts=8,
                       scatter_cols=["row_id"])
           .select("row_id", "k", "v", "bonus"))
    want = big.join(small, "k").select("row_id", "k", "v", "bonus")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    # the hint keeps it a genuine shuffle join (no broadcast), so the
    # salt actually spreads each hot key over many reducers
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan and "BroadcastHashJoin" not in plan


def test_salted_join_left_outer_keeps_unmatched(spark):
    from pyspark.sql import functions as F

    from sgp_sketch.routing import salted_join

    big = spark.range(100).select(
        F.col("id").alias("row_id"),
        (F.col("id") % 4).cast("string").alias("k"))
    small = spark.createDataFrame([("0", 1), ("1", 2)], "k string, m int")
    got = salted_join(big, small, "k", n_salts=4, how="left",
                      scatter_cols=["row_id"])
    assert got.count() == 100
    assert got.where(F.col("m").isNull()).count() == 50

def test_salted_join_rejects_row_duplicating_modes(spark):
    from sgp_sketch.routing import salted_join

    big = spark.createDataFrame([("0", 1)], "k string, v int")
    small = spark.createDataFrame([("1", 2)], "k string, m int")
    for how in ("right", "full", "full_outer", "cross"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(big, small, "k", how=how)


def test_salted_join_key_only_big_side(spark):
    """Existence-style join: the big side has ONLY the key column, so the
    default scatter set is empty — must still salt (per-row spread), not
    raise from a zero-argument xxhash64."""
    from pyspark.sql import functions as F

    from sgp_sketch.routing import salted_join

    big = spark.range(500).select((F.col("id") % 3).cast("string").alias("k"))
    small = spark.createDataFrame([("0", 10), ("1", 20)], "k string, m int")
    got = salted_join(big, small, "k", n_salts=4)
    want = big.join(small, "k")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_key_skew_profile_known_values(spark):
    from sgp_sketch.routing import key_skew_profile

    # keys: a->1 row, b->1, c->2: sorted counts [1,1,2]
    # gini = 2*(1*1+2*1+3*2)/(3*4) - 4/3 = 18/12 - 4/3 = 1/6
    rows = [("a",), ("b",), ("c",), ("c",)]
    df = spark.createDataFrame(rows, "k string")
    r = key_skew_profile(df, "k").collect()[0]
    assert r.n_keys == 3 and r.n_rows == 4 and r.max_count == 2
    assert r.top1_share == 0.5
    assert abs(r.gini - round(1 / 6, 6)) <= 1e-6


def test_key_skew_profile_extremes(spark):
    from sgp_sketch.routing import key_skew_profile

    # perfectly balanced: gini = 0
    bal = spark.createDataFrame([(i % 5,) for i in range(50)], "k long")
    assert key_skew_profile(bal, "k").collect()[0].gini == 0.0
    # one dominant key among many singletons: gini near 1
    skew = spark.createDataFrame([(0,)] * 1000 + [(i,) for i in range(1, 11)],
                                 "k long")
    r = key_skew_profile(skew, "k").collect()[0]
    assert r.gini > 0.85 and r.top1_share > 0.98
