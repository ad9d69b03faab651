"""Physical-plan invariants across the driver query surface — the
would-this-survive-100-TB regression net:

  * no CartesianProduct anywhere (the one nested-loop join allowed is
    knn_bruteforce's 1-row broadcast: BroadcastNestedLoopJoin BuildRight)
  * exact-path (oracle-checked) queries are fully declarative — no Python
    evaluation node may appear in their plans (Python belongs to the
    sketch/signature paths only)
  * column pruning reaches the scan: documents-table word queries read
    only the columns they use, never the whole row

Plans are inspected lazily (no execution), so the whole surface checks in
seconds.
"""

import pytest

import __spark_entry__ as entry

PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
            "FlatMapGroupsInPandas", "MapInArrow", "PythonMapInArrow")

# oracle-checked queries that legitimately run Python or per-invocation
# side jobs (stateful builds / staged CSV / collected results)
EXEMPT = {
    "checkpointed_hll", "streamed_hll",         # collected memoized rows
    "incremental_hll",                          # collected memoized rows
    "windowed_stream_counts",                   # streaming memory sink
    "csv_roundtrip",                            # staged CSV side effect
    "json_roundtrip",                           # staged JSONL side effect
    "bfs_reachability", "connected_components", # driver-looped graph algos
    "sssp", "pagerank", "k_hop",
    "minhash_verified_dupes", "curation_funnel",  # signature pandas UDF
    "langid_heuristic", "stratified_sample",
    "doc_fingerprint",        # simhash kernel (mapInArrow) IS the operator
                              # under adjudication; its oracle replays the
                              # full xxhash64→splitmix64→majority chain
    "triangle_count",                           # eager memoized counts
    "stream_dedup_users",                       # streaming memory sink
    "stream_stream_join",                       # streaming memory sink
    "heavy_hitters_bracket",  # bracket UDF over <=5 rows/source by design:
                              # the query's POINT is evaluating MG/CMS
                              # kernel estimates against the exact top-k
    "theta_bounds_check",     # theta pair-algebra UDF over |pairs| KB blob
                              # rows — the query's POINT is evaluating the
                              # kernel estimates against the exact overlap
    "theta_vocab_overlap",    # same pair-algebra UDF shape; its oracle
                              # replays the exact-mode set algebra over the
                              # xxhash64→splitmix64 chain
    "hll_distinct_tokens",    # sketch build (mapInArrow) + estimate UDF IS
    "hll_daily_users",        # the operator; oracles replay the sparse
                              # linear-counting estimate over the full chain
    "vocab_overlap",          # HLL pair-merge UDF over KB blob rows; its
                              # oracle replays sparse inclusion-exclusion
    "bloom_membership",       # broadcast-filter probe UDF; its oracle
                              # replays exact blocked-Bloom bit containment
    "simhash_near_dup",       # simhash kernel UDF feeds the candidate
                              # join; oracle replays fingerprints, caps,
                              # bucketing and hamming verify exactly
    "minhash_near_dup",       # minhash kernel UDF feeds banded LSH; its
                              # oracle replays shingles, 64 lanes, band
                              # buckets, caps and the keq/64 estimate
    "cms_heavy_hitters",      # CMS + MG candidate build (mapInArrow) IS
                              # the operator; collision-free corpus makes
                              # the estimates exact (oracle loud-guards it)
    "cosine_pairs",           # the exact all-pairs GEMM IS the vectorized
    "cosine_pairs_blocked",   # Python path (one BLAS call per partition /
                              # block pair) — see dedup.exact_cosine_pairs
    "per_key_distinct",       # per-key sketch STATE build (mapInArrow is
                              # the operator) + estimate UDF; the oracle
                              # matches because theta is exact below k
    "per_key_quantile",       # same per-key plan with DDSketch; the oracle
                              # matches via DD's deterministic replay
    "hll_register_replay",    # sketch-STATE replay family: the kernel
    "theta_kmv_replay",       # build (mapInArrow) + state-dump finalizer
    "bloom_bits_replay",      # IS the operator under test; the oracle
    "cms_counter_replay",     # re-derives the state with splitmix64 in
    "minhash_sig_replay",     # HUGEINT SQL (sgp_sketch/oracle_replay.py),
    "simhash_fp_replay",      # so Python nodes here are the very thing
    "theta_algebra_replay",   # being adjudicated, not an accident
    "checkpoint_resume_replay",  # collected memoized rows (staged build)
    "ldg_route_replay",       # greedy-route replay family: the chunk=1
    "fennel_route_replay",    # sequential router (mapInArrow over ONE
    "route_quality_replay",   # ordered partition, bounded K=512) IS the
                              # operator under adjudication — the
                              # production assign_shards path stays
                              # plan-clean and is gated separately
    "frontier_profile_replay",  # eager: runs k_hop to collect the
                              # observed step metrics (like triangle_count)
    "cms_cu_replay",          # conservative-update CMS under a fixed
                              # two-phase schedule — the applyInPandas
                              # kernel call IS the operator adjudicated
    "mg_summary_replay",      # Misra-Gries batch-absorb + driver-side
                              # fold-merge of bounded (<=k+1/scope) rows
    "tdigest_centroid_replay",  # t-digest single-batch builds + one
                              # kernel merge() of bounded centroid rows
    "kll_compactor_replay",   # KLL builds + fixed-order merge fold of
                              # bounded (~cap_total/scope) level rows
}


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark):
    sf = "/root/testdata/sf0.001"
    qs, oracles = entry.queries(), entry.oracle_sql()
    out = {}
    for name, fn in qs.items():
        if name in EXEMPT or name not in oracles:
            continue
        out[name] = _plan(fn(spark, sf))
    return out


def test_no_cartesian_product(plans):
    offenders = {n for n, p in plans.items() if "CartesianProduct" in p}
    assert not offenders, offenders


def test_exact_queries_are_declarative(plans):
    """Every oracle-checked query plan must stay JVM-side end to end."""
    offenders = {n: [k for k in PY_NODES if k in p]
                 for n, p in plans.items() if any(k in p for k in PY_NODES)}
    assert not offenders, offenders


def test_column_pruning_reaches_scan(plans):
    """distinct_words needs only (source, text): the documents scan must
    not read doc_id/lang/n_chars."""
    scan = [ln for ln in plans["distinct_words"].splitlines()
            if "FileScan" in ln and "documents" in ln]
    assert scan and "ReadSchema" in scan[0]
    assert "doc_id" not in scan[0] and "n_chars" not in scan[0]


def test_broadcast_join_has_no_fact_shuffle(spark):
    """broadcast_join_agg: the only Exchange below the aggregate is the
    tiny post-agg hash exchange — the orders fact table itself is never
    shuffled (both dims broadcast)."""
    p = _plan(entry.q_broadcast_join_agg(spark, "/root/testdata/sf0.001"))
    assert p.count("BroadcastExchange") == 2
    # exactly one data Exchange: the partial->final agg on n_name
    non_broadcast = [ln for ln in p.splitlines()
                     if "Exchange" in ln and "BroadcastExchange" not in ln]
    assert len(non_broadcast) == 1, non_broadcast


def test_bucket_cap_has_no_window_exec(spark):
    """LSH/SimHash bucket sizing must be groupBy+join, not a window over
    the bucket keys: a degenerate 10^8-row boilerplate bucket would land
    in ONE window task before being dropped, while the groupBy
    partial-aggregates map-side."""
    from sgp_sketch import dedup

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    for df in (
        dedup.minhash_near_duplicates(docs, threshold=0.8),
        dedup.simhash_near_duplicates(entry._doc_tokens(spark, sf),
                                      max_hamming=3),
    ):
        assert "Window" not in _plan(df)


def test_bucketed_join_query_has_no_prejoin_exchange(spark):
    """The registered bucketed_join query must join the two bucketed
    tables without SHUFFLING either side: the only hash-partition
    Exchange in the plan is the tiny post-aggregation one. (At sf0.001
    the planner may broadcast the small side — a BroadcastExchange is
    not a data shuffle; the co-located SortMergeJoin case is asserted
    shuffle-free in tests/test_catalog.py with broadcast disabled.)"""
    p = _plan(entry.q_bucketed_join(spark, "/root/testdata/sf0.001"))
    shuffles = [ln for ln in p.splitlines()
                if "Exchange hashpartitioning" in ln]
    assert len(shuffles) == 1 and "o_orderpriority" in shuffles[0], shuffles
    assert "Bucketed: true" in p

def test_latest_event_dist_is_aggregate_not_window(spark):
    """The arg-max query must plan as a combinable max_by hash aggregate
    (partial_max_by below the user_id exchange), never a
    repartition+sort window."""
    p = _plan(entry.q_latest_event_dist(spark, "/root/testdata/sf0.001"))
    assert "Window" not in p
    assert "max_by" in p and "partial_max_by" in p


def test_mad_outliers_broadcasts_group_tables(spark):
    """The per-group median/MAD tables must come back as broadcast
    joins; the events fact is never shuffled by anything but the group
    key (no SortMergeJoin over the rows)."""
    p = _plan(entry.q_mad_outliers(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_zipf_rank_window_is_post_aggregate(spark):
    """zipf_slope's single-partition rank window must consume the
    aggregated distinct-token table (its child contains the count
    HashAggregate), never raw corpus rows."""
    p = _plan(entry.q_zipf_slope(spark, "/root/testdata/sf0.001"))
    lines = p.splitlines()
    widx = next(i for i, ln in enumerate(lines) if "Window" in ln)
    assert any("HashAggregate" in ln for ln in lines[widx:]), \
        "rank window must sit above the token-count aggregate"


def test_per_key_build_is_one_shuffle(spark):
    """per_key_distinct: the whole per-key state build must cost exactly
    ONE Exchange (hash on the key) — no tree-merge rounds, no second
    shuffle. The scan must read only (user_id, event_type)."""
    p = _plan(entry.q_per_key_distinct(spark, "/root/testdata/sf0.001"))
    assert p.count("Exchange") == 1, p
    assert "hashpartitioning(user_id" in p
    scan = [ln for ln in p.splitlines() if "FileScan" in ln][0]
    assert "event_id" not in scan and "props" not in scan


def test_heavy_hitters_plan_is_one_merge_and_runs_no_job(spark,
                                                        tokens_sdf):
    """heavy_hitters on a shuffled input: one Arrow merge round plus the
    grouped-map finalize, and building the plan runs no Spark job — the
    round count comes from the default parallelism, not from counting
    the input's partitions."""
    from sgp_sketch import queries

    sc = spark.sparkContext
    group = "heavy_hitters_plan"
    sc.setJobGroup(group, "plan only")
    try:
        out = queries.heavy_hitters(tokens_sdf.repartition(5), k=5)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert plan.count("MapInArrow merge(") == 1, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert jobs == [], jobs


def test_parquet_build_reads_files_in_its_tasks(spark, tokens_sdf,
                                                tmp_path):
    """multi_sketch_agg over a bare parquet read: no FileScan (the Python
    tasks read the files), no Spark job while the plan is built, and one
    Arrow merge round. A filtered read keeps Spark's scan and its
    partition pruning."""
    from pyspark.sql import functions as F

    from sgp_sketch import agg

    path = str(tmp_path / "tokens")
    tokens_sdf.write.partitionBy("source").parquet(path)
    df = spark.read.parquet(path)   # schema inference may run a job
    specs = agg.single_spec("hll", "tokens", {"p": 12})
    sc = spark.sparkContext
    group = "parquet_build_plan"
    sc.setJobGroup(group, "plan only")
    try:
        out = agg.multi_sketch_agg(df, specs)
        plan = _plan(out)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert "FileScan" not in plan, plan
    assert "MapInArrow read_files(" in plan, plan
    assert jobs == [], jobs
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("MapInArrow merge(") == 1, optimized
    filtered = _plan(agg.multi_sketch_agg(
        df.filter(F.col("source") == "web"), specs))
    scans = [ln for ln in filtered.splitlines() if "FileScan" in ln]
    assert len(scans) == 1 and "PartitionFilters: [isnotnull(source" \
        in scans[0], filtered


def test_two_hop_seeded_broadcasts_seeds(spark):
    """two_hop_seeded (the reference's per-seed traversal shape,
    PartitioningTwoHopTest.groovy:156): the 5-row seed list must
    BROADCAST into the first hop — if it ever shuffle-joins, the query
    has degenerated into the all-pairs census form whose deg² hot-key
    bound q_two_hop documents."""
    p = _plan(entry.q_two_hop_seeded(spark, "/root/testdata/sf0.001"))
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_driver_window_and_oracle_surface_consistency():
    """Guards the driver contract shape without Spark: every oracle key
    must name a registered query, and the names that need a FRESH green
    CORRECTNESS row this round (r4 hash-fixes, rotated graph oracles,
    and the whole replay family) must sit inside the driver's 50-query
    adjudication window — enumeration order is deliberate (SURVEY §9);
    an accidental alphabetization or append-at-end would silently
    de-adjudicate them."""
    qs, oracles = entry.queries(), entry.oracle_sql()
    missing = set(oracles) - set(qs)
    assert not missing, f"oracles without queries: {sorted(missing)}"
    window = list(qs)[:50]
    must_be_windowed = {
        "merge_upsert", "vocab_build", "pagerank", "sssp",
        "connected_components", "labeled_adjacency_scan",
        "two_hop_seeded",
        "hll_register_replay", "theta_kmv_replay", "bloom_bits_replay",
        "cms_counter_replay", "minhash_sig_replay", "simhash_fp_replay",
        "theta_algebra_replay", "checkpoint_resume_replay",
        "cms_cu_replay", "mg_summary_replay", "tdigest_centroid_replay",
        "kll_compactor_replay", "ldg_route_replay", "fennel_route_replay",
        "route_quality_replay", "salted_route_replay",
        "frontier_profile_replay",
    }
    out = must_be_windowed - set(window)
    assert not out, f"fell out of the driver window: {sorted(out)}"
    # every windowed name needing adjudication must actually have an
    # oracle (rows-only entries in the window waste adjudication slots
    # only when deliberate)
    assert must_be_windowed <= set(oracles)
