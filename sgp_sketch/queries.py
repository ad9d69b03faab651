"""User-facing query API over sketch state tables.

The reference's "queries" are partition-quality probes (1-hop/2-hop
traversals routed to the shard owning the start vertex,
`/root/reference/scripts/interactive/gremlin/PartitioningTwoHopTest.groovy:156-169`);
ours are the four sketch queries the north_star names: distinct-token
cardinality (HLL), heavy-hitter frequencies (CMS counts over Misra–Gries
candidates), n_tok quantiles (t-digest / KLL), token membership (Bloom).

Every query builds its blobs through agg (one Arrow scan, one tree
merge); this module only finalizes them. Finalization (blob → answer)
touches one row per group — tiny — and is written once: `_blob_udf`
decodes each row's blobs and applies a function of the states (one
value, a struct, or an array<struct> that F.explode turns into rows),
and `_blob_pairs` self-joins the blob table on its group key
(key_a < key_b) and applies a function of each pair's two states. The
full-data scan path stays in agg.build_partials_multi (vectorized numpy
over Arrow batches).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import agg
from .kernels import registry
from .kernels.hashing import hash64


# --------------------------------------------------------------- finalizers

def _blob_udf(rtype: str, fn):
    """Scalar pandas UDF over blob columns: each row's blobs are decoded
    and the row's value is `fn(*states)`. A `struct<…>` rtype takes
    `fn`'s dicts as a DataFrame; any other type takes them as a Series
    (`array<struct<…>>` + F.explode is the one-row-per-item shape)."""
    from pyspark.sql.functions import pandas_udf

    struct = rtype.startswith("struct<")

    @pandas_udf(rtype)
    def decode_apply(*blobs: pd.Series) -> pd.Series:
        out = [fn(*(registry.from_bytes(bytes(b)) for b in row))
               for row in zip(*blobs)]
        return pd.DataFrame(out) if struct else pd.Series(out)
    return decode_apply


def _blob_pairs(blobs, group_cols, rtype: str, fn):
    """Every unordered pair of blob rows → (group_a, group_b, r), r =
    `fn(state_a, state_b)`. The KB-sized blob table self-joins on
    key_a < key_b, the key being the struct of the string-cast group
    columns (injective, NULL sorting first): G² pair rows spread over the
    cluster, never collected to the driver. group_a/group_b label each
    side with its group columns joined by '|' (NULLs skipped), so a label
    is ambiguous when a value contains '|' or is NULL; the pair set is
    not."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") for c in group_cols]
    keyed = blobs.select(F.struct(*cols).alias("key"),
                         F.concat_ws("|", *cols).alias("group"), "state")
    a, b = keyed.alias("a"), keyed.alias("b")
    return (a.join(b, F.col("a.key") < F.col("b.key"))
            .select(F.col("a.group").alias("group_a"),
                    F.col("b.group").alias("group_b"),
                    _blob_udf(rtype, fn)("a.state", "b.state").alias("r")))


def _estimate(st) -> float:
    return float(st.estimate())


def _quantiles_long(blobs, cols, qs):
    """Blob rows → long-form (cols..., q double, value double): one row
    per requested quantile of each row's sketch."""
    from pyspark.sql import functions as F

    qs = list(qs)
    quant = _blob_udf("array<struct<q:double,value:double>>",
                      lambda st: [{"q": float(q), "value": float(v)}
                                  for q, v in zip(qs, st.quantiles(qs))])
    return (blobs.select(*cols, F.explode(quant("state")).alias("z"))
            .select(*cols, "z.*"))


def _with_global_row(blobs, group_cols, fn, name: str,
                     include_global: bool):
    """(group_cols..., name) with `fn` (a scalar pandas UDF over the
    blob) per group row; with `include_global`, plus one row whose group
    columns all read '__all__', computed from the per-group blobs merged
    (no second scan)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    out = blobs.select(*group_cols, fn("state").alias(name))
    if not include_global:
        return out
    for c in group_cols:
        if not isinstance(blobs.schema[c].dataType, StringType):
            # the global row injects the string '__all__' into each
            # group column; a non-string column would fail the union
            # (or silently coerce the whole column to string)
            raise TypeError(
                f"include_global needs string group columns; {c!r} is "
                f"{blobs.schema[c].dataType.simpleString()} — cast it or "
                "call with include_global=False and merge separately")
    gout = agg.tree_merge(blobs, group_cols=()).select(
        *[F.lit("__all__").alias(c) for c in group_cols],
        fn("state").alias(name))
    return out.unionByName(gout)


# --------------------------------------------------------------- queries

def distinct_tokens(df, group_cols=("source",), value_col="tokens",
                    p: int = 14, include_global: bool = False):
    """Approximate COUNT(DISTINCT token) per group via HLL++.

    → DataFrame(group_cols..., est_distinct double). The exact counterpart
    is `dropDuplicates().count()` (`/root/reference/scripts/analytics/snap2metis.scala:44`).
    """
    blobs = agg.sketch_agg(df, "hll", value_col, group_cols, {"p": p})
    return _with_global_row(blobs, group_cols, _blob_udf("double", _estimate),
                            "est_distinct", include_global)


def n_tok_quantiles(df, qs=(0.01, 0.25, 0.5, 0.75, 0.99), value_col="n_tok",
                    group_cols=("source",), kind: str = "kll",
                    params: dict | None = None):
    """Approximate quantiles of a numeric column per group (KLL or t-digest).

    → DataFrame(group_cols..., q double, value double) — long form, one row
    per requested quantile, mirroring the reference's percentile rows
    (`/root/reference/containers/analytics/scripts/log_parser.py:134-138`).
    """
    blobs = agg.sketch_agg(df, kind, value_col, group_cols, params or {})
    return _quantiles_long(blobs, group_cols, qs)


def distinct_per_key(df, key_cols, value_col="tokens", kind="theta",
                     params: dict | None = None,
                     num_partitions: int | None = None):
    """Per-KEY approximate distinct — the high-cardinality state-table
    path (agg.sketch_agg_bykey): one raw-row hash shuffle on the key,
    each key's sketch built whole inside its shuffle partition, zero
    merge rounds. The per-source/partial path explodes at 10^6+ keys
    (#partitions × #keys partials); this one costs exactly what a
    built-in hash aggregate costs.

    Default kind is theta/KMV deliberately: it retains raw hashes while
    |set| < k, so per-key estimates of small sets (the overwhelmingly
    common case in per-user / per-domain state tables) are EXACT —
    `per_key_distinct` in `__spark_entry__` adjudicates this against
    COUNT(DISTINCT).

    → DataFrame(key_cols..., est_distinct double).
    """
    blobs = agg.sketch_agg_bykey(df, kind, value_col, key_cols, params,
                                 num_partitions)
    est = _blob_udf("double", _estimate)
    return blobs.select(*key_cols, est("state").alias("est_distinct"))


def quantiles_per_key(df, key_cols, value_col, qs=(0.5,), kind="dd",
                      params: dict | None = None,
                      num_partitions: int | None = None):
    """Per-KEY quantiles on the high-cardinality state-table plan (one
    hash shuffle, zero merge rounds — agg.sketch_agg_bykey). Default kind
    is DDSketch: deterministic bucket assignment makes the per-key
    estimates exactly replayable by an external engine, which is how
    `per_key_quantile` in `__spark_entry__` is adjudicated.

    → DataFrame(key_cols..., q double, value double), long form.
    """
    blobs = agg.sketch_agg_bykey(df, kind, value_col, key_cols, params,
                                 num_partitions)
    return _quantiles_long(blobs, key_cols, qs)


def heavy_hitters(df, k: int = 20, value_col="tokens", group_cols=("source",),
                  depth: int = 4, width: int = 1 << 14):
    """Top-K most frequent tokens per group: a CMS for the counts and a
    Misra–Gries summary for the candidates, both built in the one Arrow
    scan (`agg.multi_sketch_agg`, two specs) and merged tree-wise.

    Candidates are the merged MG's keys (C = max(8k, 256) counters); each
    gets its count from the merged CMS (never an underestimate, at most
    e·n/width over w.h.p.), and the top K by (count desc, token asc) are
    kept. MG keeps every token with frequency > n/(C+1) under any merge
    order, so a top-K token above that line is always ranked. Below it
    the counter set depends on the partitioning: on near-uniform
    vocabularies (≥ 1,000 tokens, none above n/(C+1)) the list can differ
    from the exact top K and between layouts. Simulated Zipf inputs
    (s = 0.5–1.0, 500–10,000 tokens, 4 and 16 partitions) ranked the same
    top 10 as per-partition exact candidate heaps of C tokens would.

    → DataFrame(group_cols..., token long, est_count long, rank int).
    """
    group_cols = list(group_cols)
    specs = {"cms": {"kind": "cms", "value_col": value_col,
                     "params": {"depth": depth, "width": width}},
             "cand": {"kind": "mg", "value_col": value_col,
                      "params": {"k": max(8 * k, 256)}}}
    blobs = agg.multi_sketch_agg(df, specs, group_cols)

    def finalize(key, pdf):
        st = dict(zip(pdf["sketch"], map(registry.from_bytes, pdf["state"])))
        cands = st["cand"].keys
        est = st["cms"].estimate_hashes(hash64(cands.view(np.uint64)))
        order = np.lexsort((cands, -est))[:k]
        row_base = {c: pdf[c].iloc[0] for c in group_cols}
        rows = [dict(row_base, token=int(cands[i]), est_count=int(est[i]),
                     rank=r + 1) for r, i in enumerate(order)]
        return pd.DataFrame(rows)

    out_schema = agg._schema_prefix(df.schema, group_cols) + \
        "token long, est_count long, rank int"
    return blobs.groupBy(*group_cols).applyInPandas(finalize, out_schema)


def build_membership(df, value_col="tokens", group_cols=("source",),
                     n_blocks: int = 1 << 14):
    """Per-group blocked Bloom filters over all values → blob table."""
    return agg.sketch_agg(df, "bloom", value_col, group_cols,
                          {"n_blocks": n_blocks})


def vocabulary_overlap(df, group_cols=("source",), value_col="tokens",
                       p: int = 14):
    """Pairwise distinct-token overlap between groups via HLL
    inclusion–exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), where A∪B is
    the kernel merge of the two group blobs (no rescan — sketch algebra on
    the per-group states). The U2/U4 set-operation family computed from
    KB-sized summaries instead of data.

    → DataFrame(group_a, group_b, est_a, est_b, est_union, est_overlap,
    jaccard) for every unordered group pair.

    Distributed shape: the KB-sized blob table self-joins on its group
    key, key_a < key_b (G² *pair rows*, spread over the cluster — never
    collected to the driver) and a pandas UDF merges each pair's two blobs.
    High-cardinality group columns (days, domains) therefore scale like any
    other join, instead of an O(G²) driver loop over collected state.
    """
    from pyspark.sql import functions as F

    blobs = agg.sketch_agg(df, "hll", value_col, group_cols, {"p": p})
    pairs = _blob_pairs(
        blobs, group_cols, "array<double>",
        lambda a, b: [_estimate(a), _estimate(b), _estimate(a.merge(b))])
    e = F.col("r")
    eu = e[2]
    inter = F.greatest(F.lit(0.0), e[0] + e[1] - eu)
    return pairs.select(
        "group_a", "group_b",
        F.round(e[0], 1).alias("est_a"),
        F.round(e[1], 1).alias("est_b"),
        F.round(eu, 1).alias("est_union"),
        F.round(inter, 1).alias("est_overlap"),
        F.round(F.when(eu > 0, inter / eu).otherwise(0.0), 4)
        .alias("jaccard"))


def vocabulary_overlap_theta(df, group_cols=("source",),
                             value_col="tokens", k: int = 4096):
    """Pairwise vocabulary set algebra via THETA sketches: per unordered
    group pair, direct estimates of |A∪B|, |A∩B|, |A−B| from the sample
    overlap of the two groups' retained hash sets — NOT inclusion–
    exclusion (that is vocabulary_overlap's HLL path, whose intersection
    error scales with the union size; theta's scales with the sample).

    Same distributed shape as vocabulary_overlap: KB-sized blob table
    self-joined on key_a < key_b, pandas UDF evaluates the set
    expressions per pair row. → DataFrame(group_a, group_b, est_a, est_b,
    est_union, est_inter, est_diff_ab, jaccard).
    """
    from pyspark.sql import functions as F

    blobs = agg.sketch_agg(df, "theta", value_col, group_cols, {"k": k})
    pairs = _blob_pairs(
        blobs, group_cols, "array<double>",
        lambda a, b: [_estimate(a), _estimate(b), _estimate(a.merge(b)),
                      _estimate(a.intersect(b)), _estimate(a.a_not_b(b))])
    e = F.col("r")
    eu = e[2]
    return pairs.select(
        "group_a", "group_b",
        F.round(e[0], 1).alias("est_a"),
        F.round(e[1], 1).alias("est_b"),
        F.round(eu, 1).alias("est_union"),
        F.round(e[3], 1).alias("est_inter"),
        F.round(e[4], 1).alias("est_diff_ab"),
        F.round(F.when(eu > 0, e[3] / eu).otherwise(0.0), 4)
        .alias("jaccard"))


def build_sharded_membership(df, n_shards: int = 32, value_col: str = "tokens",
                             n_blocks: int = 1 << 10):
    """Token-sharded Bloom filter table: one blob per shard, the shard
    from `routing.route_hash` (R1 hash routing). Written
    `partitionBy("shard")`, a point probe reads exactly one shard directory
    — the reference's partition-aware query routing (R6, README.md:342;
    memcached lookup replaced by storage-level pruning)."""
    from pyspark.sql import functions as F

    from .routing import route_hash

    # cast to long BEFORE routing: the hash reads the binary width, so an
    # int32 token and the same value as int64 route to different shards —
    # probes (always long) must see the same bytes the build saw
    tokens = df.select(F.explode(value_col).alias("t")).select(
        F.col("t").cast("long").alias("token"))
    return build_membership(route_hash(tokens, "token", n_shards), "token",
                            ("shard",), n_blocks)


def probe_sharded_membership(spark, blob_path: str, tokens, n_shards: int):
    """Point membership probes against a shard-partitioned Bloom table
    built by `build_sharded_membership` with the same `n_shards`: route
    each probe with the build's `routing.route_hash`, read ONLY those
    shard partitions (PartitionFilters prune the rest) and probe them
    with `probe_membership`. → DataFrame(token long, maybe_present bool)."""
    from pyspark.sql import functions as F

    from .routing import route_hash

    probes = route_hash(spark.createDataFrame(
        [(int(t),) for t in tokens], "token long"), "token", n_shards)
    shards = [r["shard"] for r in probes.select("shard").distinct().collect()]
    blobs = (spark.read.parquet(blob_path)
             .filter(F.col("shard").isin(shards)))
    return (probe_membership(spark, blobs, probes, ("shard",))
            .select("token", "maybe_present"))


def probe_membership(spark, blobs_df, probes, group_cols=("source",)):
    """Probe tokens against per-group Bloom filters.

    `probes`: list[(group..., token)] or DataFrame(group..., token).
    → DataFrame(group..., token long, maybe_present boolean). Approximate
    analog of the reference's memcached point lookups
    (`/root/reference/scripts/interactive/gremlin/ADJParser.groovy:223-242`):
    the filter table is tiny → broadcast, never a per-row RPC.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    group_cols = list(group_cols)
    local = {tuple(r[c] for c in group_cols): bytes(r["state"])
             for r in blobs_df.collect()}
    bc = spark.sparkContext.broadcast(local)

    if not hasattr(probes, "columns"):
        probes = spark.createDataFrame(
            [tuple(p) for p in probes], group_cols + ["token"])

    cache: dict = {}  # per-task: deserialize blobs once, not per batch

    @pandas_udf("boolean")
    def probe(token: pd.Series, *gcols: pd.Series) -> pd.Series:
        filters = cache.get("f")
        if filters is None:
            filters = cache["f"] = {g: registry.from_bytes(b)
                                    for g, b in bc.value.items()}
        keys = pd.MultiIndex.from_arrays(list(gcols)) if gcols else None
        out = np.zeros(len(token), dtype=bool)
        toks = token.to_numpy().astype(np.int64)
        if keys is None:
            flt = filters.get(())
            if flt is not None:
                out[:] = flt.contains(toks.view(np.uint64))
        else:
            kdf = pd.DataFrame({i: g.to_numpy() for i, g in enumerate(gcols)})
            for gval, idx in kdf.groupby(list(kdf.columns), sort=False).groups.items():
                gval = gval if isinstance(gval, tuple) else (gval,)
                flt = filters.get(gval)
                if flt is not None:
                    ii = np.asarray(idx)
                    out[ii] = flt.contains(toks[ii].view(np.uint64))
        return pd.Series(out)

    return probes.withColumn(
        "maybe_present", probe(F.col("token"), *[F.col(c) for c in group_cols]))

def mg_heavy_hitters(df, k: int = 10, counters: int = 1024,
                     value_col="tokens", group_cols=("source",)):
    """Top-K most frequent tokens per group via the Misra–Gries summary
    (kernels/mg.py) — the deterministic, one-sided twin of the CMS path
    in `heavy_hitters`: every reported count is a lower bound tight to
    within the summary's decrement total, reported per row as the
    [est_min, est_max] bracket (est_max − est_min = dec ≤ n/(counters+1)).
    When the group's vocabulary fits the counter budget no eviction ever
    happens, dec = 0, and the bracket collapses to the exact count.

    Shape: the shared Arrow scan (`agg.sketch_agg`, one pass, zero-copy
    token buffers) builds per-partition MG states; blobs merge tree-wise
    by the PODS'12 summary-merge; the final per-group blob (KB-sized,
    |groups| rows) is exploded driver-free, one row per reported token.

    → DataFrame(group_cols..., token long, est_min long, est_max long,
    rank int), rank by (count desc, token asc).
    """
    from pyspark.sql import functions as F

    def top(st):
        keys, cnts = st.heavy_hitters()
        return [{"token": int(keys[i]), "est_min": int(cnts[i]),
                 "est_max": int(cnts[i]) + st.dec, "rank": i + 1}
                for i in range(min(int(k), keys.size))]

    blobs = agg.sketch_agg(df, "mg", value_col, group_cols,
                           {"k": int(counters)})
    hh = _blob_udf("array<struct<token:long,est_min:long,est_max:long,"
                   "rank:int>>", top)
    return (blobs.select(*group_cols, F.explode(hh("state")).alias("h"))
            .select(*group_cols, "h.*"))


# ------------------------------------------------------- state introspection

def hll_register_table(blobs_df, group_cols=("grp",)):
    """Long-form dump of the NONZERO HLL registers in a blob table:
    → DataFrame(group_cols..., idx int, rank int).

    Mode-independent: sparse codes and dense registers decode to the same
    (idx, max-rank) pairs, so the output is a pure function of the
    distinct-hash set — which is what lets an external engine re-derive
    it from the raw table and hash-compare (`hll_register_replay` in
    `__spark_entry__`, via oracle_replay.hll_register_cols). This is the
    sketch-state analog of the reference's partition-assignment dump
    (`EdgeCutSGP.java:247-255` writes the raw id→partition map, not a
    summary of it)."""
    from pyspark.sql import functions as F

    def nonzero(h):
        if h.sparse is not None:
            idx = (h.sparse >> np.uint32(6)).astype(int)
            rank = (h.sparse & np.uint32(63)).astype(int)
        else:
            idx = np.flatnonzero(h.dense)
            rank = h.dense[idx].astype(int)
        return [{"idx": int(i), "rank": int(r)} for i, r in zip(idx, rank)]

    regs = _blob_udf("array<struct<idx:int,rank:int>>", nonzero)
    return (blobs_df.select(*group_cols, F.explode(regs("state")).alias("r"))
            .select(*group_cols, "r.*"))


def theta_summary_table(blobs_df, group_cols=("grp",)):
    """Theta/KMV state summary per group: retained-sample size, inclusion
    probability and the estimate derived from them —
    → DataFrame(group_cols..., n_retained long, theta_frac double,
    est_distinct double).

    All three are deterministic order statistics of the distinct-hash set
    (kernels/theta.py:_trim keeps the k smallest below the (k+1)-th), so
    an order-statistic window query re-derives them exactly
    (`theta_kmv_replay` oracle)."""
    summ = _blob_udf(
        "struct<n_retained:long,theta_frac:double,est_distinct:double>",
        lambda t: {"n_retained": int(t.retained.size),
                   "theta_frac": float(t._theta_frac()),
                   "est_distinct": _estimate(t)})
    return (blobs_df.select(*group_cols, summ("state").alias("s"))
            .select(*group_cols, "s.*"))
