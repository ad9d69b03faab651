"""Spark aggregation layer: partial sketch states per partition, tree-wise
merge to one blob per group.

Execution shape (the partial+final split Spark applies to built-in
aggregates, made explicit for our binary states — SURVEY.md §2.4):

  read → [mapInArrow] one partial state per (partition × group × spec)
         (map-side combine: the analog of the reference's per-partition
         counters, `/root/reference/src/main/java/ca/uwaterloo/cs/sgp/streaming/EdgeCutSGP.java:28-31`)
       → [repartition + mapInArrow rounds] `tree_merge`: FANIN-ary tree
         over part_id buckets, O(log_FANIN P) shuffle rounds of KB-sized
         blobs, each task folding its rows into one state per key
       → one row per (group, sketch).

`build_partials_multi` is the only sketch builder: hash kinds (hll, cms,
bloom, theta, mg, cs) over token lists or integer columns, numeric kinds
(kll, tdigest, dd, moments) over scalar columns, and Frequent Directions
over fixed-length vector columns. `tree_merge` is the only blob merge: it
finishes a build, and it re-aggregates existing blob tables to a coarser
grouping (per-source → global, streamed batches, checkpoint slices).

Why not groupBy(group).applyInPandas over raw rows: that shuffles ALL input
bytes to as many tasks as there are groups (8 sources ⇒ 8 tasks for 100 TB).
Partials shuffle only #partitions × #groups blobs — the only full-data pass
is the embarrassingly-parallel scan.

Grouping-cardinality tradeoff: the partial model shines for low-cardinality
group keys (sources, days). For high-cardinality keys the partial count is
#partitions × #groups; sparse blob encoding (HLL sparse mode, CMS/Bloom COO)
keeps small per-group states at KBs, but beyond ~10^5 groups per partition
prefer the raw-row key shuffle of `sketch_agg_bykey` — at that point each
group's data is small enough that shuffling it raw is the cheaper plan.

All kernels run vectorized numpy over Arrow batches; no per-row Python in the
scan path (BASELINE.json input_hint).

Worker heap: both Spark task functions (`build_partials_multi`'s scan task
and `tree_merge`'s round task) start with `gc.freeze()`, moving every object
alive when the task starts (modules, numpy, pyarrow, the kernels) to the
collector's permanent generation. PySpark's worker daemon runs
`gc.collect()` after each task in a reused worker; with that heap frozen
the collect walks only the task's own objects (10-23 ms → ~20 µs per task
on a 74k-object worker). The daemon has already collected the previous
task's cyclic garbage when the next task freezes, so the frozen set holds
no earlier task's garbage and stays flat from task to task. The freeze is
in the task functions, not in `_merge_batches`, so a driver-side merge can
reuse that body without freezing the driver's heap.
"""

from __future__ import annotations

import gc
import math

import numpy as np

from .kernels import registry
from .kernels.hashing import hash64

PARTIAL_SCHEMA_TAIL = ("sketch_type string, state binary, n_items long, "
                       "part_id long")

# blobs merged by one task in one tree-merge round
FANIN = 64


def _schema_prefix(schema, cols) -> str:
    """DDL fields ("a string, b int, ") for `cols` of a Spark schema —
    the group-column head of a grouped UDF's output schema."""
    return "".join(f"{c} {schema[c].dataType.simpleString()}, "
                   for c in cols)


def _group_arrays(schema, cols, values: dict) -> list:
    """Arrow arrays for the group columns of an output batch, typed as
    the Spark schema declares them: inference would give int64 for an
    int32 group column, and Spark's Arrow reader then fails on the width
    mismatch ("Cannot call getInt") only when a query groups by it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    return [pa.array(values[c], type=to_arrow_type(schema[c].dataType))
            for c in cols]


def _unique_counts(flat: np.ndarray):
    """np.unique(return_counts) with a bincount fast path for dense bounded
    vocabularies (token ids): scatter-increment into a cache-resident count
    array beats a full O(n log n) sort on both CPU and — crucially for
    multi-core scaling — memory bandwidth."""
    if flat.size > 4096 and flat.dtype.kind in "iu":
        lo = int(flat.min())
        if lo >= 0:
            hi = int(flat.max())
            if hi < (1 << 22) and hi + 1 <= flat.size * 8:
                counts = np.bincount(flat, minlength=hi + 1)
                uniq = np.flatnonzero(counts)
                return uniq.astype(flat.dtype, copy=False), counts[uniq]
    return np.unique(flat, return_counts=True)


def _merge_batches(batches, group_cols, schema):
    """Fold blob rows (group_cols…, sketch_type, state, n_items, part_id)
    arriving as Arrow batches to one row per distinct (group_cols…,
    sketch_type, part_id): the tree-merge round body.

    Each row is decoded and merged into its key's state as it arrives
    (the left fold `registry.merge_blobs` runs), so a task holds one
    state per key, never every blob. `n_items` sums per key. Output rows
    come in one batch sorted by key, the order Spark's sort-based grouping
    emits: kll, tdigest and mg merges depend on input order, so a later
    merge of these rows (per-source → global, the next round) only sees
    the same order, and gives the same bytes, if each task emits sorted.
    `schema` is the input's Spark schema; it types the group columns."""
    import pyarrow as pa

    keys = group_cols + ["sketch_type", "part_id"]
    acc: dict[tuple, list] = {}   # key → [state, n_items]
    for batch in batches:
        cols = [batch.column(c).to_pylist() for c in keys]
        for key, blob, n in zip(zip(*cols),
                                batch.column("state").to_pylist(),
                                batch.column("n_items").to_pylist()):
            st = registry.from_bytes(blob)
            cur = acc.get(key)
            if cur is None:
                acc[key] = [st, n]
            else:
                cur[0] = cur[0].merge(st)
                cur[1] += n
    if not acc:
        return
    # ascending, nulls first, as Spark sorts
    order = sorted(acc, key=lambda k: tuple((v is not None, v) for v in k))
    values = {c: [k[i] for k in order] for i, c in enumerate(keys)}
    arrays = _group_arrays(schema, group_cols, values) + [
        pa.array(values["sketch_type"], pa.string()),
        pa.array([acc[k][0].to_bytes() for k in order], pa.binary()),
        pa.array([acc[k][1] for k in order], pa.int64()),
        pa.array(values["part_id"], pa.int64())]
    yield pa.RecordBatch.from_arrays(
        arrays, names=group_cols + ["sketch_type", "state", "n_items",
                                    "part_id"])


def tree_merge(partials, out_schema: str | None = None,
               group_cols=("source",), n_parts: int | None = None):
    """Merge blob rows (group_cols…, sketch_type, state, n_items[,
    part_id]) to one row per (group_cols × sketch_type); drops part_id.

    The one blob merge: it ends every build, and it re-aggregates existing
    blob tables to a coarser grouping (e.g. per-source → global).
    Associativity of the kernels is exactly what makes that legal — the
    same invariant the reference's `reduceByKey(_ ++ _)` relies on
    (`/root/reference/scripts/analytics/snap2adj.scala:16`). `out_schema`
    defaults to the group columns' types in `partials` plus
    PARTIAL_SCHEMA_TAIL; a caller's `out_schema` must declare the same
    types.

    Each round is one `repartition(*keys)` plus one `mapInArrow` of
    `_merge_batches`: Arrow batches in, one folded state per key, rows
    sorted by key out (that sort keeps order-dependent kinds byte-equal
    to Spark's sort-based grouping; see `_merge_batches`). No pandas
    frame and no per-group UDF call.

    `n_parts` (the partial count upper bound = input partition count)
    sets the round count while the plan is built, without a counting
    job; omitted, the merge is one round. Intermediate rounds shrink the part_id bucket
    count by FANIN each; the last round always collapses to part_id=0, so
    the result is exactly one row per key even if `n_parts`
    under-estimated the true partition count."""
    from pyspark.sql import functions as F

    group_cols = list(group_cols)
    keys = group_cols + ["sketch_type", "part_id"]
    df = partials
    if "part_id" not in df.columns:
        df = df.withColumn("part_id", F.lit(0).cast("long"))
    schema = df.schema
    if out_schema is None:
        out_schema = _schema_prefix(schema, group_cols) + \
            PARTIAL_SCHEMA_TAIL

    def merge(batches):
        gc.freeze()   # worker heap: see the module docstring
        return _merge_batches(batches, group_cols, schema)

    def merge_round(df):
        return df.repartition(*keys).mapInArrow(merge, out_schema)

    rounds = (1 if n_parts is None
              else max(1, math.ceil(math.log(max(n_parts, 2), FANIN))))
    for _ in range(rounds - 1):
        df = merge_round(df.withColumn(
            "part_id", (F.col("part_id") / F.lit(FANIN)).cast("long")))
    return merge_round(df.withColumn("part_id", F.lit(0).cast("long"))) \
        .drop("part_id")


def single_spec(kind: str, value_col: str,
                params: dict | None = None) -> dict:
    """The one-entry `specs` dict for a single-kind build; the spec is
    named after its kind."""
    return {kind: {"kind": kind, "value_col": value_col,
                   "params": params or {}}}


def sketch_agg(df, kind: str, value_col: str, group_cols=("source",),
               params: dict | None = None):
    """End-to-end: partials → tree merge → one blob row per group.

    `multi_sketch_agg` with a single spec."""
    merged = multi_sketch_agg(df, single_spec(kind, value_col, params),
                              group_cols)
    return merged.drop("sketch")


def sketch_agg_bykey(df, kind: str, value_col: str, key_cols=("key",),
                     params: dict | None = None,
                     num_partitions: int | None = None):
    """High-cardinality per-KEY sketch build — the other side of the
    grouping-cardinality tradeoff documented in the module docstring.

    The partial+tree-merge path (multi_sketch_agg) is right for
    low-cardinality group keys (sources, days): partial count =
    #partitions × #groups. For per-user / per-domain state tables with
    10^6–10^9 keys that product explodes, while each key's OWN data is
    tiny — so the cheaper plan is the one Spark's built-in aggregates use:
    ONE hash shuffle of the raw rows on the key, then build each key's
    sketch completely inside its shuffle partition. After
    `repartition(key)` every row of a key sits in exactly one partition,
    so the per-partition partial IS the final state — no merge rounds at
    all, and the output (key, blob) table is itself partitioned by key,
    ready for a co-located point-lookup join or a partitioned write.

    Output: key_cols…, sketch_type, state, n_items — one row per distinct
    key. Merge-freedom is load-bearing for exactness-below-k sketches
    (theta/KMV stores raw hashes while |set| < k, so per-key estimates of
    small sets are EXACT — `per_key_distinct` in `__spark_entry__` is
    oracle-adjudicated against COUNT(DISTINCT) on that basis).

    `num_partitions` defaults to spark.sql.shuffle.partitions; size it so
    (#keys × state bytes) / partitions fits the executor heap — sparse
    states for small sets are O(set) bytes, so the resident cost is about
    the partition's raw data, same as any built-in hash aggregate."""
    rep = (df.repartition(num_partitions, *key_cols) if num_partitions
           else df.repartition(*key_cols))
    # the same one-spec Arrow build as sketch_agg, minus the merge. On a
    # 4-core box (local[4], warm, medians of 3 alternating runs) it beat
    # the pandas groupby accumulator it replaced on every per-key shape
    # measured, many small groups included: theta per doc over 8k docs'
    # token lists 0.80 s vs 1.04 s; theta and DD per user over 400k rows
    # / 20k keys 3.6 s vs 6.1 s and 5.0 s vs 8.6 s; theta over 221k keys
    # (~1.8 rows each) 7.0 s vs 11.6 s
    partials, _schema = build_partials_multi(
        rep, single_spec(kind, value_col, params), key_cols)
    return partials.drop("sketch", "part_id")


def _batch_columns(batch, group_cols):
    """RecordBatch → (group codes int64[n_rows], code→group-tuple dict).

    Dictionary-encodes each group column Arrow-side; multiple columns are
    combined by radix into one int64 code."""
    import pyarrow.compute as pc

    n = batch.num_rows
    if not group_cols:
        return np.zeros(n, dtype=np.int64), {0: ()}
    codes = np.zeros(n, dtype=np.int64)
    dicts = []
    for c in group_cols:
        enc = pc.dictionary_encode(batch.column(c))
        vals = enc.dictionary.to_pylist()
        indices = enc.indices
        if indices.null_count:  # null group value → its own dictionary slot
            indices = indices.fill_null(len(vals))
            vals = vals + [None]
        idx = indices.to_numpy(zero_copy_only=False).astype(np.int64)
        codes = codes * len(vals) + idx
        dicts.append(vals)
    mapping = {}
    for code in np.unique(codes):
        parts, rem = [], int(code)
        for vals in reversed(dicts):
            parts.append(vals[rem % len(vals)])
            rem //= len(vals)
        mapping[int(code)] = tuple(reversed(parts))
    return codes, mapping


def _flatten_list_column(col):
    """Arrow List/LargeList column → (flat values ndarray, lengths ndarray).
    Zero-copy on the values buffer — no per-row allocation.

    Null slots yield length 0 and contribute no values: lengths from the
    offsets are masked by the validity bitmap, because the Arrow spec
    permits non-degenerate offsets under null slots (Spark emits
    zero-length ones today, but relying on that would attribute garbage
    values to a null row)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    off = np.asarray(col.offsets)
    raw_lens = (off[1:] - off[:-1]).astype(np.int64)
    flat = col.values.to_numpy(zero_copy_only=False)[off[0]:off[-1]]
    if col.null_count:
        valid = np.asarray(col.is_valid())
        return flat[np.repeat(valid, raw_lens)], np.where(valid, raw_lens, 0)
    return flat, raw_lens


def _grouped_token_stats(flat, token_gids, codes_present):
    """Per-group (uniq, counts, hashes) with ONE sort for all groups:
    pack (group_code << 32 | token_bits) into a single uint64 key when the
    tokens are 32-bit, else fall back to per-group masks. Replaces
    per-(group × sketch) np.unique — the scan path's dominant cost."""
    out = {}
    if flat.dtype.itemsize <= 4 and token_gids.size:
        packed = (token_gids.astype(np.uint64) << np.uint64(32)) \
            | flat.astype(np.int32).view(np.uint32).astype(np.uint64)
        uniq, counts = np.unique(packed, return_counts=True)
        ugids = (uniq >> np.uint64(32)).astype(np.int64)
        for g in codes_present:
            lo, hi = np.searchsorted(ugids, g), np.searchsorted(ugids, g + 1)
            if lo == hi:
                continue
            toks = (uniq[lo:hi] & np.uint64(0xFFFFFFFF)) \
                .astype(np.uint32).view(np.int32)
            h = hash64(toks.astype(np.uint64, copy=False))
            out[g] = (counts[lo:hi], h, int(counts[lo:hi].sum()),
                      toks.astype(np.int64))
    else:
        for g in codes_present:
            sel = flat[token_gids == g]
            if sel.size == 0:
                continue
            uniq, counts = np.unique(sel, return_counts=True)
            out[g] = (counts, hash64(uniq.astype(np.uint64, copy=False)),
                      int(sel.size), uniq.astype(np.int64))
    return out


def _vector_rows(flat, lens, d: int):
    """Rows of a flattened list column that are d-vectors of finite
    values → ((n_kept, d) float64 matrix, keep-mask over input rows).
    Null, ragged and non-finite rows carry no usable direction and drop;
    the mask filters row-aligned group codes consistently."""
    keep = lens == d
    starts = (np.cumsum(lens) - lens)[keep]
    m = flat[starts[:, None] + np.arange(d)].astype(np.float64)
    finite = np.isfinite(m).all(axis=1)
    keep[keep] = finite
    return m[finite], keep


def build_partials_multi(df, specs: dict, group_cols=("source",)):
    """One scan, many sketches: per (partition × group × spec) partial state.

    `specs`: {name: {"kind": str, "value_col": str, "params": dict}}.
    Returns (DataFrame, out_schema) with columns group..., sketch (spec
    name), sketch_type, state, n_items, part_id. One mapInArrow pass reads
    each input row once no matter how many sketches are built — at 100 TB
    the scan dominates, so N sketches for the price of one. Token arrays
    stay in Arrow's flat values buffer (zero-copy into numpy: no per-row
    object allocation), and one packed-key sort per batch serves every hash
    sketch of a column across all groups. An fd spec reads its list column
    as an (n, params["d"]) matrix; its n_items counts vectors.
    """
    from pyspark import TaskContext

    for name, spec in specs.items():
        # specs arrive from outside (jobs/build_sketches.py --sketch): a
        # bad one fails here, on the driver, not inside a task at action time
        try:
            registry.make(spec["kind"], **spec.get("params") or {})
        except (TypeError, ValueError) as e:
            raise ValueError(f"sketch spec {name!r} (kind "
                             f"{spec['kind']!r}): {e}") from None
    group_cols = list(group_cols)
    in_schema = df.schema
    out_schema = _schema_prefix(in_schema, group_cols) + \
        "sketch string, " + PARTIAL_SCHEMA_TAIL
    value_cols = sorted({s["value_col"] for s in specs.values()})
    needed = group_cols + value_cols
    hash_kinds = ("hll", "cms", "bloom", "theta", "mg", "cs")

    def acc(batches):
        import pyarrow as pa

        gc.freeze()   # worker heap: see the module docstring
        states: dict[tuple, object] = {}   # (gkey-tuple, name) → state
        counts: dict[tuple, int] = {}

        def state_for(gkey, name):
            key = (gkey, name)
            st = states.get(key)
            if st is None:
                st = registry.make(specs[name]["kind"],
                                   **specs[name].get("params") or {})
                states[key] = st
                counts[key] = 0
            return st

        for batch in batches:
            codes, mapping = _batch_columns(batch, group_cols)
            present = sorted(mapping)
            single = len(present) == 1
            col_cache = {}
            for vc in value_cols:
                col = batch.column(vc)
                if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
                    flat, lens = _flatten_list_column(col)
                    # single-group batches (source-partitioned tables) skip
                    # the per-token group-id expansion entirely — half the
                    # memory traffic of the scan hot loop
                    tg = None if single else np.repeat(codes, lens)
                    col_cache[vc] = (flat, tg, lens)
                else:
                    col_cache[vc] = (col.to_numpy(zero_copy_only=False),
                                     None if single else codes, None)
            stats_cache = {}
            for name, spec in specs.items():
                vc, kind = spec["value_col"], spec["kind"]
                flat, tg, lens = col_cache[vc]
                if kind in hash_kinds:
                    if flat.dtype.kind == "f":
                        # nullable integer scalar columns arrive as float
                        # (+NaN) from Arrow: drop nulls, restore int64
                        mask = ~np.isnan(flat)
                        flat = flat[mask].astype(np.int64)
                        if tg is not None:
                            tg = tg[mask]
                    if vc not in stats_cache:
                        if single and flat.size == 0:
                            # no tokens → no state, as in the grouped and
                            # numeric branches
                            stats_cache[vc] = {}
                        elif single:
                            uniq, ucounts = _unique_counts(flat)
                            h = hash64(uniq.astype(np.uint64, copy=False))
                            stats_cache[vc] = {present[0]: (
                                ucounts, h, int(flat.size),
                                uniq.astype(np.int64))}
                        else:
                            stats_cache[vc] = _grouped_token_stats(
                                flat, tg, present)
                    for g, (gcounts, h, n_raw, toks) \
                            in stats_cache[vc].items():
                        gkey = mapping[g]
                        st = state_for(gkey, name)
                        if kind in ("cms", "cs"):
                            st.update_hashes(h, counts=gcounts)
                        elif kind == "mg":
                            st.update(toks, gcounts)
                        elif kind == "bloom":
                            st.update_hashes(h, assume_unique=True,
                                             n_raw=n_raw)
                        else:  # hll / theta
                            st.update_hashes(h, assume_unique=True)
                        counts[(gkey, name)] += n_raw
                else:  # numeric kinds: one value (fd: one vector) per row
                    if kind == "fd":
                        vals, keep = _vector_rows(flat, lens,
                                                  spec["params"]["d"])
                        gids = None if single else codes[keep]
                    else:
                        vals, gids = flat.astype(np.float64), tg
                    for g in present:
                        sel = vals if single else vals[gids == g]
                        if sel.ndim == 1:
                            sel = sel[~np.isnan(sel)]
                        if sel.shape[0] == 0:
                            continue
                        gkey = mapping[g]
                        state_for(gkey, name).update(sel)
                        counts[(gkey, name)] += sel.shape[0]

        if not states:
            return
        pid = TaskContext.get().partitionId()
        cols: dict[str, list] = {c: [] for c in group_cols}
        cols.update(sketch=[], sketch_type=[], state=[], n_items=[])
        for (gkey, name), st in states.items():
            for c, v in zip(group_cols, gkey):
                cols[c].append(v)
            cols["sketch"].append(name)
            cols["sketch_type"].append(specs[name]["kind"])
            cols["state"].append(st.to_bytes())
            cols["n_items"].append(counts[(gkey, name)])
        arrays = _group_arrays(in_schema, group_cols, cols) + [
            pa.array(cols["sketch"], pa.string()),
            pa.array(cols["sketch_type"], pa.string()),
            pa.array(cols["state"], pa.binary()),
            pa.array(cols["n_items"], pa.int64()),
            pa.array([pid] * len(states), pa.int64())]
        names = group_cols + ["sketch", "sketch_type", "state", "n_items",
                              "part_id"]
        yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.select(*needed).mapInArrow(acc, out_schema), out_schema


def multi_sketch_agg(df, specs: dict, group_cols=("source",),
                     n_parts: int | None = None):
    """End-to-end single-scan multi-sketch build: partials → tree merge →
    one blob row per (group × spec). `n_parts` defaults to the default
    parallelism: one merge round up to FANIN partitions."""
    if n_parts is None:
        n_parts = df.sparkSession.sparkContext.defaultParallelism
    partials, _schema = build_partials_multi(df, specs, group_cols)
    return tree_merge(partials, group_cols=list(group_cols) + ["sketch"],
                      n_parts=n_parts)
