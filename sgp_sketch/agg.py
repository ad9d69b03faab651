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

The read takes one of two shapes. A bare parquet scan of `file:` inputs
(`_file_scan`: the optimized plan is a `LogicalRelation` with no Filter
or computed Project) is read by the Python tasks themselves:
`spark.range(0, n, 1, n).mapInArrow(read_files)`, each task reading one
bin of whole files (`_file_bins`, Spark's split-size rule) with
`pyarrow.parquet`, partition values parsed from the `k=v` directories.
The JVM then only plans the build and ships blobs; it neither decodes
the input nor hands it over as Arrow. Any other input (a filter, a
`prepare=` projection, a cached or in-memory frame, a stream
micro-batch) is scanned by Spark and handed to
`df.select(…).mapInArrow(scan)`. Both task bodies are `_accumulate`.

`build_partials_multi` is the only sketch builder: hash kinds (hll, cms,
bloom, theta, mg, cs) over token lists or integer columns, numeric kinds
(kll, tdigest, dd, moments) over scalar columns, and Frequent Directions
over fixed-length vector columns. `tree_merge` is the only blob merge: it
finishes a build, re-aggregates stored blob tables (streamed batches,
checkpoint slices) to their own grouping, and merges to a coarser one
(per-source → global).

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

Worker heap: every Spark task function (the scan task, the parquet
reader task and `tree_merge`'s round task) starts with
`_freeze_worker_heap()`, moving every object alive when the task starts
(modules, numpy, pyarrow, the kernels) to the collector's permanent
generation. PySpark's worker daemon runs `gc.collect()` after each task
in a reused worker; with that heap frozen the collect walks only the
task's own objects (10-23 ms → ~20 µs per task on a 74k-object worker).
The daemon has already collected the previous task's cyclic garbage when
the next task freezes, so the frozen set holds no earlier task's garbage
and stays flat from task to task; a worker's first freeze collects once
before it, so the garbage its imports left is not pinned either. The
freeze is in the task functions, not in `_merge_batches`, so a
driver-side merge can reuse that body without freezing the driver's
heap.
"""

from __future__ import annotations

import gc
import math

import numpy as np

from .kernels import registry
from .kernels.hashing import hash64

# the blob tail: every column of a blob table after its grouping columns
BLOB_TAIL = ("sketch_type", "state", "n_items", "part_id")
PARTIAL_SCHEMA_TAIL = ("sketch_type string, state binary, n_items long, "
                       "part_id long")

# blobs merged by one task in one tree-merge round
FANIN = 64


def _schema_prefix(schema, cols) -> str:
    """DDL fields ("a string, b int, ") for `cols` of a Spark schema —
    the group-column head of a grouped UDF's output schema."""
    return "".join(f"{c} {schema[c].dataType.simpleString()}, "
                   for c in cols)


def _blob_batch(groups, acc: dict):
    """The one blob-row writer: {key: [state, n_items]}, key = (group
    values…, sketch_type, part_id) → one RecordBatch (group columns…,
    BLOB_TAIL). Rows are sorted by key, nulls first, the order Spark's
    sort-based grouping emits: kll, tdigest and mg merges depend on input
    order, so a later merge of these rows (per-source → global, the next
    round) only gives the same bytes if each task emits sorted. `groups`
    (a Spark StructType) types the group columns: inferred, an int32
    column becomes int64, and Spark's Arrow reader fails on that ("Cannot
    call getInt") only when a query groups by it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    order = sorted(acc, key=lambda k: tuple((v is not None, v) for v in k))
    n = len(groups.fields)
    arrays = [pa.array([k[i] for k in order], to_arrow_type(f.dataType))
              for i, f in enumerate(groups.fields)] + [
        pa.array([k[n] for k in order], pa.string()),
        pa.array([acc[k][0].to_bytes() for k in order], pa.binary()),
        pa.array([acc[k][1] for k in order], pa.int64()),
        pa.array([k[n + 1] for k in order], pa.int64())]
    return pa.RecordBatch.from_arrays(arrays,
                                      names=groups.names + list(BLOB_TAIL))


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


def _merge_batches(batches, groups):
    """The tree-merge round body: fold blob rows arriving as Arrow batches
    to one row per (group columns…, sketch_type, part_id); `groups` is the
    StructType of the group columns. Each row merges into its key's state
    as it arrives (the left fold `registry.merge_blobs` runs), so a task
    holds one state per key, never every blob; `n_items` sums per key."""
    keys = groups.names + ["sketch_type", "part_id"]
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
    if acc:
        yield _blob_batch(groups, acc)


def tree_merge(partials, out_schema: str | None = None,
               group_cols=None, n_parts: int | None = None):
    """Merge blob rows (group columns…, sketch_type, state, n_items[,
    part_id]) to one row per key; drops part_id.

    The key is every column but the tail (`BLOB_TAIL`), so a blob table
    merges back to the grouping it was built with. An explicit
    `group_cols` merges to a coarser grouping (`()`: global); `sketch`
    stays in the key whenever the table has it, so no merge folds two
    specs into one state.

    The one blob merge: it ends every build and re-aggregates stored blob
    tables (checkpoint slices, stream state, catalog state).
    Associativity of the kernels is exactly what makes that legal — the
    same invariant the reference's `reduceByKey(_ ++ _)` relies on
    (`/root/reference/scripts/analytics/snap2adj.scala:16`). `out_schema`
    defaults to the group columns' types in `partials` plus
    PARTIAL_SCHEMA_TAIL; a caller's `out_schema` must declare the same
    types.

    Each round is one `repartition(*keys)` plus one `mapInArrow` of
    `_merge_batches`: Arrow batches in, one folded state per key, rows
    sorted by key out (that sort keeps order-dependent kinds byte-equal
    to Spark's sort-based grouping; see `_blob_batch`). No pandas
    frame and no per-group UDF call.

    `n_parts` (the partial count upper bound = input partition count)
    sets the round count while the plan is built, without a counting
    job; omitted, or over a table without `part_id` (one bucket per key),
    the merge is one round. Intermediate rounds shrink the part_id bucket
    count by FANIN each; the last round always collapses to part_id=0, so
    the result is exactly one row per key even if `n_parts`
    under-estimated the true partition count."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    df = partials
    if group_cols is None:
        group_cols = [c for c in df.columns if c not in BLOB_TAIL]
    elif "sketch" in df.columns and "sketch" not in group_cols:
        group_cols = [*group_cols, "sketch"]
    groups = StructType([df.schema[c] for c in group_cols])
    if out_schema is None:
        out_schema = _schema_prefix(groups, group_cols) + PARTIAL_SCHEMA_TAIL

    def merge(batches):
        _freeze_worker_heap()
        return _merge_batches(batches, groups)

    def merge_round(df):
        return df.repartition(*group_cols, "sketch_type", "part_id") \
            .mapInArrow(merge, out_schema)

    rounds = (1 if n_parts is None or "part_id" not in df.columns
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


_HASH_KINDS = ("hll", "cms", "bloom", "theta", "mg", "cs")


def _accumulate(batches, specs: dict, groups, pid: int):
    """The build's task body, shared by the Spark-scan task and the
    parquet reader task: fold Arrow batches (group columns, value
    columns) into one state per (group…, spec, partition `pid`) and emit
    them as one blob batch. `groups` is the StructType of the group
    columns plus `sketch`."""
    import pyarrow as pa

    group_cols = groups.names[:-1]
    value_cols = sorted({s["value_col"] for s in specs.values()})
    states: dict[tuple, list] = {}  # (group…, name, kind, pid) → [st, n]

    def state_for(gkey, name):
        kind = specs[name]["kind"]
        key = gkey + (name, kind, pid)
        cur = states.get(key)
        if cur is None:
            cur = states[key] = [registry.make(
                kind, **specs[name].get("params") or {}), 0]
        return cur

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
            if kind in _HASH_KINDS:
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
                for g, (gcounts, h, n_raw, toks) in stats_cache[vc].items():
                    cur = state_for(mapping[g], name)
                    st = cur[0]
                    if kind in ("cms", "cs"):
                        st.update_hashes(h, counts=gcounts)
                    elif kind == "mg":
                        st.update(toks, gcounts)
                    elif kind == "bloom":
                        st.update_hashes(h, assume_unique=True, n_raw=n_raw)
                    else:  # hll / theta
                        st.update_hashes(h, assume_unique=True)
                    cur[1] += n_raw
            else:  # numeric kinds: one value (fd: one vector) per row
                if kind == "fd":
                    vals, keep = _vector_rows(flat, lens, spec["params"]["d"])
                    gids = None if single else codes[keep]
                else:
                    vals, gids = flat.astype(np.float64), tg
                for g in present:
                    sel = vals if single else vals[gids == g]
                    if sel.ndim == 1:
                        sel = sel[~np.isnan(sel)]
                    if sel.shape[0] == 0:
                        continue
                    cur = state_for(mapping[g], name)
                    cur[0].update(sel)
                    cur[1] += sel.shape[0]

    if states:
        yield _blob_batch(groups, states)


# Spark types a reader task reads exactly as Spark's Arrow hand-off
# delivers them; partition values parse from the path for the last set
_READ_TYPES = ("ByteType", "ShortType", "IntegerType", "LongType",
               "FloatType", "DoubleType", "BooleanType", "StringType",
               "BinaryType")
_PARTITION_TYPES = ("ByteType", "ShortType", "IntegerType", "LongType",
                    "StringType")
_INT_RANGE = {"ByteType": 8, "ShortType": 16, "IntegerType": 32,
              "LongType": 64}
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _readable(dt) -> bool:
    from pyspark.sql.types import ArrayType

    if isinstance(dt, ArrayType):
        dt = dt.elementType
    return type(dt).__name__ in _READ_TYPES


def _unescape_path_name(s: str) -> str:
    """Spark's `ExternalCatalogUtils.unescapePathName`: each `%` plus two
    characters that Java's `Integer.parseInt(_, 16)` reads as a
    non-negative code becomes that character."""
    import re

    out, i = [], 0
    while i < len(s):
        code = -1
        if s[i] == "%" and i + 2 < len(s):
            hx = s[i + 1:i + 3]
            if re.fullmatch(r"[+-]?[0-9A-Fa-f]+", hx):
                code = int(hx, 16)
        if code >= 0:
            out.append(chr(code))
            i += 3
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def _partition_values(path: str, fields: dict):
    """{column: typed value} from the trailing `k=v` directories of a
    file path, as Spark's partition discovery reads them: walking up from
    the file, stopping at the first directory without `=` once a column
    was found; `__HIVE_DEFAULT_PARTITION__` is null and `%xx` escapes are
    decoded. `fields` maps lower-cased partition column names to (name,
    Spark type). None when a column has no value or its value does not
    parse as its type (the build then keeps the DataFrame path)."""
    found: dict = {}
    for seg in reversed(path.split("/")[:-1]):
        if "=" not in seg:
            if found:
                break
            continue
        k, v = seg.split("=", 1)
        f = fields.get(_unescape_path_name(k).lower())
        if f is None or f[0] in found:
            continue
        if not v:
            return None
        v = None if v == _NULL_PARTITION else _unescape_path_name(v)
        kind = type(f[1]).__name__
        if v is not None and kind in _INT_RANGE:
            try:
                v = int(v.strip())
            except ValueError:
                return None
            half = 1 << _INT_RANGE[kind] - 1
            if not -half <= v < half:
                return None
        found[f[0]] = v
    return found if len(found) == len(fields) else None


def _file_scan(df, needed: list):
    """The files of a bare parquet scan, for a build that reads them in
    its own tasks: [(local path, size, {partition column: value})…] in
    path order, or None when `df.select(*needed)` is anything else.

    It qualifies when its optimized plan is a `LogicalRelation` over
    parquet (no Filter, no computed Project, no cache, no catalog
    table), every input file is a `file:` URI, and every needed column
    is a file or hive partition column of a type the reader task reads
    as Spark would. Driver metadata only: no Spark job runs."""
    import os
    from urllib.parse import unquote, urlsplit

    if df.isStreaming:
        return None
    plan = df.select(*needed)._jdf.queryExecution().optimizedPlan()
    name = plan.getClass().getSimpleName()
    if name == "Project":
        exprs = plan.projectList()
        if any(exprs.apply(i).getClass().getSimpleName()
               != "AttributeReference" for i in range(exprs.size())):
            return None
        plan = plan.child()
        name = plan.getClass().getSimpleName()
    if (name != "LogicalRelation" or plan.isStreaming()
            or not plan.catalogTable().isEmpty()):
        return None
    rel = plan.relation()
    if (rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName()
            != "ParquetFileFormat" or not rel.bucketSpec().isEmpty()):
        return None
    if not all(_readable(df.schema[c].dataType) for c in needed):
        return None
    fields = {c.lower(): (c, df.schema[c].dataType)
              for c in rel.partitionSchema().fieldNames() if c in needed}
    if any(type(t).__name__ not in _PARTITION_TYPES
           for _, t in fields.values()):
        return None
    files = []
    for uri in sorted(df.inputFiles()):
        parts = urlsplit(uri)
        if parts.scheme != "file":
            return None
        path = unquote(parts.path)
        size = os.path.getsize(path)
        if size == 0:   # Spark lists no zero-length file either
            continue
        pvals = _partition_values(path, fields)
        if pvals is None:
            return None
        files.append((path, size, pvals))
    return files or None


def _file_bins(spark, files) -> list:
    """Spark's split-size rule over whole files (`FilePartition`): split
    = min(maxPartitionBytes, max(openCostInBytes, total / min partition
    count)), with total counting openCostInBytes per file and the min
    partition count `spark.sql.files.minPartitionNum`, else the default
    parallelism; files, in path order, fill a bin until the next one
    would pass the split."""
    from .session import _parse_bytes

    conf = spark.conf
    max_bytes = _parse_bytes(conf.get("spark.sql.files.maxPartitionBytes"))
    open_cost = _parse_bytes(conf.get("spark.sql.files.openCostInBytes"))
    min_parts = int(conf.get("spark.sql.files.minPartitionNum", None)
                    or conf.get("spark.sql.leafNodeDefaultParallelism", None)
                    or spark.sparkContext.defaultParallelism)
    total = sum(size + open_cost for _, size, _ in files)
    split = min(max_bytes, max(open_cost, total // min_parts))
    bins, cur, filled = [], [], 0
    for path, size, pvals in files:
        if cur and filled + size > split:
            bins.append(cur)
            cur, filled = [], 0
        cur.append((path, pvals))
        filled += size + open_cost
    bins.append(cur)
    return bins


def _read_parquet(files, cols: list, types: dict, batch_rows: int):
    """Arrow batches of `cols` from [(path, partition values)…], file by
    file, `batch_rows` rows at most: a file column resolves by exact
    name, else by its one case-insensitive match, else reads as nulls
    (Spark's answer for a file without the column); partition columns
    are constants; every column is cast to `types` (the Arrow type of
    its Spark type, as the hand-off would send it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for path, pvals in files:
        with pq.ParquetFile(path) as pf:
            names = pf.schema_arrow.names
            source = {}
            for c in cols:
                if c not in pvals:
                    hits = [c] if c in names else \
                        [n for n in names if n.lower() == c.lower()]
                    source[c] = hits[0] if len(hits) == 1 else None
            read = sorted({s for s in source.values() if s is not None})
            for batch in pf.iter_batches(batch_size=batch_rows, columns=read,
                                         use_threads=False):
                n = batch.num_rows
                arrays = []
                for c in cols:
                    if c in pvals:
                        arr = pa.repeat(pa.scalar(pvals[c], types[c]), n)
                    elif source[c] is None:
                        arr = pa.nulls(n, types[c])
                    else:
                        arr = batch.column(source[c])
                        if not arr.type.equals(types[c]):
                            arr = arr.cast(types[c])
                    arrays.append(arr)
                yield pa.RecordBatch.from_arrays(arrays, names=cols)


def _freeze_worker_heap() -> None:
    """The first call of every Spark task function: move the worker's
    long-lived heap to the collector's permanent generation (see the
    module docstring). A worker's first freeze runs one full collect
    before it, so the cyclic garbage its imports left is freed instead of
    pinned for the worker's life. The modules the task bodies import
    lazily load first: imported after the freeze, their ~6k objects would
    stay in the young generations until the worker's next task."""
    import pyarrow.compute  # noqa: F401
    import pyarrow.parquet  # noqa: F401

    if gc.get_freeze_count() == 0:
        gc.collect()
    gc.freeze()


def _build_partials(df, specs: dict, group_cols):
    """`build_partials_multi` plus its task count: (DataFrame,
    out_schema, number of reader tasks or None on the Spark-scan path)."""
    from pyspark import TaskContext
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StringType, StructField, StructType

    for name, spec in specs.items():
        # specs arrive from outside (jobs/build_sketches.py --sketch): a
        # bad one fails here, on the driver, not inside a task at action time
        try:
            registry.make(spec["kind"], **spec.get("params") or {})
        except (TypeError, ValueError) as e:
            raise ValueError(f"sketch spec {name!r} (kind "
                             f"{spec['kind']!r}): {e}") from None
    group_cols = list(group_cols)
    groups = StructType([df.schema[c] for c in group_cols]
                        + [StructField("sketch", StringType())])
    out_schema = _schema_prefix(groups, groups.names) + PARTIAL_SCHEMA_TAIL
    needed = group_cols + sorted({s["value_col"] for s in specs.values()})

    files = _file_scan(df, needed)
    if files is None:
        def scan(batches):
            _freeze_worker_heap()
            return _accumulate(batches, specs, groups,
                               TaskContext.get().partitionId())

        return (df.select(*needed).mapInArrow(scan, out_schema), out_schema,
                None)

    spark = df.sparkSession
    bins = _file_bins(spark, files)
    types = {c: to_arrow_type(df.schema[c].dataType) for c in needed}
    batch_rows = int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch"))

    def read_files(batches):
        _freeze_worker_heap()
        mine = [f for b in batches for i in b.column(0).to_pylist()
                for f in bins[i]]
        return _accumulate(_read_parquet(mine, needed, types, batch_rows),
                           specs, groups, TaskContext.get().partitionId())

    n = len(bins)
    return (spark.range(0, n, 1, n).mapInArrow(read_files, out_schema),
            out_schema, n)


def build_partials_multi(df, specs: dict, group_cols=("source",)):
    """One scan, many sketches: per (partition × group × spec) partial state.

    `specs`: {name: {"kind": str, "value_col": str, "params": dict}}.
    Returns (DataFrame, out_schema) with columns group..., sketch (spec
    name), sketch_type, state, n_items, part_id. One pass reads each
    input row once no matter how many sketches are built — at 100 TB the
    scan dominates, so N sketches for the price of one. Token arrays stay
    in Arrow's flat values buffer (zero-copy into numpy: no per-row
    object allocation), and one packed-key sort per batch serves every
    hash sketch of a column across all groups. An fd spec reads its list
    column as an (n, params["d"]) matrix; its n_items counts vectors.

    A bare parquet scan of local files (`_file_scan`) is read by the
    Python tasks themselves, one bin of whole files per task
    (`_file_bins`); any other input is read by Spark and handed over as
    Arrow. Both tasks run the one body, `_accumulate`.
    """
    partials, out_schema, _n = _build_partials(df, specs, group_cols)
    return partials, out_schema


def multi_sketch_agg(df, specs: dict, group_cols=("source",),
                     n_parts: int | None = None):
    """End-to-end single-scan multi-sketch build: partials → tree merge →
    one blob row per (group × spec). `n_parts` defaults to the reader's
    task count, else the default parallelism: one merge round up to
    FANIN partitions."""
    partials, _schema, n_tasks = _build_partials(df, specs, group_cols)
    if n_parts is None:
        n_parts = n_tasks or df.sparkSession.sparkContext.defaultParallelism
    return tree_merge(partials, n_parts=n_parts)
