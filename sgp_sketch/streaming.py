"""Structured Streaming sketch builds: incremental mergeability as the
streaming property (SURVEY.md §2.11).

The reference's "streaming" is one sequential pass with mutable in-heap
state (`/root/reference/src/main/java/ca/uwaterloo/cs/sgp/streaming/
EdgeCutSGP.java:211-246`) plus loader-side micro-batching
(`ADJParser.groovy:107-123`). The property worth preserving at 100 TB is not
record-at-a-time execution but **associative, mergeable state**: each
micro-batch produces partial blobs; the running answer is a merge of all
blobs so far. One sketch-state surface keeps that property:
`foreachBatch` (`stream_sketch_build`): readStream → per-batch partial
blobs (`build_partials_multi`, no merge, no shuffle) → one parquet dir per
batch in a state table. The current estimate at any time =
tree_merge(all blob rows) — the same kernel merge the batch path uses, so
stream results are byte-comparable to a batch build over the union of
inputs. The table holds one row per (scan partition × group × spec) of
every batch until `compact_state` folds it.

Per-key and per-window sketches are the same sink with wider group
columns: `prepare=` projects e.g. `k = event_type`,
`w = window(ts, '1 day').start`, `v = user_id`, a spec reads `v`, and
`group_cols=("k", "w")` keys the blobs; `streamed_estimates(...,
group_cols=("k", "w"))` returns one merged sketch per (key, window). What
this does not give: no streaming DataFrame emits a row per micro-batch
(the answer is read from the state table), and window state is not
retired at a watermark — after `compact_state` the table keeps one row
per (key, window, spec).

The sink runs with availableNow triggers in tests (bounded file streams);
processing-time triggers are a config change. Event-time semantics (the
reference has none) are covered by `windowed_stream_agg`: watermarked
tumbling-window aggregation over the events table, state bounded by the
watermark horizon.
"""

from __future__ import annotations

import json

from . import agg
from .checkpoint import _fs_path, _fs_read_text, _fs_write_text, _join


def _file_stream(spark, input_path: str, schema, reader_options):
    """Parquet file stream over `input_path`. The file-stream source
    cannot infer a schema, so `schema=None` takes the one a batch read of
    the same files (and `reader_options`) sees."""
    opts = reader_options or {}
    if schema is None:
        schema = spark.read.options(**opts).parquet(input_path).schema
    return spark.readStream.schema(schema).options(**opts) \
        .parquet(input_path)


def stream_sketch_build(spark, input_path: str, state_dir: str,
                        specs: dict, group_cols=("source",),
                        checkpoint_dir: str | None = None,
                        schema=None, available_now: bool = True,
                        prepare=None, reader_options: dict | None = None):
    """File-stream → per-micro-batch partial sketch blobs written to a
    parquet state table. Returns the StreamingQuery (caller awaits it).

    The sink does not merge: each micro-batch writes its
    `build_partials_multi` rows (group…, sketch, sketch_type, state,
    n_items — one per scan partition × group × spec; `part_id` dropped so
    batch dirs read beside compacted snapshots) and costs one scan-and-
    write job. `streamed_estimates` and `compact_state` merge at read
    time. The state table therefore grows with the partition count of
    every batch until `compact_state` folds it into one snapshot.

    Exactly-once: foreachBatch is at-least-once (a crash between the data
    write and the streaming-checkpoint commit replays the batch), so the
    sink must be idempotent, not merely keyed. Each batch overwrites its
    own deterministic `state_dir/batch_id=N` directory — a replay rewrites
    the same path instead of appending duplicate blob rows, so CMS/KLL
    counts and Bloom n_items cannot double under replay.

    `prepare` (optional) maps each raw micro-batch DataFrame to the sketch
    input shape (e.g. documents → tokens) before aggregation, so callers
    can stream directly from a source table without staging a copy.
    `reader_options` (e.g. {"pathGlobFilter": "documents.parquet"}) let a
    stream select one table out of a directory of tables — the file-stream
    source only accepts directory paths.
    """
    stream = _file_stream(spark, input_path, schema, reader_options)

    def sink(batch_df, batch_id: int):
        # an empty batch builds no blob rows (it writes an empty batch
        # directory), so it needs no emptiness check: one job per batch
        if prepare is not None:
            batch_df = prepare(batch_df)
        partials, _schema = agg.build_partials_multi(batch_df, specs,
                                                     group_cols)
        (partials.drop("part_id").write.mode("overwrite")
         .parquet(f"{state_dir}/batch_id={int(batch_id)}"))

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_MARKER_PREFIX = "_compaction.v"


def _state_listing(spark, state_dir: str):
    """List `state_dir` once → sorted (batch ids, marker versions, live
    ids). This live-set rule, kept in one place, is what makes
    compact_state crash-safe at every step: with no marker, the
    non-negative batch dirs are live (a negative dir is an uncommitted
    snapshot from a crashed compaction); else the highest-version marker
    {snapshot: negative id, upto: M} names its snapshot plus every batch
    id above M. Markers are versioned files (`_compaction.v3.json`)
    committed by rename-into-place, so a reader never sees a partial
    marker and there is never a window with no marker visible — a crashed
    writer just leaves two versions and readers take the max. A
    present-but-unparseable marker raises: silently ignoring it would
    drop the snapshot's data."""
    fs, root = _fs_path(spark, state_dir)
    ids, versions = [], []
    for status in (fs.listStatus(root) if fs.exists(root) else []):
        name = status.getPath().getName()
        if status.isDirectory():
            if name.startswith("batch_id="):
                ids.append(int(name.split("=", 1)[1]))
        elif name.startswith(_MARKER_PREFIX) and name.endswith(".json"):
            versions.append(int(name[len(_MARKER_PREFIX):-len(".json")]))
    ids.sort()
    versions.sort()
    if not versions:
        return ids, versions, [i for i in ids if i >= 0]
    marker = json.loads(_fs_read_text(
        spark, _join(state_dir, f"{_MARKER_PREFIX}{versions[-1]}.json")))
    snap, upto = int(marker["snapshot"]), int(marker["upto"])
    return ids, versions, [i for i in ids if i == snap or i > upto]


def _merged(spark, state_dir: str, batch_ids, group_cols):
    """tree_merge of the state-table rows whose batch dir is in
    `batch_ids` → one blob row per (group × sketch)."""
    from pyspark.sql import functions as F

    blobs = (spark.read.parquet(state_dir)
             .filter(F.col("batch_id").isin(batch_ids)).drop("batch_id"))
    return agg.tree_merge(blobs, group_cols=tuple(group_cols) + ("sketch",))


def streamed_estimates(spark, state_dir: str, group_cols=("source",)):
    """Current merged blobs from the streaming state table — one row per
    (group × sketch), identical to a batch build over the same inputs.
    `batch_id` is recovered as a hive-partition column of the state layout
    (one directory per micro-batch — see stream_sketch_build); compacted
    snapshots are resolved through the highest `_compaction.v<k>.json`
    marker (`_state_listing`)."""
    _, _, live = _state_listing(spark, state_dir)
    return _merged(spark, state_dir, live, group_cols)


def compact_state(spark, state_dir: str, group_cols=("source",)) -> dict:
    """Fold completed micro-batch blob directories into one snapshot so an
    unbounded stream keeps O(1) state-table size instead of one directory
    per batch forever.

    Crash-safe snapshot-pointer commit (every step leaves
    `streamed_estimates` the same; see below for which kinds stay
    byte-identical):

      1. merge the live set minus the max non-negative batch id (the only
         batch at-least-once replay can re-emit) into a NEW snapshot dir
         `batch_id=-(M+1)` — negative ⇒ invisible until committed;
      2. commit by renaming a tmp file into the NEXT marker version
         `_compaction.v<k+1>.json` = {snapshot: -(M+1), upto: M} (rename
         to a fresh name is atomic; readers take the highest version, so
         no step ever exposes a missing or partial marker);
      3. garbage-collect the superseded dirs (old snapshot + ids ≤ M) —
         already invisible, so a crash mid-GC only leaves dead files.

    A crash before 2 leaves an orphan negative dir (ignored, rewritten by
    the next run); after 2, the new snapshot is authoritative and the old
    dirs are dead. Kernel merge associativity makes the fold byte-exact
    for kinds whose merge ignores order (hll, cms, bloom, theta, cs,
    moments); merge-order-dependent kinds (mg, kll, t-digest, fd) merge
    in a new order after a fold, so their bytes may change within their
    error bounds. The state dir is listed once (`_state_listing`), before
    step 1.

    Returns {"folded": n_batches_folded, "kept": n_dirs_after, ...}.
    """
    fs, _ = _fs_path(spark, state_dir)

    def path(name):
        return _fs_path(spark, _join(state_dir, name))[1]

    ids, versions, live = _state_listing(spark, state_dir)
    # GC orphan negative dirs up front: a crash between step 1 and step 2
    # leaves an uncommitted snapshot dir; once new batches advance the
    # fold set, later compactions pick a different snap_id and the orphan
    # would otherwise leak forever (rescanned by every state read)
    for i in ids:
        if i < 0 and i not in live:
            fs.delete(path(f"batch_id={i}"), True)
    if len(live) <= 2:
        return {"folded": 0, "kept": len(live)}
    # at most one live id is negative (the committed snapshot), so with
    # three or more the two largest are batch ids: keep the max, fold the
    # rest
    fold, keep_max = live[:-1], live[-1]
    upto = fold[-1]
    snap_id = -(upto + 1)

    _merged(spark, state_dir, fold, group_cols).write.mode(
        "overwrite").parquet(f"{state_dir}/batch_id={snap_id}")  # step 1
    next_v = (versions[-1] + 1) if versions else 1
    tmp, dst = f"_compaction.tmp.{next_v}", f"{_MARKER_PREFIX}{next_v}.json"
    _fs_write_text(spark, _join(state_dir, tmp),
                   json.dumps({"snapshot": snap_id, "upto": upto}))
    # Hadoop FileSystem.rename reports most failures by returning false,
    # not raising; the GC below deletes every old marker and all folded
    # dirs, so proceeding past a failed commit would leave NO committed
    # snapshot pointer. Verify the marker is in place AND parses before
    # destroying anything. (On S3A "rename" is copy+delete, not atomic —
    # the fresh-versioned-name protocol never overwrites, and
    # _state_listing raises on an unparseable marker rather than adopting
    # it, so a half-copied object can abort a read but never silently
    # drop state.)
    if not fs.rename(path(tmp), path(dst)):                      # step 2
        raise IOError(f"compaction marker commit failed in {state_dir}: "
                      f"{tmp} -> {dst}")
    committed = json.loads(_fs_read_text(spark, _join(state_dir, dst)))
    if int(committed["snapshot"]) != snap_id or int(committed["upto"]) != upto:
        raise IOError(f"compaction marker verify failed: {state_dir}/{dst}: "
                      f"{committed}")
    for v in versions:                                           # step 3
        fs.delete(path(f"{_MARKER_PREFIX}{v}.json"), False)
    for b in fold:
        fs.delete(path(f"batch_id={b}"), True)
    return {"folded": len(fold), "kept": 2, "snapshot_batch_id": snap_id,
            "live_batch_id": keep_max}


def windowed_stream_agg(spark, input_path: str, window: str = "1 day",
                        watermark: str = "1 day", ts_col: str = "ts",
                        key_col: str = "user_id", schema=None,
                        reader_options: dict | None = None):
    """Event-time tumbling-window aggregation with a watermark for late
    data: per window, event count + approx-distinct keys. Returns the
    streaming DataFrame (caller attaches a sink and trigger).

    The watermark bounds streaming state: windows older than
    (max event time − watermark) are finalized and their state dropped, so
    an unbounded stream holds O(windows inside the horizon) state, not
    O(all history) — the property that makes event-time aggregation viable
    on an infinite 100-TB/day feed. `approx_count_distinct` is Spark's
    built-in HLL++. For mergeable cross-run state, or any other kernel per
    window, use the sink recipe in the module docstring: a `prepare` that
    projects the window start as a group column, then
    `streamed_estimates(..., group_cols=(..., "w"))`.
    """
    from pyspark.sql import functions as F

    stream = _file_stream(spark, input_path, schema, reader_options)
    # watermarks require TIMESTAMP (with zone); parquet NTZ columns cast
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (stream.withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window).alias("win"))
            .agg(F.count("*").alias("n_events"),
                 F.approx_count_distinct(key_col).alias("approx_keys")))


def dedup_stream_agg(spark, input_path: str, dedup_keys=("user_id", "event_type"),
                     ts_col: str = "ts", watermark: str | None = None,
                     group_col: str = "event_type", schema=None,
                     reader_options: dict | None = None):
    """Streaming deduplication: `dropDuplicates` (optionally
    `dropDuplicatesWithinWatermark` when a watermark horizon is given)
    over a file stream, then a per-group count of the surviving rows —
    the streaming twin of the batch exact-dedup stage, and the standard
    guard against replayed/duplicate events in an ingest feed.

    Without a watermark the dedup state grows with the number of DISTINCT
    keys (exact, unbounded history — correct for the finite replay used in
    tests). With `watermark` set, state is bounded to the horizon via
    `dropDuplicatesWithinWatermark`: duplicates separated by more than the
    horizon can both survive, the documented trade for O(horizon) state on
    an infinite feed. Returns the streaming DataFrame (complete-mode
    aggregation; caller attaches sink + trigger). A finite replay must
    equal batch `COUNT(DISTINCT keys)` per group exactly — the
    equivalence the oracle checks.
    """
    from pyspark.sql import functions as F

    stream = _file_stream(spark, input_path, schema, reader_options)
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    keys = list(dedup_keys)
    if watermark is not None:
        deduped = (stream.withWatermark(ts_col, watermark)
                   .dropDuplicatesWithinWatermark(keys))
    else:
        deduped = stream.dropDuplicates(keys)
    return (deduped.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_distinct")))


def stream_stream_join(spark, input_path: str, left_type: str = "click",
                       right_type: str = "purchase",
                       horizon_seconds: int = 3600, ts_col: str = "ts",
                       key_col: str = "user_id",
                       watermark: str = "2 hours", schema=None,
                       reader_options: dict | None = None):
    """§2.11 stream-stream inner join: correlate two event substreams of
    one feed (e.g. click -> purchase attribution) on key equality plus an
    event-time range `[t_left, t_left + horizon]`.

    Both sides carry a watermark and the join condition bounds event time,
    so Spark can expire buffered rows once the other side's watermark
    passes the horizon — state is O(horizon x arrival rate), not
    O(history); without the time bound a stream-stream join would buffer
    both streams forever. Emits (user, left ts, right ts, seconds between);
    a finite replay must equal the equivalent batch range join exactly.
    Returns the streaming DataFrame (append mode; caller attaches sink).
    """
    from pyspark.sql import functions as F

    stream = _file_stream(spark, input_path, schema, reader_options)

    def side(event_type, prefix):
        return (stream
                .where(F.col("event_type") == event_type)
                .select(F.col(key_col).alias(f"{prefix}_user"),
                        F.col(ts_col).cast("timestamp")
                        .alias(f"{prefix}_ts"),
                        F.col("event_id").alias(f"{prefix}_id"))
                .withWatermark(f"{prefix}_ts", watermark))

    lhs, rhs = side(left_type, "l"), side(right_type, "r")
    cond = ((F.col("l_user") == F.col("r_user"))
            & (F.col("r_ts") >= F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts")
               + F.expr(f"INTERVAL {int(horizon_seconds)} SECONDS")))
    return (lhs.join(rhs, cond)
            .select(F.col("l_user").alias("user_id"),
                    "l_id", "r_id",
                    (F.unix_timestamp("r_ts")
                     - F.unix_timestamp("l_ts")).alias("lag_seconds")))
