"""Streaming tests: the foreachBatch sink's streamed state equals the
batch build byte-exactly (mergeability IS the streaming property) across
restarts, replays and compaction; per-window sketches are the same sink
keyed by the window start; and the watermarked, dedup and stream-stream
operators equal their batch twins."""

import os

import numpy as np
import pytest

from sgp_sketch import agg, streaming

SPECS = {"hll": {"kind": "hll", "value_col": "tokens", "params": {"p": 12}}}


@pytest.fixture(scope="module")
def stream_input(spark, tokens_sdf, tmp_path_factory):
    """Token table written as 3 separate files — 3 micro-batch candidates."""
    path = str(tmp_path_factory.mktemp("stream") / "tokens")
    tokens_sdf.repartition(3).write.mode("overwrite").parquet(path)
    return path


def test_foreachbatch_stream_equals_batch(spark, stream_input, tmp_path):
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    q = streaming.stream_sketch_build(
        spark, stream_input, state_dir, SPECS,
        checkpoint_dir=ckpt, available_now=True)
    q.awaitTermination(120)
    assert not q.isActive
    streamed = {r["source"]: bytes(r["state"])
                for r in streaming.streamed_estimates(spark, state_dir)
                .collect()}
    batch = {r["source"]: bytes(r["state"])
             for r in agg.sketch_agg(spark.read.parquet(stream_input),
                                     "hll", "tokens", ("source",),
                                     {"p": 12}).collect()}
    assert streamed == batch  # associativity ⇒ byte-identical

    # restart with the same checkpoint: no new batches, state unchanged
    n_before = len(spark.read.parquet(state_dir).collect())
    q2 = streaming.stream_sketch_build(
        spark, stream_input, state_dir, SPECS,
        checkpoint_dir=ckpt, available_now=True)
    q2.awaitTermination(120)
    assert len(spark.read.parquet(state_dir).collect()) == n_before


def test_batch_emptied_by_prepare_adds_no_state(spark, tokens_sdf,
                                                tmp_path):
    """A micro-batch that `prepare` empties writes no blob rows: the
    streamed state, before and after compaction, equals a batch build
    over the rows `prepare` keeps."""
    inp, state = str(tmp_path / "in"), str(tmp_path / "state")
    for cond in ("source = 'web'", "source IN ('books', 'code', 'wiki')",
                 "source NOT IN ('web', 'books', 'code', 'wiki')"):
        tokens_sdf.filter(cond).coalesce(1).write.mode("append") \
            .parquet(inp)

    def drop_web(df):
        return df.filter("source != 'web'")

    q = streaming.stream_sketch_build(
        spark, inp, state, SPECS, checkpoint_dir=str(tmp_path / "ck"),
        prepare=drop_web, reader_options={"maxFilesPerTrigger": 1})
    q.awaitTermination(120)
    assert len([d for d in os.listdir(state)
                if d.startswith("batch_id=")]) == 3

    def blobs(df):
        return {(r["source"], r["sketch"]): bytes(r["state"])
                for r in df.collect()}

    batch = blobs(agg.multi_sketch_agg(drop_web(spark.read.parquet(inp)),
                                       SPECS))
    assert len(batch) == 7
    assert blobs(streaming.streamed_estimates(spark, state)) == batch
    assert streaming.compact_state(spark, state)["folded"] == 2
    assert blobs(streaming.streamed_estimates(spark, state)) == batch


def test_stream_picks_up_late_files(spark, tokens_sdf, tmp_path):
    """Incremental ingest: restart after new files arrive processes ONLY the
    new data; merged estimate equals a batch build over the union."""
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ck")
    first = tokens_sdf.filter("source <= 'f'")
    second = tokens_sdf.filter("source > 'f'")
    first.coalesce(1).write.mode("append").parquet(inp)
    q = streaming.stream_sketch_build(spark, inp, state, SPECS,
                                      checkpoint_dir=ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(state).count()
    second.coalesce(1).write.mode("append").parquet(inp)
    q2 = streaming.stream_sketch_build(spark, inp, state, SPECS,
                                       checkpoint_dir=ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(state).count() > n1
    streamed = {r["source"]: bytes(r["state"])
                for r in streaming.streamed_estimates(spark, state).collect()}
    batch = {r["source"]: bytes(r["state"])
             for r in agg.sketch_agg(spark.read.parquet(inp), "hll",
                                     "tokens", ("source",),
                                     {"p": 12}).collect()}
    assert streamed == batch


def test_windowed_stream_agg_matches_batch(spark):
    """Watermarked event-time tumbling windows over the events table:
    streamed (availableNow, complete mode) results equal the same window
    aggregation computed in batch."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    win = streaming.windowed_stream_agg(
        spark, sf, window="1 day", watermark="1 day",
        reader_options={"pathGlobFilter": "events.parquet"})
    q = (win.writeStream.format("memory").queryName("win_agg")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["win"]["start"], r["win"]["end"]): (r["n_events"],
                                                  r["approx_keys"])
           for r in spark.table("win_agg").collect()}
    ev = (spark.read.parquet(f"{sf}/events.parquet")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    want = {(r["win"]["start"], r["win"]["end"]): (r["n_events"],
                                                   r["approx_keys"])
            for r in ev.groupBy(F.window("ts", "1 day").alias("win"))
            .agg(F.count("*").alias("n_events"),
                 F.approx_count_distinct("user_id").alias("approx_keys"))
            .collect()}
    assert got == want and len(got) >= 2


def test_compact_state_preserves_estimates(spark, stream_input, tmp_path):
    """Folding completed batch dirs must leave streamed_estimates
    byte-identical and shrink the state table to snapshot + live batch."""
    state_dir = str(tmp_path / "cstate")
    q = streaming.stream_sketch_build(
        spark, stream_input, state_dir, SPECS,
        checkpoint_dir=str(tmp_path / "cckpt"),
        available_now=True,
        reader_options={"maxFilesPerTrigger": 1})  # force >=3 batches
    q.awaitTermination(120)
    before = {(r["source"], r["sketch"]): bytes(r["state"])
              for r in streaming.streamed_estimates(spark,
                                                    state_dir).collect()}
    import os
    n_dirs_before = len([d for d in os.listdir(state_dir)
                         if d.startswith("batch_id=")])
    out = streaming.compact_state(spark, state_dir)
    n_dirs_after = len([d for d in os.listdir(state_dir)
                        if d.startswith("batch_id=")])
    after = {(r["source"], r["sketch"]): bytes(r["state"])
             for r in streaming.streamed_estimates(spark,
                                                   state_dir).collect()}
    assert after == before
    if n_dirs_before > 2:
        assert out["folded"] == n_dirs_before - 1
        assert n_dirs_after == 2
    else:
        assert out["folded"] == 0


def test_compact_state_crash_windows(spark, stream_input, tmp_path):
    """Every step of the compaction protocol must leave streamed_estimates
    unchanged: an uncommitted (orphan) snapshot dir is invisible, and a
    committed marker survives unfinished garbage collection."""
    import os
    import shutil

    state_dir = str(tmp_path / "crstate")
    q = streaming.stream_sketch_build(
        spark, stream_input, state_dir, SPECS,
        checkpoint_dir=str(tmp_path / "crckpt"), available_now=True,
        reader_options={"maxFilesPerTrigger": 1})
    q.awaitTermination(120)
    baseline = {(r["source"], r["sketch"]): bytes(r["state"])
                for r in streaming.streamed_estimates(spark,
                                                      state_dir).collect()}

    # crash BEFORE marker commit: orphan negative snapshot dir, no marker
    orphan = os.path.join(state_dir, "batch_id=-7")
    src_dir = next(os.path.join(state_dir, d) for d in os.listdir(state_dir)
                   if d.startswith("batch_id=") and "=-" not in d)
    shutil.copytree(src_dir, orphan)
    got = {(r["source"], r["sketch"]): bytes(r["state"])
           for r in streaming.streamed_estimates(spark,
                                                 state_dir).collect()}
    assert got == baseline  # orphan is invisible
    shutil.rmtree(orphan)

    # full compaction, then simulate crash DURING GC by resurrecting a
    # folded batch dir: the marker makes it dead, estimates unchanged
    backup = str(tmp_path / "backup_batch")
    shutil.copytree(src_dir, backup)  # src_dir may be folded away below
    out = streaming.compact_state(spark, state_dir)
    assert out["folded"] >= 2
    dead = os.path.join(state_dir, "batch_id=0")
    if not os.path.exists(dead):
        shutil.copytree(backup, dead)
    got = {(r["source"], r["sketch"]): bytes(r["state"])
           for r in streaming.streamed_estimates(spark,
                                                 state_dir).collect()}
    assert got == baseline
    # and compaction is idempotent / converges
    assert streaming.compact_state(spark, state_dir)["folded"] in (0, 2)
    got = {(r["source"], r["sketch"]): bytes(r["state"])
           for r in streaming.streamed_estimates(spark,
                                                 state_dir).collect()}
    assert got == baseline


def test_dedup_stream_within_watermark_matches_batch(spark, tmp_path):
    """dropDuplicatesWithinWatermark over a finite replay must equal the
    batch COUNT(DISTINCT) — within one watermark horizon the bounded-state
    dedup is exact."""
    from pyspark.sql import functions as F

    from sgp_sketch.streaming import dedup_stream_agg

    sf = "/root/testdata/sf0.001"
    agg_df = dedup_stream_agg(
        spark, sf, dedup_keys=("user_id", "event_type"),
        watermark="365 days", group_col="event_type",
        reader_options={"pathGlobFilter": "events.parquet"})
    q = (agg_df.writeStream.format("memory").queryName("dedup_wm")
         .outputMode("complete").trigger(availableNow=True).start())
    assert q.awaitTermination(300)
    got = {r["event_type"]: r["n_distinct"]
           for r in spark.table("dedup_wm").collect()}
    want = {r["event_type"]: r["n"] for r in
            (spark.read.parquet(f"{sf}/events.parquet")
             .groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect())}
    assert got == want


def test_stream_stream_join_matches_batch_and_horizon(spark):
    """The watermarked click->purchase stream join over a finite replay
    must equal the batch time-range join, and every emitted pair must
    respect the horizon."""
    from pyspark.sql import functions as F

    from sgp_sketch.streaming import stream_stream_join

    sf = "/root/testdata/sf0.001"
    pairs = stream_stream_join(
        spark, sf, horizon_seconds=3600,
        reader_options={"pathGlobFilter": "events.parquet"})
    q = (pairs.writeStream.format("memory").queryName("ss_pairs")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(300)
    got = spark.table("ss_pairs")
    n = got.count()
    assert n > 0
    assert got.where((F.col("lag_seconds") < 0)
                     | (F.col("lag_seconds") > 3600)).count() == 0
    ev = spark.read.parquet(f"{sf}/events.parquet")
    c = ev.where(F.col("event_type") == "click") \
        .select("user_id", F.col("ts").alias("cts"))
    p = ev.where(F.col("event_type") == "purchase") \
        .select(F.col("user_id").alias("pu"), F.col("ts").alias("pts"))
    want = c.join(p, (c.user_id == p.pu)
                  & (p.pts >= c.cts)
                  & (p.pts <= c.cts + F.expr("INTERVAL 1 HOUR"))).count()
    assert n == want

def test_streamed_mg_bracket_matches_exact(spark, stream_input, tokens_pdf,
                                           tmp_path):
    """The new kinds flow through the generic streaming build: an MG spec
    streamed over micro-batches must bracket the exact counts computed on
    the same input. Byte-equality with the batch build is NOT asserted —
    MG counter sets are split-dependent (kernels/mg.py docstring); the
    guarantee that survives any merge order is the bracket."""
    import numpy as np

    from sgp_sketch.kernels import registry
    from sgp_sketch import streaming

    specs = {"mg": {"kind": "mg", "value_col": "tokens",
                    "params": {"k": 64}}}
    state_dir = str(tmp_path / "state_mg")
    q = streaming.stream_sketch_build(
        spark, stream_input, state_dir, specs,
        checkpoint_dir=str(tmp_path / "ckpt_mg"), available_now=True)
    q.awaitTermination(120)
    blobs = {r["source"]: bytes(r["state"])
             for r in streaming.streamed_estimates(spark, state_dir)
             .collect()}
    for src, sub in tokens_pdf.groupby("source"):
        flat = np.concatenate(sub["tokens"].to_numpy())
        uniq, counts = np.unique(flat, return_counts=True)
        st = registry.from_bytes(blobs[src])
        assert st.n_items == flat.size
        assert st.dec <= flat.size // 65 + 1
        est = st.estimate(uniq.astype(np.int64))
        assert np.all(est <= counts)
        assert np.all(counts <= est + st.dec)

def test_windowed_heavy_hitters_sink_matches_exact(spark, tmp_path):
    """Per-(type × day) Misra–Gries through the sink: `prepare` projects
    the key, the window start and the value, the state table is keyed by
    (k, w), and streamed_estimates merges each window's partials. With
    counter capacity >= the per-window value domain no eviction happens,
    so each merged MG's top-3 must EQUAL the exact batch top-3, bracket
    collapsed (dec == 0)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sgp_sketch.kernels import registry

    rng = np.random.default_rng(7)
    n = 3000
    pdf = pd.DataFrame({
        "ts": pd.Timestamp("2024-01-01")
        + pd.to_timedelta(rng.integers(0, 3 * 86400, n), unit="s"),
        "event_type": rng.choice(["a", "b"], n),
        "user_id": rng.zipf(1.5, n).astype("int64") % 50,
    })
    src = str(tmp_path / "hh_events")
    spark.createDataFrame(pdf).repartition(3).write.parquet(src)

    def per_window(df):
        return df.select(F.col("event_type").alias("k"),
                         F.window("ts", "1 day").start.alias("w"),
                         F.col("user_id").alias("v"))

    specs = {"mg": {"kind": "mg", "value_col": "v", "params": {"k": 256}}}
    state = str(tmp_path / "hh_state")
    q = streaming.stream_sketch_build(
        spark, src, state, specs, group_cols=("k", "w"),
        checkpoint_dir=str(tmp_path / "hh_ckpt"), prepare=per_window,
        reader_options={"maxFilesPerTrigger": 1})
    q.awaitTermination(120)
    assert len([d for d in os.listdir(state)
                if d.startswith("batch_id=")]) == 3
    got = {(r["k"], r["w"].strftime("%Y-%m-%d")): registry.from_bytes(
               bytes(r["state"]))
           for r in streaming.streamed_estimates(
               spark, state, group_cols=("k", "w")).collect()}
    pdf["day"] = pdf["ts"].dt.strftime("%Y-%m-%d")
    want = pdf.groupby(["event_type", "day"])
    assert set(got) == set(want.groups)
    for (t, day), sub in want:
        counts = sub.groupby("user_id").size().reset_index(name="c")
        counts = counts.sort_values(["c", "user_id"],
                                    ascending=[False, True]).head(3)
        mg = got[(t, day)]
        assert mg.dec == 0, (t, day)
        keys, cnts = mg.heavy_hitters()
        assert keys[:3].tolist() == counts["user_id"].tolist(), (t, day)
        assert cnts[:3].tolist() == counts["c"].tolist(), (t, day)


def test_compact_state_gc_orphan_snapshot_dirs(spark, stream_input, tmp_path):
    """A crash between snapshot write and marker commit leaves an orphan
    negative dir; once later batches change the fold set, no future
    compaction would ever fold OR delete it — it must be GC'd up front."""
    import os
    import shutil

    state_dir = str(tmp_path / "gcstate")
    q = streaming.stream_sketch_build(
        spark, stream_input, state_dir, SPECS,
        checkpoint_dir=str(tmp_path / "gcckpt"), available_now=True,
        reader_options={"maxFilesPerTrigger": 1})
    q.awaitTermination(120)
    baseline = {(r["source"], r["sketch"]): bytes(r["state"])
                for r in streaming.streamed_estimates(spark,
                                                      state_dir).collect()}
    src_dir = next(os.path.join(state_dir, d) for d in os.listdir(state_dir)
                   if d.startswith("batch_id=") and "=-" not in d)
    orphan = os.path.join(state_dir, "batch_id=-99")
    shutil.copytree(src_dir, orphan)
    out = streaming.compact_state(spark, state_dir)
    assert out["folded"] >= 2
    assert not os.path.exists(orphan), "orphan snapshot dir leaked"
    got = {(r["source"], r["sketch"]): bytes(r["state"])
           for r in streaming.streamed_estimates(spark,
                                                 state_dir).collect()}
    assert got == baseline

def test_streamed_cs_byte_equal_to_batch(spark, stream_input, tokens_pdf,
                                         tmp_path):
    """Count-Sketch through the generic streaming build: cell-wise signed
    addition is exact, so the streamed state must be BYTE-IDENTICAL to a
    batch multi_sketch_agg build on the same input (the strong HLL/theta
    equivalence, which MG cannot offer), and the F2 estimate must satisfy
    the AMS bound vs the exact per-source stream."""
    import numpy as np

    from sgp_sketch import agg, streaming
    from sgp_sketch.kernels import registry

    specs = {"cs": {"kind": "cs", "value_col": "tokens",
                    "params": {"depth": 5, "width": 1 << 12}}}
    state_dir = str(tmp_path / "state_cs")
    q = streaming.stream_sketch_build(
        spark, stream_input, state_dir, specs,
        checkpoint_dir=str(tmp_path / "ckpt_cs"), available_now=True)
    q.awaitTermination(120)
    streamed = {r["source"]: bytes(r["state"])
                for r in streaming.streamed_estimates(spark, state_dir)
                .collect()}
    batch_df = spark.read.parquet(stream_input)
    batch = {r["source"]: bytes(r["state"])
             for r in agg.multi_sketch_agg(batch_df, specs,
                                           ("source",)).collect()}
    assert set(streamed) == set(batch)
    for src in batch:
        assert streamed[src] == batch[src], src
        sk = registry.from_bytes(streamed[src])
        flat = np.concatenate(
            tokens_pdf[tokens_pdf.source == src]["tokens"].to_numpy())
        _, counts = np.unique(flat, return_counts=True)
        f2 = float((counts.astype(np.float64) ** 2).sum())
        assert abs(sk.f2_estimate() - f2) <= f2 * np.sqrt(6 / sk.width)


def test_streamed_dd_byte_equal_to_batch(spark, stream_input, tokens_pdf,
                                         tmp_path):
    """DDSketch through the generic streaming build: cell-wise counter
    addition over canonical sorted stores is exact, so the streamed state
    must be BYTE-IDENTICAL to a batch multi_sketch_agg build on the same
    input, and the merged quantiles must satisfy the relative-error
    guarantee vs the exact per-source n_tok distribution."""
    import numpy as np

    from sgp_sketch import agg, streaming
    from sgp_sketch.kernels import registry

    specs = {"dd": {"kind": "dd", "value_col": "n_tok",
                    "params": {"alpha": 0.02}}}
    state_dir = str(tmp_path / "state_dd")
    q = streaming.stream_sketch_build(
        spark, stream_input, state_dir, specs,
        checkpoint_dir=str(tmp_path / "ckpt_dd"), available_now=True)
    q.awaitTermination(120)
    streamed = {r["source"]: bytes(r["state"])
                for r in streaming.streamed_estimates(spark, state_dir)
                .collect()}
    batch_df = spark.read.parquet(stream_input)
    batch = {r["source"]: bytes(r["state"])
             for r in agg.multi_sketch_agg(batch_df, specs,
                                           ("source",)).collect()}
    assert set(streamed) == set(batch)
    for src in batch:
        assert streamed[src] == batch[src], src
        sk = registry.from_bytes(streamed[src])
        vals = np.sort(tokens_pdf[tokens_pdf.source == src]["n_tok"]
                       .to_numpy().astype(np.float64))
        for quant in (0.5, 0.99):
            exact = vals[int(np.floor(quant * (vals.size - 1)))]
            est = sk.quantiles([quant])[0]
            assert abs(est - exact) <= 0.02 * abs(exact) + 1e-12, (src, quant)


def test_streamed_moments_byte_equal_to_batch(spark, stream_input,
                                              tokens_pdf, tmp_path):
    """Moments through the generic streaming build: integer addition is
    exact, so the streamed state must be BYTE-IDENTICAL to the batch
    multi_sketch_agg build, and its stats equal the exact computation."""
    from sgp_sketch import agg, streaming
    from sgp_sketch.kernels import registry

    specs = {"mom": {"kind": "moments", "value_col": "n_tok"}}
    state_dir = str(tmp_path / "state_mom")
    q = streaming.stream_sketch_build(
        spark, stream_input, state_dir, specs,
        checkpoint_dir=str(tmp_path / "ckpt_mom"), available_now=True)
    q.awaitTermination(120)
    streamed = {r["source"]: bytes(r["state"])
                for r in streaming.streamed_estimates(spark, state_dir)
                .collect()}
    batch_df = spark.read.parquet(stream_input)
    batch = {r["source"]: bytes(r["state"])
             for r in agg.multi_sketch_agg(batch_df, specs,
                                           ("source",)).collect()}
    assert set(streamed) == set(batch)
    for src in batch:
        assert streamed[src] == batch[src], src
        sk = registry.from_bytes(streamed[src])
        xs = [int(x) for x in
              tokens_pdf[tokens_pdf.source == src]["n_tok"].tolist()]
        assert sk.n == len(xs)
        assert sk.s[1] == sum(x * x for x in xs)


def test_replayed_micro_batch_keeps_streamed_state_exact(spark, tokens_sdf,
                                                         tmp_path):
    """A crash between a batch's state write and its streaming commit
    makes Spark replay that batch on restart. The replay overwrites its
    own batch dir: the dir count and the row count stay the same, and the
    streamed state still equals a batch build (bytes for the
    order-independent kinds, n_items for every spec)."""
    specs = {"hll": {"kind": "hll", "value_col": "tokens",
                     "params": {"p": 12}},
             "cms": {"kind": "cms", "value_col": "tokens"},
             "mom": {"kind": "moments", "value_col": "n_tok"},
             "kll": {"kind": "kll", "value_col": "n_tok"}}
    inp, state = str(tmp_path / "in"), str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    tokens_sdf.repartition(6).write.parquet(inp)

    def drain():
        q = streaming.stream_sketch_build(
            spark, inp, state, specs, checkpoint_dir=ckpt,
            reader_options={"maxFilesPerTrigger": 2})
        q.awaitTermination(120)
        assert q.exception() is None
        return [p["batchId"] for p in q.recentProgress]

    def dirs():
        return sorted(d for d in os.listdir(state)
                      if d.startswith("batch_id="))

    assert drain() == [0, 1, 2]
    n_dirs, n_rows = dirs(), spark.read.parquet(state).count()
    last = max(int(d.split("=")[1]) for d in n_dirs)
    for name in (str(last), f".{last}.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    assert drain() == [last]
    assert dirs() == n_dirs
    assert spark.read.parquet(state).count() == n_rows

    def blobs(df):
        return {(r["source"], r["sketch"]): (bytes(r["state"]),
                                             r["n_items"])
                for r in df.collect()}

    streamed = blobs(streaming.streamed_estimates(spark, state))
    batch = blobs(agg.multi_sketch_agg(spark.read.parquet(inp), specs))
    assert set(streamed) == set(batch)
    for key, (blob, n) in batch.items():
        assert streamed[key][1] == n, key
        if key[1] in ("hll", "mom"):
            assert streamed[key][0] == blob, key
