"""The two workloads. Each runs closed-loop on one driver process: one
Spark job at a time, the next submitted when the previous returns, with
only Spark's local[nproc] executor threads as parallelism.

  suite_scan   one-scan build of the 6-sketch suite per source over a
               source-partitioned table (scan, Arrow hand-off, kernels).
  incremental  availableNow stream drain of a mixed-source base file set,
               then a checkpointed build resumed after an append (per-job
               fixed costs, blob writes, lineage I/O, grouped stats).

`run_untraced` times the workload's headline operation at local[nproc]
for the end-to-end metrics. `run_traced` decomposes the same work into
per-layer spans and counts, and also times it at local[1]. The traced
suite_scan run also measures the per-key path (per-doc theta distinct
counts: raw-row shuffle, the pandas per-group accumulator, many tiny
states, no merge) on an input of its own.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback

import box
import checks
import inputs
import kernel_probe

SUITE = {
    "hll": {"kind": "hll", "value_col": "tokens", "params": {"p": 14}},
    "cms": {"kind": "cms", "value_col": "tokens",
            "params": {"depth": 4, "width": 1 << 14}},
    "bloom": {"kind": "bloom", "value_col": "tokens",
              "params": {"n_blocks": 1 << 12}},
    "kll": {"kind": "kll", "value_col": "n_tok", "params": {}},
    "tdigest": {"kind": "tdigest", "value_col": "n_tok", "params": {}},
    "moments": {"kind": "moments", "value_col": "n_tok", "params": {}},
}

# Input sizes: each headline operation takes ~1-5 s at local[4], so a
# run repeats it several times inside --seconds while a whole run stays
# under a minute on a 4-core box. per_key is the traced per-key leg's
# input, not a workload.
SIZES = {
    "suite_scan": {"n_docs": 16_000, "layout": "hive", "files_per_source": 8},
    "per_key": {"n_docs": 8_000, "layout": "hive", "files_per_source": 4,
                "per_doc": True},
    "incremental": {"n_docs": 6_000, "layout": "mixed", "n_base": 8,
                    "n_append": 4},
}
FILES_PER_TRIGGER = 4
FILES_PER_SLICE = 8
WARM_S = 8.0
# the timed window holds at least this many operations, so its median is
# not a single sample even when an operation (an incremental drain) takes
# longer than a third of --seconds
MIN_SAMPLES = 3
STREAM_TIMEOUT_S = 150

WORKLOADS = ("suite_scan", "incremental")

PER_LAYER = (
    "session.start_s", "session.warm_s", "scan.s", "agg.handoff_s",
    "agg.partials_s", "agg.partial_rows", "agg.partial_bytes",
    "agg.merge_s", "agg.merge_rounds", "agg.bykey_shuffle_s",
    "agg.bykey_build_s",
    "kernels.flatten_tok_per_s", "kernels.dedupe_tok_per_s",
    "kernels.grouped_stats_tok_per_s", "kernels.hash64_per_s",
    *(f"kernels.update_{k}_per_s" for k in SUITE),
    *(f"kernels.to_bytes_{k}_s" for k in SUITE),
    *(f"kernels.blob_bytes_{k}" for k in SUITE),
    "kernels.merge_blobs_per_s", "kernels.theta_calls_per_s",
    "queries.estimate_s",
    "checkpoint.slice_s_p50", "checkpoint.slices_built",
    "checkpoint.slices_skipped", "checkpoint.resume_check_s",
    "checkpoint.finalize_s", "checkpoint.refresh_s",
    "streaming.batches", "streaming.triggerExecution_ms_p50",
    "streaming.addBatch_ms_p50", "streaming.getBatch_ms_p50",
    "streaming.queryPlanning_ms_p50", "streaming.walCommit_ms_p50",
    "streaming.state_files", "streaming.state_bytes", "streaming.compact_s",
    "streaming.query_s",
    "checks.bound_ratio_max",
    "scaling.nproc_per_s", "scaling.one_core_per_s", "scaling.eff",
    *(f"trace.self_s.{layer}" for layer in
      ("session", "scan", "agg", "kernels", "queries", "checkpoint",
       "streaming")),
    "trace.untraced_s", "trace.coverage", "trace.overhead_frac",
)


class Outcome:
    """Attempted/failed operation counts and what went wrong."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.ratio_max = 0.0

    def attempt(self, name: str, run, check=None):
        """Run one operation; a raise or a failed check marks it failed.
        Returns run()'s result, or None when it raised."""
        self.attempted += 1
        try:
            out = run()
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            self._fail(name, [f"{type(e).__name__}: {e}"])
            return None
        if check is not None:
            try:
                probs = check(out)
            except Exception as e:
                probs = [f"check raised {type(e).__name__}: {e}"]
            if probs:
                self._fail(name, probs)
        return out

    def _fail(self, name, probs):
        self.failed += 1
        self.problems.extend(f"{name}: {p}" for p in probs[:5])
        for p in probs[:5]:
            print(f"FAILED {name}: {p}", file=sys.stderr, flush=True)


def repeat(budget_s: float, once, min_calls: int = 1) -> list[float]:
    """Call once() (→ seconds or None) while less than `budget_s` has been
    spent, and at least `min_calls` times; returns the seconds of the calls
    that worked."""
    times: list[float] = []
    t0 = time.perf_counter()
    n = 0
    while n < min_calls or time.perf_counter() - t0 < budget_s:
        n += 1
        dt = once()
        if dt is not None:
            times.append(dt)
        elif time.perf_counter() - t0 >= budget_s:
            break
    return times


def collect_blobs(df) -> dict:
    return {(r["source"], r["sketch"]): bytes(r["state"])
            for r in df.select("source", "sketch", "state").collect()}


def finalize(blobs: dict) -> dict:
    """Merged blobs → estimates on the driver: distinct counts, quantiles
    and moment statistics; CMS and Bloom states are decoded for point
    queries."""
    from sgp_sketch.kernels import registry

    out = {}
    for key, blob in blobs.items():
        st = registry.from_bytes(blob)
        kind = SUITE[key[1]]["kind"]
        if kind in ("kll", "tdigest"):
            out[key] = st.quantiles(checks.QS)
        elif kind in ("hll", "moments"):
            out[key] = st.estimate()
        else:
            out[key] = st
    return out


def _work(name: str) -> str:
    d = os.path.join(box.WORK, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def _files_in(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def _p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ------------------------------------------------------------ suite_scan

def _suite_build(spark, inp, tracer):
    from sgp_sketch import agg

    with tracer.span("suite.build", "agg") as sp:
        df = spark.read.parquet(inp.table)
        blobs = collect_blobs(agg.multi_sketch_agg(df, SUITE, ("source",)))
        with tracer.span("suite.finalize", "queries"):
            finalize(blobs)
    return sp.seconds, blobs


def _suite_check(exact, out: Outcome):
    def check(res):
        probs, ratio = checks.suite(res[1], SUITE, exact)
        out.ratio_max = max(out.ratio_max, ratio)
        return probs
    return check


def suite_scan_op(spark, inp, tracer, out, exact, keep):
    """One timed build; returns its seconds (None on failure)."""
    res = out.attempt("suite_scan.build",
                      lambda: _suite_build(spark, inp, tracer),
                      _suite_check(exact, out))
    if res is None:
        return None
    keep["blobs"] = res[1]
    return res[0]


# --------------------------------------------------------------- per_key

def _per_key_build(spark, inp, tracer):
    from sgp_sketch import queries

    with tracer.span("per_key.build", "queries") as sp:
        df = spark.read.parquet(inp.table)
        rows = queries.distinct_per_key(df, ["doc_id"], "tokens",
                                        "theta").collect()
        est = {r["doc_id"]: r["est_distinct"] for r in rows}
    return sp.seconds, est


def per_key_op(spark, inp, tracer, out, exact, keep):
    res = out.attempt("per_key.build",
                      lambda: _per_key_build(spark, inp, tracer),
                      lambda r: checks.per_key(r[1], exact))
    return None if res is None else res[0]


# ----------------------------------------------------------- incremental

def _drain(spark, inp, work, tracer):
    """availableNow drain of the base files → (seconds, state dir, query)."""
    from sgp_sketch import streaming

    state = os.path.join(work, "state")
    with tracer.span("streaming.drain", "streaming") as sp:
        q = streaming.stream_sketch_build(
            spark, inp.base, state, SUITE, ("source",),
            checkpoint_dir=os.path.join(work, "stream-ckpt"),
            available_now=True,
            reader_options={"maxFilesPerTrigger": str(FILES_PER_TRIGGER)})
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"stream drain over {STREAM_TIMEOUT_S}s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
    return sp.seconds, state, q


def _streamed(spark, state, tracer):
    from sgp_sketch import streaming

    with tracer.span("streaming.query", "streaming") as sp:
        blobs = collect_blobs(streaming.streamed_estimates(spark, state))
        with tracer.span("streaming.finalize", "queries"):
            finalize(blobs)
    return sp.seconds, blobs


def _link_files(files, dst):
    os.makedirs(dst, exist_ok=True)
    for f in files:
        target = os.path.join(dst, os.path.basename(f))
        try:
            os.link(f, target)
        except OSError:
            shutil.copyfile(f, target)


def _checkpoint_cycle(spark, inp, work, tracer, out, exact_all, layers):
    """Build the base checkpoint, resume with nothing new, append, resume
    and finalize. Returns (refresh seconds, finalized blobs)."""
    from sgp_sketch import checkpoint

    ck_in = os.path.join(work, "ck-input")
    ck_dir = os.path.join(work, "ckpt")
    _link_files(inp.files("base"), ck_in)

    def build():
        return checkpoint.build_checkpointed_multi(
            spark, ck_in, SUITE, ("source",), ckpt_dir=ck_dir,
            files_per_slice=FILES_PER_SLICE)

    with tracer.span("checkpoint.base_build", "checkpoint"):
        base = out.attempt("incremental.checkpoint_base", build,
                           lambda m: [] if m["built"] else ["nothing built"])
    with tracer.span("checkpoint.resume_check", "checkpoint") as sp:
        out.attempt(
            "incremental.resume_noop", build,
            lambda m: [f"rebuilt {len(m['built'])} slices"]
            if m["built"] else [])
    layers["checkpoint.resume_check_s"] = sp.seconds
    _link_files(inp.files("append"), ck_in)

    def refresh():
        with tracer.span("checkpoint.refresh", "checkpoint") as sp:
            man = build()
            with tracer.span("checkpoint.finalize", "checkpoint") as fsp:
                blobs = collect_blobs(checkpoint.finalize_multi(spark,
                                                                ck_dir))
            with tracer.span("checkpoint.estimates", "queries"):
                finalize(blobs)
        layers["checkpoint.finalize_s"] = fsp.seconds
        return sp.seconds, blobs, man

    n_new = -(-len(inp.files("append")) // FILES_PER_SLICE)

    def check(res):
        probs, ratio = checks.suite(res[1], SUITE, exact_all)
        out.ratio_max = max(out.ratio_max, ratio)
        man = res[2]
        if len(man["built"]) != n_new or (
                base and len(man["skipped"]) != len(base["built"])):
            probs.append(f"resume built {len(man['built'])}, skipped "
                         f"{len(man['skipped'])}")
        return probs

    res = out.attempt("incremental.refresh", refresh, check)
    if res is None:
        return None, None
    man = res[2]
    layers["checkpoint.slices_built"] = float(len(man["built"]))
    layers["checkpoint.slices_skipped"] = float(len(man["skipped"]))
    with open(os.path.join(ck_dir, "metrics.jsonl")) as f:
        secs = [json.loads(line)["seconds"] for line in f if line.strip()]
    layers["checkpoint.slice_s_p50"] = _p50(secs)
    return res[0], res[1]


def incremental_op(spark, inp, tracer, out, exact, keep, mode="drain"):
    """One availableNow drain of the base files; returns its seconds. The
    drained state is then read back and checked (untimed). Mode "full"
    also compacts the state and makes a checkpointed build, resumes it
    with nothing new, appends and refreshes it, with the per-layer numbers
    going to keep["layers"]."""
    exact_base, exact_all = exact
    work = _work(f"incremental-{time.time_ns()}")
    res = out.attempt("incremental.drain",
                      lambda: _drain(spark, inp, work, tracer))
    if res is None:
        shutil.rmtree(work, ignore_errors=True)
        return None
    drain_s, state, q = res

    def check_query(r):
        probs, ratio = checks.suite(r[1], SUITE, exact_base)
        out.ratio_max = max(out.ratio_max, ratio)
        return probs

    qres = out.attempt("incremental.query",
                       lambda: _streamed(spark, state, tracer), check_query)
    if mode == "drain":
        shutil.rmtree(work, ignore_errors=True)
        return drain_s
    layers = keep.setdefault("layers", {})
    progress = [p.durationMs if hasattr(p, "durationMs")
                else p["durationMs"] for p in q.recentProgress]
    layers["streaming.batches"] = float(len(progress))
    for key in ("triggerExecution", "addBatch", "getBatch",
                "queryPlanning", "walCommit"):
        layers[f"streaming.{key}_ms_p50"] = _p50(
            [d.get(key, 0) for d in progress])
    n, size = _files_in(state)
    layers["streaming.state_files"] = float(n)
    layers["streaming.state_bytes"] = float(size)
    if qres is not None:
        layers["streaming.query_s"] = qres[0]
        keep["streamed"] = qres[1]

    def compact():
        from sgp_sketch import streaming

        with tracer.span("streaming.compact", "streaming") as sp:
            streaming.compact_state(spark, state)
        layers["streaming.compact_s"] = sp.seconds
        return _streamed(spark, state, tracer)[1]

    out.attempt("incremental.compact", compact,
                lambda b: checks.byte_equal(b, keep.get("streamed", {}),
                                            SUITE, "compacted vs streamed"))
    refresh_s, blobs = _checkpoint_cycle(spark, inp, work, tracer, out,
                                         exact_all, layers)
    if refresh_s is not None:
        layers["checkpoint.refresh_s"] = refresh_s
        keep["refreshed"] = blobs
    return drain_s


def incremental_byte_checks(spark, inp, out, keep):
    """Streamed and checkpointed blobs vs one-shot builds of the same
    files, for the order-independent kinds."""
    from sgp_sketch import agg

    def one_shot(*paths):
        return collect_blobs(agg.multi_sketch_agg(
            spark.read.parquet(*paths), SUITE, ("source",)))

    if "streamed" in keep:
        out.attempt("incremental.streamed_vs_oneshot",
                    lambda: one_shot(inp.base),
                    lambda b: checks.byte_equal(keep["streamed"], b, SUITE,
                                                "streamed vs one-shot"))
    if "refreshed" in keep:
        out.attempt("incremental.checkpoint_vs_oneshot",
                    lambda: one_shot(inp.base, inp.append),
                    lambda b: checks.byte_equal(keep["refreshed"], b, SUITE,
                                                "checkpointed vs one-shot"))


OPS = {"suite_scan": suite_scan_op, "incremental": incremental_op}


# --------------------------------------------------------------- drivers

def _input(workload: str, seed: int, scale: float):
    """(input, exact answers, work units of one headline operation):
    tokens for suite_scan, keys for per_key, base rows for incremental."""
    size = dict(SIZES[workload])
    size["n_docs"] = max(64, int(size["n_docs"] * scale))
    inp = inputs.ensure(workload, seed=seed, **size)
    if workload == "incremental":
        exact = (inp.exact("base"), inp.exact("all"))
        src = exact[0][0]["sources"]
        return inp, exact, sum(s["n_docs"] for s in src.values())
    exact = inp.exact("all")
    src = exact[0]["sources"]
    key = "n_tokens" if workload == "suite_scan" else "n_docs"
    return inp, exact, sum(s[key] for s in src.values())


def warm_up(workload, spark, inp, tracer, out, exact, keep) -> None:
    """Untimed operations for WARM_S, at least one: the JVM's JIT keeps
    speeding the scan, shuffle and stream planning up over the first
    operations of a session. The checkpoint cycle runs in the traced run
    only, for time."""
    op = OPS[workload]
    repeat(WARM_S, lambda: op(spark, inp, tracer, out, exact, keep))


def run_untraced(workload: str, seed: int, seconds: float,
                 scale: float = 1.0) -> tuple[dict, Outcome, dict]:
    """End-to-end metrics: (metrics, outcome, detail)."""
    from spans import NullTracer

    tracer = NullTracer()
    out = Outcome()
    n = box.nproc()
    spark, starts, warms = box.setup(n, tracer)
    op = OPS[workload]
    keep: dict = {}
    sampler = box.RssSampler()
    phases: dict[str, float] = {}
    try:
        t0 = time.perf_counter()
        inp, exact, units = _input(workload, seed, scale)

        def once():
            return op(spark, inp, tracer, out, exact, keep)

        phases["input"] = time.perf_counter() - t0
        with sampler:
            t0 = time.perf_counter()
            warm_up(workload, spark, inp, tracer, out, exact, keep)
            phases["warm_op"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            t_n = repeat(seconds, once, MIN_SAMPLES)
            phases["timed"] = time.perf_counter() - t0
    finally:
        spark.stop()
    metrics = {
        "setup_s": box.median_setup(starts, warms),
        "throughput": units / _p50(t_n) if t_n else 0.0,
        "peak_rss_mb": sampler.peak / 2**20,
    }
    detail = {"units": units, "setup_start_s": starts,
              "setup_warm_s": warms, "times_s": t_n, "phases_s": phases,
              "peak_rss_parts_mb": {k: v / 2**20 for k, v in
                                    sampler.peak_parts.items()},
              "bound_ratio_max": out.ratio_max}
    return metrics, out, detail


def _scan_leg(spark, path, tracer) -> float:
    from pyspark.sql import functions as F

    with tracer.span("scan.tokens", "scan") as sp:
        spark.read.parquet(path).select(F.sum(F.size("tokens"))).collect()
    return sp.seconds


def _noop_arrow(batches):
    import pyarrow as pa

    n = 0
    for b in batches:
        n += b.num_rows
    yield pa.RecordBatch.from_arrays([pa.array([n], pa.int64())],
                                     names=["n"])


LEG_ROUNDS = 3


def _legs(rounds: int, legs: dict) -> dict:
    """Run every leg once per round, round after round, and return each
    leg's median seconds; interleaving keeps machine drift off the
    differences between legs."""
    times: dict[str, list[float]] = {name: [] for name in legs}
    for _ in range(rounds):
        for name, leg in legs.items():
            times[name].append(leg())
    return {name: _p50(ts) for name, ts in times.items()}


def _suite_layers(spark, inp, tracer, layers, ref) -> tuple[dict, float,
                                                              float]:
    """Layer-by-layer suite build. Each leg is its own job and adds one
    layer to the leg before: scan; + Arrow hand-off to a no-op consumer;
    + flatten, kernels and serialization (partials); + merge, collect and
    estimate (the whole build). A layer's self time is its leg minus the
    leg before, so the self times sum to the last leg. `agg.merge_s` is
    measured apart, over cached partials. `ref` (the untraced operation)
    runs in every round too. Returns (layer → self time, traced whole
    build seconds, untraced seconds)."""
    from sgp_sketch import agg

    value_cols = sorted({s["value_col"] for s in SUITE.values()})

    def handoff():
        with tracer.span("agg.handoff", "agg") as sp:
            spark.read.parquet(inp.table).select("source", *value_cols) \
                .mapInArrow(_noop_arrow, "n long").collect()
        return sp.seconds

    def partials():
        with tracer.span("agg.partials", "kernels") as sp:
            agg.build_partials_multi(spark.read.parquet(inp.table), SUITE,
                                     ("source",))[0].count()
        return sp.seconds

    def estimate():
        return tracer.named("suite.finalize")[-1].seconds

    t = _legs(LEG_ROUNDS, {
        "ref": ref, "scan": lambda: _scan_leg(spark, inp.table, tracer),
        "handoff": handoff, "partials": partials,
        "full": lambda: _suite_build(spark, inp, tracer)[0],
        "estimate": estimate})
    with tracer.span("agg.merge", "agg") as sp:
        parts, schema = agg.build_partials_multi(
            spark.read.parquet(inp.table), SUITE, ("source",))
        parts = parts.persist()
        row = parts.selectExpr("count(*) AS n",
                               "sum(length(state)) AS b").collect()[0]
        with tracer.span("agg.merge_cached", "agg") as msp:
            merged = agg.tree_merge(
                parts, schema, ["source", "sketch"],
                n_parts=spark.sparkContext.defaultParallelism)
            collect_blobs(merged)
    plan = merged._jdf.queryExecution().optimizedPlan().toString()
    parts.unpersist()
    layers.update({
        "scan.s": t["scan"],
        "agg.handoff_s": max(t["handoff"] - t["scan"], 0.0),
        "agg.partials_s": t["partials"], "agg.partial_rows": float(row["n"]),
        "agg.partial_bytes": float(row["b"]), "agg.merge_s": msp.seconds,
        "agg.merge_rounds": float(plan.count("FlatMapGroupsInPandas")),
        "queries.estimate_s": t["estimate"],
    })
    self_s = {"scan": t["scan"],
              "agg": max(t["handoff"] - t["scan"], 0.0) +
              max(t["full"] - t["estimate"] - t["partials"], 0.0),
              "kernels": max(t["partials"] - t["handoff"], 0.0),
              "queries": t["estimate"]}
    return self_s, t["full"], t["ref"]


def _per_key_layers(spark, seed, scale, tracer, out, layers) -> None:
    """The per-key path on its own input, after one untimed build: scan;
    + key shuffle; + the whole checked per-key build (see _suite_layers).
    Fills agg.bykey_shuffle_s and agg.bykey_build_s."""
    from pyspark.sql import functions as F

    inp, exact, _ = _input("per_key", seed, scale)
    per_key_op(spark, inp, tracer, out, exact, {})

    def shuffle():
        with tracer.span("agg.bykey_shuffle", "agg") as sp:
            spark.read.parquet(inp.table).repartition("doc_id") \
                .select(F.sum(F.size("tokens"))).collect()
        return sp.seconds

    t = _legs(LEG_ROUNDS, {
        "scan": lambda: _scan_leg(spark, inp.table, tracer),
        "shuffle": shuffle,
        "build": lambda: per_key_op(spark, inp, tracer, out, exact, {})
        or 0.0})
    layers["agg.bykey_shuffle_s"] = max(t["shuffle"] - t["scan"], 0.0)
    layers["agg.bykey_build_s"] = max(t["build"] - t["shuffle"], 0.0)


def _kernel_files(inp, workload) -> list[str]:
    """One file per source (hive) or the first two mixed base files."""
    if workload == "incremental":
        return inp.files("base")[:2]
    dirs = [os.path.join(inp.table, d) for d in sorted(os.listdir(inp.table))]
    return [os.path.join(d, sorted(os.listdir(d))[0]) for d in dirs]


SCALING_REPS = 1


def _scaling(workload, spark, inp, tracer, out, exact, layers, units):
    """The headline operation at local[nproc], then at local[1] on the
    same input (the single-threaded baseline); fills the scaling.*
    metrics and returns the local[1] session."""
    op = OPS[workload]
    keep: dict = {}
    t_n = [op(spark, inp, tracer, out, exact, keep)
           for _ in range(SCALING_REPS)]
    blobs_n = keep.pop("blobs", None)
    spark = box.switch_cores(spark, 1)
    t_1 = [op(spark, inp, tracer, out, exact, keep)
           for _ in range(SCALING_REPS)]
    if blobs_n and keep.get("blobs"):
        out.attempt("suite_scan.1core_vs_nproc", lambda: keep["blobs"],
                    lambda b: checks.byte_equal(b, blobs_n, SUITE,
                                                "local[1] vs local[n]"))
    t_n = [t for t in t_n if t is not None]
    t_1 = [t for t in t_1 if t is not None]
    if t_n and t_1:
        layers["scaling.nproc_per_s"] = units / _p50(t_n)
        layers["scaling.one_core_per_s"] = units / _p50(t_1)
        layers["scaling.eff"] = (layers["scaling.nproc_per_s"] /
                                 layers["scaling.one_core_per_s"] /
                                 box.nproc())
    return spark


def run_traced(workload: str, seed: int, seconds: float,
               scale: float = 1.0) -> tuple[dict, Outcome, dict]:
    """Per-layer metrics: (metrics, outcome, detail). `seconds` is not
    used: the traced run does a fixed set of legs."""
    from spans import NullTracer, Tracer

    tracer = Tracer()
    null = NullTracer()
    out = Outcome()
    layers = {k: 0.0 for k in PER_LAYER}
    spark, starts, warms = box.setup(box.nproc(), tracer)
    layers["session.start_s"] = _p50(starts)
    layers["session.warm_s"] = _p50(warms)
    layers["trace.self_s.session"] = sum(starts) + sum(warms)
    op = OPS[workload]
    detail: dict = {}
    try:
        detail["calibration_start"] = box.calibration(spark)
        inp, exact, units = _input(workload, seed, scale)
        keep: dict = {"layers": layers}
        if workload == "incremental":
            # an untimed drain, one untraced full cycle, then the same
            # cycle traced
            op(spark, inp, null, out, exact, {})
            t0 = time.perf_counter()
            op(spark, inp, null, out, exact, {}, mode="full")
            ref_s = time.perf_counter() - t0
            with tracer.span("incremental.cycle", "bench") as root:
                op(spark, inp, tracer, out, exact, keep, mode="full")
            incremental_byte_checks(spark, inp, out, keep)
            self_build = tracer.self_times(under=root)
            self_build.pop("bench", None)
            traced_s = root.seconds
        else:
            repeat(WARM_S, lambda: op(spark, inp, null, out, exact, keep))
            self_build, traced_s, ref_s = _suite_layers(
                spark, inp, tracer, layers,
                lambda: op(spark, inp, null, out, exact, keep) or 0.0)
        for layer, v in self_build.items():
            layers[f"trace.self_s.{layer}"] = v
        layers["trace.untraced_s"] = ref_s
        if ref_s:
            layers["trace.coverage"] = sum(self_build.values()) / ref_s
            layers["trace.overhead_frac"] = traced_s / ref_s - 1
        if workload == "suite_scan":
            with tracer.span("per_key", "bench"):
                _per_key_layers(spark, seed, scale, tracer, out, layers)
        with tracer.span("kernels.probe", "bench"):
            layers.update(kernel_probe.probe(
                _kernel_files(inp, workload), workload != "incremental",
                SUITE, tracer))
        detail["calibration_end"] = box.calibration(spark)
        spark = _scaling(workload, spark, inp, null, out, exact, layers,
                         units)
        layers["checks.bound_ratio_max"] = out.ratio_max
    finally:
        spark.stop()
    os.makedirs(box.WORK, exist_ok=True)
    path = os.path.join(box.WORK, f"spans-{workload}-{seed}.jsonl")
    tracer.write(path)
    detail.update(units=units, spans=os.path.relpath(path, box.ROOT),
                  self_times=tracer.self_times())
    return layers, out, detail
