"""Single-threaded kernel timings on the driver, over Arrow batches read
with pyarrow from the workload's own parquet files.

Each file is cut on its own into batches of at most Spark's Arrow batch
size (10,000 rows), as a build task reads it. A hive file holds one
source, so its batches take the single-group path (flatten, dedupe,
hash64); a mixed-source file's batches take the grouped-stats path, as
in `agg.build_partials_multi`. Rates are items per second of the step's
input: raw tokens for flatten/dedupe/grouped stats and the token-sketch
updates, unique hashes for hash64, n_tok values for the numeric kinds,
calls for per-key theta. A step the workload's build does not take
reads 0.
"""

from __future__ import annotations

import time

import numpy as np

BATCH_ROWS = 10_000
PER_KEY_CALLS = 2000
HASH_KINDS = ("hll", "cms", "bloom")


def _batches(files: list[str], hive: bool):
    """Per-file record batches with a `source` column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = []
    for f in files:
        t = pq.read_table(f, columns=["tokens", "n_tok"] +
                          ([] if hive else ["source"]))
        if hive:
            src = f.rsplit("/", 2)[-2].split("=", 1)[1]
            t = t.append_column("source", pa.array([src] * t.num_rows))
        out.extend(t.combine_chunks().to_batches(max_chunksize=BATCH_ROWS))
    return out


def _timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return time.perf_counter() - t0, out


def probe(files: list[str], hive: bool, specs: dict, tracer) -> dict:
    """Returns the `kernels.*` per-layer metrics."""
    import pyarrow.compute as pc

    from sgp_sketch import agg
    from sgp_sketch.kernels import registry
    from sgp_sketch.kernels.hashing import hash64

    out: dict[str, float] = {}
    with tracer.span("kernels.load", "bench"):
        batches = _batches(files, hive)

    with tracer.span("kernels.prep", "kernels"):
        t = {"flatten": 0.0, "dedupe": 0.0, "hash64": 0.0, "grouped": 0.0}
        # one entry per (batch, group): (counts, hashes, raw tokens, n_tok)
        prepped = []
        n_tok = n_uniq = n_rows = 0
        for b in batches:
            dt, (flat, lens) = _timed(agg._flatten_list_column,
                                      b.column("tokens"))
            t["flatten"] += dt
            vals = b.column("n_tok").to_numpy().astype(np.float64)
            if hive:
                dt, (uniq, counts) = _timed(agg._unique_counts, flat)
                t["dedupe"] += dt
                dt, h = _timed(hash64, uniq.astype(np.uint64, copy=False))
                t["hash64"] += dt
                n_uniq += uniq.size
                prepped.append((counts, h, int(flat.size), vals))
            else:
                codes = pc.dictionary_encode(b.column("source")).indices \
                    .to_numpy().astype(np.int64)
                present = sorted(np.unique(codes).tolist())
                dt, stats = _timed(agg._grouped_token_stats, flat,
                                   np.repeat(codes, lens), present)
                t["grouped"] += dt
                for g, (counts, h, n_raw, _toks) in stats.items():
                    prepped.append((counts, h, n_raw, vals[codes == g]))
            n_tok += flat.size
            n_rows += b.num_rows
    rate = (lambda n, s: n / s if s > 0 else 0.0)
    out["kernels.flatten_tok_per_s"] = rate(n_tok, t["flatten"])
    out["kernels.dedupe_tok_per_s"] = rate(n_tok, t["dedupe"])
    out["kernels.hash64_per_s"] = rate(n_uniq, t["hash64"])
    out["kernels.grouped_stats_tok_per_s"] = rate(n_tok, t["grouped"])

    batch_blobs: dict[str, list[bytes]] = {}
    for name, spec in specs.items():
        kind, params = spec["kind"], spec.get("params") or {}
        with tracer.span(f"kernels.update.{kind}", "kernels") as sp:
            st = registry.make(kind, **params)
            blobs = []
            for counts, h, n_raw, vals in prepped:
                one = registry.make(kind, **params)
                for s in (st, one):
                    if kind == "cms":
                        s.update_hashes(h, counts=counts)
                    elif kind == "bloom":
                        s.update_hashes(h, assume_unique=True, n_raw=n_raw)
                    elif kind == "hll":
                        s.update_hashes(h, assume_unique=True)
                    else:
                        s.update(vals)
                blobs.append(one.to_bytes())
        # every batch updated two states: halve the span for the rate
        n = n_tok if kind in HASH_KINDS else n_rows
        out[f"kernels.update_{kind}_per_s"] = rate(2 * n, sp.seconds)
        batch_blobs[kind] = blobs
        with tracer.span(f"kernels.to_bytes.{kind}", "kernels") as sp:
            reps = 20
            for _ in range(reps):
                blob = st.to_bytes()
        out[f"kernels.to_bytes_{kind}_s"] = sp.seconds / reps
        out[f"kernels.blob_bytes_{kind}"] = float(len(blob))

    with tracer.span("kernels.merge_blobs", "kernels") as sp:
        n_merged = 0
        for kind, blobs in batch_blobs.items():
            registry.merge_blobs(blobs)
            n_merged += len(blobs)
    out["kernels.merge_blobs_per_s"] = rate(n_merged, sp.seconds)

    rows = [(b.column("tokens"), i) for b in batches
            for i in range(b.num_rows)][:PER_KEY_CALLS]
    with tracer.span("kernels.theta_per_key", "kernels") as sp:
        for col, i in rows:
            toks = np.asarray(col[i].values)
            st = registry.make("theta")
            st.update_hashes(hash64(np.unique(toks).astype(np.uint64)),
                             assume_unique=True)
            st.to_bytes()
    out["kernels.theta_calls_per_s"] = rate(len(rows), sp.seconds)
    return out
