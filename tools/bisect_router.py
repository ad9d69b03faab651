"""Bisect the r02 router_balance regression (r02/r01 = 1.79x): time the
CURRENT assign_shards (mapInArrow, zero extra jobs — rewritten in round 2)
against a faithful reimplementation of the ROUND-1 variant (count job +
blanket repartition + mapInPandas, from commit c71ef41), INTERLEAVED over
several rounds on the same cached input, reporting per-variant medians.

If the two medians are close, the bench regression was co-tenant noise
(BENCH.md documents 2x swings); if the arrow variant is materially slower,
the round-2 rewrite is the cause and needs work.

Usage: python tools/bisect_router.py [sf_dir] [rounds]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


def assign_shards_r1(df, n_shards: int = 16, algorithm: str = "ldg",
                     slack: float = 0.05, gamma: float = 1.5,
                     total_docs: int | None = None, chunk: int = 256):
    """Round-1 assign_shards, verbatim semantics (commit c71ef41): an
    up-front count job when total_docs is unknown, a blanket round-robin
    repartition, and row-at-a-time pandas list conversion per doc."""
    from pyspark.sql import functions as F

    from sgp_sketch.routing import GreedyShardRouter, fennel_alpha

    src = df.select(F.col("doc_id").cast("string").alias("doc_id"), "tokens")
    if total_docs is None:
        agg_row = df.select(F.count("*"), F.sum("n_tok")).collect()[0]
        total_docs, total_occ = int(agg_row[0]), int(agg_row[1] or 0)
    else:
        total_occ = total_docs * 32
    n_parts = max(1, src.rdd.getNumPartitions())
    src = src.repartition(n_parts)
    capacity = total_docs / n_parts / n_shards * (1.0 + slack)
    alpha = fennel_alpha(n_shards, total_occ, total_docs)

    def route(iterator):
        import pandas as pd

        from sgp_sketch.kernels.hashing import hash_str_array

        router = GreedyShardRouter(n_shards, capacity, algorithm,
                                   gamma=gamma, alpha=alpha, chunk=chunk)
        for pdf in iterator:
            arrs = [np.asarray(t if t is not None else (), dtype=np.int64)
                    for t in pdf["tokens"]]
            keys = hash_str_array(pdf["doc_id"].tolist())
            shard = router.assign_batch(keys, arrs)
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "shard": shard.astype(np.int32)})

    return src.mapInPandas(route, "doc_id string, shard int")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    from sgp_sketch.routing import assign_shards
    from sgp_sketch.session import get_spark
    from sgp_sketch.testdata import doc_tokens

    spark = get_spark("bisect-router")
    toks = doc_tokens(spark, sf_dir).cache()
    total = toks.count()

    variants = {
        "arrow_r2": lambda alg: assign_shards(
            toks, n_shards=8, algorithm=alg, total_docs=total),
        "pandas_r1": lambda alg: assign_shards_r1(
            toks, n_shards=8, algorithm=alg, total_docs=total),
        # the count-job path r01's q_router_balance never hit (it passed
        # total_docs) but the rewrite also removed — timed for context
        "pandas_r1_countjob": lambda alg: assign_shards_r1(
            toks, n_shards=8, algorithm=alg, total_docs=None),
    }
    times: dict[str, list] = {v: [] for v in variants}
    for r in range(rounds):
        for name, fn in variants.items():
            t0 = time.perf_counter()
            for alg in ("ldg", "fennel"):  # the two algs router_balance runs
                fn(alg).count()
            dt = time.perf_counter() - t0
            times[name].append(round(dt, 3))
            print(f"r{r} {name}: {dt:.2f}s", file=sys.stderr, flush=True)
    toks.unpersist()
    spark.stop()
    med = {n: round(statistics.median(ts), 3) for n, ts in times.items()}
    out = {"sf_dir": sf_dir, "rounds": rounds, "n_docs": total,
           "median_sec": med, "runs": times,
           "arrow_over_r1": round(med["arrow_r2"] / med["pandas_r1"], 3)}
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
