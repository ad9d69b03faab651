"""spark-submit entry: incremental sketch-statistics update on snapshot
append (catalog.incremental_sketch_update).

Usage (cluster):
    spark-submit --py-files sgp_sketch.zip jobs/update_stats.py \
        --table s3://bucket/corpus_layout --state s3://bucket/stats \
        --from-version 7 \
        --sketch hll:tokens:p=14 --sketch cms:tokens:depth=4,width=16384

Local smoke:
    python jobs/update_stats.py --table /tmp/layout --state /tmp/stats \
        --from-version 1

Reads the blob state written by a previous run (or bootstraps it with a
full build when --state doesn't exist yet), diffs the layout table's
manifests from --from-version to the current version, scans ONLY the
appended data files, and kernel-merges the delta into the state — the
append-only table-statistics loop: each ingest pays for its own bytes,
never for history. The updated state and per-group estimates are written
back. Grid-driven experiment config follows the reference's driver
pattern (/root/reference/containers/analytics/scripts/run_experiments.py:123-149).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from build_sketches import parse_sketch, prepare  # noqa: E402  (one grammar)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--table", required=True,
                    help="layout table dir (catalog.write_layout)")
    ap.add_argument("--state", required=True,
                    help="blob-state dir; bootstrapped if absent")
    ap.add_argument("--from-version", type=int, required=True,
                    help="last snapshot version already folded into state")
    ap.add_argument("--sketch", action="append", default=None,
                    help="kind:value_col[:k=v,...] (repeatable)")
    ap.add_argument("--group-cols", default="source")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from sgp_sketch import agg, catalog
    from sgp_sketch import queries as Q
    from sgp_sketch.checkpoint import _fs_exists, _fs_path
    from sgp_sketch.deploy import ensure_py_files
    from sgp_sketch.session import get_spark

    specs = dict(parse_sketch(s) for s in
                 (args.sketch or ["hll:tokens:p=14"]))
    group_cols = tuple(c for c in args.group_cols.split(",") if c)

    spark = get_spark("sgp-update-stats", master=args.master)
    ensure_py_files(spark)
    t0 = time.perf_counter()

    blob_dir = os.path.join(args.state, "blobs")
    if _fs_exists(spark, os.path.join(blob_dir, "_SUCCESS")):
        state = spark.read.parquet(blob_dir)
        bootstrapped = False
    else:
        # first run, or a state torn by a crash mid-swap (no _SUCCESS):
        # full build over the from-version snapshot. Reading a torn
        # blobs/ would silently drop the groups it lost.
        state = agg.multi_sketch_agg(
            prepare(catalog.load_snapshot(spark, args.table,
                                          version=args.from_version)),
            specs, group_cols)
        bootstrapped = True

    new_files = catalog.snapshot_new_files(spark, args.table,
                                           args.from_version)
    updated = catalog.incremental_sketch_update(
        spark, args.table, state, specs, from_version=args.from_version,
        group_cols=group_cols, prepare=prepare)

    # write-then-swap: `updated` lazily reads the CURRENT blob_dir, so it
    # must fully materialize somewhere else before blob_dir is replaced
    # (self-overwrite would truncate the input mid-scan). The swap is a
    # delete plus a rename, no second Spark job. A crash before the delete
    # leaves the old state intact plus a stale .tmp; a crash between the
    # delete and the rename leaves no blobs/, and the next run
    # bootstraps. On S3A rename is copy + delete, not atomic: a crash
    # mid-rename can leave a partial blobs/ that already holds _SUCCESS.
    tmp_dir = blob_dir + ".tmp"
    updated.write.mode("overwrite").parquet(tmp_dir)
    fs, dst = _fs_path(spark, blob_dir)
    _, src = _fs_path(spark, tmp_dir)
    fs.delete(dst, True)
    if not fs.rename(src, dst):
        raise IOError(f"state swap failed: {tmp_dir} -> {blob_dir}")

    # estimates only for the kinds whose estimate() is one scalar —
    # quantile/membership/frequency states answer queries instead
    est = Q._blob_udf("double", Q._estimate)
    blobs = spark.read.parquet(blob_dir)
    (blobs.filter(blobs.sketch_type.isin(["hll", "theta"]))
     .withColumn("estimate", est("state"))
     .drop("state")
     .write.mode("overwrite").parquet(os.path.join(args.state, "estimates")))

    summary = {
        "seconds": round(time.perf_counter() - t0, 2),
        "bootstrapped": bootstrapped,
        "n_new_files": len(new_files),
        "sketches": sorted(specs),
        "state": args.state,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
