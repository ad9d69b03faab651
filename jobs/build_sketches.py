"""spark-submit entry: checkpointed, resumable sketch-suite build.

Usage (cluster):
    spark-submit --py-files sgp_sketch.zip jobs/build_sketches.py \
        --input s3://bucket/tokens --ckpt-dir s3://bucket/ckpt \
        --output s3://bucket/sketches \
        --sketch hll:tokens:p=14 --sketch cms:tokens:depth=4,width=16384 \
        --sketch kll:n_tok --group-cols source \
        --files-per-slice 64

Local smoke:
    python jobs/build_sketches.py --input /root/testdata/sf0.01 \
        --table documents --ckpt-dir /tmp/ckpt --output /tmp/sketches

The job is a thin driver over sgp_sketch.checkpoint: it plans input-file
slices, skips slices whose lineage matches (resume-from-checkpoint), builds
the rest (one scan per slice, all sketches at once), merges slice blobs
tree-wise, and writes the final per-group blob table + estimates. Config via
argparse (the reference drives its runs from java-properties / JSON grids,
`/root/reference/src/main/java/ca/uwaterloo/cs/sgp/streaming/EdgeCutSGP.java:266-285`,
`containers/analytics/scripts/run_experiments.py:123-149`).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_sketch(spec: str) -> tuple[str, dict]:
    """'cms:tokens:depth=4,width=16384' → (name, spec dict)."""
    parts = spec.split(":")
    kind, value_col = parts[0], parts[1]
    params: dict = {}
    if len(parts) > 2 and parts[2]:
        for kv in parts[2].split(","):
            k, v = kv.split("=")
            params[k] = int(v) if v.isdigit() else float(v)
    return f"{kind}_{value_col}", {"kind": kind, "value_col": value_col,
                                   "params": params}


def prepare(df):
    """Sketch input of a raw table: token tables pass through, documents
    tables get tokenized on the fly."""
    if "tokens" in df.columns:
        return df
    from sgp_sketch.testdata import doc_tokens_from  # lazy import

    return doc_tokens_from(df)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--table", default=None,
                    help="subdirectory/table name under --input")
    ap.add_argument("--ckpt-dir", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--sketch", action="append", default=None,
                    help="kind:value_col[:k=v,...] (repeatable)")
    ap.add_argument("--group-cols", default="source")
    ap.add_argument("--files-per-slice", type=int, default=8)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from sgp_sketch import checkpoint
    from sgp_sketch.deploy import ensure_py_files
    from sgp_sketch.session import get_spark

    specs = dict(parse_sketch(s) for s in
                 (args.sketch or ["hll:tokens:p=14"]))
    group_cols = tuple(c for c in args.group_cols.split(",") if c)
    input_path = (os.path.join(args.input, f"{args.table}.parquet")
                  if args.table else args.input)

    spark = get_spark("sgp-build-sketches", master=args.master)
    ensure_py_files(spark)
    t0 = time.perf_counter()

    # ONE scan per slice builds every sketch (multi_sketch_agg): the
    # checkpoint granularity costs a read per slice, not per sketch
    manifest = checkpoint.build_checkpointed_multi(
        spark, input_path, specs, group_cols, ckpt_dir=args.ckpt_dir,
        files_per_slice=args.files_per_slice, prepare=prepare)
    final = checkpoint.finalize_multi(spark, args.ckpt_dir)
    (final.write.mode("overwrite").partitionBy("sketch")
     .parquet(os.path.join(args.output, "sketches")))

    summary = {
        "seconds": round(time.perf_counter() - t0, 2),
        "n_slices": manifest["n_slices"],
        "built": len(manifest["built"]),
        "skipped": len(manifest["skipped"]),
        "sketches": sorted(specs),
        "output": args.output,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
