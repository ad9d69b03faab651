"""spark-submit entry: Structured Streaming incremental sketch build.

Usage (cluster, continuous — new files under --input keep arriving):
    spark-submit --py-files sgp_sketch.zip jobs/stream_sketches.py \
        --input s3://bucket/tokens --state-dir s3://bucket/sketch_state \
        --checkpoint-dir s3://bucket/stream_ckpt \
        --sketch hll:tokens:p=14 --sketch cms:tokens:depth=4,width=16384

Local smoke (bounded — drain what's there, then exit):
    python jobs/stream_sketches.py --input /root/testdata/sf0.01 \
        --glob documents.parquet --state-dir /tmp/sstate \
        --checkpoint-dir /tmp/sckpt --available-now

Each micro-batch writes its unmerged partial sketch blobs (one row per
scan partition × group × sketch, no shuffle) to an idempotent
`state_dir/batch_id=N` directory (replay-safe — see
sgp_sketch/streaming.py); the current estimate at ANY time is
`streamed_estimates(spark, state_dir)`, a merge of all blob rows, equal
byte-for-byte to a batch build over the same inputs. The state table
grows with every batch's partition count until
`streaming.compact_state` folds it. Restarting the job
with the same --checkpoint-dir resumes from the recorded offsets — the
streaming twin of jobs/build_sketches.py's slice-wise resume.
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
    ap.add_argument("--input", required=True,
                    help="directory watched by the file stream")
    ap.add_argument("--glob", default=None,
                    help="pathGlobFilter to select one table in --input")
    ap.add_argument("--state-dir", required=True)
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--sketch", action="append", default=None,
                    help="kind:value_col[:k=v,...] (repeatable)")
    ap.add_argument("--group-cols", default="source")
    ap.add_argument("--available-now", action="store_true",
                    help="drain currently-available files, then stop")
    ap.add_argument("--compact", action="store_true",
                    help="fold completed batch dirs into one snapshot "
                         "after the run (O(1) state-table size)")
    ap.add_argument("--timeout-sec", type=int, default=0,
                    help="max seconds to run (0 = until terminated)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from sgp_sketch import streaming
    from sgp_sketch.deploy import ensure_py_files
    from sgp_sketch.session import get_spark

    specs = dict(parse_sketch(s) for s in
                 (args.sketch or ["hll:tokens:p=14"]))
    group_cols = tuple(c for c in args.group_cols.split(",") if c)
    opts = {"pathGlobFilter": args.glob} if args.glob else None

    spark = get_spark("sgp-stream-sketches", master=args.master)
    ensure_py_files(spark)

    t0 = time.perf_counter()
    q = streaming.stream_sketch_build(
        spark, args.input, args.state_dir, specs, group_cols=group_cols,
        checkpoint_dir=args.checkpoint_dir,
        available_now=args.available_now, prepare=prepare,
        reader_options=opts)
    if args.available_now:
        q.awaitTermination()
    elif args.timeout_sec:
        q.awaitTermination(args.timeout_sec)
        q.stop()
    else:
        q.awaitTermination()

    compacted = (streaming.compact_state(spark, args.state_dir)
                 if args.compact else None)
    final = streaming.streamed_estimates(spark, args.state_dir)
    n_groups = final.count()
    summary = {"state_dir": args.state_dir, "n_blob_groups": int(n_groups),
               "specs": sorted(specs), "seconds":
               round(time.perf_counter() - t0, 2)}
    if compacted is not None:
        summary["compacted"] = compacted
    print(json.dumps(summary), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
