"""SparkSession builder with the engine's standard configuration.

Local defaults use every core this process may run on (`local_cores`); on
a real cluster the same settings apply per-executor and `master` is left to
spark-submit.
"""

from __future__ import annotations

import os


def local_cores() -> int:
    """SPARK_GRAFT_CPUS when set, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "sgp_sketch", master: str | None = None,
              shuffle_partitions: int | None = None, extra_conf: dict | None = None):
    from pyspark.sql import SparkSession

    cpus = local_cores()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    b = (SparkSession.builder.appName(app_name).master(master)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         # runtime skew-join splitting: the AQE complement to our
         # writer-side salting (routing.route_tokens_salted) — near-dup
         # LSH buckets and token joins are exactly the skew shapes it fixes
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
         .config("spark.driver.memory",
                 os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
         .config("spark.ui.enabled", "false"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _parse_bytes(v: str) -> int:
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
             "kb": 1 << 10, "mb": 1 << 20, "gb": 1 << 30}
    s = str(v).strip().lower()
    for suf in sorted(units, key=len, reverse=True):
        if s.endswith(suf):
            return int(float(s[:-len(suf)])) * units[suf]
    return int(s)


def fan_out(df, min_parts: int | None = None):
    """Raise the parallelism of a CPU-heavy per-row stage when the scan
    offers fewer partitions than the cluster has slots.

    Spark splits parquet by byte ranges, but a file with a single row
    group yields exactly one task no matter the config — and work that
    EXPANDS each row (n-gram explode, shingle hashing, minhash/simhash
    UDFs) then runs serially on one slot while the rest of the cluster
    idles. This helper round-robin repartitions to the default
    parallelism ONLY when the leaf input files are both fewer than the
    cluster width AND too small to byte-split that wide — so the shuffle
    it adds is by construction bounded by (cluster slots ×
    maxPartitionBytes). At 100-TB scale scans arrive thousands of files
    wide and this is a no-op.

    Detection is LAZY: file count and sizes come from the plan's leaf
    FileIndex (driver-side metadata), never from `df.rdd` — under AQE,
    converting to an RDD EXECUTES every upstream shuffle stage as real
    jobs, which would break pipeline laziness (and re-run the work when
    the caller doesn't persist). Streaming DataFrames and plans with no
    file-backed leaves (in-memory inputs; post-shuffle parallelism is
    already governed by shuffle.partitions/AQE) are returned
    unchanged."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files or len(files) >= target:
        return df
    from .checkpoint import _fs_path

    total = 0
    for f in files:
        fs, p = _fs_path(spark, f)
        total += int(fs.getFileStatus(p).getLen())
    max_pb = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes",
                                         "134217728b"))
    # bytes-based upper bound on scan splits: big-enough files split on
    # their own (and a single huge file that under-splits on row-group
    # boundaries would cost its full payload to reshuffle — leave it)
    if total >= target * max_pb:
        return df
    return df.repartition(target)
