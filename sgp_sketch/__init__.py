"""sgp_sketch — a PySpark-native distributed sketch / approximate-aggregation
library.

Re-expresses the experiment semantics of the reference repo
(anilpacaci/streaming-graph-partitioning, SIGMOD'19) as a Spark-first engine:
mergeable, associative sketch aggregation state (HyperLogLog++, Count-Min with
conservative update, t-digest, KLL, blocked Bloom) built with vectorized
pandas/Arrow UDFs over tables of pre-tokenized training sequences, with
explicit hash-based shard routing and salted-key skew mitigation that recasts
the reference's streaming edge-assignment algorithms (hash / LDG / Fennel,
`src/main/java/ca/uwaterloo/cs/sgp/streaming/EdgeCutSGP.java:112-209`) as
sketch-shard routing.

Layout:
    kernels/      pure-numpy sketch kernels (no pyspark import)
    agg.py        Spark aggregation layer: the one sketch build (a
                  mapInArrow scan) and the one blob merge (tree_merge)
    matrix.py     Frequent Directions over embedding columns (agg build)
    queries.py    user-facing query API over the sketch tables
    streaming.py  Structured Streaming builds over the same blobs
    checkpoint.py per-slice lineage + resumable builds
    catalog.py    table resolution and incremental blob updates
    routing.py    shard routers: hash, salted, LDG, Fennel
    datagen.py    deterministic synthetic `tokens` table generator
    dedup.py, text.py, bpe.py, temporal.py, stats.py, graph.py,
    multimodal.py, pipeline.py
                  training-data pipeline operators
"""

__version__ = "0.1.0"


def _keep_unchanged_zip_directories() -> None:
    """Skip the zip-directory re-read of an archive that has not changed.

    PySpark's worker calls `importlib.invalidate_caches()` before every
    task. Before Python 3.12 that makes every `zipimporter` re-read its
    whole archive directory: pyspark.zip once per imported subpackage and
    the spark-core jar on the worker's path, about 0.1 s per task on a
    4-vCPU VM. The wrapper
    runs the stock refresh only when the archive's (inode, size,
    mtime_ns) differs from what this importer saw at its last refresh,
    or when `stat` fails. Python 3.12 made the refresh lazy."""
    import sys

    if sys.version_info >= (3, 12):
        return
    import os
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_keeps_unchanged", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        sig = (st.st_ino, st.st_size, st.st_mtime_ns)
        if getattr(self, "_archive_sig", None) == sig:
            return
        # stat before the read: a write racing it leaves an older
        # signature, so the next call re-reads
        stock(self)
        self._archive_sig = sig

    invalidate_caches._keeps_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_keep_unchanged_zip_directories()
