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
