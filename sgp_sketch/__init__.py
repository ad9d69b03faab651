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
    kernels/   pure-numpy sketch kernels (no pyspark import)
    agg.py     Spark aggregation layer (mapInArrow partials / applyInPandas tree merge)
    routing.py shard routers: hash, salted, LDG, Fennel
    queries.py user-facing query API over the sketch tables
    datagen.py deterministic synthetic `tokens` table generator
    checkpoint.py  per-partition lineage + resumable builds
    operators/ training-data pipeline ops (dedup, similarity, text, multimodal)
"""

__version__ = "0.1.0"
