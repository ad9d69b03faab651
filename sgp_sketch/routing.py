"""Sketch-shard routing: the reference's streaming edge-assignment algorithms
(hash / LDG / Fennel,
`/root/reference/src/main/java/ca/uwaterloo/cs/sgp/streaming/EdgeCutSGP.java:112-209`)
recast over the token table. A doc plays the vertex role, its token array the
neighbor list (SURVEY.md §1.3): the router assigns each doc to a shard so that
sketch updates for co-occurring tokens land together (affinity) while shard
loads stay within a capacity slack (balance) — the LDG/Fennel objective.

Scoring formulas are the reference's, vectorized:
  LDG    (EdgeCutSGP.java:145):      (1 - size_i/capacity) * |N(v) ∩ P_i|
  Fennel (EdgeCutSGP.java:182-183):  |N(v) ∩ P_i| - γ·α·size_i^(γ-1)
  capacity = (n/k)·(1+slack)         (EdgeCutSGP.java:58)
  α = √k·m / n^1.5                   (EdgeCutSGP.java:298)

Documented deviations (SURVEY.md §7.4):
  * tie-break is deterministic lowest-index, not Random.nextInt over the tie
    list (EdgeCutSGP.java:158-160) — reproducibility requirement;
  * the reference scores each record against global up-to-the-record state in
    one sequential JVM loop (EdgeCutSGP.java:211-246). We score per
    sub-chunk against state as of the last chunk barrier (stale-state /
    restreaming greedy), and under Spark parallelism each input partition
    carries independent router state. Tests assert the *invariants* —
    capacity respected, balance within slack, replication factor no worse
    than the hash baseline — not identical assignments.

Skew mitigation (axes A+B): `route_tokens_salted` spreads a heavy token's
updates over R sub-shards (`salt = pmod(hash64(doc_id), R)`), the HDRF
"replicate high-degree vertices" idea (README.md:16, run_experiments.py:16-17)
applied to sketch updates; kernel associativity makes the merged estimates
identical to unsalted routing, which is exactly what tests assert.
"""

from __future__ import annotations

import numpy as np

from .kernels.hashing import hash64, hash_str_array, pmod

_NEG_INF = -np.inf
GAMMA = 1.5  # Fennel's γ (twitter.properties:17); the penalty is γ·α·√size


class GreedyShardRouter:
    """Pure-numpy stateful greedy router (one instance per input partition).

    State mirrors EdgeCutSGP: `sizes` ↔ partitionSizes[] (EdgeCutSGP.java:28),
    the token→shard map ↔ vertex_to_partition (EdgeCutSGP.java:35), plus the
    running assigned/cut counters of EdgeCutSGP.java:30-31.
    """

    def __init__(self, n_shards: int, capacity: float, algorithm: str = "ldg",
                 alpha: float = 1.0, chunk: int = 256):
        if algorithm not in ("hash", "ldg", "fennel"):
            raise ValueError(f"unknown algorithm {algorithm!r}")
        self.k = int(n_shards)
        self.capacity = float(capacity)
        self.algorithm = algorithm
        self.alpha = float(alpha)
        self.chunk = int(chunk)
        self.sizes = np.zeros(self.k, dtype=np.int64)
        # token→shard map as parallel sorted arrays (first writer wins)
        self._keys = np.empty(0, dtype=np.uint64)
        self._shards = np.empty(0, dtype=np.int64)
        self.n_assigned = 0
        self.n_occurrences = 0
        self.n_cut = 0  # token occurrence whose home shard != doc's shard

    # ------------------------------------------------------------ internals

    def _lookup(self, flat: np.ndarray):
        """shard of each token, -1 if unseen (vectorized searchsorted)."""
        if self._keys.size == 0:
            return np.full(flat.size, -1, dtype=np.int64)
        idx = np.searchsorted(self._keys, flat)
        idx[idx == self._keys.size] = 0
        found = self._keys[idx] == flat
        out = np.full(flat.size, -1, dtype=np.int64)
        out[found] = self._shards[idx[found]]
        return out

    def _remember(self, flat: np.ndarray, doc_shard: np.ndarray,
                  doc_idx: np.ndarray) -> None:
        """First-writer-wins token→shard upsert: the chunk's unseen tokens
        are inserted at their sorted positions, with no re-sort of the
        map."""
        uniq, first = np.unique(flat, return_index=True)
        shard_of = doc_shard[doc_idx[first]]
        pos = np.searchsorted(self._keys, uniq)
        if self._keys.size:
            new = self._keys[np.minimum(pos, self._keys.size - 1)] != uniq
            uniq, shard_of, pos = uniq[new], shard_of[new], pos[new]
        if uniq.size == 0:
            return
        self._keys = np.insert(self._keys, pos, uniq)
        self._shards = np.insert(self._shards, pos, shard_of)

    def _score(self, hist: np.ndarray, sizes: np.ndarray) -> np.ndarray:
        """(n_docs × k) score matrix from the neighbor histogram and the
        shard sizes."""
        if self.algorithm == "ldg":
            return (1.0 - sizes / self.capacity)[None, :] * hist
        # fennel: γ·α·size^(γ-1) with γ = 1.5 is γ·α·√size. sqrt is a
        # correctly-rounded IEEE-754 op in BOTH numpy and DuckDB, so the
        # recursive-SQL route-replay oracles land on bit-identical scores;
        # np.power's vectorized pow is not guaranteed correctly rounded.
        penalty = GAMMA * self.alpha * np.sqrt(sizes.astype(np.float64))
        return hist - penalty[None, :]

    def _choose(self, hist: np.ndarray, keys: np.ndarray) -> np.ndarray:
        """Capacity-guarded argmax with deterministic scatter tie-break and
        exact within-chunk capacity accounting (EdgeCutSGP.java:145-160,
        182-198). The reference breaks score ties with Random.nextInt over
        the tie list; we pick `hash64(doc_key) % n_ties` — same scatter
        (cold-start docs don't pile onto shard 0), fully reproducible."""
        scores = self._score(hist, self.sizes)
        full = self.sizes >= self.capacity
        if full.all():  # degenerate: capacity exhausted → least-loaded
            return np.full(hist.shape[0], int(np.argmin(self.sizes)),
                           dtype=np.int64)
        scores[:, full] = _NEG_INF
        hkeys = hash64(keys)
        choice = _tiebreak_argmax(scores, hkeys)
        # exact capacity within the chunk: docs that would overflow a shard
        # re-choose sequentially (rare — only near the capacity boundary)
        remaining = (np.ceil(self.capacity) - self.sizes).astype(np.int64)
        counts = np.bincount(choice, minlength=self.k)
        over = counts > remaining
        if over.any():
            rank = _rank_within_group(choice, self.k)
            bad = np.flatnonzero(rank >= remaining[choice])
            keep = np.ones(choice.size, dtype=bool)
            keep[bad] = False
            sizes = self.sizes + np.bincount(choice[keep], minlength=self.k)
            for i in bad:
                row = self._score(hist[i:i + 1], sizes)
                row[:, sizes >= self.capacity] = _NEG_INF
                if np.isfinite(row).any():
                    c = int(_tiebreak_argmax(row, hkeys[i:i + 1])[0])
                else:
                    c = int(np.argmin(sizes))
                choice[i] = c
                sizes[c] += 1
        return choice

    # ------------------------------------------------------------ public

    def assign_batch(self, doc_keys: np.ndarray, token_arrays) -> np.ndarray:
        """Assign a batch of docs → shard ids, one chunk at a time.
        `doc_keys` uint64 doc hashes (hash: the shard is
        `pmod(hash64(key), k)`; LDG/Fennel: the tie-break);
        `token_arrays` sequence of int arrays. Every algorithm sees the
        same chunk-barrier visibility in its cut statistics."""
        n = len(doc_keys)
        out = np.empty(n, dtype=np.int64)
        for lo in range(0, n, self.chunk):
            hi = min(lo + self.chunk, n)
            arrs = token_arrays[lo:hi]
            lens = np.fromiter((len(t) for t in arrs), count=hi - lo,
                               dtype=np.int64)
            total = int(lens.sum())
            flat = (np.concatenate(arrs).astype(np.int64).view(np.uint64)
                    if total else np.empty(0, dtype=np.uint64))
            doc_idx = np.repeat(np.arange(hi - lo), lens)
            homes = self._lookup(flat)
            known = homes >= 0
            keys = np.asarray(doc_keys[lo:hi], dtype=np.uint64)
            if self.algorithm == "hash":
                choice = pmod(hash64(keys), self.k)
            else:
                hist = np.zeros((hi - lo, self.k), dtype=np.float64)
                np.add.at(hist, (doc_idx[known], homes[known]), 1.0)
                choice = self._choose(hist, keys)
            out[lo:hi] = choice
            np.add.at(self.sizes, choice, 1)
            self.n_assigned += hi - lo
            # cut accounting (EdgeCutSGP.java:125-130): known-home occurrences
            # landing on a different shard than their home
            self.n_occurrences += total
            self.n_cut += int((homes[known] != choice[doc_idx[known]]).sum())
            self._remember(flat, choice, doc_idx)
        return out

    def metrics(self) -> dict:
        mean = self.sizes.mean() if self.k else 0.0
        return {
            "n_assigned": int(self.n_assigned),
            "max_size": int(self.sizes.max(initial=0)),
            "imbalance": float(self.sizes.max(initial=0) / mean) if mean else 0.0,
            "cut_fraction": (self.n_cut / self.n_occurrences
                             if self.n_occurrences else 0.0),
        }


def _tiebreak_argmax(scores: np.ndarray, hkeys: np.ndarray) -> np.ndarray:
    """Row-wise argmax; among max-score ties pick the `hash % n_ties`-th tied
    column (in index order). Vectorized via cumulative tie counts."""
    maxv = scores.max(axis=1)
    tied = scores == maxv[:, None]
    n_ties = tied.sum(axis=1)
    pick = (hkeys % n_ties.astype(np.uint64)).astype(np.int64) + 1
    cum = np.cumsum(tied, axis=1)
    return np.argmax(cum == pick[:, None], axis=1).astype(np.int64)


def _rank_within_group(choice: np.ndarray, k: int) -> np.ndarray:
    """rank of each element within its group value, in array order."""
    rank = np.empty(choice.size, dtype=np.int64)
    order = np.argsort(choice, kind="stable")
    sorted_choice = choice[order]
    # within sorted runs, rank = position - run start
    is_start = np.r_[True, sorted_choice[1:] != sorted_choice[:-1]]
    starts = np.flatnonzero(is_start)
    run_id = np.cumsum(is_start) - 1
    pos = np.arange(choice.size)
    rank[order] = pos - starts[run_id]
    return rank


def fennel_alpha(n_shards: int, m: int, n: int) -> float:
    """α = √k·m / n^1.5 (EdgeCutSGP.java:298), as the expression tree
    (√k·m) / (n·√n): every step is a correctly-rounded IEEE-754 op, so
    DuckDB's `(sqrt(k)*m)/(n*sqrt(n))` reproduces it bit-for-bit (the
    route-replay oracles need that; n**1.5 would go through libm pow)."""
    n = max(n, 1)
    return float((np.sqrt(np.float64(n_shards)) * np.float64(m))
                 / (np.float64(n) * np.sqrt(np.float64(n))))


# ===================================================================== Spark

def route_hash(df, key_col: str = "doc_id", n_shards: int = 16, salt: int = 0):
    """R1 stateless hash routing, JVM-side: `pmod(xxhash64(key), k)`
    (EdgeCutSGP.java:122 analog). No Python in the path."""
    from pyspark.sql import functions as F

    key = F.col(key_col)
    h = F.xxhash64(F.lit(salt), key) if salt else F.xxhash64(key)
    return df.withColumn("shard", F.pmod(h, F.lit(n_shards)).cast("int"))


def detect_heavy_tokens(df, value_col: str = "tokens", top: int = 64,
                        min_frac: float = 0.001):
    """Heavy-hitter token detection for salting: exact at driver scale
    (declarative explode + count — Catalyst does map-side partial agg).
    Returns a small DataFrame (token long, cnt long) to broadcast."""
    from pyspark.sql import functions as F

    tok = df.select(F.explode(value_col).alias("token"))
    total = df.select(F.sum(F.size(value_col))).collect()[0][0] or 1
    return (tok.groupBy("token").count()
            .filter(F.col("count") >= min_frac * total)
            .orderBy(F.desc("count"), "token").limit(top)
            .withColumnRenamed("count", "cnt"))


def route_tokens_salted(df, n_shards: int = 16, replication: int = 4,
                        value_col: str = "tokens", heavy=None):
    """Exploded token-update routing with salted heavy keys.

    Light token → `pmod(hash(token), k)`; heavy token → its updates spread
    over `replication` sub-shards via `pmod(xxhash64(doc_id), R)` salt, i.e.
    the HDRF high-degree replication idea as sketch routing. Returns
    (doc_id, token, shard, salted). Merged sketch estimates are invariant to
    salting because kernel merges are associative — the tested property.
    """
    from pyspark.sql import functions as F

    tok = df.select("doc_id", F.explode(value_col).alias("token"))
    if heavy is None:
        heavy = detect_heavy_tokens(df, value_col)
    heavy = F.broadcast(heavy.select("token").withColumn("salted", F.lit(True)))
    tok = tok.join(heavy, "token", "left").fillna(False, ["salted"])
    base = F.xxhash64("token")
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(replication))
    shard = F.when(F.col("salted"), F.pmod(base + salt, F.lit(n_shards))) \
             .otherwise(F.pmod(base, F.lit(n_shards)))
    return tok.withColumn("shard", shard.cast("int"))


def _route_partition(batches, id_col, keys_of, n_shards, algorithm, slack,
                     chunk, alpha=None):
    """The Arrow routing task: one `GreedyShardRouter` over one input
    partition of (id_col, …, tokens) batches → (id_col, shard int).

    The task buffers its partition once to count it — as columnar Arrow
    buffers (flat int64 values + lengths, zero-copy via mapInArrow), NOT
    per-row Python objects. Capacity is the partition's own doc count
    n/k·(1+slack); α is the caller's when given, else fennel_alpha of the
    partition's own (n, occurrences). `keys_of(batch)` gives each doc's
    uint64 key; `id_col` passes through to the output unchanged."""
    import pyarrow as pa

    from sgp_sketch.agg import _flatten_list_column

    buf = []
    for b in batches:
        flat, lens = _flatten_list_column(b.column("tokens"))
        buf.append((b.column(id_col), keys_of(b),
                    np.asarray(flat, dtype=np.int64), lens))
    n = sum(len(keys) for _, keys, _, _ in buf)
    if not n:
        return
    capacity = max(1.0, n / n_shards * (1.0 + slack))
    if alpha is None:
        alpha = fennel_alpha(n_shards,
                             sum(int(lens.sum()) for _, _, _, lens in buf), n)
    router = GreedyShardRouter(n_shards, capacity, algorithm, alpha=alpha,
                               chunk=chunk)
    for ids, keys, flat, lens in buf:
        # zero-copy per-row views into the flat buffer
        shard = router.assign_batch(keys, np.split(flat, np.cumsum(lens)[:-1]))
        yield pa.RecordBatch.from_arrays(
            [ids, pa.array(shard.astype(np.int32))], names=[id_col, "shard"])


def assign_shards(df, n_shards: int = 16, algorithm: str = "ldg",
                  slack: float = 0.05, total_docs: int | None = None):
    """Greedy balanced doc→shard assignment via the mapInArrow task
    `_route_partition` (R2/R3 analog, the batch-streaming variant of
    EdgeCutSGP.streamingPartition).

    Returns DataFrame (doc_id string, shard int). Each input partition runs
    an independent `GreedyShardRouter` in chunks of 256 docs, keyed by the
    hash of the doc_id string.

    Zero extra Spark jobs: per-partition capacity is derived from the
    partition's OWN doc count, so there is no up-front count job and no
    blanket repartition of the input; the held memory ≈ the decompressed
    columnar size of one scan split. Local capacities sum to the global
    capacity `total/n_shards·(1+slack)` whatever the partition-size skew,
    so the balance invariant holds without equal partitions — the
    reference instead knows n a priori from its properties file
    (EdgeCutSGP.java:266-285). Fennel's α uses caller-supplied
    `total_docs` (with m ≈ 32 occurrences per doc) when given, else the
    partition's own statistics (α is a score-scale constant; balance is
    capacity-enforced either way).
    """
    from pyspark.sql import functions as F

    src = df.select(F.col("doc_id").cast("string").alias("doc_id"), "tokens")
    alpha = (fennel_alpha(n_shards, int(total_docs * 32.0), total_docs)
             if total_docs is not None else None)

    def route(batches):
        return _route_partition(
            batches, "doc_id",
            lambda b: hash_str_array(b.column("doc_id").to_pylist()),
            n_shards, algorithm, slack, 256, alpha)

    return src.mapInArrow(route, "doc_id string, shard int")


def route_stream_sequential(df, n_shards: int = 8, algorithm: str = "ldg",
                            slack: float = 0.3):
    """EXACT sequential replay of the reference's per-record greedy loop:
    EdgeCutSGP.java:211-246 scores record i against state as of record
    i-1; here chunk=1 over ONE stream-ordered partition reproduces that
    semantics precisely (with chunk=1 the within-chunk capacity
    re-choose of `_choose` can never trigger: a non-full shard always
    has ≥1 remaining slot).

    This is the ADJUDICATION shape — a bounded-K probe whose every
    assignment a DuckDB recursive CTE re-derives independently
    (oracle_replay.greedy_route_replay_sql) from the identical capacity
    and α expression trees. The production path stays `assign_shards`
    (per-partition chunked routers, no global sort).

    `df`: (pos int, key long, tokens array<long>) — key/tokens already
    hashed upstream (md5-60bit, oracle parity); pos is the stream order.
    Returns (pos int, shard int).
    """
    from pyspark.sql import functions as F

    src = (df.select(F.col("pos").cast("int").alias("pos"), "key", "tokens")
           .repartition(1).sortWithinPartitions("pos"))

    def route(batches):
        return _route_partition(
            batches, "pos",
            lambda b: np.asarray(b.column("key").to_numpy(),
                                 dtype=np.int64).view(np.uint64),
            int(n_shards), algorithm, slack, 1)

    return src.mapInArrow(route, "pos int, shard int")


# ------------------------------------------------------------------ metrics

def shard_load(assign_df):
    """A7 analog: shard → doc count (`partitionSizes`, EdgeCutSGP.java:239)."""
    from pyspark.sql import functions as F

    return assign_df.groupBy("shard").agg(F.count("*").alias("n_docs"))


def balance_metrics(assign_df):
    """A8/A9 analog (log_parser.py:133-138): load imbalance max/mean and
    percentiles over the shard-load distribution."""
    from pyspark.sql import functions as F

    load = shard_load(assign_df)
    return load.agg(
        F.count("*").alias("n_shards"),
        F.max("n_docs").alias("li_max"),
        F.min("n_docs").alias("li_min"),
        F.avg("n_docs").alias("li_mean"),
        F.expr("percentile_approx(n_docs, array(0.25, 0.5, 0.75))").alias("li_q"),
        (F.max("n_docs") / F.avg("n_docs")).alias("imbalance"))


def replication_factor(df, assign_df):
    """rf analog (log_parser.py:74-75): average number of distinct shards a
    token's docs land on — the vertex-cut replication-factor metric."""
    from pyspark.sql import functions as F

    tok = df.select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.explode("tokens").alias("token"))
    joined = tok.join(assign_df, "doc_id")
    per_tok = joined.groupBy("token").agg(
        F.countDistinct("shard").alias("n_shards_touched"))
    return per_tok.agg(F.avg("n_shards_touched").alias("rf"),
                       F.count("*").alias("n_tokens"))


def salted_join(big, small, key, n_salts: int = 8, scatter_cols=None,
                how: str = "inner"):
    """R8 companion: hot-key mitigation for a large×large shuffle join.

    When the join key is heavily skewed (a handful of values carry most of
    the big side) a plain shuffle join lands each hot key on ONE reducer —
    the "curse of the last reducer". Salting splits every hot key across
    `n_salts` reducers: the small side is replicated n_salts× (one copy per
    salt), the big side scatters each row to a deterministic salt via
    `pmod(xxhash64(scatter_cols), n_salts)`, and the join runs on
    (key, _salt). Result is row-identical to the unsalted join; cost is an
    n_salts× blowup of the SMALL side only. This is the writer-side
    complement to AQE's runtime skew splitting (session.py enables
    `spark.sql.adaptive.skewJoin`), usable when the skew is known up front
    or the join is a sort-merge the AQE splitter can't touch.

    `scatter_cols` (default: every big-side column except the key) picks
    the hash input that spreads a key's rows across salts; any stable,
    roughly-uniform column set works — uniqueness is NOT required, only
    spread. The small side is hinted `shuffle_hash` so the demo stays a
    genuine shuffle join even when the replicated side would fit a
    broadcast.
    """
    from pyspark.sql import functions as F

    keys = [key] if isinstance(key, str) else list(key)
    if how not in ("inner", "left", "left_outer", "leftouter",
                   "left_semi", "leftsemi", "left_anti", "leftanti"):
        # right/full outer would emit each unmatched small-side row once
        # PER SALT (it was exploded n_salts times), breaking the
        # row-identical contract; cross has no key to salt on
        raise ValueError(f"salted_join does not support how={how!r}: "
                         "unmatched small-side rows would be duplicated "
                         "n_salts times (supported: inner/left/semi/anti)")
    if scatter_cols is None:
        scatter_cols = [c for c in big.columns if c not in keys]
    if not scatter_cols:
        # key-only big side: hashing zero columns is an AnalysisException,
        # and hashing the key alone would pin each hot key to ONE salt —
        # spread by a per-row id instead (salt choice never affects the
        # join result for the supported modes, only the reducer spread)
        scatter = F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                         F.lit(int(n_salts))).cast("int")
    else:
        scatter = F.pmod(F.xxhash64(*[F.col(c) for c in scatter_cols]),
                         F.lit(int(n_salts))).cast("int")
    salts = F.array(*[F.lit(i) for i in range(int(n_salts))])
    small_s = small.withColumn("_salt", F.explode(salts))
    small_s = small_s.withColumn("_salt", F.col("_salt").cast("int"))
    big_s = big.withColumn("_salt", scatter)
    out = big_s.join(small_s.hint("shuffle_hash"),
                     keys + ["_salt"], how)
    return out.drop("_salt")

def key_skew_profile(df, key_col: str = "user_id"):
    """Key-skew diagnostic for shuffle/routing decisions: Gini
    coefficient of the per-key row-count distribution plus the heaviest
    key's share — the numbers that decide whether a join/groupBy on this
    key needs salting (routing.route_tokens_salted) or AQE skew
    handling before it hits a 10^12-row shuffle. Gini 0 = perfectly
    balanced keys; → 1 = a handful of keys own the table.

    Scale shape: one count keyed by the key column, then a HISTOGRAM of
    counts (count value → #keys) — the same bounded-support trick as
    stats.ks_statistic — so the single cumulative window runs over
    |distinct count values| rows (≤ max key count), never over the key
    axis itself. For a run of m keys sharing count v after C lighter
    keys, their rank-weighted mass is v·(m·C + m(m+1)/2), which sums to
    the exact Σ rank·count of the classic Gini formula independent of
    tie order.

    → one row: (n_keys, n_rows, max_count, top1_share, gini), doubles
    rounded to 6 decimals.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    counts = (df.groupBy(F.col(key_col).alias("_k"))
              .agg(F.count(F.lit(1)).alias("_n")))
    hist = counts.groupBy("_n").agg(F.count(F.lit(1)).alias("_m"))
    cum = Window.orderBy("_n").rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)
    tot = Window.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    c_before = F.sum("_m").over(cum) - F.col("_m")
    contrib = F.col("_n") * (F.col("_m") * c_before
                             + F.col("_m") * (F.col("_m") + 1) / 2)
    k = F.sum("_m").over(tot)
    t = F.sum(F.col("_n") * F.col("_m")).over(tot)
    return (hist.select(contrib.alias("_s"), k.alias("_k2"),
                        t.alias("_t"), F.col("_n"))
            .agg(F.max("_k2").cast("bigint").alias("n_keys"),
                 F.max("_t").cast("bigint").alias("n_rows"),
                 F.max("_n").alias("max_count"),
                 F.round(F.max("_n").cast("double") / F.max("_t"), 6)
                  .alias("top1_share"),
                 F.round(2 * F.sum("_s")
                         / (F.max("_k2").cast("double") * F.max("_t"))
                         - (F.max("_k2").cast("double") + 1)
                         / F.max("_k2"), 6).alias("gini")))
