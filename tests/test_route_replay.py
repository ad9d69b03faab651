"""Greedy-route replay adjudication (R2/R3/F6/F7/F11 + A5/A6/A9 upgrade).

The DuckDB recursive-CTE oracle (oracle_replay.greedy_route_replay_ctes)
must re-derive EVERY assignment of the chunk=1 sequential router
bit-for-bit — LDG and Fennel scoring, first-writer-wins token homes,
full-shard masking, the splitmix64 tie-break, and the all-full argmin
degenerate path. These tests pin the SQL against the numpy router on
adversarial synthetic corpora (no Spark needed); the Spark mapInArrow
wrapper (routing.route_stream_sequential) is checked against the same
router directly; the end-to-end Spark-vs-DuckDB adjudication runs in
tools/check_contract.py (queries ldg_route_replay / fennel_route_replay /
route_quality_replay).
"""

import hashlib

import duckdb
import numpy as np
import pytest

from sgp_sketch.oracle_replay import greedy_route_replay_ctes
from sgp_sketch.routing import GreedyShardRouter, fennel_alpha

K = 8
SLACK = 0.3


def _md5tok(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _route_reference(docs, slack=SLACK, algorithm="ldg"):
    """chunk=1 router over doc_id-sorted docs — what both the Spark query
    and the SQL oracle must reproduce."""
    sdocs = sorted(docs)[:512]
    keys = np.array([_md5tok(d) for d, _ in sdocs],
                    dtype=np.int64).view(np.uint64)
    toks = [np.array([_md5tok(w) for w in t.split(" ")], dtype=np.int64)
            for _, t in sdocs]
    n, m = len(sdocs), sum(len(t) for t in toks)
    cap = max(1.0, n / K * (1.0 + slack))
    router = GreedyShardRouter(K, cap, algorithm,
                               alpha=fennel_alpha(K, m, n), chunk=1)
    return sdocs, router.assign_batch(keys, toks), cap, router


def _oracle(docs, slack=SLACK, algorithm="ldg", tail=""):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join(f"('{d}', '{t}')" for d, t in docs)
        + ") t(doc_id, text)")
    sql = greedy_route_replay_ctes(algorithm, n_shards=K, slack=slack) + (
        tail or " SELECT a.pos, a.shard FROM assignments a ORDER BY a.pos")
    return con, con.execute(sql).fetchall()


def _corpora():
    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(60)]
    plain = [("doc%03d" % i,
              " ".join(vocab[j] for j in rng.integers(0, 60,
                                                      rng.integers(3, 12))))
             for i in range(60)]
    # every doc shares 5 stopwords → one shard's pull tests the capacity
    # mask on every step
    pileup = [("d%04d" % i,
               " ".join(["the", "of", "and", "to", "in"]
                        + [f"x{j}" for j in
                           rng.integers(0, 30, rng.integers(1, 5))]))
              for i in range(120)]
    # empty strings / runs of spaces / single words (md5('') tokens)
    degenerate = [("a", ""), ("b", "  "), ("c", "one"), ("d", "one  two"),
                  ("e", " lead"), ("f", "trail ")] + \
                 [("h%03d" % i,
                   " ".join(f"w{j}" for j in rng.integers(0, 9, 6)))
                  for i in range(60)]
    return {"plain": plain, "pileup": pileup, "degenerate": degenerate}


@pytest.mark.parametrize("algorithm", ["ldg", "fennel"])
@pytest.mark.parametrize("name", ["plain", "pileup", "degenerate"])
def test_oracle_sql_matches_router_exactly(algorithm, name):
    docs = _corpora()[name]
    sdocs, shard, cap, _ = _route_reference(docs, algorithm=algorithm)
    _, got = _oracle(docs, algorithm=algorithm)
    assert [(i, int(shard[i])) for i in range(len(sdocs))] == \
        [(p, s) for p, s in got]


@pytest.mark.parametrize("algorithm", ["ldg", "fennel"])
def test_oracle_tight_slack_capacity_mask(algorithm):
    """slack=0.05 keeps every shard near its cap — the full-shard mask
    and the ceil-boundary behavior must replay exactly too."""
    rng = np.random.default_rng(11)
    docs = [("z%04d" % i,
             " ".join(["common"] + [f"y{j}" for j in rng.integers(0, 15, 3)]))
            for i in range(200)]
    sdocs, shard, cap, router = _route_reference(docs, slack=0.05,
                                                 algorithm=algorithm)
    _, got = _oracle(docs, slack=0.05, algorithm=algorithm)
    assert [int(s) for _, s in got] == shard.tolist()
    assert router.sizes.max() <= int(np.ceil(cap))


def test_quality_tail_matches_router_metrics():
    """The per-shard cut/size tail the route_quality_replay oracle uses
    must agree with the router's own running counters (A5/A9)."""
    docs = _corpora()["pileup"]
    sdocs, shard, cap, router = _route_reference(docs, algorithm="ldg")
    tail = """,
        cut AS (SELECT a2.shard, COUNT(*) AS cut_occ
                FROM occ o JOIN fp f USING (tok)
                JOIN assignments a1 ON a1.pos = f.fd
                JOIN assignments a2 ON a2.pos = o.pos
                WHERE f.fd < o.pos AND a1.shard <> a2.shard GROUP BY 1),
        sz AS (SELECT shard, COUNT(*) AS n_docs FROM assignments GROUP BY 1)
        SELECT (SELECT SUM(cut_occ) FROM cut) AS n_cut,
               (SELECT MAX(n_docs) FROM sz) AS max_size
    """
    _, rows = _oracle(docs, tail=tail)
    n_cut, max_size = rows[0]
    assert int(n_cut) == router.n_cut
    assert int(max_size) == int(router.sizes.max())


def test_route_stream_sequential_spark(spark):
    """Spark mapInArrow wrapper = direct numpy router on the same stream
    (exercises single-partition ordering, Arrow flattening, key view)."""
    docs = _corpora()["plain"]
    sdocs, want, _, _ = _route_reference(docs, algorithm="ldg")
    rows = [(i, _md5tok(d),
             [_md5tok(w) for w in t.split(" ")])
            for i, (d, t) in enumerate(sdocs)]
    df = spark.createDataFrame(rows, "pos int, key long, tokens array<long>")
    from sgp_sketch.routing import route_stream_sequential

    got = (route_stream_sequential(df, n_shards=K, algorithm="ldg",
                                   slack=SLACK)
           .orderBy("pos").toPandas())
    assert got["shard"].tolist() == want.tolist()
    assert got["pos"].tolist() == list(range(len(sdocs)))


def test_salted_route_replay_spread_invariants(spark):
    """The deterministic salted-routing replay must spread each HEAVY
    token over ≤ R=4 shards and keep every light token on exactly 1
    (R6/R8 semantics behind the driver-adjudicated counts)."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    entry._views(spark, "/root/testdata/sf0.001")
    from sgp_sketch.oracle_replay import md5_token_col

    tok = md5_token_col()
    terms = (spark.table("documents")
             .select(F.col("doc_id").cast("string").alias("did"),
                     F.explode(F.split("text", " ")).alias("term")))
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql.window import Window

    total = F.sum("cnt").over(Window.partitionBy())
    heavy = counts.withColumn("salted", F.col("cnt") * 64 >= total) \
        .select("term", "salted")
    routed = (terms.join(F.broadcast(heavy), "term")
              .withColumn("tok60", tok(F.col("term")))
              .withColumn("doc60", tok(F.col("did")))
              .withColumn("shard",
                          F.when(F.col("salted"),
                                 F.pmod(F.col("tok60")
                                        + F.pmod(F.col("doc60"), F.lit(4)),
                                        F.lit(16)))
                          .otherwise(F.pmod(F.col("tok60"), F.lit(16)))))
    spread = (routed.groupBy("term", "salted")
              .agg(F.countDistinct("shard").alias("n_shards"))
              .collect())
    assert any(r["salted"] for r in spread)          # threshold fires
    assert any(not r["salted"] for r in spread)
    for r in spread:
        if r["salted"]:
            assert 1 <= r["n_shards"] <= 4
        else:
            assert r["n_shards"] == 1
