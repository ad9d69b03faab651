"""catalog.py: Iceberg-layout round-trip and resolution order."""

import json
import os

from sgp_sketch import catalog


def test_layout_roundtrip(spark, tokens_sdf, tmp_path):
    path = str(tmp_path / "tbl")
    manifest = catalog.write_layout(tokens_sdf, path,
                                    partition_by=["source"])
    assert manifest["n_files"] > 0
    assert os.path.exists(os.path.join(path, "metadata",
                                       "v1.metadata.json"))
    back = catalog.load_table(spark, path)
    assert back.count() == tokens_sdf.count()
    assert set(back.columns) == set(tokens_sdf.columns)


def test_snapshot_versioning(spark, tokens_sdf, tmp_path):
    path = str(tmp_path / "tbl")
    catalog.write_layout(tokens_sdf.limit(10), path)
    m2 = catalog.write_layout(tokens_sdf.limit(20), path)
    assert m2["version"] == 2
    with open(os.path.join(path, "metadata", "version-hint.text")) as fh:
        assert fh.read() == "2"
    with open(os.path.join(path, "metadata", "v2.metadata.json")) as fh:
        assert json.load(fh)["n_files"] == m2["n_files"]


def test_plain_parquet_fallback(spark, tokens_sdf, tmp_path):
    path = str(tmp_path / "plain")
    tokens_sdf.limit(5).write.parquet(path)
    assert catalog.load_table(spark, path).count() == 5


def test_layout_uri_scheme(spark, tokens_sdf, tmp_path):
    """Scheme-qualified layout paths work end-to-end (Hadoop FS gateway,
    same contract as the checkpoint store)."""
    path = "file://" + str(tmp_path / "uri_tbl")
    m = catalog.write_layout(tokens_sdf.limit(10), path)
    assert m["version"] == 1 and m["n_files"] > 0
    assert catalog.load_table(spark, path).count() == 10


def test_csv_resolution(spark, tokens_sdf, tmp_path):
    """S2 ingest through the catalog: '|'-separated CSV with header,
    explicit schema, reference-loader defaults."""
    path = str(tmp_path / "tbl.csv")
    (tokens_sdf.limit(12).selectExpr("doc_id", "n_tok", "source")
     .coalesce(1).write.options(header=True, sep="|").csv(path))
    back = catalog.load_table(spark, path,
                              schema="doc_id string, n_tok int, "
                                     "source string")
    assert back.count() == 12
    assert back.schema.simpleString() == \
        "struct<doc_id:string,n_tok:int,source:string>"


def test_bucketed_join_no_shuffle(spark, tokens_sdf, tmp_path):
    """Two tables bucketed on the same key + bucket count must join with
    ZERO Exchange in the plan (co-located join — the write-once,
    shuffle-never layout for repeated joins)."""
    left = tokens_sdf.selectExpr("doc_id", "n_tok")
    right = tokens_sdf.selectExpr("doc_id", "source")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny test tables would be broadcast (which also has no data
        # shuffle); force the sort-merge path that big tables take so the
        # bucketed-scan property is what's actually asserted
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        catalog.write_bucketed(left, "b_left", "doc_id", 4,
                               path=str(tmp_path / "bl"),
                               sort_cols="doc_id")
        catalog.write_bucketed(right, "b_right", "doc_id", 4,
                               path=str(tmp_path / "br"),
                               sort_cols="doc_id")
        joined = spark.table("b_left").join(spark.table("b_right"),
                                            "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == tokens_sdf.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_left")
        spark.sql("DROP TABLE IF EXISTS b_right")


def test_merge_upsert_semantics(spark):
    from pyspark.sql import functions as F

    from sgp_sketch.catalog import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    updates = spark.createDataFrame(
        [(2, "B"), (4, "D")], "k int, v string")
    got = {r["k"]: r["v"] for r in merge_upsert(base, updates, "k").collect()}
    # 2 replaced, 4 inserted, 1/3 untouched
    assert got == {1: "a", 2: "B", 3: "c", 4: "D"}
    # update columns win wholesale (SCD-1), nulls included
    upd_null = spark.createDataFrame([(1, None)], "k int, v string")
    got2 = {r["k"]: r["v"] for r in
            merge_upsert(base, upd_null, "k").collect()}
    assert got2 == {1: None, 2: "b", 3: "c"}


def test_load_snapshot_time_travel(spark, tmp_path):
    """Append-mode snapshots: v1 stays readable after v2 appends;
    default read = current version; partition columns recovered."""
    path = str(tmp_path / "tt")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, src string")
    df2 = spark.createDataFrame([(3, "a")], "id long, src string")
    catalog.write_layout(df1, path, partition_by=["src"])
    catalog.write_layout(df2, path, mode="append", partition_by=["src"])
    v1 = catalog.load_snapshot(spark, path, version=1)
    v2 = catalog.load_snapshot(spark, path, version=2)
    cur = catalog.load_snapshot(spark, path)
    assert sorted(r.id for r in v1.collect()) == [1, 2]
    assert sorted(r.id for r in v2.collect()) == [1, 2, 3]
    assert sorted(r.id for r in cur.collect()) == [1, 2, 3]
    assert {r.src for r in v2.collect()} == {"a", "b"}  # partition col read


def test_load_snapshot_overwrite_invalidates_old(spark, tmp_path):
    import pytest

    path = str(tmp_path / "ow")
    df = spark.createDataFrame([(1,)], "id long")
    catalog.write_layout(df, path)
    catalog.write_layout(df, path, mode="overwrite")
    with pytest.raises(Exception):
        catalog.load_snapshot(spark, path, version=1).collect()


def test_incremental_sketch_update_matches_full_rebuild(spark, tmp_path,
                                                        monkeypatch):
    """Append v2, update sketches from the manifest diff only: for the
    order-invariant kernels the merged state is byte-identical to a
    full rebuild over the v2 snapshot, and the delta's partials merge
    with the state in one round. The current version is resolved once,
    so the file delta and the schema come from one snapshot."""
    from sgp_sketch import agg

    path = str(tmp_path / "inc")
    df1 = spark.createDataFrame(
        [("s1", [int(i) for i in range(60)]),
         ("s2", [int(i) for i in range(40, 90)])],
        "source string, tokens array<bigint>")
    df2 = spark.createDataFrame(
        [("s1", [int(i) for i in range(80, 140)]),
         ("s3", [int(i) for i in range(7)])],
        "source string, tokens array<bigint>")
    catalog.write_layout(df1, path)
    catalog.write_layout(df2, path, mode="append")
    specs = {
        "hll": {"kind": "hll", "value_col": "tokens", "params": {"p": 12}},
        "cms": {"kind": "cms", "value_col": "tokens",
                "params": {"depth": 4, "width": 256}},
        "bloom": {"kind": "bloom", "value_col": "tokens",
                  "params": {"n_blocks": 64}},
    }

    def keyed(df):
        return {(r.source, r.sketch): (bytes(r.state), r.n_items)
                for r in df.collect()}

    # cms's default conservative update is order-dependent: the full
    # rebuild matches the incremental merge only when no scan partition
    # holds two of a source's files. Ask for at least 8 scan splits, so
    # each of these small files is scanned alone whatever the core count
    try:
        spark.conf.set("spark.sql.files.minPartitionNum", "8")
        # the stored state a real update starts from: its own build's
        # merge is not part of the update's plan
        agg.multi_sketch_agg(
            catalog.load_snapshot(spark, path, version=1), specs) \
            .write.parquet(str(tmp_path / "state1"))
        state1 = spark.read.parquet(str(tmp_path / "state1"))
        read_text, reads = catalog._fs_read_text, []

        def recording_read(s, p):
            reads.append(p)
            return read_text(s, p)

        monkeypatch.setattr(catalog, "_fs_read_text", recording_read)
        inc = catalog.incremental_sketch_update(
            spark, path, state1, specs, from_version=1)
        monkeypatch.undo()
        assert sum(p.endswith("version-hint.text") for p in reads) == 1
        plan = inc._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow merge(") == 1, plan
        ki = keyed(inc)
        kf = keyed(agg.multi_sketch_agg(
            catalog.load_snapshot(spark, path, version=2), specs))
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")
    assert set(ki) == set(kf) and len(ki) == 9  # 3 sources x 3 sketches
    for k in kf:
        assert ki[k][1] == kf[k][1], k        # same item counts
        assert ki[k][0] == kf[k][0], k        # byte-identical state


def test_snapshot_new_files_empty_without_append(spark, tmp_path):
    path = str(tmp_path / "nf")
    df = spark.createDataFrame([(1,)], "id long")
    catalog.write_layout(df, path)
    assert catalog.snapshot_new_files(spark, path, 1, 1) == []

def test_incremental_mg_update_keeps_bracket(spark, tmp_path):
    """Incremental update with a merge-order-dependent kind: the MG state
    after delta-merge is not byte-pinned, but its bracket must still
    contain the exact v2 counts and its decrement bound must hold."""
    import numpy as np

    from sgp_sketch import agg
    from sgp_sketch.kernels import registry

    path = str(tmp_path / "inc_mg")
    rng = np.random.default_rng(41)
    t1 = [int(v) for v in rng.zipf(1.4, 4000) if v < 1 << 16]
    t2 = [int(v) for v in rng.zipf(1.4, 4000) if v < 1 << 16]
    df1 = spark.createDataFrame([("s1", t1)],
                                "source string, tokens array<bigint>")
    df2 = spark.createDataFrame([("s1", t2)],
                                "source string, tokens array<bigint>")
    catalog.write_layout(df1, path)
    catalog.write_layout(df2, path, mode="append")
    specs = {"mg": {"kind": "mg", "value_col": "tokens",
                    "params": {"k": 32}}}
    state1 = agg.multi_sketch_agg(
        catalog.load_snapshot(spark, path, version=1), specs)
    inc = catalog.incremental_sketch_update(
        spark, path, state1, specs, from_version=1)
    st = registry.from_bytes(bytes(inc.collect()[0]["state"]))
    allv = np.array(t1 + t2, dtype=np.int64)
    uniq, counts = np.unique(allv, return_counts=True)
    assert st.n_items == allv.size
    assert st.dec <= allv.size // 33 + 1
    est = st.estimate(uniq)
    assert np.all(est <= counts) and np.all(counts <= est + st.dec)
