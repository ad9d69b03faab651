"""Checkpoint/resume tests (M4, SURVEY.md §5.2.3): slice-wise checkpointed
builds must equal a direct single-pass build byte-exactly (HLL), and resume
must rebuild only missing slices."""

import json
import os
import shutil

import pytest

from sgp_sketch import agg, checkpoint

# a single-kind checkpoint is the one API with a one-spec dict
HLL12 = agg.single_spec("hll", "tokens", {"p": 12})


@pytest.fixture(scope="module")
def multi_file_input(spark, tokens_sdf, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckpt_input") / "tokens")
    tokens_sdf.repartition(6).write.mode("overwrite").parquet(path)
    return path


def test_checkpointed_equals_direct(spark, multi_file_input, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    manifest = checkpoint.build_checkpointed_multi(
        spark, multi_file_input, HLL12, ("source",),
        ckpt_dir=ckpt, files_per_slice=2)
    assert manifest["n_slices"] >= 2
    assert not manifest["skipped"]
    final = {r["source"]: bytes(r["state"])
             for r in checkpoint.finalize_multi(spark, ckpt).collect()}
    direct = {r["source"]: bytes(r["state"])
              for r in agg.sketch_agg(spark.read.parquet(multi_file_input),
                                      "hll", "tokens", ("source",),
                                      {"p": 12}).collect()}
    assert final == direct  # associativity ⇒ byte-identical merged state


def test_resume_skips_completed_slices(spark, multi_file_input, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    m1 = checkpoint.build_checkpointed_multi(
        spark, multi_file_input, HLL12, ("source",),
        ckpt_dir=ckpt, files_per_slice=2)
    victim = m1["slice_ids"][1]
    shutil.rmtree(os.path.join(ckpt, "slices", victim))
    os.remove(os.path.join(ckpt, "slices", f"{victim}.lineage.json"))
    m2 = checkpoint.build_checkpointed_multi(
        spark, multi_file_input, HLL12, ("source",),
        ckpt_dir=ckpt, files_per_slice=2)
    assert m2["built"] == [victim]
    assert sorted(m2["skipped"]) == sorted(
        s for s in m1["slice_ids"] if s != victim)
    # and the resumed result is still exact
    final = {r["source"]: bytes(r["state"])
             for r in checkpoint.finalize_multi(spark, ckpt).collect()}
    direct = {r["source"]: bytes(r["state"])
              for r in agg.sketch_agg(spark.read.parquet(multi_file_input),
                                      "hll", "tokens", ("source",),
                                      {"p": 12}).collect()}
    assert final == direct


def test_resume_reads_each_lineage_once(spark, multi_file_input, tmp_path,
                                        monkeypatch):
    """A resume plans from the kept slices' lineages and decides their
    skips from the same reads: N kept slices cost N lineage reads."""
    ckpt = str(tmp_path / "ckpt")
    m1 = checkpoint.build_checkpointed_multi(
        spark, multi_file_input, HLL12, ("source",),
        ckpt_dir=ckpt, files_per_slice=2)
    real, reads = checkpoint._read_json, []

    def counting(spark, path):
        reads.append(path)
        return real(spark, path)

    monkeypatch.setattr(checkpoint, "_read_json", counting)
    m2 = checkpoint.build_checkpointed_multi(
        spark, multi_file_input, HLL12, ("source",),
        ckpt_dir=ckpt, files_per_slice=2)
    assert m2["built"] == [] and m2["skipped"] == m1["slice_ids"]
    lineage_reads = [p for p in reads if p.endswith(".lineage.json")]
    assert len(lineage_reads) == m1["n_slices"] >= 2, reads
    assert len(set(lineage_reads)) == len(lineage_reads)


def test_stale_lineage_invalidated(spark, multi_file_input, tmp_path):
    """A lineage whose recorded file list no longer matches the plan must
    not be reused."""
    ckpt = str(tmp_path / "ckpt")
    checkpoint.build_checkpointed_multi(
        spark, multi_file_input, HLL12, ("source",),
        ckpt_dir=ckpt, files_per_slice=2)
    # same input replanned with a different slicing → different slice ids →
    # nothing reusable
    m = checkpoint.build_checkpointed_multi(
        spark, multi_file_input, HLL12, ("source",),
        ckpt_dir=ckpt, files_per_slice=3)
    assert not m["skipped"]


def test_resume_after_append_reuses_base_slices(spark, tokens_sdf,
                                                tmp_path):
    """A Spark-style append (new job uuid, split indices from 0) puts new
    files between old ones in sorted order; the resume keeps every base
    slice and builds one slice of the appended files, and the result is
    still exact."""
    path = str(tmp_path / "appended")
    tokens_sdf.repartition(32).write.parquet(path)
    ckpt = str(tmp_path / "ckpt")
    m1 = checkpoint.build_checkpointed_multi(
        spark, path, HLL12, ("source",), ckpt_dir=ckpt, files_per_slice=8)
    assert m1["n_slices"] == 4
    base = checkpoint.list_input_files(spark, path)
    tokens_sdf.limit(400).repartition(4).write.mode("append").parquet(path)
    files = checkpoint.list_input_files(spark, path)
    new = sorted(set(files) - set(base))
    assert len(new) == 4 and files.index(new[0]) < len(base)  # interleaved
    m2 = checkpoint.build_checkpointed_multi(
        spark, path, HLL12, ("source",), ckpt_dir=ckpt, files_per_slice=8)
    assert len(m2["built"]) == 1
    assert sorted(m2["skipped"]) == sorted(m1["slice_ids"])
    final = {r["source"]: bytes(r["state"])
             for r in checkpoint.finalize_multi(spark, ckpt).collect()}
    direct = {r["source"]: bytes(r["state"])
              for r in agg.sketch_agg(spark.read.parquet(path), "hll",
                                      "tokens", ("source",),
                                      {"p": 12}).collect()}
    assert final == direct


def test_lineage_contents(spark, multi_file_input, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    m = checkpoint.build_checkpointed_multi(
        spark, multi_file_input,
        agg.single_spec("kll", "n_tok", {}), ("source",),
        ckpt_dir=ckpt, files_per_slice=3)
    sid = m["slice_ids"][0]
    with open(os.path.join(ckpt, "slices", f"{sid}.lineage.json")) as fh:
        lin = json.load(fh)
    assert [s["kind"] for s in lin["specs"].values()] == ["kll"]
    assert lin["files"]
    assert lin["n_items"] > 0
    assert all(len(g["state_sha256"]) == 64 for g in lin["groups"])
    assert os.path.exists(os.path.join(ckpt, "metrics.jsonl"))


def test_version_1_lineage_is_rebuilt(spark, multi_file_input, tmp_path):
    """A slice whose lineage carries an older format version is rebuilt on
    resume, never read under the current format; the rest are skipped."""
    ckpt = str(tmp_path / "ckpt")
    m1 = checkpoint.build_checkpointed_multi(
        spark, multi_file_input, HLL12, ("source",),
        ckpt_dir=ckpt, files_per_slice=2)
    victim = m1["slice_ids"][0]
    path = os.path.join(ckpt, "slices", f"{victim}.lineage.json")
    with open(path) as fh:
        lin = json.load(fh)
    lin["version"] = 1
    with open(path, "w") as fh:
        json.dump(lin, fh)
    m2 = checkpoint.build_checkpointed_multi(
        spark, multi_file_input, HLL12, ("source",),
        ckpt_dir=ckpt, files_per_slice=2)
    assert m2["built"] == [victim]
    assert sorted(m2["skipped"]) == sorted(m1["slice_ids"][1:])
    with open(path) as fh:
        assert json.load(fh)["version"] == checkpoint._LINEAGE_VERSION


def test_ckpt_dir_uri_scheme(spark, multi_file_input, tmp_path):
    """Lineage/manifest/metrics I/O goes through the Hadoop FS gateway, so a
    scheme-qualified ckpt_dir (file:///…, and by the same code path s3a://…)
    works end-to-end: build, resume-as-no-op, finalize."""
    ckpt = "file://" + str(tmp_path / "uri_ckpt")
    m1 = checkpoint.build_checkpointed_multi(
        spark, multi_file_input, HLL12, ("source",),
        ckpt_dir=ckpt, files_per_slice=2)
    assert m1["built"] and not m1["skipped"]
    m2 = checkpoint.build_checkpointed_multi(
        spark, multi_file_input, HLL12, ("source",),
        ckpt_dir=ckpt, files_per_slice=2)
    assert not m2["built"] and sorted(m2["skipped"]) == sorted(m1["built"])
    final = {r["source"]: bytes(r["state"])
             for r in checkpoint.finalize_multi(spark, ckpt).collect()}
    direct = {r["source"]: bytes(r["state"])
              for r in agg.sketch_agg(spark.read.parquet(multi_file_input),
                                      "hll", "tokens", ("source",),
                                      {"p": 12}).collect()}
    assert final == direct


def test_multi_checkpoint_equals_direct(spark, multi_file_input, tmp_path):
    """One-scan-per-slice multi-sketch checkpoint: finalized blobs byte-equal
    a direct multi_sketch_agg build."""
    specs = {"hll": {"kind": "hll", "value_col": "tokens",
                     "params": {"p": 12}},
             "kll": {"kind": "kll", "value_col": "n_tok", "params": {}}}
    ckpt = str(tmp_path / "mckpt")
    m = checkpoint.build_checkpointed_multi(
        spark, multi_file_input, specs, ("source",), ckpt_dir=ckpt,
        files_per_slice=2)
    assert m["n_slices"] >= 2 and not m["skipped"]
    final = {(r["source"], r["sketch"]): bytes(r["state"])
             for r in checkpoint.finalize_multi(spark, ckpt).collect()}
    direct = {(r["source"], r["sketch"]): bytes(r["state"])
              for r in agg.multi_sketch_agg(
                  spark.read.parquet(multi_file_input), specs,
                  ("source",)).collect()}
    # HLL byte-equal; KLL only rank-equivalent (merge-order-sensitive)
    for k, v in direct.items():
        if k[1] == "hll":
            assert final[k] == v, k
        else:
            assert k in final
    # resume is a no-op
    m2 = checkpoint.build_checkpointed_multi(
        spark, multi_file_input, specs, ("source",), ckpt_dir=ckpt,
        files_per_slice=2)
    assert not m2["built"]


def test_changed_params_invalidate_checkpoint(spark, multi_file_input,
                                              tmp_path):
    """A resumed build under a CHANGED configuration must rebuild every
    slice — reusing p=12 blobs for a p=16 build would silently merge
    incompatible states."""
    ckpt = str(tmp_path / "ckpt_cfg")
    m1 = checkpoint.build_checkpointed_multi(
        spark, multi_file_input, HLL12, ("source",),
        ckpt_dir=ckpt, files_per_slice=2)
    assert not m1["skipped"]
    m2 = checkpoint.build_checkpointed_multi(
        spark, multi_file_input,
        agg.single_spec("hll", "tokens", {"p": 16}), ("source",),
        ckpt_dir=ckpt, files_per_slice=2)
    assert not m2["skipped"] and len(m2["built"]) == m1["n_slices"]
    # unchanged config still resumes
    m3 = checkpoint.build_checkpointed_multi(
        spark, multi_file_input,
        agg.single_spec("hll", "tokens", {"p": 16}), ("source",),
        ckpt_dir=ckpt, files_per_slice=2)
    assert not m3["built"] and len(m3["skipped"]) == m2["n_slices"]


def test_append_jsonl_recovers_inflight_record(spark, tmp_path):
    """Crash in the delete->rename window leaves BOTH the stale main log
    and a .tmp holding main + the in-flight record: the next append must
    keep the longer, verifiably-extending .tmp, not drop the record."""
    log = str(tmp_path / "m.jsonl")
    checkpoint._append_jsonl(spark, log, {"a": 1})
    main = checkpoint._fs_read_text(spark, log)
    # simulate the crash window: .tmp = main + one committed-but-unrenamed
    # record, main still stale
    checkpoint._fs_write_text(spark, log + ".tmp",
                              main + json.dumps({"a": 2}) + "\n")
    checkpoint._append_jsonl(spark, log, {"a": 3})
    lines = [json.loads(l) for l in
             checkpoint._fs_read_text(spark, log).splitlines()]
    assert lines == [{"a": 1}, {"a": 2}, {"a": 3}]
    # truncated .tmp (crash mid-.tmp-write) must NOT replace the main log
    checkpoint._fs_write_text(spark, log + ".tmp", main[: len(main) // 2])
    checkpoint._append_jsonl(spark, log, {"a": 4})
    lines = [json.loads(l) for l in
             checkpoint._fs_read_text(spark, log).splitlines()]
    assert lines == [{"a": 1}, {"a": 2}, {"a": 3}, {"a": 4}]
