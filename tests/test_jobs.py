"""spark-submit job entries, smoke-tested as real subprocesses (each job
owns its SparkSession and stops it — in-process runs would tear down the
shared test session). Local --master to keep them small."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


def run_job(script, *args, timeout=240):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", script), *args],
        capture_output=True, text=True, timeout=timeout, cwd=REPO)
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def test_build_sketches_job(tmp_path):
    out = run_job(
        "build_sketches.py", "--input", SF, "--table", "documents",
        "--ckpt-dir", str(tmp_path / "ckpt"),
        "--output", str(tmp_path / "sketches"),
        "--sketch", "hll:tokens:p=13", "--files-per-slice", "1",
        "--master", "local[4]")
    assert os.path.exists(tmp_path / "ckpt" / "manifest.json")


def test_stream_sketches_job(tmp_path):
    out = run_job(
        "stream_sketches.py", "--input", SF, "--glob", "documents.parquet",
        "--state-dir", str(tmp_path / "state"),
        "--checkpoint-dir", str(tmp_path / "sckpt"),
        "--available-now", "--sketch", "hll:tokens:p=13",
        "--master", "local[4]")
    summary = json.loads(out.strip().splitlines()[-1])
    assert summary["n_blob_groups"] == 20  # 20 sources x 1 sketch
    # resume with same checkpoint: no new input -> state unchanged
    out2 = run_job(
        "stream_sketches.py", "--input", SF, "--glob", "documents.parquet",
        "--state-dir", str(tmp_path / "state"),
        "--checkpoint-dir", str(tmp_path / "sckpt"),
        "--available-now", "--sketch", "hll:tokens:p=13",
        "--master", "local[4]")
    assert json.loads(out2.strip().splitlines()[-1])["n_blob_groups"] == 20


def test_curate_corpus_job(tmp_path):
    out = run_job(
        "curate_corpus.py", "--input", SF, "--table", "documents",
        "--output", str(tmp_path / "curated"), "--sample", "5",
        "--master", "local[4]")
    summary = json.loads(out.strip().splitlines()[-1])
    assert summary["n_curated"] > 0
    funnel = json.loads((tmp_path / "curated" / "funnel.json").read_text())
    assert all(f["n_sampled"] <= 5 for f in funnel["funnel"])
    assert os.path.isdir(tmp_path / "curated" / "documents")


def test_update_stats_job(spark, tmp_path):
    """Bootstrap at v1, append v2, run the incremental update twice: the
    second run (no new snapshot) is a no-op fold that preserves state. A
    CMS spec rides along (its state has no scalar estimate). A third run
    on a torn state (a source lost, no _SUCCESS) must rebuild it, not
    read it as complete."""
    import shutil

    from sgp_sketch import catalog

    layout = str(tmp_path / "layout")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    catalog.write_layout(docs.filter("doc_id % 2 = 0"), layout)
    catalog.write_layout(docs.filter("doc_id % 2 = 1"), layout,
                         mode="append")
    state = str(tmp_path / "stats")
    out = run_job(
        "update_stats.py", "--table", layout, "--state", state,
        "--from-version", "1", "--sketch", "hll:tokens:p=13",
        "--sketch", "cms:tokens:depth=4,width=1024", "--master", "local[4]")
    s1 = json.loads(out.strip().splitlines()[-1])
    assert s1["bootstrapped"] and s1["n_new_files"] >= 1
    est = spark.read.parquet(os.path.join(state, "estimates"))
    assert est.count() == 20  # one HLL estimate per source
    out2 = run_job(
        "update_stats.py", "--table", layout, "--state", state,
        "--from-version", "2", "--sketch", "hll:tokens:p=13",
        "--master", "local[4]")
    s2 = json.loads(out2.strip().splitlines()[-1])
    assert not s2["bootstrapped"] and s2["n_new_files"] == 0
    # a swap torn by a crash: blobs/ lost one source and its _SUCCESS
    blobs = os.path.join(state, "blobs")
    torn = spark.read.parquet(blobs)
    lost = sorted(r.source for r in torn.select("source").distinct()
                  .collect())[0]
    torn.filter(torn.source != lost).write.parquet(str(tmp_path / "torn"))
    shutil.rmtree(blobs)
    shutil.move(str(tmp_path / "torn"), blobs)
    os.remove(os.path.join(blobs, "_SUCCESS"))
    out3 = run_job(
        "update_stats.py", "--table", layout, "--state", state,
        "--from-version", "2", "--sketch", "hll:tokens:p=13",
        "--master", "local[4]")
    assert json.loads(out3.strip().splitlines()[-1])["bootstrapped"]
    est = spark.read.parquet(os.path.join(state, "estimates"))
    assert est.count() == 20

def test_spectral_report_job(tmp_path):
    out = run_job(
        "spectral_report.py", "--input", SF, "--table", "embeddings",
        "--d", "64", "--ell", "8", "--k", "3",
        "--output", str(tmp_path / "spec"), "--master", "local[4]")
    summary = json.loads(out.strip().splitlines()[-1])
    assert summary["n_groups"] == 1 and summary["k"] == 3
    assert summary["top_sing_value"] > 0
    assert os.path.exists(tmp_path / "spec" / "blobs")
    assert os.path.exists(tmp_path / "spec" / "spectrum")


def test_encode_corpus_job(tmp_path):
    out = run_job(
        "encode_corpus.py", "--input", SF, "--table", "documents",
        "--output", str(tmp_path / "bpe"), "--n-merges", "8",
        "--master", "local[4]")
    stats = json.loads(out.strip().splitlines()[-1])
    assert stats["n_docs"] > 0 and stats["n_bpe_tokens"] > 0
    assert stats["n_merges"] == 8
    assert os.path.isdir(tmp_path / "bpe" / "tokens")
    merges = json.loads((tmp_path / "bpe" / "merges.json").read_text())
    assert len(merges) == 8 and all(len(m) == 4 for m in merges)
    # reuse mode: loading the merges file skips training, same output shape
    out2 = run_job(
        "encode_corpus.py", "--input", SF, "--table", "documents",
        "--output", str(tmp_path / "bpe2"),
        "--merges", str(tmp_path / "bpe" / "merges.json"),
        "--master", "local[4]")
    stats2 = json.loads(out2.strip().splitlines()[-1])
    assert stats2["n_bpe_tokens"] == stats["n_bpe_tokens"]


def test_build_keyed_states_job(tmp_path):
    """Per-key state-table job: one blob per user, bucket-partitioned
    output, point lookup prunes to one bucket dir and the theta state is
    exact below k."""
    out = run_job(
        "build_keyed_states.py", "--input", SF, "--table", "events",
        "--key-cols", "user_id", "--sketch", "theta:tok",
        "--output", str(tmp_path / "states"), "--buckets", "8",
        "--master", "local[4]")
    summary = json.loads(out.strip().splitlines()[-1])
    assert summary["n_keys"] > 0
    buckets = [d for d in os.listdir(tmp_path / "states")
               if d.startswith("bucket=")]
    assert 1 <= len(buckets) <= 8
