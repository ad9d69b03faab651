"""Smoke tests for the benchmark at tiny scale.

    python3 -m pytest perfbench -q

Each workload runs once untraced and once traced, through the same
command line the benchmark is driven with; every metric BENCHMARK.json
names must appear with its unit. A planted bad blob must be counted as a
failed operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402

SCALE = "0.02"


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--scale", SCALE],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_workload_reports_every_metric(workload, trace):
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == \
        {k: v["unit"] for k, v in res["metrics"].items()}
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], float), name
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def _driver_side_blobs(inp) -> dict:
    """The suite's per-source blobs built on the driver with the kernels,
    as a stand-in for a Spark build's output."""
    import pyarrow.parquet as pq

    from sgp_sketch.kernels import registry
    from sgp_sketch.kernels.hashing import hash64

    blobs = {}
    for d in sorted(os.listdir(inp.table)):
        src = d.split("=", 1)[1]
        t = pq.read_table(os.path.join(inp.table, d))
        flat = t.column("tokens").combine_chunks().values.to_numpy()
        n_tok = t.column("n_tok").to_numpy().astype(np.float64)
        uniq, counts = np.unique(flat, return_counts=True)
        h = hash64(uniq.astype(np.uint64))
        for name, spec in workloads.SUITE.items():
            st = registry.make(spec["kind"], **spec["params"])
            if name == "cms":
                st.update_hashes(h, counts=counts)
            elif name == "bloom":
                st.update_hashes(h, assume_unique=True, n_raw=flat.size)
            elif name == "hll":
                st.update_hashes(h, assume_unique=True)
            else:
                st.update(n_tok)
            blobs[(src, name)] = st.to_bytes()
    return blobs


def test_planted_bad_blob_counts_as_failure():
    inp = inputs.ensure("suite_scan", n_docs=400, seed=5, layout="hive",
                        files_per_source=2)
    exact = inp.exact("all")
    good = _driver_side_blobs(inp)
    assert checks.suite(good, workloads.SUITE, exact)[0] == []

    out = workloads.Outcome()
    swapped = dict(good)
    swapped[("web", "moments")] = good[("code", "moments")]
    truncated = dict(good)
    truncated[("web", "hll")] = good[("web", "hll")][:9]
    missing = {k: v for k, v in good.items() if k != ("news", "bloom")}
    for bad in (good, swapped, truncated, missing):
        out.attempt("planted", lambda b=bad: b,
                    lambda b: checks.suite(b, workloads.SUITE, exact)[0])
    assert (out.attempted, out.failed) == (4, 3)

    assert checks.byte_equal(good, swapped, workloads.SUITE, "x")
    assert not checks.byte_equal(good, dict(good), workloads.SUITE, "x")


def test_per_key_mismatch_counts_as_failure():
    inp = inputs.ensure("per_key", n_docs=200, seed=5, layout="hive",
                        files_per_source=1, per_doc=True)
    exact = inp.exact("all")
    _, arrays = exact
    est = {k: float(v) for k, v in zip(arrays["doc/id"].tolist(),
                                        arrays["doc/distinct"])}
    assert checks.per_key(est, exact) == []
    est[arrays["doc/id"][0]] += 1
    assert checks.per_key(est, exact)
