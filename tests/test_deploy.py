"""Deployment artifact tests: the --py-files zip must be importable on a
worker that has ONLY the zip on sys.path (the spark-submit --py-files
contract, north-rule deployment mode)."""

import subprocess
import sys


def test_package_zip_importable_standalone(tmp_path):
    from sgp_sketch.deploy import package_zip

    dest = str(tmp_path / "sgp_sketch.zip")
    assert package_zip(dest) == dest
    # fresh interpreter, cwd outside the repo, only the zip on sys.path —
    # exactly what a Spark python worker sees with --py-files
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "import numpy as np\n"
        "from sgp_sketch.kernels import registry\n"
        "st = registry.make('hll', p=12)\n"
        "st.update(np.arange(1000, dtype=np.int64).view(np.uint64))\n"
        "blob = st.to_bytes()\n"
        "rt = registry.from_bytes(blob)\n"
        "assert abs(rt.estimate() - 1000) < 1000 * 0.05\n"
        "from sgp_sketch.kernels.hashing import hash64\n"
        "from sgp_sketch import dedup\n"
        "sig = dedup.minhash_batch([np.arange(40, dtype=np.int64)], k=16)\n"
        "assert sig.shape == (1, 16)\n"
        "print('ZIPOK')\n"
    )
    out = subprocess.run([sys.executable, "-c", code, dest],
                         capture_output=True, text=True, cwd=str(tmp_path),
                         timeout=120)
    assert out.returncode == 0, out.stderr
    assert "ZIPOK" in out.stdout


def test_unchanged_zip_archive_is_not_reread(tmp_path, monkeypatch):
    import importlib
    import zipfile
    import zipimport

    import sgp_sketch

    wrapped = zipimport.zipimporter.invalidate_caches
    importlib.reload(sgp_sketch)
    assert zipimport.zipimporter.invalidate_caches is wrapped
    archive = str(tmp_path / "mods.zip")

    def write(names):
        with zipfile.ZipFile(archive, "w") as z:
            for n in names:
                z.writestr(f"{n}.py", f"NAME = {n!r}\n")

    write(["m1"])
    saved_path = list(sys.path)
    saved_modules = set(sys.modules)
    saved_cache = dict(sys.path_importer_cache)
    real, reads = zipimport._read_directory, []

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        sys.path.insert(0, archive)
        import m1

        assert m1.NAME == "m1"
        # the importer's first refresh records the archive's signature
        importlib.invalidate_caches()
        del reads[:]
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []
        write(["m1", "m2"])  # a larger archive: the signature changes
        importlib.invalidate_caches()
        assert reads == [archive]
        import m2

        assert m2.NAME == "m2"
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)


def test_python_workers_keep_unchanged_zip_directories(spark):
    """A task's `invalidate_caches()` re-reads no archive once the library
    is imported, although each worker imports pyspark from pyspark.zip."""
    import pyarrow as pa

    def probe(batches):
        import importlib
        import zipimport

        import sgp_sketch  # noqa: F401

        for _ in batches:
            pass
        importlib.invalidate_caches()
        real, reads = zipimport._read_directory, []
        zipimport._read_directory = lambda path: reads.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)]})

    rows = spark.range(1, numPartitions=1).mapInArrow(
        probe, "reads long").collect()
    assert [r.reads for r in rows] == [0]


def test_library_tasks_freeze_the_worker_heap(spark, tokens_sdf, tmp_path):
    """After a build, a reused worker's long-lived heap sits in the
    collector's permanent generation, so the daemon's per-task
    `gc.collect()` walks only a task's own objects; the frozen set does
    not grow from build to build. Each build runs all three task
    functions: the Spark-scan task (a cached frame), the parquet reader
    task (a bare parquet read) and the merge task."""
    import pyarrow as pa

    from sgp_sketch import agg

    specs = {"hll": {"kind": "hll", "value_col": "tokens",
                     "params": {"p": 10}},
             "cms": {"kind": "cms", "value_col": "tokens",
                     "params": {"width": 1 << 10}}}
    path = str(tmp_path / "tokens")
    tokens_sdf.write.parquet(path)
    files = spark.read.parquet(path)
    parts, _schema = agg.build_partials_multi(files, specs)
    assert "FileScan" not in \
        parts._jdf.queryExecution().executedPlan().toString()

    def build():
        agg.multi_sketch_agg(tokens_sdf, specs).collect()
        agg.multi_sketch_agg(files, specs).collect()

    def probe(batches):
        import gc
        import os

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "frozen": [gc.get_freeze_count()],
            "unfrozen": [len(gc.get_objects())]})

    def frozen_by_worker():
        n = 2 * spark.sparkContext.defaultParallelism
        rows = spark.range(n, numPartitions=n).mapInArrow(
            probe, "pid long, frozen long, unfrozen long").collect()
        frozen = [r for r in rows if r.frozen > 0]
        assert frozen, rows
        assert all(r.unfrozen < 1000 for r in frozen), rows
        return {r.pid: r.frozen for r in frozen}

    for _ in range(3):
        build()
    before = frozen_by_worker()
    builds = 20
    for _ in range(builds):
        build()
    after = frozen_by_worker()
    common = before.keys() & after.keys()
    assert common, (before, after)
    # a worker's first run of a task path can leave a couple of cached
    # objects that its next task freezes, once; a per-task leak would
    # freeze more than one object per build
    assert all(after[p] - before[p] < builds for p in common), \
        (before, after)
