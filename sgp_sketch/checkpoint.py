"""Checkpointed, resumable sketch builds with per-slice lineage (M4).

North-rule requirement: per-partition sketch states are checkpointed with
lineage + metrics so a run can resume mid-scan. The reference's analog is its
progress logging every 1M streamed lines (EdgeCutSGP.java:241-243) and the
experiment driver's skip-completed logic; our unit of resume is an **input
file slice**, because in Spark the atomic durability boundary is the job
commit (output committer), not the task. A build over S slices = S jobs; a
crash between jobs loses at most one slice's work.

One API: `build_checkpointed_multi` plans the slices, skips each one whose
lineage matches (`slice_complete`), builds the rest (`build_slice_multi`,
all specs in one scan), and `finalize_multi` merges the slice blobs. A
single-kind build is the same call with `agg.single_spec(kind, value_col,
params)`. The layout under `ckpt_dir/`:
    slices/<slice_id>/           parquet: group_cols…, sketch (spec name),
                                 sketch_type, state, n_items — one blob
                                 row per (group × spec)
    slices/<slice_id>.lineage.json   {version, slice_id, files,
                                 specs {name: {kind, value_col, params}},
                                 group_cols, groups [{group, sketch,
                                 n_items, state_sha256}], n_items, seconds}
    manifest.json                {version, input_path, specs, group_cols,
                                 files_per_slice, n_slices, built,
                                 skipped, slice_ids}
    metrics.jsonl                one line per built slice (appended):
                                 {slice_id, sketches, n_items, seconds,
                                 n_files}

A lineage whose version, files, specs or group_cols differ from the
current build is not reused: that slice is rebuilt.

Associativity of the kernels is what makes slice-wise builds equal to a
single-pass build — asserted byte-exactly for HLL/CMS/Bloom in tests.
"""

from __future__ import annotations

import hashlib
import json
import time

from . import agg

_LINEAGE_VERSION = 2


def _fs_path(spark, path: str):
    """(FileSystem, Path) for `path` via the Hadoop FS gateway — the same
    resolution Spark's own readers use, so lineage/manifest/metrics I/O
    works on any configured scheme (file:, hdfs:, s3a:), not just the
    driver's local disk."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf), p


def _fs_exists(spark, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def _fs_mkdirs(spark, path: str) -> None:
    fs, p = _fs_path(spark, path)
    fs.mkdirs(p)


def _fs_write_text(spark, path: str, text: str) -> None:
    """Atomic-enough small-file write: create(overwrite=True) + close.
    Object stores commit on close; posix FS truncates then writes — both
    fine for the KB-sized lineage/manifest JSON this is used for."""
    fs, p = _fs_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(spark, path: str) -> str:
    jvm = spark.sparkContext._jvm
    fs, p = _fs_path(spark, path)
    stream = fs.open(p)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def _append_jsonl(spark, path: str, record: dict) -> None:
    """FS-agnostic append for the tiny metrics log (`FileSystem.append` is
    unsupported on object stores): read + write-to-temp + rename into
    place. A crash mid-write leaves either the old log, or — in the
    delete→rename window — only the complete .tmp, which the NEXT append
    recovers from automatically (the .tmp always holds the full previous
    history plus the record that was being committed, so recovery is
    at-least-once for that one record, never a truncated or reset log).
    Single driver writer per build — no concurrent-appender contract.
    Read-modify-write is O(log size) per append — bounded by the slice
    count of one build; per-slice files would shard it if that ever
    mattered."""
    tmp = path + ".tmp"
    main = _fs_read_text(spark, path) if _fs_exists(spark, path) else None
    stale = _fs_read_text(spark, tmp) if _fs_exists(spark, tmp) else None
    if main is not None and stale is not None:
        # crash in the delete->rename window leaves BOTH: the .tmp holds
        # the full history plus the record that was being committed, so
        # prefer it — but only when it verifiably extends the main log
        # (a crash mid-.tmp-write could have left it truncated instead)
        prev = stale if (len(stale) > len(main)
                         and stale.startswith(main)) else main
    elif main is not None:
        prev = main
    elif stale is not None:
        prev = stale  # crashed mid-commit: recover
    else:
        prev = ""
    _fs_write_text(spark, tmp, prev + json.dumps(record) + "\n")
    fs, dst = _fs_path(spark, path)
    _, src = _fs_path(spark, tmp)
    # RawLocalFileSystem.rename refuses to clobber → delete-then-rename
    if fs.exists(dst):
        fs.delete(dst, False)
    if not fs.rename(src, dst):
        raise IOError(f"metrics log rename failed: {tmp} -> {path}")


def _join(*parts: str) -> str:
    """URI-safe path join (os.path.join would mangle scheme-qualified
    paths on non-posix separators; '/' is the Hadoop Path separator)."""
    return "/".join(p.rstrip("/") for p in parts)


def list_input_files(spark, path: str) -> list[str]:
    """Deterministic sorted listing of the parquet data files under `path`.

    Uses the Hadoop FS API via the JVM gateway so it works for any
    configured filesystem (local, HDFS, S3A) — driver-side metadata only.
    """
    fs, p = _fs_path(spark, path)
    if fs.isFile(p):
        return [p.toString()]
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        f = it.next().getPath().toString()
        base = f.rsplit("/", 1)[-1]
        if base.startswith(("_", ".")) or not base.endswith(".parquet"):
            continue
        out.append(f)
    return sorted(out)


def plan_slices(files: list[str], files_per_slice: int = 8,
                previous=()) -> list[dict]:
    """Deterministic slice plan; slice_id = sha of its file list, so a plan
    change (different files) never silently reuses a stale checkpoint.
    Each `previous` slice whose files are all still listed is kept; only
    the files no kept slice covers are chunked, in sorted order, so an
    append never moves an old slice boundary."""
    listed = set(files)
    slices = [{"slice_id": p["slice_id"], "files": p["files"]}
              for p in previous if listed.issuperset(p["files"])]
    covered = {f for sl in slices for f in sl["files"]}
    rest = [f for f in files if f not in covered]
    for i in range(0, len(rest), files_per_slice):
        chunk = rest[i:i + files_per_slice]
        sid = hashlib.sha256("\n".join(chunk).encode()).hexdigest()[:16]
        slices.append({"slice_id": sid, "files": chunk})
    return slices


def _slice_dir(ckpt_dir: str, sid: str) -> str:
    return _join(ckpt_dir, "slices", sid)


def _lineage_path(ckpt_dir: str, sid: str) -> str:
    return _join(ckpt_dir, "slices", f"{sid}.lineage.json")


def _read_json(spark, path: str) -> dict | None:
    """Parsed JSON at `path`, or None if missing or unreadable (JVM reads
    raise Py4JJavaError): a bad lineage or manifest means rebuild, never
    abort the resumable build."""
    if not _fs_exists(spark, path):
        return None
    try:
        return json.loads(_fs_read_text(spark, path))
    except Exception:
        return None


def _previous_slices(spark, ckpt_dir: str, files_per_slice: int) -> list:
    """The last build's slice lineages if its manifest used the same
    `files_per_slice`, else [] (a new slice size plans from scratch)."""
    manifest = _read_json(spark, _join(ckpt_dir, "manifest.json")) or {}
    if manifest.get("files_per_slice") != files_per_slice:
        return []
    lineages = [_read_json(spark, _lineage_path(ckpt_dir, sid))
                for sid in manifest["slice_ids"]]
    return [lin for lin in lineages if lin and lin.get("files")]


def slice_complete(spark, ckpt_dir: str, sl: dict, expect: dict) -> bool:
    """True iff the slice's checkpoint exists AND was built under the same
    configuration. `expect` maps lineage keys (specs, group_cols) to
    required values — a resumed build with a changed sketch kind/params
    must not reuse stale blobs."""
    lin = _read_json(spark, _lineage_path(ckpt_dir, sl["slice_id"]))
    if lin is None or any(lin.get(k) != v for k, v in expect.items()):
        return False
    return (lin.get("version") == _LINEAGE_VERSION
            and lin.get("files") == sl["files"]
            and _fs_exists(spark, _join(_slice_dir(ckpt_dir, sl["slice_id"]),
                                        "_SUCCESS")))


def _spec_record(specs: dict) -> dict:
    """`specs` as lineage and manifest record them: {name: {kind,
    value_col, params}}, params defaulting to {}."""
    return {n: {"kind": s["kind"], "value_col": s["value_col"],
                "params": s.get("params") or {}}
            for n, s in specs.items()}


def build_slice_multi(spark, sl: dict, specs: dict, group_cols,
                      ckpt_dir: str, prepare=None,
                      base_path: str | None = None) -> dict:
    """Build + persist one slice's blobs, ALL sketches in one scan
    (multi_sketch_agg); returns its lineage. Checkpoint granularity costs
    one read per slice, not one per (slice × sketch).

    `base_path` (the table root) lets Spark recover hive-partition columns
    (e.g. source=...) when reading individual data files of a partitioned
    table — without it a slice read silently drops those columns."""
    t0 = time.perf_counter()
    reader = spark.read
    if base_path:
        reader = reader.option("basePath", base_path)
    df = reader.parquet(*sl["files"])
    if prepare is not None:
        df = prepare(df)
    blobs = agg.multi_sketch_agg(df, specs, group_cols)
    sdir = _slice_dir(ckpt_dir, sl["slice_id"])
    blobs.write.mode("overwrite").parquet(sdir)
    # lineage from what was actually written (read-back keeps it honest)
    written = spark.read.parquet(sdir).collect()
    groups = []
    for r in written:
        d = r.asDict()
        groups.append({
            "group": {c: d[c] for c in group_cols},
            "sketch": d["sketch"],
            "n_items": int(d["n_items"]),
            "state_sha256": hashlib.sha256(bytes(d["state"])).hexdigest(),
        })
    lineage = {
        "version": _LINEAGE_VERSION,
        "slice_id": sl["slice_id"], "files": sl["files"],
        "specs": _spec_record(specs),
        "group_cols": list(group_cols),
        "groups": sorted(groups, key=lambda g: (
            g["sketch"], json.dumps(g["group"], sort_keys=True))),
        "n_items": sum(g["n_items"] for g in groups),
        "seconds": round(time.perf_counter() - t0, 3),
    }
    _fs_write_text(spark, _lineage_path(ckpt_dir, sl["slice_id"]),
                   json.dumps(lineage, indent=1))
    _append_jsonl(spark, _join(ckpt_dir, "metrics.jsonl"),
                  {"slice_id": sl["slice_id"], "sketches": list(specs),
                   "n_items": lineage["n_items"],
                   "seconds": lineage["seconds"],
                   "n_files": len(sl["files"])})
    return lineage


def build_checkpointed_multi(spark, input_path: str, specs: dict,
                             group_cols=("source",), ckpt_dir: str = "./ckpt",
                             files_per_slice: int = 8, prepare=None) -> dict:
    """Resumable one-scan-per-slice build: skip slices whose lineage
    matches, build the rest.

    `prepare` (optional) maps the raw slice DataFrame to the sketch input
    (e.g. documents → tokens). Returns the manifest; call `finalize_multi`
    for the merged per-(group × sketch) blob DataFrame."""
    _fs_mkdirs(spark, _join(ckpt_dir, "slices"))
    files = list_input_files(spark, input_path)
    if not files:
        raise FileNotFoundError(f"no parquet data files under {input_path}")
    # basePath (hive-partition recovery) is only legal for directory inputs
    fs, p = _fs_path(spark, input_path)
    base = input_path if not fs.isFile(p) else None
    slices = plan_slices(files, files_per_slice,
                         _previous_slices(spark, ckpt_dir, files_per_slice))
    expect = {"specs": _spec_record(specs), "group_cols": list(group_cols)}
    skipped, built = [], []
    for sl in slices:
        if slice_complete(spark, ckpt_dir, sl, expect=expect):
            skipped.append(sl["slice_id"])
            continue
        build_slice_multi(spark, sl, specs, group_cols, ckpt_dir,
                          prepare=prepare, base_path=base)
        built.append(sl["slice_id"])
    manifest = {
        "version": _LINEAGE_VERSION,
        "input_path": input_path,
        **expect,
        "files_per_slice": files_per_slice,
        "n_slices": len(slices), "built": built, "skipped": skipped,
        "slice_ids": [s["slice_id"] for s in slices],
    }
    _fs_write_text(spark, _join(ckpt_dir, "manifest.json"),
                   json.dumps(manifest, indent=1))
    return manifest


def finalize_multi(spark, ckpt_dir: str):
    """Merge all slice blobs → one blob row per (group × sketch) as the
    slices were grouped (tree of slice states; each slice is itself a
    tree-merged state, so depth stays O(log))."""
    manifest = json.loads(_fs_read_text(spark, _join(ckpt_dir,
                                                     "manifest.json")))
    dirs = [_slice_dir(ckpt_dir, sid) for sid in manifest["slice_ids"]]
    return agg.tree_merge(spark.read.parquet(*dirs))

