"""Thin table resolution: plain parquet, Iceberg-layout directories, or a
real Iceberg catalog when the runtime is on the classpath.

The north rule targets Iceberg tables of pre-tokenized sequences. The
sandbox ships no iceberg-spark-runtime jar, so (SURVEY.md §7.4.5):

  * production: `spark-submit --packages
    org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:<ver>` and pass
    `catalog.table` names here — `load_table` tries
    `spark.read.format("iceberg")` / `spark.table` first;
  * sandbox: parquet directories, including Iceberg-layout dirs
    (`data/` + `metadata/`), resolved by reading `data/` directly. That is
    correct for append-only tables with no delete files — exactly the shape
    of an immutable training-sequence dump — and is clearly a fallback, not
    an Iceberg implementation.

`write_layout` produces the same directory shape plus a minimal snapshot
manifest JSON (file list, row counts, schema) so resumable builds and
audits can diff snapshots without a catalog service. All filesystem access
goes through the Hadoop FS gateway (checkpoint._fs_path and friends), so
layout paths may be scheme-qualified (file://, hdfs://, s3a://) — same
contract as the checkpoint store.
"""

from __future__ import annotations

import json
import time

from .checkpoint import (_fs_exists, _fs_mkdirs, _fs_path, _fs_read_text,
                         _fs_write_text, _join, list_input_files)


def _is_dir(spark, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p)) and not bool(fs.isFile(p))


def load_table(spark, ref: str, schema=None, csv_options: dict | None = None):
    """Resolve `ref` to a DataFrame.

    Order: Iceberg/catalog table name (contains no path separator) →
    Iceberg-layout dir → delimited text (`.csv`/`.tsv`/`.txt` suffix, or
    any path when `schema`/`csv_options` is given — the reference's
    primary raw-dump ingest, csv-converter.scala:31-34 defaults: header,
    '|' separator, \\N nulls) → plain parquet dir/file.
    """
    looks_csv = ref.rstrip("/").rsplit(".", 1)[-1] in ("csv", "tsv", "txt")
    if looks_csv or schema is not None or csv_options is not None:
        opts = {"header": True, "sep": "|", "nullValue": "\\N"}
        opts.update(csv_options or {})
        reader = spark.read.options(**opts)
        if schema is not None:
            reader = reader.schema(schema)
        else:
            reader = reader.option("inferSchema", True)
        return reader.csv(ref)
    if "/" not in ref and not _fs_exists(spark, ref):
        try:
            return spark.read.format("iceberg").load(ref)
        except Exception:
            return spark.table(ref)
    data_dir = _join(ref, "data")
    meta_dir = _join(ref, "metadata")
    if _is_dir(spark, data_dir) and _is_dir(spark, meta_dir):
        return spark.read.parquet(data_dir)
    return spark.read.parquet(ref)


def write_bucketed(df, table: str, bucket_cols, n_buckets: int,
                   path: str | None = None, sort_cols=None,
                   mode: str = "overwrite"):
    """Write a bucketed (and optionally sort-ordered) table: the
    co-located-join layout. Two tables bucketed on the same key with the
    same bucket count join WITHOUT any Exchange — each bucket pair joins
    in place, the storage-level answer to repeated large joins on one key
    (vs paying a shuffle per query). Bucketing requires the table catalog
    (`saveAsTable`); pass `path` to make it an external table at an
    explicit location.

    At 100 TB: bucket the token/blob tables by their join key once at
    write time; every downstream join on that key becomes shuffle-free
    (verify with .explain() — no Exchange below the SortMergeJoin)."""
    bucket_cols = ([bucket_cols] if isinstance(bucket_cols, str)
                   else list(bucket_cols))
    writer = (df.write.mode(mode).format("parquet")
              .bucketBy(n_buckets, *bucket_cols))
    if sort_cols:
        sort_cols = ([sort_cols] if isinstance(sort_cols, str)
                     else list(sort_cols))
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_layout(df, path: str, mode: str = "overwrite",
                 partition_by=None) -> dict:
    """Write an Iceberg-layout-shaped directory: parquet under `data/`,
    snapshot manifest JSON under `metadata/`. Returns the manifest."""
    spark = df.sparkSession
    data_dir = _join(path, "data")
    meta_dir = _join(path, "metadata")
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_dir)
    _fs_mkdirs(spark, meta_dir)
    fs, data_p = _fs_path(spark, data_dir)
    # fully-qualified prefix so relativization never splits on an
    # ancestor directory that happens to be named "data"
    qdata = fs.makeQualified(data_p).toString().rstrip("/")
    files = []
    for full in list_input_files(spark, data_dir):
        _, p = _fs_path(spark, full)
        # manifest paths are layout-relative so the snapshot stays valid
        # when the table directory is moved/mirrored
        rel = (full[len(qdata) + 1:] if full.startswith(qdata + "/")
               else full.rsplit("/", 1)[-1])
        files.append({"path": _join("data", rel),
                      "bytes": int(fs.getFileStatus(p).getLen())})
    # version = 1 + max over BOTH existing manifest files and the hint:
    # a crash between manifest write and hint update must not let the
    # next writer reuse (and destroy) an existing snapshot number
    mfs, meta_p = _fs_path(spark, meta_dir)
    seen = []
    for status in mfs.listStatus(meta_p):
        name = status.getPath().getName()
        if name.startswith("v") and name.endswith(".metadata.json"):
            try:
                seen.append(int(name[1:].split(".")[0]))
            except ValueError:
                pass
    if _fs_exists(spark, _join(meta_dir, "version-hint.text")):
        try:
            seen.append(int(_fs_read_text(
                spark, _join(meta_dir, "version-hint.text")).strip()))
        except ValueError:
            pass
    version = 1 + max(seen, default=0)
    manifest = {
        "format": "sgp-sketch-layout/1 (Iceberg-layout-shaped; use real "
                  "Iceberg runtime in production)",
        "version": version,
        "schema": df.schema.jsonValue(),
        "partition_by": list(partition_by or []),
        "files": files,
        "n_files": len(files),
        "total_bytes": sum(f["bytes"] for f in files),
        "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    _fs_write_text(spark, _join(meta_dir, f"v{version}.metadata.json"),
                   json.dumps(manifest, indent=1))
    _fs_write_text(spark, _join(meta_dir, "version-hint.text"), str(version))
    return manifest


def _snapshot(spark, path: str, version: int | None = None) -> dict:
    """Manifest of snapshot `version` (default: the current one, from
    `version-hint.text`); it records its own "version"."""
    meta_dir = _join(path, "metadata")
    if version is None:
        version = int(_fs_read_text(
            spark, _join(meta_dir, "version-hint.text")).strip())
    return json.loads(_fs_read_text(
        spark, _join(meta_dir, f"v{version}.metadata.json")))


def _added_files(path: str, old: dict, new: dict) -> list[str]:
    """Layout-absolute paths of the data files `new` lists, `old` not."""
    return sorted(_join(path, p) for p in
                  {f["path"] for f in new["files"]}
                  - {f["path"] for f in old["files"]})


def load_snapshot(spark, path: str, version: int | None = None):
    """Time-travel read of a layout table: load EXACTLY the parquet files
    the requested snapshot's manifest lists (default: the current version
    from `version-hint.text`) — Iceberg's snapshot-isolation / time-travel
    contract at layout scale (`spark.read.option("snapshot-id", ...)` on a
    real Iceberg runtime).

    Append-mode writers keep every older snapshot readable: each
    `write_layout(mode="append")` manifest lists the full file set visible
    at that version, and earlier manifests keep pointing at files that
    still exist. An overwrite-mode writer invalidates prior snapshots —
    reading one then fails loudly on the missing files rather than
    silently serving the new data. The manifest's recorded schema is
    applied to the scan (no inference pass), and `basePath` recovers
    partition columns for partitioned layouts."""
    from pyspark.sql.types import StructType

    manifest = _snapshot(spark, path, version)
    schema = StructType.fromJson(manifest["schema"])
    files = [_join(path, f["path"]) for f in manifest["files"]]
    if not files:
        return spark.createDataFrame([], schema)
    return (spark.read.schema(schema)
            .option("basePath", _join(path, "data")).parquet(*files))


def snapshot_new_files(spark, path: str, from_version: int,
                       to_version: int | None = None) -> list[str]:
    """Layout-absolute paths of data files listed by `to_version`'s
    manifest but not by `from_version`'s — the append delta between two
    snapshots (empty when nothing was appended; an overwrite shows up as
    an entirely new file set)."""
    return _added_files(path, _snapshot(spark, path, from_version),
                        _snapshot(spark, path, to_version))


def incremental_sketch_update(spark, path: str, state_blobs, specs: dict,
                              from_version: int, to_version: int | None = None,
                              group_cols=("source",), prepare=None):
    """Incremental sketch maintenance on snapshot append: scan ONLY the
    data files `to_version` added since `from_version` (snapshot_new_files
    manifest diff), build partial sketches over that delta, and
    kernel-merge them with the existing blob state in one tree merge —
    the table-statistics pattern for an append-only 100-TB corpus, where
    re-scanning history on every ingest is the thing that cannot happen.

    Kernel associativity is what makes the result correct; for the
    order-invariant kernels (HLL register-max, CMS counter-add, Bloom
    bit-or, theta) the merged state is BYTE-identical to a full rebuild
    at `to_version` (gated in tests/test_catalog.py); KLL/t-digest/MG/FD
    states are merge-order-dependent but their estimates stay within the
    same published bounds (MG bracket gated in tests/test_catalog.py).

    `prepare` (optional) maps the delta DataFrame before sketching —
    e.g. testdata.doc_tokens_from to tokenize documents — and must be
    the same function the original state was built with.

    → updated blobs DataFrame (same schema as agg.multi_sketch_agg).
    """
    from pyspark.sql.types import StructType

    from . import agg

    # one read of the target manifest serves the file delta and the schema
    target = _snapshot(spark, path, to_version)
    new_files = _added_files(path, _snapshot(spark, path, from_version),
                             target)
    if not new_files:
        return state_blobs
    delta = (spark.read.schema(StructType.fromJson(target["schema"]))
             .option("basePath", _join(path, "data")).parquet(*new_files))
    if prepare is not None:
        delta = prepare(delta)
    # the delta's unmerged partials join the state in ONE merge: merging
    # them first (multi_sketch_agg) would shuffle the delta twice
    partials, _schema = agg.build_partials_multi(delta, specs, group_cols)
    return agg.tree_merge(state_blobs.unionByName(partials.drop("part_id")))


def merge_upsert(base, updates, key):
    """SCD-1 style merge (upsert): every `updates` row replaces the base
    row with the same key; update rows with no base match are inserts.
    Declarative form of MERGE INTO for plain-parquet tables: one
    key-shuffle for the left_anti probe (the update key set is projected
    before the join so only keys ship), then a shuffle-free union. At
    scale the anti-join broadcast-promotes automatically when the update
    batch is small — the common incremental-ingest shape."""
    keys = [key] if isinstance(key, str) else list(key)
    survivors = base.join(updates.select(*keys), keys, "left_anti")
    return updates.unionByName(survivors)
