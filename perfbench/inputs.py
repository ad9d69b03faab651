"""Deterministic inputs and their exact references.

Rows come from `sgp_sketch.datagen.generate_pandas(n_docs, seed)` — the
library's own token-table generator, given the workload seed. The
benchmark writes them with pyarrow in one of two layouts:

  hive   `source=<s>/part-<i>.parquet`, `files_per_source` files per
         source; Spark recovers `source` from the path, so every scan
         batch holds one group.
  mixed  `source` is a data column and rows are dealt round-robin by
         source into `n_base` base files plus `n_append` appended files,
         so every batch carries all 8 groups.

Exact answers are computed with DuckDB over the written parquet. Inputs
and references are cached under `perfbench/.cache/<key>` where the key
holds (workload, n_docs, seed, layout, GEN_TAG); generation happens
outside every timed window.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

from box import CACHE

GEN_TAG = "datagen-w1"
TOP = 10
KEEP_INPUTS = 12


def cache_key(workload: str, n_docs: int, seed: int, layout: str) -> str:
    return f"{workload}-{n_docs}-{seed}-{layout}-{GEN_TAG}"


def _arrow_table(pdf, with_source: bool):
    import pyarrow as pa

    lens = pdf["n_tok"].to_numpy().astype(np.int32)
    offsets = np.zeros(len(lens) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    flat = (np.concatenate(list(pdf["tokens"])) if len(pdf)
            else np.empty(0, np.int32)).astype(np.int32)
    cols = {"doc_id": pa.array(pdf["doc_id"].tolist(), pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets),
                                               pa.array(flat)),
            "n_tok": pa.array(lens, pa.int32())}
    if with_source:
        cols["source"] = pa.array(pdf["source"].tolist(), pa.string())
    return pa.table(cols)


def _write_hive(pdf, out: str, files_per_source: int) -> None:
    import pyarrow.parquet as pq

    for src, sub in pdf.groupby("source", sort=True):
        d = os.path.join(out, "table", f"source={src}")
        os.makedirs(d)
        for i, part in enumerate(np.array_split(np.arange(len(sub)),
                                                files_per_source)):
            pq.write_table(_arrow_table(sub.iloc[part], False),
                           os.path.join(d, f"part-{i:05d}.parquet"))


def _write_mixed(pdf, out: str, n_base: int, n_append: int) -> None:
    import pyarrow.parquet as pq

    # round-robin by source: row r of every source, then row r+1, ...
    rank = pdf.groupby("source", sort=False).cumcount()
    order = np.lexsort((pdf["source"].to_numpy(), rank.to_numpy()))
    mixed = pdf.iloc[order]
    n_files = n_base + n_append
    for i, part in enumerate(np.array_split(np.arange(len(mixed)), n_files)):
        sub = "base" if i < n_base else "append"
        d = os.path.join(out, sub)
        os.makedirs(d, exist_ok=True)
        # appended files sort after every base file, so a resumed
        # checkpoint plan keeps the base slices and adds new ones
        name = f"part-{i:05d}.parquet" if i < n_base else \
            f"part-{10000 + i:05d}.parquet"
        pq.write_table(_arrow_table(mixed.iloc[part], True),
                       os.path.join(d, name))


def _globs(root: str, layout: str) -> dict[str, list[str]]:
    if layout == "hive":
        return {"all": [os.path.join(root, "table", "*", "*.parquet")]}
    return {"base": [os.path.join(root, "base", "*.parquet")],
            "all": [os.path.join(root, "base", "*.parquet"),
                    os.path.join(root, "append", "*.parquet")]}


def _exact(globs: list[str], hive: bool, per_doc: bool) -> tuple[dict, dict]:
    """DuckDB exact answers over the parquet files matched by `globs`:
    per source distinct tokens, token total, top-TOP frequencies, the
    distinct token set (Bloom probes), sorted n_tok values and n_tok power
    sums; per doc distinct token counts when `per_doc`."""
    import duckdb

    con = duckdb.connect()
    try:
        files = ", ".join(f"'{g}'" for g in globs)
        con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet([{files}],"
                    f" hive_partitioning={'true' if hive else 'false'})")
        con.execute("CREATE TEMP TABLE tok AS "
                    "SELECT source, doc_id, unnest(tokens) AS t FROM src")
        scal: dict = {"sources": {}}
        arrays: dict[str, np.ndarray] = {}
        for src, n_docs, n_tok, mn, mx, s1, s2 in con.execute(
                "SELECT source, count(*), sum(n_tok), min(n_tok), max(n_tok),"
                " CAST(sum(n_tok::HUGEINT) AS VARCHAR),"
                " CAST(sum(n_tok::HUGEINT * n_tok) AS VARCHAR)"
                " FROM src GROUP BY source ORDER BY source").fetchall():
            scal["sources"][src] = {
                "n_docs": int(n_docs), "n_tokens": int(n_tok),
                "ntok_min": int(mn), "ntok_max": int(mx),
                "ntok_sum": int(s1), "ntok_sumsq": int(s2)}
        for src, d in con.execute(
                "SELECT source, count(DISTINCT t) FROM tok GROUP BY source"
        ).fetchall():
            scal["sources"][src]["distinct"] = int(d)
        top: dict[str, list] = {s: [] for s in scal["sources"]}
        for src, t, c in con.execute(
                "SELECT source, t, count(*) c FROM tok GROUP BY source, t "
                f"QUALIFY row_number() OVER (PARTITION BY source "
                f"ORDER BY c DESC, t) <= {TOP} ORDER BY source, c DESC, t"
        ).fetchall():
            top[src].append([int(t), int(c)])
        for src in scal["sources"]:
            scal["sources"][src]["top"] = top[src]
            arrays[f"distinct/{src}"] = con.execute(
                "SELECT DISTINCT t FROM tok WHERE source = ? ORDER BY t",
                [src]).fetchnumpy()["t"].astype(np.int64)
            arrays[f"ntok/{src}"] = con.execute(
                "SELECT n_tok FROM src WHERE source = ? ORDER BY n_tok",
                [src]).fetchnumpy()["n_tok"].astype(np.int64)
        if per_doc:
            res = con.execute("SELECT doc_id, count(DISTINCT t) AS d FROM tok"
                              " GROUP BY doc_id ORDER BY doc_id").fetchnumpy()
            arrays["doc/id"] = np.asarray(res["doc_id"], dtype=str)
            arrays["doc/distinct"] = res["d"].astype(np.int64)
        return scal, arrays
    finally:
        con.close()


class Input:
    """A generated input: its root dir and cached exact answers per scope
    ("all", plus "base" for the mixed layout)."""

    def __init__(self, root: str):
        self.root = root

    @property
    def table(self) -> str:
        return os.path.join(self.root, "table")

    @property
    def base(self) -> str:
        return os.path.join(self.root, "base")

    @property
    def append(self) -> str:
        return os.path.join(self.root, "append")

    def exact(self, scope: str = "all"):
        with open(os.path.join(self.root, f"exact-{scope}.json")) as f:
            scal = json.load(f)
        with np.load(os.path.join(self.root, f"exact-{scope}.npz")) as z:
            arrays = {k: z[k] for k in z.files}
        return scal, arrays

    def files(self, sub: str) -> list[str]:
        d = os.path.join(self.root, sub)
        return sorted(os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith(".parquet"))


def ensure(workload: str, n_docs: int, seed: int, layout: str,
           files_per_source: int = 8, n_base: int = 8, n_append: int = 4,
           per_doc: bool = False) -> Input:
    """Generate (once) and return the cached input for this key."""
    from sgp_sketch import datagen

    root = os.path.join(CACHE, cache_key(workload, n_docs, seed, layout))
    if os.path.exists(os.path.join(root, "meta.json")):
        return Input(root)
    tmp = root + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pdf = datagen.generate_pandas(n_docs, seed)
    if layout == "hive":
        _write_hive(pdf, tmp, files_per_source)
    else:
        _write_mixed(pdf, tmp, n_base, n_append)
    del pdf
    globs = _globs(tmp, layout)
    for scope, g in globs.items():
        scal, arrays = _exact(g, layout == "hive", per_doc)
        with open(os.path.join(tmp, f"exact-{scope}.json"), "w") as f:
            json.dump(scal, f)
        np.savez(os.path.join(tmp, f"exact-{scope}.npz"), **arrays)
    meta = {"workload": workload, "n_docs": n_docs, "seed": seed,
            "layout": layout, "gen_tag": GEN_TAG}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    _evict(keep=root)
    return Input(root)


def _evict(keep: str) -> None:
    """Keep the KEEP_INPUTS most recently generated inputs."""
    dirs = [os.path.join(CACHE, d) for d in os.listdir(CACHE)
            if d.endswith(GEN_TAG)]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_INPUTS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
