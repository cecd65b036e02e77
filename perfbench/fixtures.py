"""Seeded inputs for the benchmark, built with DuckDB from the base tables
in perfbench/data/sf0.1.

Two shapes:

* ``files == 1``: a row-order copy of every base table. Rows are ordered by
  a hash of (row number, seed); each table stays one file with one row
  group, like the base, so scan parallelism matches the base layout.
  ``sample`` keeps that share of the keys of the tables in SAMPLE, the
  keys with the lowest hash; lineitem keeps the lines of kept orders. The
  sample does not depend on the seed, so every seed runs the same rows,
  in its own order.
* ``files > 1``: the tables the parity queries read, every key shifted by
  a seeded offset and each measure scaled by a seeded factor in
  [0.99, 1.01] (rounded to cents), written in seeded row order as ``files``
  parquet files per table. Several files matter: one row group gives Spark
  one task.

A fixture is built once per (shape, seed, generator) and reused: its
directory name carries a digest of this file and of the base tables' names
and sizes, so a changed generator or base builds a new one. ``sizes.json``
in it records each table's rows, bytes and files.
"""
import hashlib
import json
import os
import shutil

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Key columns shifted, and measures jittered per row, by table. Keys that
# join (orderkey, custkey) share one offset.
SCALED = {
    "lineitem": (["l_orderkey"], ["l_quantity", "l_extendedprice"]),
    "orders": (["o_orderkey", "o_custkey"], ["o_totalprice"]),
    "customer": (["c_custkey"], ["c_acctbal"]),
    "events": (["event_id", "user_id"], ["value"]),
    "documents": (["doc_id"], []),
}
# Sampled table -> (its key column, the table and column the key comes from).
SAMPLE = {"documents": ("doc_id", "documents", "doc_id"),
          "embeddings": ("vec_id", "embeddings", "vec_id"),
          "orders": ("o_orderkey", "orders", "o_orderkey"),
          "lineitem": ("l_orderkey", "orders", "o_orderkey")}


def table_path(fixture, name):
    """The path Spark reads for ``name``: a file, or a directory of files."""
    return os.path.join(fixture, f"{name}.parquet")


def duck_source(fixture, name):
    """A DuckDB ``read_parquet`` argument for the same table."""
    p = table_path(fixture, name)
    return os.path.join(p, "*.parquet") if os.path.isdir(p) else p


def _sizes(fixture, tables):
    con = duckdb.connect()
    out = {}
    for t in tables:
        p = table_path(fixture, t)
        files = ([os.path.join(p, f) for f in sorted(os.listdir(p))]
                 if os.path.isdir(p) else [p])
        rows = con.execute(
            f"SELECT count(*) FROM read_parquet('{duck_source(fixture, t)}')").fetchone()[0]
        out[t] = {"rows": rows, "bytes": sum(os.path.getsize(f) for f in files),
                  "files": len(files)}
    return out


def generator_digest(base):
    """Short digest of this generator's source and the base tables' names
    and sizes."""
    h = hashlib.sha1()
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    for name in sorted(os.listdir(base)):
        h.update(f"{name}:{os.path.getsize(os.path.join(base, name))}".encode())
    return h.hexdigest()[:10]


def build(base, root, seed, files=1, sample=1.0):
    """Build (or reuse) the fixture for ``seed``; returns (dir, sizes)."""
    fixture = os.path.join(root, f"f{files}_s{sample:g}_{generator_digest(base)}_seed{seed}")
    marker = os.path.join(fixture, "sizes.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return fixture, json.load(f)
    tmp = fixture + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    tables = TABLES if files == 1 else list(SCALED)
    offset = seed % 997 * 1000
    for t in tables:
        src = os.path.join(base, f"{t}.parquet")
        if files == 1:
            keep = ""
            if sample < 1 and t in SAMPLE:
                col, ktab, kcol = SAMPLE[t]
                ksrc = os.path.join(base, f"{ktab}.parquet")
                n = con.execute(f"SELECT count(*) FROM read_parquet('{ksrc}')").fetchone()[0]
                keep = (f"WHERE {col} IN (SELECT {kcol} FROM read_parquet('{ksrc}') "
                        f"ORDER BY hash({kcol}), {kcol} LIMIT {round(sample * n)})")
            con.execute(
                f"COPY (SELECT * EXCLUDE (file_row_number) FROM "
                f"read_parquet('{src}', file_row_number = true) {keep} "
                f"ORDER BY hash(file_row_number, {seed})) "
                f"TO '{table_path(tmp, t)}' (FORMAT parquet, ROW_GROUP_SIZE 100000000)")
            continue
        keys, measures = SCALED[t]
        exprs = []
        schema = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()
        for c, *_ in schema:
            if c in keys:
                exprs.append(f"{c} + {offset} AS {c}")
            elif c in measures:
                factor = f"0.99 + (hash(file_row_number, {seed} + 2) % 20001) / 1e6"
                exprs.append(f"round({c} * ({factor}), 2) AS {c}")
            else:
                exprs.append(c)
        out = table_path(tmp, t)
        os.makedirs(out)
        # One COPY per output file keeps the file count fixed and the row
        # order seeded, whatever DuckDB's thread count.
        for i in range(files):
            con.execute(
                f"COPY (SELECT {', '.join(exprs)} FROM "
                f"read_parquet('{src}', file_row_number = true) "
                f"WHERE hash(file_row_number, {seed} + 1) % {files} = {i} "
                f"ORDER BY hash(file_row_number, {seed})) "
                f"TO '{os.path.join(out, f'part-{i:03d}.parquet')}' "
                f"(FORMAT parquet, ROW_GROUP_SIZE 100000000)")
    sizes = _sizes(tmp, tables)
    with open(os.path.join(tmp, "sizes.json"), "w") as f:
        json.dump(sizes, f, indent=1, sort_keys=True)
    shutil.rmtree(fixture, ignore_errors=True)
    os.rename(tmp, fixture)
    return fixture, sizes
