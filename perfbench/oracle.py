"""DuckDB oracle for the benchmark: runs each query's oracle SQL (the
engine's `SparkEntry.oracleSql`, its semantic spec) over a fixture once,
caches the rows, and compares the engine's dumped results against them.

The compare follows tools/compare.py, the repo's stand-in for the oracle
gate: columns matched by sorted name, rows sorted, values exact (floats by
bit equality, NaN equal to NaN).
"""
import hashlib
import math
import os
import pickle

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duck(tmp):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def _connect(fixture, tmp):
    con = _duck(tmp)
    for t in TABLES:
        path = f"{fixture}/{t}.parquet"
        if os.path.isdir(path):  # a Spark-written table (graft.ScaleUp)
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canonical(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    body = [tuple("NaN" if isinstance(v, float) and math.isnan(v) else v
                  for v in (r[i] for i in order)) for r in rows]
    return cols, sorted(body, key=repr)


def expected(fixture, sqls, cache_dir, tmp):
    """{query: (columns, sorted rows)} from the oracle, cached per fixture
    and per SQL text, so an oracle change is never served stale. DuckDB
    spills, if at all, under `tmp`."""
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name, sql in sorted(sqls.items()):
        key = hashlib.sha256((fixture + "\0" + sql).encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{name}-{key}.pkl")
        if not os.path.exists(path):
            con = con or _connect(fixture, tmp)
            rel = con.sql(sql)
            result = _canonical(rel.columns, rel.fetchall())
            with open(path + ".tmp", "wb") as fh:
                pickle.dump(result, fh)
            os.replace(path + ".tmp", path)
        with open(path, "rb") as fh:
            out[name] = pickle.load(fh)
    return out


def compare(dump_dir, name, want, tmp):
    """None when the engine's dumped result equals the oracle's, else a
    one-line reason with the first differing rows."""
    con = _duck(tmp)
    try:
        rel = con.sql(f"SELECT * FROM read_parquet('{dump_dir}/{name}/*.parquet')")
        cols, rows = _canonical(rel.columns, rel.fetchall())
    except duckdb.Error as e:
        return f"result unreadable: {e}"
    want_cols, want_rows = want
    if cols != want_cols:
        return f"columns differ: engine {cols} oracle {want_cols}"
    if len(rows) != len(want_rows):
        return f"row count differs: engine {len(rows)} oracle {len(want_rows)}"
    diffs = [(a, b) for a, b in zip(rows, want_rows) if a != b]
    if diffs:
        return (f"{len(diffs)} rows differ; first: engine {diffs[0][0]!r} "
                f"oracle {diffs[0][1]!r}")
    return None

