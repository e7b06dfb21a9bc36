"""Correctness check of a batch run: each query's output, written by the
cold pass, against DuckDB running the query's oracle SQL
(`SparkEntry.oracleSql`) over the same generated input.

The comparison rules are those of the repository's oracle check: columns
sorted by name, rows compared as sorted tuples, values exactly equal
(NaN equals NaN).
"""
import glob
import json
import math
import os

import duckdb
import pyarrow.parquet as pq


def _key(row):
    return tuple((1, "") if v is None else (0, v) for v in row)


def _same(a, b):
    return a == b or (a is None and b is None) or (
        isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b))


def compare(got, exp):
    """None if two arrow tables hold the same answer, else a reason."""
    gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
    if gcols != ecols:
        return f"columns {gcols} != {ecols}"
    if got.num_rows != exp.num_rows:
        return f"rows {got.num_rows} != {exp.num_rows}"
    g = sorted((tuple(r[c] for c in gcols) for r in got.to_pylist()), key=_key)
    e = sorted((tuple(r[c] for c in ecols) for r in exp.to_pylist()), key=_key)
    for i, (gr, er) in enumerate(zip(g, e)):
        for c, gv, ev in zip(gcols, gr, er):
            if not _same(gv, ev):
                return f"row {i} col {c}: got {gv!r}, oracle {ev!r}"
    return None


def check(out_dir, data_dir, queries):
    """{query: None or the reason its output is wrong}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    result = {}
    for q in queries:
        files = sorted(glob.glob(os.path.join(out_dir, "check", q, "*.parquet")))
        if not files:
            result[q] = "no output"
            continue
        try:
            exp = con.sql(oracle[q]).arrow()
        except Exception as e:  # an oracle that cannot run is a failed check
            result[q] = f"oracle error: {e}"
            continue
        got = pq.ParquetDataset(files).read()
        result[q] = compare(got, exp)
    return result
