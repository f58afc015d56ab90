"""Oracle check for the registry workloads.

Each operation's parquet output is compared with the DuckDB result of
its ``SparkEntry.oracleSql`` entry over the same input directory. The
normalization is ``norm`` of ``tools/compare_oracle.py``, imported from
there: columns sorted by name, rows sorted by every column, timestamps
as integers. Floats are compared exactly.
"""
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "tools"))
from compare_oracle import norm  # noqa: E402


def diff(actual, expected):
    """'' when the frames match, else what differs. The column compare
    is the one inline in compare_oracle.main."""
    s, d = norm(actual), norm(expected)
    if list(s.columns) != list(d.columns):
        return f"schema {list(s.columns)} != {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} != {len(d)}"
    for c in s.columns:
        sv, dv = s[c], d[c]
        if sv.dtype.kind == "f" or dv.dtype.kind == "f":
            eq = (sv.astype("float64").fillna(-1e308) ==
                  dv.astype("float64").fillna(-1e308))
        else:
            eq = (sv.fillna("__null__").astype(str) ==
                  dv.fillna("__null__").astype(str))
        if not eq.all():
            i = int(eq.idxmin())
            return f"column {c} row {i}: {sv[i]!r} != {dv[i]!r}"
    return ""


def check_registry(data_dir, oracle_path, ops, out_dir, corrupt=False):
    """ops: [(index, query)]. Returns {index: problem} for each
    operation whose output differs from its oracle. ``corrupt`` drops
    the last row of every expected result (the self-test of this
    check)."""
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{data_dir}/{f}'")
    oracle = json.load(open(oracle_path))
    expected, problems = {}, {}
    for index, query in ops:
        try:
            if query not in expected:
                expected[query] = con.execute(oracle[query]).fetchdf()
                if corrupt:
                    expected[query] = expected[query].iloc[:-1]
            actual = pd.read_parquet(f"{out_dir}/op_{index}")
            d = diff(actual, expected[query])
        except Exception as e:  # a failed check is a failed operation
            d = f"{type(e).__name__}: {e}"
        if d:
            problems[index] = f"{query}: {d}"
    con.close()
    return problems
