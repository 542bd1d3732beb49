"""Output check: each entry's parquet result against its DuckDB oracle SQL.

The registry (``SparkEntry.oracleSql``) carries, per entry, DuckDB SQL that
recomputes the entry from the same input tables. The comparison is the
repository's own gate, ``tools/check.py``: its ``norm`` (columns sorted,
dates as ISO strings, rows sorted), ``dtypes_match`` (integer, float, bool
or other per column) and ``values_match`` (exact, floats within a relative
1e-9). This module only sets up the views over the generated tables.
"""
import os
import sys

import duckdb
import pandas as pd


def _gate(root):
    """tools/check.py of the checkout at `root`, imported as a module."""
    tools = os.path.join(root, "tools")
    if not os.path.isfile(os.path.join(tools, "check.py")):
        raise FileNotFoundError(f"no tools/check.py under {root}")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check
    return check


def compare(gate, got, want):
    """None when the frames agree, else a one-line reason."""
    s, o = gate.norm(got), gate.norm(want)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != {list(o.columns)}"
    ok, col, s_cls, o_cls = gate.dtypes_match(s, o)
    if not ok:
        return f"column {col}: {s_cls} != {o_cls}"
    if len(s) != len(o):
        return f"rows {len(s)} != {len(o)}"
    ok, _, i = gate.values_match(s, o)
    if not ok:
        return f"row {i}: {list(s.iloc[i])} != {list(o.iloc[i])}"
    return None


def check(root, data_dir, out_dir, oracles):
    """{entry: (rows written, None | mismatch)} for every entry in `oracles`
    (name -> SQL)."""
    gate = _gate(root)
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    result = {}
    for name, sql in sorted(oracles.items()):
        rows = 0
        try:
            if sql is None:
                raise ValueError("no oracle SQL registered")
            got = pd.read_parquet(os.path.join(out_dir, name))
            rows = len(got)
            result[name] = (rows, compare(gate, got, con.execute(sql).fetchdf()))
        except Exception as e:  # a missing output or a failing oracle is a mismatch
            result[name] = (rows, f"{type(e).__name__}: {str(e)[:300]}")
    return result
