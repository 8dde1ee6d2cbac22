"""DuckDB oracle check of declared-query outputs.

Each output (a parquet dump of the rows the program returned) is compared
with the query's oracle SQL run by DuckDB over the same input tables,
normalized the way the repository's tools/oracle_check.py does it: columns
sorted by name, rows in the order both engines returned them, cells equal
exactly (NaN equals NaN, lists element-wise).
"""
import glob
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    return df[sorted(df.columns)].reset_index(drop=True)


def _equal(a, b):
    if isinstance(a, np.ndarray) or isinstance(b, np.ndarray):
        a = list(a) if a is not None else None
        b = list(b) if b is not None else None
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        if not isinstance(a, (list, tuple)) or not isinstance(b, (list, tuple)) or len(a) != len(b):
            return False
        return all(_equal(x, y) for x, y in zip(a, b))
    return a == b


def check(data_dir, ref_dir, sqls):
    """Return {query: reason} for every dumped output the oracle rejects."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad = {}
    for name in sorted(os.listdir(ref_dir)) if os.path.isdir(ref_dir) else []:
        if name not in sqls:
            bad[name] = "no oracle SQL"
            continue
        files = sorted(glob.glob(os.path.join(ref_dir, name, "*.parquet")))
        try:
            got = _norm(con.execute("SELECT * FROM read_parquet(?)", [files]).fetchdf())
            exp = _norm(con.execute(sqls[name]).fetchdf())
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"oracle error: {e}"
            continue
        if list(got.columns) != list(exp.columns):
            bad[name] = f"columns {list(got.columns)} vs oracle {list(exp.columns)}"
        elif len(got) != len(exp):
            bad[name] = f"{len(got)} rows vs oracle {len(exp)}"
        else:
            for c in got.columns:
                i = next((i for i, (x, y) in enumerate(zip(got[c], exp[c])) if not _equal(x, y)), None)
                if i is not None:
                    bad[name] = f"column {c} row {i}: {got[c][i]!r} vs oracle {exp[c][i]!r}"
                    break
    con.close()
    return bad
