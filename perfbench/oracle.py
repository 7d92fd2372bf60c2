"""Output check: a query's collected result against its DuckDB oracle, by
the rules of the engine's oracle gate (`tools/compare.py`, whose helpers
this reuses): columns sorted by name, rows sorted, the same dtype kind per
column, exact cell values, NULL equal to NULL, -0.0 different from 0.0.
"""
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from compare import TABLES, canon, cells_equal  # noqa: E402


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def compare(con, result_path, sql):
    """None when the parquet result equals the oracle, else the reason."""
    if not sql:
        return "no oracle SQL"
    mine = canon(con.sql(f"SELECT * FROM '{result_path}/*.parquet'").df())
    ref = canon(con.sql(sql).df())
    if list(mine.columns) != list(ref.columns):
        return f"columns {list(mine.columns)} vs {list(ref.columns)}"
    if len(mine) != len(ref):
        return f"rows {len(mine)} vs {len(ref)}"
    for c in mine.columns:
        kinds = {mine[c].dtype.kind, ref[c].dtype.kind}
        if len(kinds) > 1 and kinds != {"i", "u"}:
            return f"dtype of {c}: {mine[c].dtype} vs {ref[c].dtype}"
    nan = lambda x: isinstance(x, float) and math.isnan(x)  # noqa: E731
    for i, (r1, r2) in enumerate(zip(mine.values.tolist(), ref.values.tolist())):
        for c, x, y in zip(mine.columns, r1, r2):
            if (x is None or nan(x)) and (y is None or nan(y)):
                continue  # pandas reads SQL NULL in float columns as NaN
            if not cells_equal(x, y):
                return f"row {i} col {c}: {x!r} vs {y!r}"
    return None
