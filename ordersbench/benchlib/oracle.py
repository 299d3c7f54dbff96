"""DuckDB oracle compare with the rules of the repository's
``tools/check.py``: columns sorted by name, equal shape, row by row;
nulls match nulls, floats match exactly or within 1e-9 relative,
everything else by its string form."""
import math
import os

import duckdb

TABLES = ["events", "documents", "embeddings"]


def connect(input_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _null(v):
    return v is None or (isinstance(v, float) and math.isnan(v))


def compare(got, want):
    """None when the two data frames agree, else the first difference."""
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if got.shape != want.shape:
        return f"shape {got.shape} != {want.shape}"
    for c in got.columns:
        for i, (g, w) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            gn, wn = _null(g), _null(w)
            if gn and wn:
                continue
            if gn != wn:
                return f"col {c} row {i}: got={g!r} want={w!r}"
            if isinstance(g, float) or isinstance(w, float):
                if g != w and abs(g - w) > 1e-9 * max(1.0, abs(g), abs(w)):
                    return f"col {c} row {i}: got={g!r} want={w!r}"
            elif str(g) != str(w):
                return f"col {c} row {i}: got={g!r} want={w!r}"
    return None


def check_key(con, sql, result_dir):
    """Oracle SQL vs the key's written result; None when they agree."""
    if sql is None:
        return "no oracle SQL"
    try:
        got = con.execute(f"SELECT * FROM '{result_dir}/*.parquet'").fetch_df()
        want = con.execute(sql).fetch_df()
    except Exception as e:  # a broken result or oracle is a failure, not a crash
        return f"{type(e).__name__}: {e}"
    return compare(got, want)
