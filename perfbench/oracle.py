"""DuckDB cross-check of the stream query results: each gate query's
oracle SQL (SparkEntry.oracleSql) runs over the generated tables and must
equal the streamed result value for value, after sorting columns by name
and rows by value. Runs after the JVM has exited, outside every timer.
"""
import datetime
import os

TABLES = ["events", "orders", "documents"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True) if len(df.columns) else df


def _is_dt(s):
    if str(s.dtype).startswith("datetime"):
        return True
    vals = s.dropna()
    return s.dtype == object and len(vals) > 0 and vals.map(
        lambda x: isinstance(x, datetime.date)).all()


def _canon(got, want):
    """Reconcile representation-only dtype differences (date objects vs
    datetime64, integer widths, nullable ints read as floats)."""
    import pandas as pd
    for c in got.columns:
        g, w = got[c], want[c]
        if _is_dt(g) or _is_dt(w):
            got[c] = pd.to_datetime(g).astype("datetime64[ns]")
            want[c] = pd.to_datetime(w).astype("datetime64[ns]")
        elif g.dtype != w.dtype and pd.api.types.is_numeric_dtype(g) \
                and pd.api.types.is_numeric_dtype(w):
            both_int = pd.api.types.is_integer_dtype(g) and pd.api.types.is_integer_dtype(w)
            t = "Int64" if both_int else "float64"
            got[c], want[c] = g.astype(t), w.astype(t)
    return got, want


def check(data_dir, result_dir, oracle_sql):
    """{short name: None when equal, else a one-line reason}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for short, sql in oracle_sql.items():
        try:
            got = pd.read_parquet(os.path.join(result_dir, short))
            want = con.execute(sql).df()
            if sorted(got.columns) != sorted(want.columns):
                out[short] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
                continue
            if len(got) != len(want):
                out[short] = f"{len(got)} rows != oracle {len(want)}"
                continue
            got, want = _canon(_norm(got), _norm(want))
            pd.testing.assert_frame_equal(_norm(got), _norm(want), check_dtype=False)
            out[short] = None
        except Exception as e:  # a mismatch or an unreadable result both fail the check
            out[short] = str(e).splitlines()[0][:200] if str(e) else type(e).__name__
    con.close()
    return out
