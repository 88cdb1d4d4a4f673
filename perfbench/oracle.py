"""Output check: each result the benchmark process wrote as parquet must
equal DuckDB running its oracle SQL. Values are compared exactly, after
sorting columns by name and rows by all columns."""
import os

import duckdb

# Tables of the fixed operator dataset, registered as views for the
# operator oracles.
SF_TABLES = ["region", "nation", "customer", "supplier", "part",
             "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got, want):
    """None when the two frames hold the same rows, else what differs."""
    a, b = norm(got), norm(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    if a.equals(b):
        return None
    diff = (a != b) & ~(a.isna() & b.isna())
    cols = [c for c in a.columns if diff[c].any()]
    if not cols:
        return f"dtypes {list(a.dtypes)} != {list(b.dtypes)}"
    c = cols[0]
    i = diff[c].idxmax()
    return f"values differ in {cols}: {c}[{i}] {a[c][i]!r} != {b[c][i]!r}"


def connect(tables=(), sf_dir=None):
    """A DuckDB connection holding the operator dataset's tables (when
    sf_dir is given) and the given (name, SQL) tables, built in order."""
    con = duckdb.connect()
    if sf_dir:
        for t in SF_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    for name, sql in tables:
        con.sql(f"CREATE TABLE {name} AS {sql}")
    return con


def check_outputs(con, checks):
    """[(name, problem or None)] for every check: name -> (SQL reading what
    the program wrote, oracle SQL)."""
    results = []
    for name in sorted(checks):
        got_sql, want_sql = checks[name]
        try:
            got = con.sql(got_sql).df()
            want = con.sql(want_sql).df()
            results.append((name, compare(got, want)))
        except Exception as e:  # a missing output or a broken oracle fails the check
            results.append((name, f"error: {e}"))
    return results
