"""Output check: compare a result written as parquet against DuckDB running
the engine's oracle SQL over the same generated inputs.

Columns are compared by name and arrow type, rows as sorted sets, doubles at
full `repr` precision (the engine and its oracle agree bit-exactly after the
shared 6-digit rounding).
"""
import math
import os

import duckdb


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _fetch(con, sql):
    cols = sorted(con.sql(sql).columns)
    q = ", ".join(f'"{c}"' for c in cols)
    proj = f"SELECT {q} FROM ({sql})"
    types = {f.name: str(f.type) for f in con.sql(proj).limit(0).arrow().schema}
    rows = sorted(tuple(_norm(v) for v in r) for r in con.sql(proj).fetchall())
    return cols, types, rows


def check(oracle_sql, result_parquet, views=None, temp_dir=None):
    """Returns (ok, message). `views` maps a view name to a parquet path the
    oracle SQL reads."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {os.cpu_count() or 1}")
        if temp_dir:
            con.execute(f"SET temp_directory = '{temp_dir}'")
        for name, path in (views or {}).items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        want_cols, want_types, want = _fetch(con, oracle_sql)
        got_cols, got_types, got = _fetch(con, f"SELECT * FROM read_parquet('{result_parquet}')")
    finally:
        con.close()
    if want_cols != got_cols:
        return False, f"columns: oracle {want_cols}, result {got_cols}"
    types = {c: (want_types[c], got_types[c]) for c in want_cols if want_types[c] != got_types[c]}
    if types:
        return False, f"types (oracle, result): {types}"
    if want != got:
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        return False, (f"rows: oracle {len(want)}, result {len(got)}; "
                       f"missing e.g. {missing}; unexpected e.g. {extra}")
    return True, f"{len(got)} rows match the oracle"
