"""DuckDB oracle check of the report results Spark dumped during warm-up.

Compare rules are the project's oracle gate; ``canon`` and ``cell_eq`` come
from ``tools/check.py``: columns sorted by name, same row count, same dtype
kind per column, and every cell equal in order, doubles bit-exact
(-0.0 != 0.0, NaN == NaN).
"""
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check import canon, cell_eq  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def _compare(got, want):
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns spark={list(got.columns)} oracle={list(want.columns)}"
    if len(got) != len(want):
        return f"rows spark={len(got)} oracle={len(want)}"
    kinds = [c for c in got.columns if got.dtypes[c].kind != want.dtypes[c].kind]
    if kinds:
        return f"dtype kind differs in {kinds}"
    for i, (rg, rw) in enumerate(zip(got.values.tolist(), want.values.tolist())):
        for c, a, b in zip(got.columns, rg, rw):
            if not cell_eq(a, b):
                return f"row {i} col {c}: spark={a!r} oracle={b!r}"
    return None


def check(data_dir, dumps_dir, oracle_sql, keys):
    """Returns {key: None when the dump matches the oracle, else why}."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        p = Path(data_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    verdict = {}
    for key in keys:
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{Path(dumps_dir) / key}/*.parquet')").df()
            want = con.sql(oracle_sql[key]).df()
            verdict[key] = _compare(got, want)
        except Exception as e:  # a failing oracle query fails the report
            verdict[key] = f"oracle error: {e}"
    con.close()
    return verdict
