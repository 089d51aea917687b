#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [--json <outPath>]

Loads oracle_sql.json, registers each testdata parquet as a DuckDB view,
runs every oracle query, reads the Spark parquet dump for the same key,
sorts columns by name (as the driver does), and compares values exactly.
Exit code 0 iff every query matches. With --json, also writes a
CORRECTNESS-style per-query artifact (rows/schema/value match flags) —
used for the off-driver sf1-scale gate.
"""
import json, math, sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    return df


def cell_eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        # bit-exact like the driver's hash: -0.0 != +0.0
        return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)
    return a == b


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    json_out = None
    if "--json" in sys.argv:
        json_out = sys.argv[sys.argv.index("--json") + 1]
    only = None
    if "--only" in sys.argv:
        import re
        only = re.compile(sys.argv[sys.argv.index("--only") + 1])
    report = {}

    def record(name, rows=None, schema=None, value=None, err=None,
               spark_rows=None, oracle_rows=None):
        report[name] = {
            "rows_match": rows, "schema_match": schema,
            "hash_match": value, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err,
        }
    con = duckdb.connect()
    # Off-driver scaled-corpus gates: without a cap DuckDB grows until
    # std::bad_alloc on the window/self-join oracles at sf1 — cap memory
    # and give it a spill directory instead. Driver behavior unchanged
    # (env unset there).
    import os
    mem = os.environ.get("GRAFT_DUCKDB_MEM")
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
        # per-process spill dir: concurrent chunked gates sharing one
        # temp_directory delete each other's spill files mid-query.
        # Removed on exit so repeated chunked runs don't litter /tmp.
        import atexit, shutil
        spill = f"/tmp/duckdb_spill_{os.getpid()}"
        os.makedirs(spill, exist_ok=True)
        atexit.register(shutil.rmtree, spill, ignore_errors=True)
        con.execute(f"SET temp_directory='{spill}'")
    thr = os.environ.get("GRAFT_DUCKDB_THREADS")
    if thr:
        con.execute(f"PRAGMA threads={thr}")
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.is_dir():
            # Spark-written table (e.g. a corpus graft.ScaleProbe built): a
            # directory of part files rather than the driver's single file
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    failures = []
    for name in sorted(oracle):
        if only and not only.search(name):
            continue
        spark_path = Path(out_dir) / name
        if not spark_path.exists():
            failures.append((name, "NO SPARK DUMP"))
            record(name, err="NO SPARK DUMP")
            n_fail += 1
            continue
        try:
            got = con.sql(
                f"SELECT * FROM read_parquet('{spark_path}/*.parquet')").df()
            want = con.sql(oracle[name]).df()
        except Exception as e:
            failures.append((name, f"EXEC ERROR: {e}"))
            record(name, err=f"EXEC ERROR: {e}")
            n_fail += 1
            continue
        got, want = canon(got), canon(want)
        if list(got.columns) != list(want.columns):
            failures.append((name, f"SCHEMA: spark={list(got.columns)} oracle={list(want.columns)}"))
            record(name, rows=len(got) == len(want), schema=False,
                   spark_rows=len(got), oracle_rows=len(want))
            n_fail += 1
            continue
        if len(got) != len(want):
            failures.append((name, f"ROWS: spark={len(got)} oracle={len(want)}"))
            record(name, rows=False, schema=True,
                   spark_rows=len(got), oracle_rows=len(want))
            n_fail += 1
            continue
        # dtype-kind compare — the driver hashes value reprs, so int-vs-float
        # (DuckDB HUGEINT -> float64 vs Spark int64: '60000.0' != '60000')
        # fails even when values are equal, while int32-vs-int64 (5 == 5) is
        # fine. Compare at kind granularity so the local gate catches exactly
        # the class the driver catches.
        dt_bad = [(c, str(got.dtypes[c]), str(want.dtypes[c]))
                  for c in got.columns
                  if got.dtypes[c].kind != want.dtypes[c].kind]
        if dt_bad:
            failures.append((name, f"DTYPE: {dt_bad}"))
            record(name, rows=True, schema=False,
                   spark_rows=len(got), oracle_rows=len(want))
            n_fail += 1
            continue
        # dtype report (informational) + exact value compare
        bad = None
        gv, wv = got.values.tolist(), want.values.tolist()
        for i, (rg, rw) in enumerate(zip(gv, wv)):
            for j, (a, b) in enumerate(zip(rg, rw)):
                if not cell_eq(a, b):
                    bad = (i, got.columns[j], a, b,
                           str(got.dtypes.iloc[j]), str(want.dtypes.iloc[j]))
                    break
            if bad:
                break
        if bad:
            failures.append((name, f"VALUE row={bad[0]} col={bad[1]}: spark={bad[2]!r}({bad[4]}) oracle={bad[3]!r}({bad[5]})"))
            record(name, rows=True, schema=True, value=False,
                   spark_rows=len(got), oracle_rows=len(want))
            n_fail += 1
        else:
            n_pass += 1
            record(name, rows=True, schema=True, value=True,
                   spark_rows=len(got), oracle_rows=len(want))
            print(f"PASS {name} ({len(got)} rows)")
    for name, why in failures:
        print(f"FAIL {name}: {why}")
    if json_out:
        Path(json_out).write_text(json.dumps(report, indent=1))
    print(f"\n{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
