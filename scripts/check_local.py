#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate (dev tool only —
not part of the Spark library). Compares each Verify output parquet
against the DuckDB oracle SQL over the same testdata tables.

Usage: python3 scripts/check_local.py <sfDir> <verifyOutDir>
"""
import json
import os
import sys
import tempfile

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize tz-aware → naive for comparison
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
    return df.sort_values(by=list(df.columns), ignore_index=True)


def connect(spill_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB capped at half the box's memory, spilling to `spill_dir`.

    Uncapped, DuckDB takes 80 % of RAM before it spills. Oracles with
    chained CTEs mark them AS MATERIALIZED (q161, the Classify and BPE
    oracles): DuckDB otherwise inlines them, and the duplicated plan
    does not spill.
    """
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{ram // 2 // 2**20}MB'")
    con.execute(f"SET temp_directory = '{spill_dir}'")
    return con


def main(sf_dir: str, out_dir: str) -> int:
    with tempfile.TemporaryDirectory(prefix="check-local-spill-") as spill:
        return check(connect(spill), sf_dir, out_dir)


def check(con: duckdb.DuckDBPyConnection, sf_dir: str, out_dir: str) -> int:
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        try:
            expected = con.sql(sql).df()
            actual = duckdb.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'",
                                connection=con).df()
            e, a = norm(expected), norm(actual)
            if list(e.columns) != list(a.columns):
                print(f"FAIL {name}: columns {list(a.columns)} != {list(e.columns)}")
                n_fail += 1
                continue
            if len(e) != len(a):
                print(f"FAIL {name}: rows {len(a)} != {len(e)}")
                n_fail += 1
                continue
            try:
                pd.testing.assert_frame_equal(e, a, check_dtype=False,
                                              check_exact=True)
                # driver-style stringify check: values can be equal while
                # their string forms differ (Decimal('1.000000') vs 1.0)
                # — the driver hashes strings, so that is still a FAIL.
                es, as_ = e.astype(str), a.astype(str)
                if not es.equals(as_):
                    neq = es != as_
                    rows = neq.any(axis=1)
                    i = rows[rows].index[0]
                    c = neq.columns[neq.loc[i]][0]
                    print(f"FAIL {name}: stringify mismatch (driver hash) "
                          f"row {i} col {c}: oracle={es.loc[i, c]!r} spark={as_.loc[i, c]!r}")
                    n_fail += 1
                    continue
                print(f"PASS {name} ({len(e)} rows)")
                n_pass += 1
            except AssertionError as ex:
                print(f"FAIL {name}: value mismatch\n  {str(ex).splitlines()[-1]}")
                # show first differing cells
                neq = (e != a) & ~(e.isna() & a.isna())
                rows = neq.any(axis=1)
                if rows.any():
                    idx = rows[rows].index[:3]
                    for i in idx:
                        cols = neq.columns[neq.loc[i]]
                        for c in cols[:3]:
                            print(f"    row {i} col {c}: oracle={e.loc[i, c]!r} spark={a.loc[i, c]!r}")
                n_fail += 1
        except Exception as ex:
            print(f"ERROR {name}: {type(ex).__name__}: {ex}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
