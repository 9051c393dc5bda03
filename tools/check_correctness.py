"""Local replica of the driver's correctness gate.

Runs every queries() entry at an sf dir, runs the oracle SQL in DuckDB
with the same parquet tables registered as views, and compares
row count + column names + order-insensitive value hash.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""
from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def value_repr(df: pd.DataFrame) -> list[tuple]:
    out = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(repr(v))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from gdal_spark import cache
    from gdal_spark.session import get_spark

    spark = get_spark("correctness", master=os.environ.get("GDAL_SPARK_MASTER", "local[8]"))

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            print(f"FAIL  {name}: no oracle")
            failures.append(name)
            continue
        t0 = time.time()
        try:
            with cache.scope():
                got = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            failures.append(name)
            continue
        t1 = time.time()
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures.append(name)
            continue
        g, e = normalize(got), normalize(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL  {name}: columns {list(g.columns)} != {list(e.columns)}")
            failures.append(name)
            continue
        if len(g) != len(e):
            print(f"FAIL  {name}: rows {len(g)} != {len(e)}")
            failures.append(name)
            continue
        gv, ev = value_repr(g), value_repr(e)
        if gv != ev:
            bad = [i for i, (a, b) in enumerate(zip(gv, ev)) if a != b][:5]
            print(f"FAIL  {name}: value mismatch at rows {bad}")
            for i in bad[:2]:
                print(f"      spark : {gv[i]}")
                print(f"      duckdb: {ev[i]}")
            failures.append(name)
            continue
        print(f"PASS  {name}: rows={len(g)} [spark {t1 - t0:.1f}s, duckdb {time.time() - t1:.1f}s]")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
