"""Driver-contract self-check: run each queries() entry via Spark and its
oracle_sql() via DuckDB on the same sf dir; compare row count, schema
shape, and order-insensitive values (mimics CORRECTNESS_r{N}.json).

Usage: python tools/check_contract.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64").round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import os

    base = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace("sf", "")
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF", base)  # align code_* oracles

    import __spark_entry__ as entrymod
    from pagerank_project_spark.session import get_spark

    spark = get_spark(app_name="contract-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(got)} rows, {t1 - t0:.1f}s")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as exc:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        g, e = normalize(got), normalize(exp)
        if list(g.columns) != list(e.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns {list(g.columns)} vs {list(e.columns)}")
            continue
        if len(g) != len(e):
            failures.append(name)
            print(f"FAIL  {name}: rows {len(g)} vs {len(e)}")
            continue
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False, atol=2e-6, rtol=0)
            print(f"OK    {name}: {len(g)} rows, spark {t1 - t0:.1f}s")
        except AssertionError as exc:
            failures.append(name)
            print(f"FAIL  {name}: values differ: {str(exc)[:400]}")
    print("\n==>", "ALL OK" if not failures else f"FAILURES: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
