"""Local replica of the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB over the same parquet, compare row count,
schema (column names) and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [name...]

The package and __spark_entry__ are imported from the checkout this tool sits
in (driver and Spark Python workers alike), whatever the working directory.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from gdalcubes_spark.session import get_spark

    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        got = sdf.toPandas()
        if name not in oracles:
            status = f"rows-only ({len(got)} rows)"
            ok = len(got) >= 0
            print(f"  {name:28s} {'OK' if ok else 'FAIL'}  {status}")
            continue
        want = con.execute(oracles[name]).fetchdf()
        # STRICT dtype audit (the driver compares schemas): report pre-
        # normalization dtype differences so Spark/DuckDB widths stay aligned
        for c in sorted(set(got.columns) & set(want.columns)):
            if str(got[c].dtype) != str(want[c].dtype):
                print(f"    dtype! {name}.{c}: spark={got[c].dtype} duckdb={want[c].dtype}")
        g, w = normalize(got), normalize(want)
        ok = True
        msgs = []
        if list(g.columns) != list(w.columns):
            ok = False
            msgs.append(f"schema {list(g.columns)} vs {list(w.columns)}")
        elif len(g) != len(w):
            ok = False
            msgs.append(f"rows {len(g)} vs {len(w)}")
        else:
            for c in g.columns:
                if pd.api.types.is_float_dtype(g[c]):
                    # NaN==NaN counts as equal here (SQL NULLs surface as
                    # NaN in float columns); note the DRIVER's value-hash
                    # may be stricter — queries should still prefer
                    # NULL-free outputs (coalesce sentinels)
                    both_nan = g[c].isna() & w[c].isna()
                    if not (((g[c] - w[c]).abs() < 1e-9) | both_nan).all():
                        ok = False
                        bad = (g[c] - w[c]).abs().idxmax()
                        msgs.append(f"col {c}: max diff at row {bad}: {g[c][bad]} vs {w[c][bad]}")
                else:
                    if not (g[c].astype(str) == w[c].astype(str)).all():
                        ok = False
                        bad = (g[c].astype(str) != w[c].astype(str)).idxmax()
                        msgs.append(f"col {c}: first diff row {bad}: {g[c][bad]!r} vs {w[c][bad]!r}")
        print(f"  {name:28s} {'OK' if ok else 'FAIL'}  rows={len(g)}  {'; '.join(msgs)}")
        if not ok:
            failures.append(name)
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all oracle checks passed")


if __name__ == "__main__":
    main()
