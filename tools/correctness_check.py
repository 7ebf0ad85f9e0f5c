"""Dev harness mimicking the driver's correctness gate: run each
__spark_entry__ query on Spark and its oracle on DuckDB, compare
row-count + schema + order-insensitive values.

Usage: python tools/correctness_check.py [sf_dir] [query ...]

Exits 1 when any query fails or a named query is not in queries().
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6).map(lambda v: f"{v:.6f}")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from docling_spark.job import tuned_session

    qs = entry.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query name(s): {' '.join(unknown)}")
        sys.exit(1)

    spark = tuned_session(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    oracles = entry.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"{name:24s} SPARK-ERROR {type(e).__name__}: {str(e)[:200]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(sdf)} rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"{name:24s} ORACLE-ERROR {type(e).__name__}: {str(e)[:200]}")
            n_fail += 1
            continue
        a, b = normalize(sdf), normalize(odf)
        if list(a.columns) != list(b.columns):
            print(f"{name:24s} SCHEMA MISMATCH {list(a.columns)} vs {list(b.columns)}")
            n_fail += 1
            continue
        if len(a) != len(b):
            print(f"{name:24s} ROWCOUNT {len(a)} vs {len(b)}")
            n_fail += 1
            continue
        if a.equals(b):
            print(f"{name:24s} OK ({len(a)} rows)")
            n_pass += 1
        else:
            neq = (a != b).any(axis=1)
            print(f"{name:24s} VALUE MISMATCH on {int(neq.sum())}/{len(a)} rows")
            for i in a.index[neq][:3]:
                print("  spark :", a.loc[i].to_dict())
                print("  oracle:", b.loc[i].to_dict())
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    if n_fail:
        sys.exit(1)


if __name__ == "__main__":
    main()
