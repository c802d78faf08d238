"""Local stand-in for the driver's correctness gate.

Runs every kgkit.queries entry on Spark and its kgkit.oracles DuckDB SQL
side by side (default sf0.01), compares row count, schema (normalized
dtypes), and an order-insensitive value hash, and prints a PASS/FAIL
table.  Usage:

    python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    payload = df.astype(str).to_csv(index=False).encode()
    return hashlib.sha256(payload).hexdigest()[:16]


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv and "/" in argv[0] else "/root/testdata/sf0.01"
    only = [a for a in argv if "/" not in a]

    from pyspark.sql import SparkSession

    from kgkit import SESSION_CONF

    spark = (
        SparkSession.builder.master("local[8]")
        .config(map=SESSION_CONF)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    from kgkit.oracles import ORACLES
    from kgkit.queries import QUERIES

    names = only or list(QUERIES)
    failures = 0
    skipped = 0
    for name in names:
        if name not in ORACLES:
            # driver records a weaker rows-only check for these
            n = QUERIES[name](spark, sf_dir).count()
            print(f"SKIP  {name}: no oracle (rows-only: {n} rows)")
            skipped += 1
            continue
        try:
            sdf = normalize(QUERIES[name](spark, sf_dir).toPandas())
            ddf = normalize(con.sql(ORACLES[name]).df())
            problems = []
            if list(sdf.columns) != list(ddf.columns):
                problems.append(f"cols {list(sdf.columns)} != {list(ddf.columns)}")
            if len(sdf) != len(ddf):
                problems.append(f"rows {len(sdf)} != {len(ddf)}")
            if not problems:
                dt_s = [str(t) for t in sdf.dtypes]
                dt_d = [str(t) for t in ddf.dtypes]
                if dt_s != dt_d:
                    problems.append(f"dtypes {dt_s} != {dt_d}")
            if not problems and value_hash(sdf) != value_hash(ddf):
                diff = (sdf.astype(str) != ddf.astype(str)).any(axis=1)
                idx = diff[diff].index[:3]
                problems.append(
                    "value hash mismatch; first diffs:\n"
                    f"spark:\n{sdf.loc[idx]}\nduck:\n{ddf.loc[idx]}"
                )
            if problems:
                failures += 1
                print(f"FAIL  {name}: " + " | ".join(problems))
            else:
                print(f"PASS  {name} ({len(sdf)} rows)")
        except Exception as exc:  # noqa: BLE001 — report and continue
            failures += 1
            msg = str(exc).split("\n")[0][:300]
            print(f"ERROR {name}: {type(exc).__name__}: {msg}")
    n_checked = len(names) - skipped
    print(f"\n{n_checked - failures}/{n_checked} queries match their oracle"
          + (f" ({skipped} rows-only)" if skipped else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
