"""Correctness check: run every
__spark_entry__.queries() entry against its oracle_sql() via DuckDB at
a given sf and compare row count + column names + order-insensitive
values.

Usage: python tools/check_oracle.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.session import get_spark  # noqa: E402

TABLES = ["documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    import decimal

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = str(df[c].dtype)
        if df[c].dtype == object:
            sample = df[c].dropna()
            if len(sample) and isinstance(sample.iloc[0], decimal.Decimal):
                df[c] = df[c].astype("float64").round(6)
            else:
                df[c] = df[c].astype(str)
        elif dt.startswith("float"):
            df[c] = df[c].astype("float64").round(6)
        elif dt.startswith(("int", "uint", "Int", "UInt")):
            df[c] = df[c].astype("int64")
        elif "datetime" in dt:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]
    spark = get_spark(cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs = entry.queries()
    oracles = entry.oracle_sql()
    ok = fail = 0
    for name, fn in sorted(qs.items()):
        if filters and not any(f in name for f in filters):
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"[SPARK ERR ] {name}: {type(e).__name__}: {str(e)[:300]}")
            fail += 1
            continue
        if name not in oracles:
            print(f"[NO ORACLE ] {name}: {len(sdf)} rows")
            fail += 1
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"[ORACLE ERR] {name}: {str(e)[:300]}")
            fail += 1
            continue
        s, o = normalize(sdf), normalize(odf)
        if list(s.columns) != list(o.columns):
            print(f"[COLS      ] {name}: spark={list(s.columns)} oracle={list(o.columns)}")
            fail += 1
            continue
        if len(s) != len(o):
            print(f"[ROWCOUNT  ] {name}: spark={len(s)} oracle={len(o)}")
            fail += 1
            continue
        if not s.equals(o):
            neq = (s != o) & ~(s.isna() & o.isna())
            bad_cols = [c for c in s.columns if neq[c].any()]
            print(f"[VALUES    ] {name}: mismatch cols={bad_cols}")
            for c in bad_cols[:2]:
                idx = neq[c].idxmax()
                print(f"    {c}[{idx}]: spark={s[c][idx]!r} oracle={o[c][idx]!r}")
            fail += 1
            continue
        print(f"[MATCH     ] {name}: {len(s)} rows")
        ok += 1
    print(f"\n{ok} ok, {fail} fail")
    spark.stop()
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
