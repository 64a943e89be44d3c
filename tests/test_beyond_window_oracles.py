"""Replays every ``__spark_entry__.queries()`` key against its
``oracle_sql()`` string: Spark result vs DuckDB oracle at sf0.001,
compared with the same normalize-sort-hash discipline as
``tools/check_oracle.py`` (sorted columns, rounded floats, stringified
objects, order-insensitive rows).  Every key carries an oracle, and
the inventory test fails loudly on any key added without one.  (The
module name dates from when only keys past a 50-key graded window were
replayed here.)
"""

import decimal
import re

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"

_QS = E.queries()
_ORACLES = E.oracle_sql()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
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


# a CTE definition: ``WITH [RECURSIVE] name AS (`` or ``, name AS (``
_CTE = re.compile(r"((?:\bWITH(?:\s+RECURSIVE)?|,)\s*)(\w+)\s+AS\s+\(", re.I)


def _materialized(sql: str) -> str:
    """The oracle with every named CTE marked MATERIALIZED.  DuckDB 1.0
    inlines a CTE at each reference, so the SQL extraction CTEs that an
    unrolled iterative oracle references dozens of times ran once per
    reference (the 10-round PageRank oracle took ~21 s, ~0.2 s
    materialized).  The oracles are deterministic, so evaluating each
    CTE once returns the same rows."""
    return _CTE.sub(r"\1\2 AS MATERIALIZED (", sql)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ["documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


def test_window_inventory():
    """Every contract key carries an oracle, and every oracle names a
    contract key."""
    assert set(_ORACLES) == set(_QS), (
        f"without an oracle: {set(_QS) - set(_ORACLES)}; "
        f"without a query: {set(_ORACLES) - set(_QS)}"
    )


@pytest.mark.parametrize("name", list(_QS))
def test_beyond_window_oracle(name, spark, duck):
    sdf = _QS[name](spark, SF).toPandas()
    odf = duck.sql(_materialized(_ORACLES[name])).df()
    s, o = _normalize(sdf), _normalize(odf)
    assert list(s.columns) == list(o.columns), (
        f"{name}: spark={list(s.columns)} oracle={list(o.columns)}"
    )
    assert len(s) == len(o), f"{name}: spark={len(s)} oracle={len(o)} rows"
    pd.testing.assert_frame_equal(s, o, check_dtype=False)
