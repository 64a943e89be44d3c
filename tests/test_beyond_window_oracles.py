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
    odf = duck.sql(_ORACLES[name]).df()
    s, o = _normalize(sdf), _normalize(odf)
    assert list(s.columns) == list(o.columns), (
        f"{name}: spark={list(s.columns)} oracle={list(o.columns)}"
    )
    assert len(s) == len(o), f"{name}: spark={len(s)} oracle={len(o)} rows"
    pd.testing.assert_frame_equal(s, o, check_dtype=False)
