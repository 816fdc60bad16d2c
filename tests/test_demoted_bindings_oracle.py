"""Oracle checks for every registry entry that has an oracle.

Each ``ALL_BINDINGS`` entry with DuckDB oracle SQL is compared against
it at sf0.001: row count, column set, and values. Only the rows-only
``egarch_params`` has no oracle.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from gapless_deribit_clickhouse_spark.bindings import ALL_BINDINGS
from gapless_deribit_clickhouse_spark.core.tables import TABLES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(6)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


_ORACLE_BINDINGS = [b for b in ALL_BINDINGS if b[2] is not None]


def test_all_demoted_have_oracles():
    # an oracle dropped by mistake would silently shrink the sweep below
    without_sql = [n for n, _f, s in ALL_BINDINGS if s is None]
    assert without_sql == ["egarch_params"], without_sql


@pytest.mark.parametrize(
    "name,fn,sql", _ORACLE_BINDINGS, ids=[b[0] for b in _ORACLE_BINDINGS]
)
def test_demoted_binding_matches_oracle(spark, duck, name, fn, sql):
    got = _normalize(fn(spark, SF_DIR).toPandas())
    want = _normalize(duck.execute(sql).df())
    assert len(got) == len(want), f"{name}: rows {len(got)} vs {len(want)}"
    assert list(got.columns) == list(want.columns), name
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            assert np.allclose(
                a.astype(float), b.astype(float), rtol=1e-9, atol=1e-9, equal_nan=True
            ), f"{name}.{c}"
        else:
            assert a.astype(str).equals(b.astype(str)), f"{name}.{c}"
