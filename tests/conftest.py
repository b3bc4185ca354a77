"""Shared fixtures: one SparkSession per test session, a DuckDB oracle
connection per scale dir, and the cross-engine comparator that mirrors
the driver's t2 gate (row count + schema + order-insensitive values).
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

from noaa_etl_spark.io import SCRATCH_ROOT, TABLES
from noaa_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # ui=True: the COSTS byte gate (tests/test_costs.py) reads stage-level
    # shuffle bytes via the UI REST API.
    s = get_spark("noaa-etl-tests", master="local[8]", shuffle_partitions=8, ui=True)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture()
def tmp_dir(request):
    path = os.path.join(SCRATCH_ROOT, request.node.name)
    os.makedirs(path, exist_ok=True)
    return path


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form mirroring the driver: columns sorted by name, rows
    sorted by all columns, index dropped."""
    df = df[sorted(df.columns)]
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)
    return df.reset_index(drop=True)


def assert_parity(spark_df, duck_rel, rel_tol: float = 0.0) -> None:
    """Compare a Spark result against a DuckDB result the way the driver
    does: same row count, same column names, same values, order-
    insensitive. Floats compare EXACTLY by default — the driver value-
    hashes exact bytes, so a query whose floats carry accumulation-order
    noise must stabilize its output (round(…, 6) on both engines), not
    loosen this gate."""
    sp = _canon(spark_df.toPandas())
    du = _canon(duck_rel.df())

    assert list(sp.columns) == list(du.columns), f"columns differ: {list(sp.columns)} vs {list(du.columns)}"
    assert len(sp) == len(du), f"row counts differ: {len(sp)} vs {len(du)}"

    # Driver's value hash is dtype-sensitive (round-1 verdict: DuckDB
    # HUGEINT/DECIMAL vs Spark BIGINT/DOUBLE hash-fail on identical
    # values). Mirror that: pandas dtypes must match exactly, modulo
    # datetime unit (normalized to [us] below before value compare).
    for col in sp.columns:
        a_dt, b_dt = sp[col].dtype, du[col].dtype
        # DATE columns: Spark toPandas gives object-of-date, duckdb .df()
        # gives datetime64 — both engines' SQL type is DATE (driver-green
        # in r01), so the pandas-level difference is a conversion
        # artifact, not a type mismatch. Exempt; values still compared.
        if pd.api.types.is_datetime64_any_dtype(a_dt) or pd.api.types.is_datetime64_any_dtype(b_dt):
            continue
        assert str(a_dt) == str(b_dt), (
            f"dtype mismatch on {col}: spark={a_dt} vs oracle={b_dt} "
            f"(driver hash is dtype-sensitive — CAST the oracle or the Spark side)"
        )

    for col in sp.columns:
        a, b = sp[col], du[col]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            a = pd.to_numeric(a, errors="coerce").astype(float)
            b = pd.to_numeric(b, errors="coerce").astype(float)
            both_nan = a.isna() & b.isna()
            close = pd.Series(
                [
                    (x == y) or (not math.isnan(x) and not math.isnan(y) and math.isclose(x, y, rel_tol=rel_tol, abs_tol=1e-12))
                    for x, y in zip(a.fillna(float("nan")), b.fillna(float("nan")))
                ]
            )
            bad = ~(close | both_nan)
            assert not bad.any(), f"column {col}: {int(bad.sum())} float mismatches, first at row {bad.idxmax()}: {a[bad].head(3).tolist()} vs {b[bad].head(3).tolist()}"
        else:
            if pd.api.types.is_datetime64_any_dtype(a) or pd.api.types.is_datetime64_any_dtype(b):
                a = pd.to_datetime(a).astype("datetime64[us]")
                b = pd.to_datetime(b).astype("datetime64[us]")
            mismatch = ~((a == b) | (a.isna() & b.isna()))
            assert not mismatch.any(), f"column {col}: {int(mismatch.sum())} mismatches, e.g. {a[mismatch].head(3).tolist()} vs {b[mismatch].head(3).tolist()}"
