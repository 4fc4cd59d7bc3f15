"""Round-7 advisor-flagged edge cases, pinned as regressions.

Each test reproduces the exact divergence the round-6 advisor found and
asserts the fixed behavior — where the flaw was Spark-vs-oracle drift,
the test runs the REAL catalog oracle SQL against tiny in-memory DuckDB
views so the parity claim is checked on the adversarial inputs the
shipped testdata never exercises (negative EWMA numerators, NULL values
inside windows, products wide enough for double ulp to bite).
"""

from __future__ import annotations

import pytest

# r16: catalog-wide sweep / historical-pin tier — excluded from the
# driver's default run (see pytest.ini); run with -m exhaustive.
pytestmark = pytest.mark.exhaustive

import datetime as dt

import duckdb
import pandas as pd

from calp_cva_tracking_pipeline_spark.catalog.scale import (
    PF_REGRESSION_SQL,
    RT_OHLC_SQL,
)
from calp_cva_tracking_pipeline_spark.operators.profiling import group_ols
from calp_cva_tracking_pipeline_spark.operators.rollup import ohlc_downsample

T0 = dt.datetime(2024, 1, 1)


def _duck_on(frames: dict[str, pd.DataFrame]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, pdf in frames.items():
        con.register(f"__{name}", pdf)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM __{name}")
    return con


# ---------------------------------------------------------------------------
# group_ols per-row products were double (ulp ~2e-6 above |x·y|≈1e10);
# both sides now multiply once-rounded decimal(18,6) terms exactly.
# ---------------------------------------------------------------------------


def test_group_ols_decimal_terms_match_oracle_on_wide_values(spark):
    # |x·y| ≈ 1e14 — far past where double products lose the 6th decimal
    rows = [
        ("A", 33333333.333333, 30000000.111111),
        ("A", 27182818.284590, 31415926.535897),
        ("A", 14142135.623730, 17320508.075688),
        ("A", 99999999.999999, 12345678.654321),
    ]
    df = spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, l_extendedprice double"
    )
    got = group_ols(
        df, ["l_returnflag"], "l_quantity", "l_extendedprice"
    ).collect()[0]

    con = _duck_on(
        {
            "lineitem": pd.DataFrame(
                rows,
                columns=["l_returnflag", "l_quantity", "l_extendedprice"],
            )
        }
    )
    o = con.execute(PF_REGRESSION_SQL).fetchall()[0]
    assert (got.n, got.slope, got.intercept, got.r2) == (
        o[1],
        o[2],
        o[3],
        o[4],
    )


# ---------------------------------------------------------------------------
# ohlc_downsample: NULL-value rows were visible to open/close (struct
# min/max) but not high/low; now all four candles skip them, n_rows
# still counts every row, and the oracle FILTER mirrors it.
# ---------------------------------------------------------------------------


def test_ohlc_null_values_invisible_to_all_four_candles(spark):
    rows = [
        # bucket 00:00 — earliest AND latest rows carry NULL values
        (1, "click", T0 + dt.timedelta(minutes=0), None),
        (1, "click", T0 + dt.timedelta(minutes=10), 5.0),
        (2, "click", T0 + dt.timedelta(minutes=20), 9.0),
        (3, "click", T0 + dt.timedelta(minutes=30), 7.0),
        (4, "click", T0 + dt.timedelta(minutes=59), None),
        # bucket 01:00 — only NULLs: candles NULL, n_rows counts
        (5, "click", T0 + dt.timedelta(hours=1, minutes=5), None),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, event_type string, ts timestamp, value double"
    )
    out = {
        r.bucket_start.hour: r
        for r in ohlc_downsample(
            df, ("event_type",), "ts", "value", "event_id", "1 hour"
        ).collect()
    }
    b0 = out[0]
    assert (b0.open_v, b0.high_v, b0.low_v, b0.close_v, b0.n_rows) == (
        5.0,
        9.0,
        5.0,
        7.0,
        5,
    )
    b1 = out[1]
    assert (b1.open_v, b1.high_v, b1.low_v, b1.close_v, b1.n_rows) == (
        None,
        None,
        None,
        None,
        1,
    )

    con = _duck_on(
        {
            "events": pd.DataFrame(
                rows, columns=["event_id", "event_type", "ts", "value"]
            ).astype({"value": "float64"})
        }
    )
    oracle = {
        r[1]: r for r in con.execute(RT_OHLC_SQL).fetchall()
    }
    assert oracle["2024-01-01 00:00"][2:] == (5.0, 9.0, 5.0, 7.0, 5)
    assert oracle["2024-01-01 01:00"][2:] == (None, None, None, None, 1)
