"""Round-8 advisor-flagged edge cases, pinned as regressions.

Each test reproduces the exact divergence the round-7 advisor found and
asserts the fixed behavior; where the flaw was shared Spark+oracle bias
(PMI denominator) or an oracle crash (histogram NaN), the REAL catalog
oracle SQL runs against tiny in-memory DuckDB views so parity is checked
on the adversarial inputs the shipped testdata never exercises.
"""

from __future__ import annotations

import pytest

# r16: catalog-wide sweep / historical-pin tier — excluded from the
# driver's default run (see pytest.ini); run with -m exhaustive.
pytestmark = pytest.mark.exhaustive

import datetime as dt
import math
from collections import Counter

import duckdb
import pandas as pd

from calp_cva_tracking_pipeline_spark.catalog.scale import (
    PF_HISTOGRAM_SQL,
    TX_COLLOCATIONS_SQL,
)
from calp_cva_tracking_pipeline_spark.operators.profiling import (
    fixed_histogram,
)
from calp_cva_tracking_pipeline_spark.operators.rollup import (
    resample_interpolate,
)
from calp_cva_tracking_pipeline_spark.operators.textops import (

    pmi_collocations,
)


def _duck_on(frames: dict[str, pd.DataFrame]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, pdf in frames.items():
        con.register(f"__{name}", pdf)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM __{name}")
    return con


# ---------------------------------------------------------------------------
# PMI denominator: B must be the UNFILTERED bigram total. The old code
# (both engines) summed c2 AFTER the min_count floor, uniformly inflating
# every PMI by ln(B_all/B_filtered) vs Church & Hanks — invisible to
# parity tests because both sides shared the bias.
# ---------------------------------------------------------------------------


def _pmi_reference(texts: list[str], min_count: int) -> dict:
    uni: Counter = Counter()
    bi: Counter = Counter()
    for t in texts:
        toks = [w for w in t.strip().lower().split() if w]
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    T = sum(uni.values())
    B = sum(bi.values())  # UNFILTERED
    out = {}
    for (w1, w2), c2 in bi.items():
        if c2 >= min_count:
            out[(w1, w2)] = round(
                math.log(c2 * T * T / (B * uni[w1] * uni[w2])), 6
            )
    return out


def test_pmi_denominator_is_unfiltered_bigram_total(spark):
    # "rare pair" appears once (filtered out at min_count=2) so
    # B_all=9 > B_filtered — the old code inflated every PMI by ln(9/6).
    texts = [
        "a b a b a b",  # (a,b)x3 (b,a)x2
        "c d rare pair",  # (c,d) (d,rare) (rare,pair) singletons
        "a b",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {
        (r.w1, r.w2): r.pmi
        for r in pmi_collocations(df, "text", min_count=2, top_k=10).collect()
    }
    want = _pmi_reference(texts, min_count=2)
    assert got == want

    # the REAL catalog oracle must agree on the same adversarial corpus
    # (catalog constants are baked into the f-string; swap the literal
    # min_count floor for the test's)
    import calp_cva_tracking_pipeline_spark.catalog.scale as sc

    con = _duck_on({"documents": pd.DataFrame({"text": texts})})
    sql = TX_COLLOCATIONS_SQL.replace(f">= {sc.PMI_MIN_COUNT}", ">= 2")
    oracle = {
        (w1, w2): pmi for w1, w2, _n, pmi in con.execute(sql).fetchall()
    }
    assert oracle == want


# ---------------------------------------------------------------------------
# fixed_histogram NaN: NaN passes isNotNull; Spark's non-ANSI double→int
# cast used to bucket it into bin 0 while the DuckDB oracle's
# CAST(FLOOR(NaN) AS INT) raised — one NaN row miscounted on Spark and
# crashed the parity oracle.
# ---------------------------------------------------------------------------


def test_fixed_histogram_excludes_nan_both_engines(spark):
    vals = [5.0, 15.0, float("nan"), None, 995.0, -3.0, 1234.0]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    got = {
        r.bin: r.n for r in fixed_histogram(df, "value", 0.0, 1000.0, 20).collect()
    }
    # width=50: 5.0/15.0→bin0, -3.0 clamps→bin0, 995.0→bin19,
    # 1234.0 clamps→bin19; NaN excluded (the bug put it in bin0 → 4)
    assert got == {0: 3, 19: 2}

    con = _duck_on({"events": pd.DataFrame({"value": vals})})
    oracle = {b: n for b, _lo, _hi, n in con.execute(PF_HISTOGRAM_SQL).fetchall()}
    assert oracle == got


# ---------------------------------------------------------------------------
# resample_interpolate pre-1970: (lo + step-1) div step is only ceil for
# non-negative lo — with negative epoch micros the grid start landed one
# step high and interior instants were silently dropped (oracle shared
# the truncation bug).
# ---------------------------------------------------------------------------


def test_resample_grid_correct_for_pre_1970_timestamps(spark):
    t0 = dt.datetime(1969, 12, 31, 22, 30)  # negative epoch micros
    rows = [
        ("k", 1, t0, 10.0),
        ("k", 2, t0 + dt.timedelta(hours=2), 30.0),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, event_id bigint, ts timestamp, value double"
    )
    out = resample_interpolate(
        df, ("event_type",), "ts", "value", "event_id", grain="1 hour"
    ).collect()
    got = {r.ts: (r.value, r.exact) for r in out}
    # span 22:30 → 00:30 next day: interior hourly grid = 23:00, 00:00
    assert set(got) == {
        dt.datetime(1969, 12, 31, 23, 0),
        dt.datetime(1970, 1, 1, 0, 0),
    }
    # linear between (22:30, 10.0) and (00:30, 30.0): 23:00 → 15.0
    assert got[dt.datetime(1969, 12, 31, 23, 0)] == (15.0, False)
    assert got[dt.datetime(1970, 1, 1, 0, 0)] == (25.0, False)


