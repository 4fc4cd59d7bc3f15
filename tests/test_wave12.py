"""Twelfth-wave operators: PMI collocations, per-group quota curation,
fixed-edge histogram, RFM segmentation. The Lloyd refinement pins live
in tests/test_ivf.py."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.operators.funnel import rfm_segments
from calp_cva_tracking_pipeline_spark.operators.profiling import (
    fixed_histogram,
)
from calp_cva_tracking_pipeline_spark.operators.sampling import quota_cap
from calp_cva_tracking_pipeline_spark.operators.textops import (
    pmi_collocations,
)

# ---------------------------------------------------------------------------
# pmi_collocations
# ---------------------------------------------------------------------------


def test_pmi_hand_computed(spark):
    # corpus: "a b" x4, "a c" x4 → bigrams: (a,b)x4, (a,c)x4; unigrams
    # a=8, b=4, c=4, T=16, B=8
    docs = [("a b",)] * 4 + [("a c",)] * 4
    df = spark.createDataFrame(docs, "text string")
    out = {
        (r.w1, r.w2): (r.n, r.pmi)
        for r in pmi_collocations(df, "text", min_count=4, top_k=10).collect()
    }
    want = round(math.log(4 * 16 * 16 / (8 * 8 * 4)), 6)  # ln(2) for both
    assert out == {("a", "b"): (4, want), ("a", "c"): (4, want)}


def test_pmi_min_count_floor_and_ordering(spark):
    # a rare-but-perfect pair below the floor must NOT appear
    docs = [("x y",)] * 5 + [("p q",)] * 2 + [("x z",)] * 5
    df = spark.createDataFrame(docs, "text string")
    rows = pmi_collocations(df, "text", min_count=5, top_k=10).collect()
    pairs = [(r.w1, r.w2) for r in rows]
    assert ("p", "q") not in pairs
    assert set(pairs) == {("x", "y"), ("x", "z")}
    # deterministic order: pmi desc then lexicographic
    assert rows == sorted(
        rows, key=lambda r: (-r.pmi, r.w1, r.w2)
    )


# ---------------------------------------------------------------------------
# quota_cap
# ---------------------------------------------------------------------------


def test_quota_cap_hand_computed_and_window_group_limit(spark):
    rows = [(i, "big", 1000 - i) for i in range(50)] + [
        (100, "small", 5),
        (101, "small", 9),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, q bigint")
    out = quota_cap(
        df, "source", [F.col("q").desc(), F.col("doc_id").asc()], 3
    )
    got = {(r.source, r.rank): r.doc_id for r in out.collect()}
    assert got == {
        ("big", 1): 0, ("big", 2): 1, ("big", 3): 2,
        ("small", 1): 101, ("small", 2): 100,
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    # layout independence
    got2 = {
        (r.source, r.rank): r.doc_id
        for r in quota_cap(
            df.repartition(7),
            "source",
            [F.col("q").desc(), F.col("doc_id").asc()],
            3,
        ).collect()
    }
    assert got2 == got


# ---------------------------------------------------------------------------
# fixed_histogram
# ---------------------------------------------------------------------------


def test_fixed_histogram_hand_computed_with_clamping(spark):
    rows = [(-5.0,), (0.0,), (4.9,), (5.0,), (9.9,), (100.0,), (None,)]
    df = spark.createDataFrame(rows, "v double")
    out = {r.bin: (r.bin_lo, r.bin_hi, r.n) for r in fixed_histogram(
        df, "v", 0.0, 10.0, 2
    ).collect()}
    # bin 0 = [0,5): -5 clamps in, 0.0, 4.9 → 3; bin 1 = [5,10): 5.0,
    # 9.9 plus 100.0 clamped → 3; null dropped
    assert out == {0: (0.0, 5.0, 3), 1: (5.0, 10.0, 3)}


def test_fixed_histogram_rejects_bad_range(spark):
    import pytest

    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError):
        fixed_histogram(df, "v", 5.0, 5.0, 10)


# ---------------------------------------------------------------------------
# rfm_segments
# ---------------------------------------------------------------------------


def test_rfm_hand_computed(spark):
    t0 = dt.datetime(2024, 6, 1)
    rows = (
        # user 1: 30 events, last at anchor, total 15000 → all bands max
        [(1, t0 - dt.timedelta(hours=i), 500.0) for i in range(30)]
        # user 2: 2 events, 45 days stale, total 50 → low bands
        + [
            (2, t0 - dt.timedelta(days=45), 25.0),
            (2, t0 - dt.timedelta(days=50), 25.0),
        ]
    )
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")
    out = {
        r.user_id: r
        for r in rfm_segments(df, "user_id", "ts", "value").collect()
    }
    u1, u2 = out[1], out[2]
    assert (u1.recency_days, u1.frequency, u1.monetary) == (0, 30, 15000.0)
    assert (u1.r_band, u1.f_band, u1.m_band) == (4, 4, 4)
    assert (u2.recency_days, u2.frequency, u2.monetary) == (45, 2, 50.0)
    # 45 days: only the 90-day cutoff passes → band 2; freq 2 < 3 → 1;
    # monetary 50 < 100 → 1
    assert (u2.r_band, u2.f_band, u2.m_band) == (2, 1, 1)


def test_rfm_anchor_is_corpus_max_not_wall_clock(spark):
    t0 = dt.datetime(2020, 1, 1)  # years in the past
    df = spark.createDataFrame(
        [(1, t0, 10.0)], "user_id bigint, ts timestamp, value double"
    )
    out = rfm_segments(df, "user_id", "ts", "value").collect()[0]
    assert out.recency_days == 0  # anchored on corpus max, not now()


# ---------------------------------------------------------------------------
# sliding_distinct
# ---------------------------------------------------------------------------


def test_sliding_distinct_tracks_exact_and_is_layout_independent(spark):
    import random

    from calp_cva_tracking_pipeline_spark.operators.sketch import (
        sliding_distinct,
    )

    rng = random.Random(5)
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(6000):
        d = rng.randrange(20)
        rows.append(
            (
                i,
                t0 + dt.timedelta(days=d, seconds=rng.randrange(86400)),
                rng.randrange(50 + 40 * d),  # growing population
            )
        )
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint"
    )
    out = {
        r.day.isoformat(): r.approx_distinct
        for r in sliding_distinct(df, "ts", "user_id", 7).collect()
    }
    assert len(out) == 20  # dense calendar

    # exact trailing-7-day distinct for comparison
    by_day: dict = {}
    for _, ts, u in rows:
        by_day.setdefault(ts.date(), set()).add(u)
    days = sorted(by_day)
    for i, d in enumerate(days):
        exact = len(
            set().union(
                *(by_day.get(days[j], set())
                  for j in range(max(0, i - 6), i + 1))
            )
        )
        est = out[d.isoformat()]
        # HLL at 512 buckets: ~4.6% relative sigma → 3-sigma band + floor
        assert abs(est - exact) <= max(0.15 * exact, 12), (d, est, exact)

    out2 = {
        r.day.isoformat(): r.approx_distinct
        for r in sliding_distinct(
            df.repartition(13), "ts", "user_id", 7
        ).collect()
    }
    assert out2 == out  # register pipeline is bit-deterministic


def test_sliding_distinct_empty_days_estimate_zero(spark):
    from calp_cva_tracking_pipeline_spark.operators.sketch import (
        sliding_distinct,
    )

    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (1, t0, 1),
        (2, t0 + dt.timedelta(days=10), 2),  # 9-day silence between
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint"
    )
    out = {
        r.day.isoformat(): r.approx_distinct
        for r in sliding_distinct(df, "ts", "user_id", 7).collect()
    }
    assert len(out) == 11  # dense day grid spans the silence
    # day 8: window [day2, day8] holds nothing → linear-count 0
    assert out["2024-03-09"] == 0.0


# ---------------------------------------------------------------------------
# semistruct: json_field_stats / json_key_inventory
# ---------------------------------------------------------------------------


def test_json_field_stats_garbage_rows_become_nulls_not_errors(spark):
    from calp_cva_tracking_pipeline_spark.operators.semistruct import (
        json_field_stats,
    )

    rows = [
        ("a", '{"k": 10}'),
        ("a", '{"k": 30}'),
        ("a", "not json at all"),       # malformed
        ("a", '{"other": 1}'),           # key absent
        ("a", '{"k": "abc"}'),           # uncastable
        ("a", None),                     # null json
        ("b", '{"k": 7}'),
    ]
    df = spark.createDataFrame(rows, "event_type string, props string")
    out = {
        r.event_type: r
        for r in json_field_stats(
            df, "props", "$.k", ["event_type"], "double"
        ).collect()
    }
    a = out["a"]
    assert (a.n, a.n_parsed, a.min_v, a.max_v, a.mean_v) == (
        6, 2, 10.0, 30.0, 20.0
    )
    assert (out["b"].n, out["b"].n_parsed, out["b"].mean_v) == (1, 1, 7.0)


def test_json_key_inventory_hand_computed(spark):
    from calp_cva_tracking_pipeline_spark.operators.semistruct import (
        json_key_inventory,
    )

    rows = [
        ('{"a": 1, "b": 2}',),
        ('{"a": 3}',),
        (None,),
        ('{"c": {"nested": 1}}',),
    ]
    df = spark.createDataFrame(rows, "props string")
    out = {
        r.key: (r.n, r.coverage)
        for r in json_key_inventory(df, "props").collect()
    }
    # coverage denominates over ALL rows including the null one
    assert out == {"a": (2, 0.5), "b": (1, 0.25), "c": (1, 0.25)}
