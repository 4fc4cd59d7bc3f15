"""Tenth-wave operators: degree assortativity, Benford first-digit
audit, per-label embedding centroids. The knn_graph pins live in
tests/test_ivf.py."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.operators.graph import (
    degree_assortativity,
)
from calp_cva_tracking_pipeline_spark.operators.linalg import label_centroids
from calp_cva_tracking_pipeline_spark.operators.profiling import (
    BENFORD_EXPECTED,
    benford_audit,
)

# ---------------------------------------------------------------------------
# degree_assortativity
# ---------------------------------------------------------------------------


def _assort_ref(edges):
    """Pure-python Newman assortativity over undirected simple edges."""
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    deg: dict = {}
    for u, v in es:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    xs, ys = [], []
    for u, v in es:
        xs += [deg[u], deg[v]]
        ys += [deg[v], deg[u]]
    m = len(xs)
    sx, sxx, sxy = sum(xs), sum(x * x for x in xs), sum(
        x * y for x, y in zip(xs, ys)
    )
    den = m * sxx - sx * sx
    if den <= 0:
        return None
    return round((m * sxy - sx * sx) / den, 6)


def test_assortativity_star_is_disassortative(spark):
    # a star: hub degree n, leaves degree 1 → strongly negative r (= -1)
    edges = [(0, i) for i in range(1, 6)] + [(1, 2)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = degree_assortativity(df).collect()[0]
    assert out.n_nodes == 6 and out.n_edges == 6
    assert out.assortativity == _assort_ref(edges)
    assert out.assortativity < 0


def test_assortativity_regular_graph_is_null(spark):
    # a 4-cycle: every degree 2 → zero variance → NULL, not 0/0
    edges = [(1, 2), (2, 3), (3, 4), (4, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = degree_assortativity(df).collect()[0]
    assert out.assortativity is None
    assert (out.n_nodes, out.n_edges) == (4, 4)


def test_assortativity_matches_reference_and_layout_independent(spark):
    import random

    rng = random.Random(11)
    edges = list(
        {
            (rng.randrange(30), rng.randrange(30))
            for _ in range(120)
        }
    )
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    want = _assort_ref(edges)
    a = degree_assortativity(df).collect()[0].assortativity
    b = degree_assortativity(df.repartition(7)).collect()[0].assortativity
    # duplicates/direction/self-loops must not matter
    doubled = df.union(
        df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    c = degree_assortativity(doubled).collect()[0].assortativity
    assert a == b == c == want


# ---------------------------------------------------------------------------
# benford_audit
# ---------------------------------------------------------------------------


def test_benford_expected_table_is_log10():
    assert len(BENFORD_EXPECTED) == 9
    for d, e in enumerate(BENFORD_EXPECTED, start=1):
        assert abs(e - math.log10(1 + 1 / d)) < 1e-6
    assert abs(sum(BENFORD_EXPECTED) - 1.0) < 1e-4


def test_benford_hand_computed(spark):
    # cents: 123(→1), 250(→2), 2.5→250? values in units; 0 and null drop
    rows = [(1.23,), (2.50,), (2.51,), (-9.99,), (0.0,), (None,), (0.004,)]
    df = spark.createDataFrame(rows, "v double")
    out = {r.digit: r for r in benford_audit(df, "v").collect()}
    # 0.004 → 0 cents → dropped; 0.0 and null dropped; -9.99 audits as 999
    assert set(out) == {1, 2, 9}
    assert out[1].n == 1 and out[2].n == 2 and out[9].n == 1
    assert out[2].frac == 0.5
    assert out[2].expected == BENFORD_EXPECTED[1]
    assert out[2].dev == round(0.5 - BENFORD_EXPECTED[1], 6)


def test_benford_digit_extraction_no_float_boundary_bugs(spark):
    # values straddling powers of ten: 0.99→99(→9), 1.00→100(→1).
    # 9.995 is NOT exactly representable: 9.995*100 = 999.4999…, so it
    # rounds to 999 cents → digit 9 — in BOTH engines identically (the
    # scaling happens in binary double on both sides; what matters for
    # the audit is bit-portable bucketing, not decimal-string ties)
    rows = [(0.99,), (1.00,), (9.995,), (10.0,), (99.99,), (100.0,)]
    df = spark.createDataFrame(rows, "v double")
    out = {r.digit: r.n for r in benford_audit(df, "v").collect()}
    assert out == {9: 3, 1: 3}


# ---------------------------------------------------------------------------
# label_centroids
# ---------------------------------------------------------------------------


def test_label_centroids_hand_computed(spark):
    df = spark.createDataFrame(
        [
            Row(label="a", embedding=[1.0, 2.0]),
            Row(label="a", embedding=[3.0, 4.0]),
            Row(label="b", embedding=[10.0, 20.0]),
            Row(label="b", embedding=None),
        ]
    )
    out = {
        (r.label, r.dim): (r.n, r.mean)
        for r in label_centroids(df, "embedding", "label").collect()
    }
    assert out == {
        ("a", 0): (2, 2.0),
        ("a", 1): (2, 3.0),
        ("b", 0): (1, 10.0),
        ("b", 1): (1, 20.0),
    }


def test_label_centroids_null_label_is_a_group(spark):
    df = spark.createDataFrame(
        [Row(label=None, embedding=[2.0]), Row(label="x", embedding=[4.0])]
    )
    out = {
        r.label: r.mean
        for r in label_centroids(df, "embedding", "label").collect()
    }
    assert out == {None: 2.0, "x": 4.0}


# ---------------------------------------------------------------------------
# resample_interpolate
# ---------------------------------------------------------------------------


def test_resample_interpolate_hand_computed(spark):
    import datetime as dt

    from calp_cva_tracking_pipeline_spark.operators.rollup import (
        resample_interpolate,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # key "a": obs at 00:30 (10.0) and 02:30 (30.0) →
        # grid 01:00 = 15.0, 02:00 = 25.0 (interior linear)
        ("a", at(30), 10.0, 1),
        ("a", at(150), 30.0, 2),
        # key "b": obs exactly ON the grid at 01:00 → copied, exact
        ("b", at(0), 5.0, 3),
        ("b", at(60), 7.5, 4),
        # duplicate instant: larger tiebreak wins (4 then 5 at 01:00)
        ("b", at(60), 9.5, 5),
        ("b", at(90), 1.0, 6),
    ]
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, value double, event_id bigint"
    )
    out = resample_interpolate(
        df, ("k",), "ts", "value", "event_id", grain="1 hour"
    )
    got = {
        (r.k, r.ts.strftime("%H:%M")): (r.value, r.exact)
        for r in out.collect()
    }
    assert got == {
        ("a", "01:00"): (15.0, False),
        ("a", "02:00"): (25.0, False),
        ("b", "00:00"): (5.0, True),
        ("b", "01:00"): (9.5, True),  # last-tiebreak value, copied
    }
    # zero joins, one exchange family: union + two windows
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan

    # layout independence
    got2 = {
        (r.k, r.ts.strftime("%H:%M")): (r.value, r.exact)
        for r in resample_interpolate(
            df.repartition(7), ("k",), "ts", "value", "event_id", "1 hour"
        ).collect()
    }
    assert got2 == got


def test_resample_interpolate_single_obs_key_yields_nothing_or_exact(spark):
    import datetime as dt

    from calp_cva_tracking_pipeline_spark.operators.rollup import (
        resample_interpolate,
    )

    # one observation NOT on the grid: no interior instants → no rows;
    # one observation ON the grid: exactly one exact row
    rows = [
        ("off", dt.datetime(2024, 1, 1, 0, 30), 1.0, 1),
        ("on", dt.datetime(2024, 1, 1, 1, 0), 2.0, 2),
    ]
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, value double, event_id bigint"
    )
    out = resample_interpolate(
        df, ("k",), "ts", "value", "event_id", "1 hour"
    ).collect()
    assert [(r.k, r.value, r.exact) for r in out] == [("on", 2.0, True)]
