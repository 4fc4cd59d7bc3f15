"""Round-11 wave-40 operator pins: n-gram coverage, cohort value curve —
hand-built inputs with independently derived values (the Adamic-Adar
pin lives in tests/test_graph.py)."""

from __future__ import annotations

import datetime as dt


def test_ngram_coverage_hand_docs(spark):
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        ngram_coverage,
    )

    corpus = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x y z w q r")],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [
            # 4 trigrams; "a b c","b c d" covered, "c d x","d x y" not
            (10, "a b c d x y"),
            # fully covered
            (11, "x y z w q"),
            # nothing covered
            (12, "p p p p p"),
            # too short for k=3 after split? 2 tokens -> no grams row
            (13, "a b"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in ngram_coverage(
            corpus, eval_df, "doc_id", "text", k=3
        ).collect()
    }
    assert set(out) == {10, 11, 12}
    assert (out[10].n_grams, out[10].n_covered) == (4, 2)
    assert out[10].coverage_ppm == 500_000
    assert out[11].coverage_ppm == 1_000_000
    assert (out[12].n_covered, out[12].coverage_ppm) == (0, 0)


def test_cohort_value_curve_hand_events(spark):
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        cohort_value_curve,
    )

    # u1 first appears Mon Jan 1 week; spends 1.00 twice in week 0 and
    # 2.50 in week 2. u2 cohorts a week later.
    rows = [
        ("u1", dt.datetime(2024, 1, 1, 10), 1.0),
        ("u1", dt.datetime(2024, 1, 3, 10), 1.0),
        ("u1", dt.datetime(2024, 1, 16, 10), 2.5),
        ("u2", dt.datetime(2024, 1, 9, 10), 5.0),
        ("u2", None, 99.0),  # null ts drops
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp, value double"
    )
    out = {
        (str(r.cohort_week), r.age_weeks): r
        for r in cohort_value_curve(df, "user_id", "ts", "value").collect()
    }
    a = out[("2024-01-01", 0)]
    assert (a.n_active, a.period_value, a.cum_value) == (1, 2.0, 2.0)
    b = out[("2024-01-01", 2)]
    assert (b.n_active, b.period_value, b.cum_value) == (1, 2.5, 4.5)
    c = out[("2024-01-08", 0)]
    assert (c.n_active, c.period_value, c.cum_value) == (1, 5.0, 5.0)
    assert len(out) == 3


def test_json_schema_drift_hand_slices(spark):
    from calp_cva_tracking_pipeline_spark.operators.semistruct import (
        json_schema_drift,
    )

    old = spark.createDataFrame(
        [('{"a": 1, "gone": 2}',), ('{"a": 3}',), (None,), ("not json",)],
        "props string",
    )
    new = spark.createDataFrame(
        [('{"a": 1, "fresh": 2}',), ('{"fresh": 1}',)], "props string"
    )
    out = {r.key: r for r in json_schema_drift(old, new, "props").collect()}
    assert set(out) == {"a", "gone", "fresh"}
    a = out["a"]
    # coverage denominators include null/malformed rows: 2/4 vs 1/2
    assert (a.n_old, a.n_new, a.status) == (2, 1, "common")
    assert (a.cov_old_ppm, a.cov_new_ppm, a.drift_ppm) == (
        500_000, 500_000, 0,
    )
    assert (out["gone"].status, out["gone"].n_new) == ("removed", 0)
    assert (out["fresh"].status, out["fresh"].cov_new_ppm) == (
        "added", 1_000_000,
    )


def test_mixture_reweight_hand_mixture(spark):
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        mixture_reweight,
    )

    rows = [("a",)] * 80 + [("b",)] * 15 + [("c",)] * 5 + [(None,)] * 3
    df = spark.createDataFrame(rows, "source string")
    out = {
        r.source: r
        for r in mixture_reweight(
            df,
            "source",
            target_ppm={"a": 500_000, "b": 250_000, "c": 250_000},
            clamp_max_milli=4000,
        ).collect()
    }
    assert set(out) == {"a", "b", "c"}  # null group drops
    # a: target .5 / emp .8 -> 0.625 -> 625 milli (floor of 50/80)
    assert out["a"].weight_milli == 500_000 * 100 // (1000 * 80)
    assert not out["a"].clamped
    # c: target .25 / emp .05 -> 5.0 -> clamps at 4000
    assert out["c"].weight_milli == 4000 and out["c"].clamped
    assert out["b"].emp_ppm == 150_000
