"""Round-13 advisor-pass regression pins (the judge's ADVICE.md was
empty this round, so the builder ran its own review over the round-13
diff; each finding fixed and pinned here — the tests/test_advice_r12.py
discipline). The two HITS pins (findings 1 and 4) live in
tests/test_graph.py with the rest of the rank family."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import calp_cva_tracking_pipeline_spark.catalog.scale as S

# r16: catalog-wide sweep / historical-pin tier — excluded from the
# driver's default run (see pytest.ini); run with -m exhaustive.
pytestmark = pytest.mark.exhaustive


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_calibration_catalog_drops_null_text_like_its_oracle(spark):
    """Finding 2: the native stub scores NULL text as conf 0.0 (bin 0)
    while PF_CALIBRATION_SQL drops those rows — the catalog query now
    filters text IS NOT NULL before scoring, pinned in the plan."""
    from calp_cva_tracking_pipeline_spark.operators.mlstub import (
        classify_flows,
    )
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        calibration_audit,
    )

    plan = (
        S.pf_calibration(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "isnotnull(text" in plan
    # and the semantic consequence: a NULL-text row must not shift bin 0
    d = spark.createDataFrame(
        [(1, "some text here"), (2, None)], "doc_id long, text string"
    )
    scored = classify_flows(
        d.filter(F.col("text").isNotNull()), "text", stub="native"
    ).select("predicted_confidence", F.lit(True).alias("ok"))
    out = calibration_audit(scored, "predicted_confidence", "ok")
    assert sum(r.n for r in out.collect()) == 1


def test_grouped_median_plan_does_not_scale_with_group_count(spark):
    """Finding 3: the bucket pass built one chained CASE branch per
    (group × column) key — O(rows·keys) interpreted comparisons and a
    plan tree linear in the key count. The ranges now re-enter as a
    broadcast local relation, so the plan SIZE must be ~flat in the
    group count and the bucket pass a BroadcastHashJoin."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        grouped_exact_medians,
    )

    def plan_len(n_groups: int) -> int:
        df = spark.createDataFrame(
            [(i, f"g{i % n_groups}", float(i % 17)) for i in range(600)],
            "id long, grp string, x double",
        )
        out = grouped_exact_medians(df, "grp", ["x"])
        out.count()
        p = _executed(out)
        assert "BroadcastHashJoin" in p
        return len(p)

    small, big = plan_len(4), plan_len(120)
    assert big < 2 * small, (small, big)


def test_kfold_audit_null_fold_counts_one_group(spark):
    """Finding 5: countDistinct ignores NULLs, so the NULL fold (all
    NULL-group rows) reported n_groups=0 beside nonzero n_rows. The
    sentinel-coalesced count makes the balance sheet truthful."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        kfold_audit,
    )

    df = spark.createDataFrame(
        [(i, i % 9 if i % 4 else None) for i in range(200)],
        "id long, grp long",
    )
    rows = {r.fold: r for r in kfold_audit(df, "grp", 3).collect()}
    assert None in rows
    assert rows[None].n_groups == 1
    assert rows[None].n_rows == 50
