"""Round-14 wave properties: the gate sweep is monotone, the script
census conserves docs, and the MAD profile agrees with a python
reference. The weighted HITS pins live in tests/test_graph.py, the
range-search/top-k consistency pin in tests/test_ivf.py."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_gate_sweep_monotone_and_conserving(spark, sf_dir):
    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        gate_threshold_sweep,
    )

    rows = gate_threshold_sweep(
        T(spark, sf_dir, "documents")
    ).collect()
    assert rows, "sweep produced no thresholds"
    n_total = {r.n_total for r in rows}
    assert len(n_total) == 1, "n_total must be threshold-invariant"
    kept = [r.n_kept for r in rows]  # ordered by min_quality asc
    assert kept == sorted(kept, reverse=True), "kept must be monotone"
    toks = [r.kept_tokens for r in rows]
    assert toks == sorted(toks, reverse=True)
    assert all(0 <= r.kept_ppm <= 1_000_000 for r in rows)


def test_script_mix_census_conserves_and_flags(spark):
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        script_mix_census,
    )

    docs = spark.createDataFrame(
        [
            ("a", "plain ascii text here"),
            ("a", "сmеshed homоglyph tеxt"),  # cyrillic о/е smuggled in
            ("a", "文档 质量 审核 报告"),
            ("a", None),
            ("b", "1234 !!! ---"),
        ],
        "source string, text string",
    )
    rows = {r.source: r for r in script_mix_census(docs).collect()}
    a = rows["a"]
    assert (
        a.n_latin_dom + a.n_cyrillic_dom + a.n_han_dom + a.n_noscript
        == a.n_docs
        == 4
    )
    assert a.n_han_dom == 1
    assert a.n_homoglyph >= 1
    assert a.n_mixed >= 1
    b = rows["b"]
    assert b.n_noscript == 1 and b.n_mixed == 0


def test_mad_profile_matches_python_reference(spark):
    import statistics

    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        mad_profile,
    )

    vals = [float(v) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 100]]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    row = mad_profile(df, ["x"], k=3).collect()[0]
    med = statistics.median(vals)
    mad = statistics.median(sorted(abs(v - med) for v in vals))
    assert row.median == round(med, 6)
    assert row.mad == round(mad, 6)
    assert row.n_outliers == sum(
        1 for v in vals if abs(v - med) > 3 * mad
    )
    assert row.n == len(vals)


def test_fdr_bh_step_up_rejects_above_own_line(spark):
    """The textbook BH subtlety: p=(10000, 20000, 26000) ppm at q=0.05,
    m=3 — lines are (16666, 33333, 50000); p2=20000 <= 33333 and
    p3=26000 <= 50000, so ALL THREE reject even though naive per-row
    thresholding at i=1's line would stop earlier; and a p above every
    line never rejects."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        fdr_bh,
    )

    df = spark.createDataFrame(
        [(1, 10_000), (2, 20_000), (3, 26_000), (4, 900_000)],
        "t long, p long",
    )
    rows = {r.id: r.rejected for r in fdr_bh(df, "t", "p").collect()}
    assert rows == {1: True, 2: True, 3: True, 4: False}


def test_fdr_bh_null_family_rejects_nothing(spark):
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        fdr_bh,
    )

    df = spark.createDataFrame(
        [(i, 500_000 + i * 1000) for i in range(10)], "t long, p long"
    )
    assert not any(
        r.rejected for r in fdr_bh(df, "t", "p").collect()
    )


def test_template_census_groups_number_swapped_docs(spark):
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        template_census,
    )

    docs = spark.createDataFrame(
        [
            (1, "a", "Your order 123 ships on 2024-01-02, ref 99"),
            (2, "b", "your  order 777 ships on 2025-12-31,  ref 1"),
            (3, "a", "completely different text"),
            (4, "a", None),
        ],
        "doc_id long, source string, text string",
    )
    rows = template_census(docs, "doc_id").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_docs == 2 and r.n_sources == 2 and r.exemplar_id == 1


def test_did_audit_nets_out_common_trends(spark):
    """A common shock that moves BOTH cohorts identically must produce
    did_ppm = 0; adding a treated-post-only uplift must surface exactly
    in did_ppm."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        did_audit,
    )

    # 100 rows per cell; pre rates 20%/20%, post rates 60%/60% (common
    # shock) -> did 0; then treated-post gets +20pp -> did 200000
    rows = []
    for t in (True, False):
        for p in (True, False):
            base = 60 if p else 20
            uplift = 20 if (t and p) else 0
            k = base + uplift
            rows += [("g", t, p, i < k) for i in range(100)]
    df = spark.createDataFrame(
        rows, "grp string, t boolean, p boolean, c boolean"
    )
    out = did_audit(
        df, "grp", F.col("t"), F.col("p"), F.col("c")
    ).collect()[0]
    assert out.rate_tpre_ppm == out.rate_cpre_ppm == 200_000
    assert out.rate_cpost_ppm == 600_000
    assert out.rate_tpost_ppm == 800_000
    assert out.did_ppm == 200_000


def test_did_audit_empty_cell_yields_null(spark):
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        did_audit,
    )

    df = spark.createDataFrame(
        [("g", True, True, True), ("g", False, False, False)],
        "grp string, t boolean, p boolean, c boolean",
    )
    out = did_audit(
        df, "grp", F.col("t"), F.col("p"), F.col("c")
    ).collect()[0]
    assert out.n_tpre == 0 and out.rate_tpre_ppm is None
    assert out.did_ppm is None


def test_reciprocity_hand_graph(spark):
    """1<->2 mutual, 1->3 one-way, duplicate edges collapse, self-loop
    dropped."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        reciprocity,
    )

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (1, 3), (3, 3)],
        "src long, dst long",
    )
    rows = {r.node: r for r in reciprocity(e).collect()}
    assert rows[1].out_deg == 2 and rows[1].n_recip == 1
    assert rows[1].recip_ppm == 500_000
    assert rows[2].out_deg == 1 and rows[2].n_recip == 1
    assert 3 not in rows  # its only out-edge was the dropped self-loop


def test_binseg_finds_both_known_shifts(spark):
    """Series 0..99 with level 10 -> 50 at position 40 and back to 15
    at position 70: level 1 must split at the dominant boundary and
    level 2 must recover the second shift inside the right half."""
    import datetime

    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        binseg_changepoints,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(100):
        v = 10.0 if i < 40 else (50.0 if i < 70 else 15.0)
        rows.append(("k", t0 + datetime.timedelta(minutes=i), i, v))
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, id long, v double"
    )
    out = {
        (r.level, r.segment): r
        for r in binseg_changepoints(df, "k", "ts", "v", "id").collect()
    }
    l1 = out[(1, "all")]
    assert l1.split_pos in (40, 70)
    other = 70 if l1.split_pos == 40 else 40
    side = "right" if l1.split_pos == 40 else "left"
    l2 = out[(2, side)]
    assert l2.split_pos == other, (l1.split_pos, l2.split_pos)
    # the flat side's best split has a far weaker statistic
    flat = out[(2, "left" if side == "right" else "right")]
    assert flat.cusum_cents < l2.cusum_cents
