"""Round-12 property pins: serving-path equivalences and bench-protocol
invariants added for VERDICT r11 asks #2/#3."""

from __future__ import annotations

from pathlib import Path


def test_interleaved_ratio_is_published_when_proxy_runs():
    """The bench detail contract: when the proxy executes, the detail
    carries interleaved_ratio (the r12 round-over-round metric) — pinned
    on the source so the contract can't silently regress without a
    bench run."""
    src = open(Path(__file__).resolve().parents[1] / "bench.py").read()
    assert '"interleaved_ratio"' in src
    assert "interleaved per-round with spark" in src


def test_drawdown_flat_and_null_contracts(spark):
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        drawdown,
    )

    df = spark.createDataFrame(
        [
            # monotone series: never dips -> drawdown 0 at earliest row
            ("up", "2024-01-01 00:00:00", 1, 1.0),
            ("up", "2024-01-02 00:00:00", 2, 2.0),
            # peak then trough then partial recovery
            ("dip", "2024-01-01 00:00:00", 3, 10.0),
            ("dip", "2024-01-02 00:00:00", 4, 3.0),
            ("dip", "2024-01-03 00:00:00", 5, 7.0),
            # NULL value / ts rows drop
            ("dip", None, 6, 1.0),
            ("dip", "2024-01-04 00:00:00", 7, None),
        ],
        "k string, ts string, id long, v double",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "id", "v")
    got = {r.k: r for r in drawdown(df, "k", "ts", "v", "id").collect()}
    assert got["up"].max_drawdown_cents == 0
    assert str(got["up"].drawdown_ts).startswith("2024-01-01")
    assert got["dip"].n == 3 and got["dip"].peak_cents == 1000
    assert got["dip"].max_drawdown_cents == 700  # 10.00 -> 3.00
    assert str(got["dip"].drawdown_ts).startswith("2024-01-02")


def test_changepoint_single_row_key_emits_nothing(spark):
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        changepoint_scan,
    )

    df = spark.createDataFrame(
        [
            ("solo", "2024-01-01 00:00:00", 1, 5.0),
            ("step", "2024-01-01 00:00:00", 2, 1.0),
            ("step", "2024-01-02 00:00:00", 3, 1.0),
            ("step", "2024-01-03 00:00:00", 4, 9.0),
            ("step", "2024-01-04 00:00:00", 5, 9.0),
        ],
        "k string, ts string, id long, v double",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "id", "v")
    out = {
        r.k: r
        for r in changepoint_scan(df, "k", "ts", "v", "id").collect()
    }
    assert "solo" not in out  # no interior split on n=1
    # the step series splits exactly between the two levels
    assert out["step"].split_pos == 2
    assert out["step"].mean_left_cmicro == 100 * 1_000_000
    assert out["step"].mean_right_cmicro == 900 * 1_000_000


def test_lsh_recall_empty_slice_keeps_row_shape(spark):
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        lsh_recall_eval,
    )

    df = spark.createDataFrame(
        [(1000, "far beyond the eval slice")], "doc_id long, text string"
    )
    rows = lsh_recall_eval(df, "doc_id", "text", max_eval_id=10).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_docs == 0 and r.n_true_pairs == 0 and r.n_cand_pairs == 0
    assert r.recall_ppm is None and r.precision_ppm is None


def test_pair_cosine_hist_rejects_bad_strides(spark):
    import pytest as _pytest

    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        pair_cosine_hist,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "id long, vec array<double>"
    )
    with _pytest.raises(ValueError):
        pair_cosine_hist(df, "id", "vec", strides=[])
    with _pytest.raises(ValueError):
        pair_cosine_hist(df, "id", "vec", strides=[0])


def test_audience_overlap_null_and_jaccard_exact(spark):
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        audience_overlap,
    )

    df = spark.createDataFrame(
        [
            (1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"),
            (None, "a"), (4, None), (1, "a"),  # dup row collapses
        ],
        "u long, t string",
    )
    rows = audience_overlap(df, "u", "t").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.type_a, r.type_b, r.n_a, r.n_b, r.n_both) == (
        "a", "b", 3, 2, 2,
    )
    assert r.jaccard_micro == 1_000_000 * 2 // 3


def test_split_balance_null_label_sentinel(spark):
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        split_balance_audit,
    )

    df = spark.createDataFrame(
        [
            ("train", "x"), ("train", None), ("train", "x"),
            ("test", "x"), (None, "x"),  # NULL split drops
        ],
        "split string, label string",
    )
    rows = split_balance_audit(df, "split", "label").collect()
    got = {(r.split, r.label): r for r in rows}
    assert set(got) == {
        ("train", "x"), ("train", "<NULL>"), ("test", "x"),
    }
    assert got[("train", "x")].split_ppm == 666666
    assert got[("train", "x")].global_ppm == 750000  # 3 of 4 kept rows
    assert got[("train", "<NULL>")].global_ppm == 250000


def test_sign_hamming_known_tiny_case(spark):
    from calp_cva_tracking_pipeline_spark.operators.linalg import (
        sign_hamming_recall,
    )

    # 2-dim space: q=[1,1]; c1=[2,2] (same signs, hamming 0) is also the
    # cosine top-1; c2=[-1,-1] opposite. Binary search must find c1.
    corpus = spark.createDataFrame(
        [(1, [2.0, 2.0]), (2, [-1.0, -1.0]), (10, [1.0, 1.0])],
        "id long, vec array<double>",
    )
    q = corpus.filter("id = 10")
    r = sign_hamming_recall(
        corpus, q, "id", "vec", "id", "vec", dim=2, k=1
    ).collect()[0]
    assert (r.dims, r.k, r.n_pairs, r.n_hit, r.recall_ppm) == (
        2, 1, 1, 1, 1_000_000,
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sign_hamming_recall(corpus, q, "id", "vec", "id", "vec", dim=0)


def test_frontier_rejects_bad_nprobes(spark):
    import pytest as _pytest

    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        ivf_recall_frontier,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "id long, vec array<double>"
    )
    with _pytest.raises(ValueError):
        ivf_recall_frontier(
            df, df, "id", "vec", "id", "vec", 1, nprobes=[0]
        )


def test_compaction_oversized_cell_owns_its_bin(spark):
    from calp_cva_tracking_pipeline_spark.operators.layout import (
        compaction_plan,
    )

    rows = (
        [("a", "d1")] * 5        # oversized cell (target 3)
        + [("a", "d2")] * 2
        + [("a", "d3")] * 2
        + [("b", "d1")] * 1
        + [("b", None)] * 3      # NULL order key drops
    )
    df = spark.createDataFrame(rows, "p string, o string")
    got = [
        tuple(r)
        for r in compaction_plan(df, ["p"], "o", target_rows=3).collect()
    ]
    # a/d1 (5 rows, pre=0) -> bin 0 alone; d2 (pre=5) -> bin 1;
    # d3 (pre=7) -> bin 2; b/d1 -> bin 0
    assert got == [
        ("a", 0, 1, 5, "d1", "d1"),
        ("a", 1, 1, 2, "d2", "d2"),
        ("a", 2, 1, 2, "d3", "d3"),
        ("b", 0, 1, 1, "d1", "d1"),
    ]


def test_null_drift_requires_cols(spark):
    import pytest as _pytest

    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        null_rate_drift,
    )

    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1)], "ts string, v int"
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "v")
    with _pytest.raises(ValueError):
        null_rate_drift(df, "ts", [])
