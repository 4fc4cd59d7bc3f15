"""Round-12 wave-52 operator pins: forecast-baseline backtest,
prune-plan simulator, chunk-dedup census — hand-built inputs with
independently derived values, plus plan shapes (the 4-cycle census
pins live in tests/test_graph.py)."""

from __future__ import annotations

import datetime as dt


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_forecast_backtest_hand_series(spark):
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        forecast_backtest,
    )

    d = lambda day: dt.datetime(2024, 1, day, 12)  # noqa: E731
    # key a: days 1..5 values 1,2,4,8,16 (micro 1e6..16e6)
    rows = [("a", d(i + 1), float(2 ** i)) for i in range(5)]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double"
    )
    out = {
        (r.event_type, r.method): r
        for r in forecast_backtest(
            df, "event_type", "ts", "value", season=2, ma_window=2
        ).collect()
    }
    nv = out[("a", "naive")]
    # naive errors: 1,2,4,8 (micro 1e6..8e6); n=4
    assert (nv.n_preds, nv.mae_micro, nv.sum_err_micro,
            nv.worst_abs_micro) == (4, 3_750_000, 15_000_000, 8_000_000)
    sn = out[("a", "snaive")]
    # season=2: preds on days 3,4,5 -> errors 3,6,12
    assert (sn.n_preds, sn.sum_err_micro) == (3, 21_000_000)
    ma = out[("a", "ma2")]
    # ma2 preds: day3 (1+2)/2=1.5 -> err 2.5; day4 (2+4)/2=3 -> 5;
    # day5 (4+8)/2=6 -> 10
    assert (ma.n_preds, ma.sum_err_micro) == (3, 17_500_000)


def test_prune_plan_hand_cells(spark):
    from calp_cva_tracking_pipeline_spark.operators.layout import (
        prune_plan,
    )

    cells = spark.createDataFrame(
        [
            (0, 9, 10),
            (10, 19, 10),
            (20, 29, 10),
            (None, 5, 3),  # statless cell: always scanned
        ],
        "lo long, hi long, r long",
    )
    preds = spark.createDataFrame(
        [("point", 15, 15), ("all", 0, 100), ("miss", 40, 50)],
        "pred_name string, lo long, hi long",
    )
    out = {
        r.pred_name: r for r in prune_plan(cells, preds).collect()
    }
    p = out["point"]
    assert (p.n_cells, p.n_cells_scanned, p.rows_scanned) == (4, 2, 13)
    assert p.scanned_ppm == 1_000_000 * 13 // 33
    assert (out["all"].n_cells_scanned, out["all"].rows_scanned) == (4, 33)
    # a missing range still scans the statless cell
    assert (out["miss"].n_cells_scanned, out["miss"].rows_scanned) == (
        1, 3,
    )


def test_chunk_dedup_census_hand_docs(spark):
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        chunk_dedup_census,
    )

    # chunk_tokens=2: doc1 = [a b][c d]; doc2 = [a b][x y];
    # doc3 (other source) = [c d]
    docs = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),
            (2, "a b x y", "s1"),
            (3, "c d", "s2"),
            (4, None, "s2"),  # dropped
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r.source: r
        for r in chunk_dedup_census(
            docs, "doc_id", chunk_tokens=2
        ).collect()
    }
    s1 = out["s1"]
    # s1 chunks: [a b], [c d], [a b], [x y] -> 4; dups: both [a b]
    # (within-source) AND [c d] (cross-source with s2) -> 3
    assert (s1.n_chunks, s1.dup_chunks, s1.cross_group_chunks) == (
        4, 3, 1,
    )
    assert s1.dup_ppm == 750_000
    s2 = out["s2"]
    assert (s2.n_chunks, s2.dup_chunks, s2.cross_group_chunks) == (
        1, 1, 1,
    )


def test_wave52_plans_no_cartesian_no_python(spark, sf_dir):
    import calp_cva_tracking_pipeline_spark.catalog.scale as S

    for fn in (S.ts_backtest, S.lx_prune_plan, S.dd_chunk_dedup):
        plan = _executed(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__
        assert "ArrowEvalPython" not in plan, fn.__name__
