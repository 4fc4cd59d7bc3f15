"""Round-12 wave-50 operator pins: filtered ANN, bloom prescreen,
water-filling allocation — hand-built inputs with independently derived
values, plus plan shapes."""

from __future__ import annotations


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bloom_prescreen_hand_corpus(spark):
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        bloom_prescreen,
    )

    hist = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(8)] + [(100, None)],
        "doc_id long, text string",
    )
    inc = spark.createDataFrame(
        [
            (200, "doc number 3"),   # true duplicate
            (201, "doc number 3"),   # same digest — collapses
            (202, "novel text A"),
            (203, "novel text B"),
        ],
        "doc_id long, text string",
    )
    row = bloom_prescreen(hist, inc).collect()[0]
    # m = 2^bitlen(8*8) = 2^7 = 128
    assert (row.n_history, row.n_incoming, row.m_bits) == (8, 3, 128)
    assert 1 <= row.n_bits_set <= 24  # ≤ k*n, dedup possible
    assert row.fill_ppm == 1_000_000 * row.n_bits_set // 128
    assert row.exact_dups == 1
    # a true duplicate ALWAYS hits the filter (no false negatives)
    assert row.bloom_hits >= 1
    assert row.false_positives == row.bloom_hits - 1
    assert row.fp_ppm == 1_000_000 * row.false_positives // 2


def test_bloom_prescreen_no_false_negatives_property(spark):
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        bloom_prescreen,
    )

    hist = spark.createDataFrame(
        [(i, f"t{i}") for i in range(50)], "doc_id long, text string"
    )
    # incoming = 20 re-sent docs: every one must bloom-hit
    inc = spark.createDataFrame(
        [(1000 + i, f"t{i}") for i in range(20)],
        "doc_id long, text string",
    )
    row = bloom_prescreen(hist, inc).collect()[0]
    assert (row.exact_dups, row.bloom_hits, row.false_positives) == (
        20, 20, 0,
    )


def test_waterfill_hand_supplies(spark):
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        waterfill_allocation,
    )

    # supplies 10, 20, 100, 100; budget_ppm 500000 -> budget = 115.
    # sorted: a(10): 10*4=40 <= 115 ok; b(20): 20*3=60 <= 105 ok;
    # c(100): 100*2=200 > 85 no. level = 85 div 2 = 42, rem 1 ->
    # first truncated (c by key order among equals) gets 43, d gets 42
    sup = spark.createDataFrame(
        [("a", 10), ("b", 20), ("c", 100), ("d", 100)],
        "source string, tokens long",
    )
    out = {
        r.source: r
        for r in waterfill_allocation(
            sup, "source", "tokens", budget_ppm=500_000
        ).collect()
    }
    assert (out["a"].alloc, out["a"].satisfied) == (10, True)
    assert (out["b"].alloc, out["b"].satisfied) == (20, True)
    assert (out["c"].alloc, out["c"].satisfied) == (43, False)
    assert (out["d"].alloc, out["d"].satisfied) == (42, False)
    assert sum(r.alloc for r in out.values()) == 115


def test_waterfill_full_budget_satisfies_everyone(spark):
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        waterfill_allocation,
    )

    sup = spark.createDataFrame(
        [("a", 7), ("b", 3)], "source string, tokens long"
    )
    out = waterfill_allocation(
        sup, "source", "tokens", budget_ppm=1_000_000
    ).collect()
    assert all(r.satisfied and r.alloc == r.supply for r in out)


def test_waterfill_budget_sum_exact_property(spark):
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        waterfill_allocation,
    )

    sup = spark.createDataFrame(
        [(f"s{i}", 13 * (i + 1) % 97 + 1) for i in range(17)],
        "source string, tokens long",
    )
    total = sum(13 * (i + 1) % 97 + 1 for i in range(17))
    for ppm in (100_000, 371_000, 810_000, 999_999):
        out = waterfill_allocation(
            sup, "source", "tokens", budget_ppm=ppm
        ).collect()
        assert sum(r.alloc for r in out) == total * ppm // 1_000_000
        # truncated allocations never exceed any satisfied supply's gap:
        # the level is common — all truncated allocs differ by at most 1
        trunc = [r.alloc for r in out if not r.satisfied]
        if trunc:
            assert max(trunc) - min(trunc) <= 1


def test_wave50_plans_no_cartesian_no_python(spark, sf_dir):
    import calp_cva_tracking_pipeline_spark.catalog.scale as S

    for fn in (S.ann_filtered_topk, S.dd_bloom_prescreen, S.mx_waterfill):
        plan = _executed(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__
        assert "ArrowEvalPython" not in plan, fn.__name__
