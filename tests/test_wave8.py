"""Eighth-wave operators: inverted-index posting lists, int8
quantization, k-anonymity audit (the EWMA and rolling-anomaly tests live
in test_temporal.py)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.operators.linalg import quantize_int8
from calp_cva_tracking_pipeline_spark.operators.profiling import k_anonymity
from calp_cva_tracking_pipeline_spark.operators.retrieval import posting_lists


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# posting_lists
# ---------------------------------------------------------------------------


def test_posting_lists_reference(spark):
    docs = [
        (1, "a a a b"),
        (2, "a b b c"),
        (3, "a c"),
        (4, "b"),
    ]
    toks = (
        spark.createDataFrame(docs, "doc_id bigint, text string")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    )
    got = {
        r["token"]: (r["df"], r["postings"])
        for r in posting_lists(toks, "token", "doc_id", top_m=2).collect()
    }
    # a: tf 3@1, 1@2, 1@3 → top2 = [1, 2]; df 3
    assert got["a"] == (3, [1, 2])
    # b: tf 2@2, 1@1, 1@4 → [2, 1]; df 3
    assert got["b"] == (3, [2, 1])
    assert got["c"] == (2, [2, 3])


def test_posting_lists_bounded_and_two_exchanges(spark, sf_dir):
    import calp_cva_tracking_pipeline_spark.catalog.scale as S

    df = S.rt_posting_lists(spark, sf_dir)
    # plan BEFORE any action: post-collect the AQE plan string holds both
    # Final and Initial sections and double-counts every node
    plan = _executed(df)
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan
    # the rank cut must push a partial top-m below the token exchange
    assert "WindowGroupLimit" in plan
    rows = df.collect()
    assert all(len(r["postings"]) <= S.POSTINGS_M for r in rows)


# ---------------------------------------------------------------------------
# quantize_int8
# ---------------------------------------------------------------------------


def test_quantize_int8_range_roundtrip_and_dead_dim(spark):
    rng = random.Random(3)
    rows = [
        (i, [round(rng.uniform(-2, 2), 4) for _ in range(7)] + [0.0])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = quantize_int8(df, "embedding", "vec_id").collect()
    raw = {i: v for i, v in rows}
    scales = out[0]["scales"]
    assert scales[7] == 0.0  # dead dimension
    for r in out:
        assert all(-127 <= q <= 127 for q in r["qvec"])
        assert r["qvec"][7] == 0
        for d, q in enumerate(r["qvec"][:7]):
            # dequantization error ≤ half a step
            x = raw[r["vec_id"]][d]
            assert abs(q * scales[d] / 127.0 - x) <= scales[d] / 127.0 * 0.5 + 1e-4


# ---------------------------------------------------------------------------
# k_anonymity
# ---------------------------------------------------------------------------


def test_k_anonymity_flags_small_classes(spark):
    rows = [("US", "a")] * 10 + [("US", "b")] * 2 + [("FR", "a")]
    df = spark.createDataFrame(rows, "country string, seg string")
    got = {
        (r["country"], r["seg"]): (r["n"], r["risky"])
        for r in k_anonymity(df, ["country", "seg"], k=5).collect()
    }
    assert got[("US", "a")] == (10, False)
    assert got[("US", "b")] == (2, True)
    assert got[("FR", "a")] == (1, True)


