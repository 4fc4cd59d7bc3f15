"""Round-11 wave-37 operator pins: video-level near-dup and
exact-substring duplicate-run spans — hand-built inputs with
independently-derived expectations. The hard-negative mining and
incremental IVF audit pins live in tests/test_ivf.py."""

from __future__ import annotations


def test_video_neardup_pairs_hand_videos(spark):
    from calp_cva_tracking_pipeline_spark.operators.bmp_stdlib import (
        encode_bmp,
    )
    from calp_cva_tracking_pipeline_spark.operators.videoseq import (
        encode_frsq,
        video_neardup_pairs,
    )

    def frame(level):
        return encode_bmp(4, 4, bytes((level,) * 48))

    A, B, C, D = frame(10), frame(20), frame(30), frame(40)
    rows = [
        (1, encode_frsq([A, B])),        # shares A,B with 2; A with 3
        (2, encode_frsq([A, B, C])),     # shares A with 3
        (3, encode_frsq([A, A, D])),     # duplicate frame collapses
        (4, encode_frsq([frame(99)])),   # isolated
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        (r.id_a, r.id_b): r
        for r in video_neardup_pairs(df, "doc_id", "payload").collect()
    }
    assert set(out) == {(1, 2), (1, 3), (2, 3)}
    # v1={A,B} v2={A,B,C}: shared 2, jacc = 2/3
    r = out[(1, 2)]
    assert (r.shared_frames, r.n_frames_a, r.n_frames_b) == (2, 2, 3)
    assert r.jaccard_ppm == 1_000_000 * 2 // 3
    # v3's duplicate A counts once: {A,D}
    r = out[(1, 3)]
    assert (r.shared_frames, r.n_frames_a, r.n_frames_b) == (1, 2, 2)
    assert r.jaccard_ppm == 1_000_000 // 3


def test_video_neardup_single_decode_stage(spark):
    from calp_cva_tracking_pipeline_spark.operators.bmp_stdlib import (
        encode_bmp,
    )
    from calp_cva_tracking_pipeline_spark.operators.videoseq import (
        encode_frsq,
        video_neardup_pairs,
    )

    f = encode_bmp(2, 2, bytes(12))
    df = spark.createDataFrame(
        [(i, encode_frsq([f])) for i in range(4)],
        "doc_id long, payload binary",
    )
    out = video_neardup_pairs(df, "doc_id", "payload")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the decode must be planned once (bucketed pair expansion, not a
    # self-join of the decode-derived frame); the per-video size join
    # reuses the distinct exchange
    assert plan.count("ArrowEvalPython") <= 1, plan.count("ArrowEvalPython")


def test_duplicate_run_spans_hand_docs(spark):
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        duplicate_run_spans,
    )

    shared = " ".join(f"s{i}" for i in range(10))  # 10 shared tokens
    rows = [
        # shared run sits at tokens 3..12 of doc 1, 1..10 of doc 2
        (1, "a b c " + shared + " z z2 z3"),
        (2, shared + " q1 q2 q3 q4"),
        # doc 3: internal repetition only — must NOT mark
        (3, " ".join(["r1 r2 r3 r4 r5 r6 r7 r8"] * 2)),
        (4, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_run_spans(df, "doc_id", "text", k=8).collect()
    got = {(r.doc_id): (r.span_start, r.span_end, r.n_grams) for r in out}
    # doc 1: grams at 0-based starts 3,4,5 (k=8 inside the 10-token
    # shared run shifted by 3) -> 1-based span [4, 13], 3 grams
    assert got[1] == (4, 13, 3)
    # doc 2: starts 0,1,2 -> span [1, 10]
    assert got[2] == (1, 10, 3)
    assert 3 not in got and 4 not in got
    assert len(out) == 2
