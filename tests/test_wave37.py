"""Round-11 wave-37 operator pins: exact-substring duplicate-run spans —
hand-built inputs with independently-derived expectations. The
video-level near-dup pins live in tests/test_bucket_pairs.py, the
hard-negative mining and incremental IVF audit pins in
tests/test_ivf.py."""

from __future__ import annotations


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
