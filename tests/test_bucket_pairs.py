"""The bucket → candidate-pair kernel (``dedup.bucket_pairs`` and its
in-array expansion ``dedup._pairs``) and the operators whose candidate
step it is: the kernel against ``itertools.combinations``, the source
scan that keeps the expansion in one place, then the winnowing,
split-leakage, video near-dup and association-rule pins."""

from __future__ import annotations

import hashlib
import inspect
import random
import re
from itertools import combinations
from pathlib import Path

from pyspark.sql import Row

from calp_cva_tracking_pipeline_spark.operators.assoc import (
    association_rules,
)
from calp_cva_tracking_pipeline_spark.operators.dedup import (
    _pairs,
    bucket_pairs,
)

_PKG = Path(__file__).resolve().parents[1] / "calp_cva_tracking_pipeline_spark"

# (bucket, member, tag): bucket 1 is a singleton, bucket 3 holds a NULL
# member, buckets 4/5 sit on either side of a cap of 4
_ROWS = (
    [(1, 7, "s")]
    + [(2, m, f"t{m}") for m in (30, 10, 20)]
    + [(3, m, f"u{m}") for m in (5, None, 2)]
    + [(4, m, f"v{m}") for m in (4, 3, 2, 1)]
    + [(5, m, f"w{m}") for m in (9, 8, 7, 6, 5)]
)


def _expected(rows, cap):
    by: dict[int, list] = {}
    for b, m, _ in rows:
        by.setdefault(b, []).append(m)
    out = set()
    for b, ms in by.items():
        if cap is not None and not 2 <= len(ms) <= cap:
            continue
        present = sorted(m for m in ms if m is not None)
        out |= {(b, x, y) for x, y in combinations(present, 2)}
    return out


def test_bucket_pairs_matches_combinations(spark):
    df = spark.createDataFrame(_ROWS, "b long, m long, tag string")
    for cap in (None, 2, 4, 5):
        got = bucket_pairs(df, ["b"], "m", cap)
        assert got.columns == ["b", "m_a", "m_b"]
        rows = [tuple(r) for r in got.collect()]
        assert len(rows) == len(set(rows))
        assert set(rows) == _expected(_ROWS, cap), cap


def test_bucket_pairs_carries_struct_members_to_both_sides(spark):
    rows = [r for r in _ROWS if r[1] is not None]
    df = spark.createDataFrame(rows, "b long, m long, tag string")
    got = bucket_pairs(df, ["b"], ["m", "tag"], cap=4)
    assert got.columns == ["b", "m_a", "m_b", "tag_a", "tag_b"]
    tag = {(b, m): t for b, m, t in rows}
    assert {tuple(r) for r in got.collect()} == {
        (b, x, y, tag[b, x], tag[b, y]) for b, x, y in _expected(rows, 4)
    }


def test_bucket_pairs_plans_a_window_only_with_a_cap(spark):
    df = spark.createDataFrame(_ROWS, "b long, m long, tag string")

    def windows(cap):
        plan = bucket_pairs(df, ["b"], "m", cap)._jdf.queryExecution()
        return plan.optimizedPlan().toString().count("Window ")

    assert windows(None) == 0
    assert windows(3) == 1


def test_pairs_pairs_a_repeated_member_by_position(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([([1, 1, 2],)], "arr array<long>")
    got = [
        (r.m_a, r.m_b)
        for r in df.select(F.explode(_pairs("arr", "m")).alias("p"))
        .select("p.*")
        .collect()
    ]
    assert got == [(1, 1), (1, 2), (1, 2)]


def test_pair_expansion_is_spelled_only_in_pairs():
    """One spelling of the in-array expansion: the ``i + 2`` slice lives
    in ``_pairs`` alone, and no bucket-pair operator keeps its own
    collect or cap window."""
    from calp_cva_tracking_pipeline_spark.operators import (
        assoc,
        dedup,
        graph,
        phash,
        videoseq,
    )

    slice_i2 = re.compile(r"slice\([^()]*,\s*i\s*\+\s*2\s*,")
    hits = [
        f"{p.relative_to(_PKG)}:{n}"
        for p in sorted(_PKG.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if slice_i2.search(line)
    ]
    src, start = inspect.getsourcelines(_pairs)
    assert hits == [
        f"operators/dedup.py:{start + i}"
        for i, line in enumerate(src)
        if slice_i2.search(line)
    ]
    assert len(hits) == 1
    sites = [
        dedup.minhash_lsh_candidates,
        dedup.neardup_incremental,
        dedup.simhash_candidates,
        dedup.passage_overlap_pairs,
        dedup.winnow_overlap_pairs,
        dedup.split_leakage_audit,
        graph.adamic_adar,
        graph.square_census,
        phash.image_phash_pairs,
        videoseq.video_neardup_pairs,
        assoc.association_rules,
    ]
    for fn in sites:
        body = inspect.getsource(fn)
        assert "bucket_pairs(" in body, fn.__name__
        assert "collect_list" not in body, fn.__name__
        assert "__bn" not in body, fn.__name__


# --- winnowing ---


def _h60(s: str) -> int:
    """Python twin of functions.hashing.stable_hash64."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _winnow_ref(text: str, k: int, w: int) -> set[int]:
    """Reference winnowing fingerprint set (Schleimer et al. Fig. 5,
    set semantics: per full window keep the min gram hash; short docs
    with >= 1 gram keep their global min)."""
    toks = text.split()
    grams = [
        _h60(" ".join(toks[i : i + k])) for i in range(len(toks) - k + 1)
    ]
    if not grams:
        return set()
    if len(grams) < w:
        return {min(grams)}
    return {min(grams[i : i + w]) for i in range(len(grams) - w + 1)}


def test_winnow_fingerprints_match_python_reference(spark):
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        winnow_fingerprints,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "a b c d e f g h i j k l m n o p"),
        (3, "one two three four five"),  # exactly 1 gram at k=5
        (4, "too short"),  # < k tokens: no fingerprints
        (5, "w x y z aa bb"),  # 2 grams < w: global min only
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = winnow_fingerprints(df, "doc_id", k=5, window=4)
    got: dict[int, set[int]] = {}
    for r in out.collect():
        got.setdefault(r.doc_id, set()).add(r.fp)
    for doc_id, text in docs:
        assert got.get(doc_id, set()) == _winnow_ref(text, 5, 4), doc_id


def test_winnow_detects_shared_runs_at_guarantee_length(spark):
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        winnow_overlap_pairs,
    )

    # k=5, w=4 -> guarantee t = 8 shared tokens. Docs 1/2 share an
    # 8-token run embedded in otherwise-disjoint text; doc 3 is unrelated.
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [
        (1, "intro words here " + shared + " closing remarks follow now"),
        (2, "completely different opening " + shared + " different tail"),
        (3, "nothing in common with either document at all whatsoever ok"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_overlap_pairs(
            df, "doc_id", k=5, window=4
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all({a, b} == {1, 2} for a, b in pairs)


def test_winnow_volume_strictly_below_all_grams(spark):
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        winnow_fingerprints,
    )

    # 60 distinct tokens -> 56 grams; winnowing must select far fewer
    # (expected ~2/(w+1) of positions; distinct-set even fewer).
    text = " ".join(f"tok{i * 7 % 61}" for i in range(60))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    n_fp = winnow_fingerprints(df, "doc_id", k=5, window=4).count()
    n_grams = 60 - 5 + 1
    assert 0 < n_fp < n_grams / 2
    # deterministic across runs
    assert (
        winnow_fingerprints(df, "doc_id", k=5, window=4)
        .agg(F.count("*"))
        .first()[0]
        == n_fp
    )


def test_winnow_guarantee_under_random_shared_runs(spark):
    """Any two docs sharing a random run of >= window+k-1 tokens MUST
    pair (the winnowing correctness theorem), for random placements and
    random surrounding text."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        winnow_overlap_pairs,
    )

    rng = random.Random(2201)
    K, W = 5, 4
    t = W + K - 1  # 8
    docs = []
    must_pair = set()
    did = 0
    for case in range(30):
        run_len = rng.randint(t, t + 6)
        shared = [f"s{case}_{j}" for j in range(run_len)]
        ids = []
        for side in range(2):
            pre = [f"p{case}_{side}_{j}" for j in range(rng.randint(0, 10))]
            post = [f"q{case}_{side}_{j}" for j in range(rng.randint(0, 10))]
            docs.append((did, " ".join(pre + shared + post)))
            ids.append(did)
            did += 1
        must_pair.add((min(ids), max(ids)))
    # plus unique noise docs that must pair with nobody
    for _ in range(20):
        docs.append(
            (did, " ".join(f"n{did}_{j}" for j in range(rng.randint(6, 30))))
        )
        did += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in winnow_overlap_pairs(
            df, "doc_id", k=K, window=W, max_docs_per_fp=64
        ).collect()
    }
    missing = must_pair - got
    assert not missing, f"guarantee violated for {sorted(missing)[:5]}"
    # noise docs never pair
    noise_ids = set(range(60, did))
    assert all(
        a not in noise_ids and b not in noise_ids for a, b in got
    )


# --- split leakage ---


def test_split_leakage_audit_cross_cells(spark):
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        split_leakage_audit,
    )
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        group_split,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    # 12 docs: 0/1 exact dups, 2/3 share an 8-token run, rest unique
    docs = [
        (0, "identical text body repeated exactly the same here okay"),
        (1, "identical text body repeated exactly the same here okay"),
        (2, "intro words here " + shared + " closing remarks follow"),
        (3, "different opening " + shared + " and a different tail"),
    ] + [
        (i, f"totally unique document number {i} with filler words "
            f"xx{i} yy{i} zz{i} ww{i} vv{i}")
        for i in range(4, 12)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = split_leakage_audit(df, "doc_id", "text").collect()
    total_exact = sum(r.n_exact_pairs for r in out)
    total_near = sum(r.n_near_pairs for r in out)
    assert total_exact == 1  # the (0,1) pair
    assert total_near >= 2   # (0,1) exact pair is also near; plus (2,3)
    # the pair cells must be consistent with the actual assignment
    splits = {
        r["__id"]: r["split"]
        for r in group_split(
            df.selectExpr("doc_id as __id", "text"), "__id",
            {"train": 0.8, "val": 0.1, "test": 0.1},
        ).collect()
    }
    s0, s1 = sorted([splits[0], splits[1]])
    ex_cell = {(r.split_a, r.split_b): r.n_exact_pairs for r in out}
    assert ex_cell.get((s0, s1), 0) == 1
    for r in out:
        assert r.cross == (r.split_a != r.split_b)


# --- video near-dup ---


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


def test_video_neardup_matches_python_sets(spark):
    from calp_cva_tracking_pipeline_spark.operators.bmp_stdlib import (
        encode_bmp,
    )
    from calp_cva_tracking_pipeline_spark.operators.videoseq import (
        encode_frsq,
        video_neardup_pairs,
    )

    rng = random.Random(7)
    frames = {i: encode_bmp(2, 2, bytes((i,) * 12)) for i in range(12)}
    vids = {
        v: [rng.randint(0, 11) for _ in range(rng.randint(1, 6))]
        for v in range(8)
    }
    df = spark.createDataFrame(
        [(v, encode_frsq([frames[f] for f in fs])) for v, fs in vids.items()],
        "doc_id long, payload binary",
    )
    got = {
        (r.id_a, r.id_b): (
            r.shared_frames, r.n_frames_a, r.n_frames_b, r.jaccard_ppm
        )
        for r in video_neardup_pairs(df, "doc_id", "payload").collect()
    }
    exp = {}
    sets = {v: set(fs) for v, fs in vids.items()}
    for a in sets:
        for b in sets:
            if a < b:
                sh = len(sets[a] & sets[b])
                if sh >= 1:
                    na, nb = len(sets[a]), len(sets[b])
                    exp[(a, b)] = (
                        sh, na, nb, 1_000_000 * sh // (na + nb - sh)
                    )
    assert got == exp


# --- association rules ---


def test_association_rules_hand_computed(spark):
    # 4 baskets over items 1..3; item 4 infrequent (appears once).
    baskets = {
        10: [1, 2, 3],
        20: [1, 2],
        30: [1, 2, 4],
        40: [3, 1],
    }
    rows = [
        Row(b=b, i=i) for b, items in baskets.items() for i in items
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r.antecedent, r.consequent): (
            r.pair_n,
            r.support,
            r.confidence,
            r.lift,
        )
        for r in association_rules(
            df, "b", "i", min_item_count=2, min_pair_count=2
        ).collect()
    }
    # item counts: 1->4, 2->3, 3->2, 4->1 (dropped). pairs: (1,2)->3,
    # (1,3)->2, (2,3)->1 (below floor). n_baskets = 4.
    assert set(got) == {(1, 2), (2, 1), (1, 3), (3, 1)}
    assert got[(1, 2)] == (3, 0.75, 0.75, 1.0)
    assert got[(2, 1)] == (3, 0.75, 1.0, 1.0)
    assert got[(1, 3)] == (2, 0.5, 0.5, 1.0)
    assert got[(3, 1)] == (2, 0.5, 1.0, 1.0)


def test_association_rules_mega_basket_guard_and_dup_rows(spark):
    rows = [Row(b=1, i=i) for i in range(10)] + [
        Row(b=2, i=0),
        Row(b=2, i=1),
        Row(b=2, i=0),  # duplicate (basket, item) row: counted once
        Row(b=3, i=0),
        Row(b=3, i=1),
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r.antecedent, r.consequent): r.pair_n
        for r in association_rules(
            df,
            "b",
            "i",
            min_item_count=1,
            min_pair_count=2,
            max_basket=5,
        ).collect()
    }
    # basket 1 (10 items > cap) contributes no pairs; (0,1) co-occurs in
    # baskets 2 and 3 only.
    assert got == {(0, 1): 2, (1, 0): 2}
