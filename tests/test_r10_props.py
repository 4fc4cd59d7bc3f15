"""Randomized / reference cross-checks for the round-10 wave (T152-T157):
each operator against an independent brute-force reference on
adversarial-ish synthetic inputs — the test_wave22_props.py discipline.
The embedding_outliers cross-check lives in tests/test_ivf.py.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# T156 shard_shuffle
# ---------------------------------------------------------------------------


def test_shard_shuffle_permutation_properties(spark):
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        shard_shuffle,
    )

    n, shards = 500, 7
    df = spark.range(n).withColumnRenamed("id", "doc_id")
    out = shard_shuffle(df, "doc_id", n_shards=shards, seed=3).collect()
    assert len(out) == n
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(shards))
    for s, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), s
    # deterministic under repartition
    out2 = (
        shard_shuffle(df.repartition(13), "doc_id", n_shards=shards, seed=3)
        .collect()
    )
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # a different seed redraws the permutation
    out3 = shard_shuffle(df, "doc_id", n_shards=shards, seed=4).collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, out3))
    # shards are roughly balanced (md5 uniformity; loose 3x bound)
    sizes = [len(v) for v in by_shard.values()]
    assert max(sizes) <= 3 * max(1, min(sizes))


# ---------------------------------------------------------------------------
# T157 time_split
# ---------------------------------------------------------------------------


def test_time_split_matches_brute_force(spark):
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        time_split,
    )

    rng = random.Random(11)
    base = 1_700_000_000_000_000  # micros
    ts_us = [base + rng.randrange(0, 90 * 86400 * 1_000_000)
             for _ in range(400)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ts_us)], "id long, ts_us long"
    ).select("id", F.timestamp_micros(F.col("ts_us")).alias("ts"))
    out = {
        r.split: r.n_rows
        for r in time_split(
            df, "ts", boundaries_ppm=(700000, 850000), embargo_s=86400
        ).collect()
    }

    # brute force with percentile_cont interpolation (linear), mirroring
    # exact_percentiles' round-to-6dp contract
    def qcont(vals, p):
        v = sorted(vals)
        k = (len(v) - 1) * p
        lo, hi = math.floor(k), math.ceil(k)
        if lo == hi:
            return float(v[lo])
        return v[lo] + (k - lo) * (v[hi] - v[lo])

    c1 = round(qcont([float(t) for t in ts_us], 0.7), 6)
    c2 = round(qcont([float(t) for t in ts_us], 0.85), 6)
    e = 86400 * 1e6
    ref: dict[str, int] = {}
    for t in ts_us:
        td = float(t)
        if td <= c1:
            s = "train"
        elif td <= c1 + e:
            s = "embargo"
        elif td <= c2:
            s = "val"
        elif td <= c2 + e:
            s = "embargo"
        else:
            s = "test"
        ref[s] = ref.get(s, 0) + 1
    assert out == ref
    assert sum(out.values()) == 400  # embargo audited, never dropped


def test_time_split_empty_input(spark):
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        time_split,
    )

    df = spark.createDataFrame([], "id long, ts timestamp")
    assert time_split(df, "ts").count() == 0


# ---------------------------------------------------------------------------
# T154 boilerplate_spans
# ---------------------------------------------------------------------------


def test_boilerplate_detection_guarantee(spark):
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        boilerplate_spans,
    )

    k = 4
    chrome = "home about contact subscribe"  # exactly one k-span
    rng = random.Random(5)
    rows = []
    for i in range(30):
        body = " ".join(f"u{i}w{j}" for j in range(rng.randrange(4, 20)))
        # half the docs carry the chrome span at the FRONT (span
        # boundaries are position-dependent; a fixed prefix aligns)
        text = f"{chrome} {body}" if i % 2 == 0 else body
        rows.append((i, "siteA" if i < 15 else "siteB", text))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r.source: r
        for r in boilerplate_spans(
            df, "doc_id", "text", "source", k=k, min_docs=2
        ).collect()
    }
    # the chrome span must be flagged in BOTH sources (global df)
    for src in ("siteA", "siteB"):
        assert out[src].n_boiler_spans >= 1, out[src]
        assert out[src].affected_docs >= 7, out[src]
    # a chrome-free corpus reports zero boilerplate
    clean = spark.createDataFrame(
        [(i, "s", " ".join(f"c{i}x{j}" for j in range(8)))
         for i in range(10)],
        "doc_id long, source string, text string",
    )
    row = boilerplate_spans(
        clean, "doc_id", "text", "source", k=k, min_docs=2
    ).collect()[0]
    assert row.n_boiler_spans == 0 and row.boiler_instances == 0


# ---------------------------------------------------------------------------
# T155 mutual_info_pairs
# ---------------------------------------------------------------------------


def test_mutual_info_matches_reference_and_bounds(spark):
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        mutual_info_pairs,
    )

    rng = random.Random(9)
    rows = []
    for _ in range(600):
        a = rng.choice("xyz")
        b = a.upper()  # perfect dependence
        c = rng.choice("pq")  # independent of a
        rows.append((a, b, c))
    df = spark.createDataFrame(rows, "a string, b string, c string")
    out = {
        (r.col_a, r.col_b): r
        for r in mutual_info_pairs(df, ["a", "b", "c"]).collect()
    }
    # perfect dependence: NMI = 1 (MI = H(a) = H(b))
    assert out[("a", "b")].nmi == pytest.approx(1.0, abs=1e-6)
    # independence: MI near 0 (sampling noise only)
    assert out[("a", "c")].mi_nats < 0.02

    # reference MI on the (a, b) pair
    from collections import Counter

    ca = Counter(r[0] for r in rows)
    cb = Counter(r[1] for r in rows)
    cab = Counter((r[0], r[1]) for r in rows)
    n = len(rows)
    ref = 0
    for (va, vb), c in cab.items():
        term = (c / n) * math.log(n * c / (ca[va] * cb[vb]))
        ref += int(round(round(term, 9) * 1e9))
    assert out[("a", "b")].mi_nats == pytest.approx(
        max(ref, 0) / 1e9, abs=2e-6
    )


# ---------------------------------------------------------------------------
# T152/T153 media stats vs direct decode reference
# ---------------------------------------------------------------------------


def test_image_stats_match_decoded_reference(spark):
    from calp_cva_tracking_pipeline_spark.operators.bmp_stdlib import (
        encode_bmp,
    )
    from calp_cva_tracking_pipeline_spark.operators.phash import (
        image_pixel_stats,
    )

    rng = random.Random(2)
    imgs = {}
    for i in range(6):
        px = [rng.randrange(0, 256) for _ in range(64)]
        imgs[i] = px
    rows = [
        (i, encode_bmp(8, 8, bytes(b for v in px for b in (v, v, v))))
        for i, px in imgs.items()
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r.media_id: r
        for r in image_pixel_stats(df, "doc_id", "payload").collect()
    }
    for i, px in imgs.items():
        n = len(px)
        mean = sum(px) / n
        var = sum(v * v for v in px) / n - mean * mean
        r = out[i]
        assert r.n_px == n
        assert r.mean_luma == pytest.approx(round(mean, 6), abs=1e-9)
        assert r.contrast == pytest.approx(
            round(math.sqrt(max(var, 0.0)), 6), abs=1e-9
        )
        assert r.luma_min == min(px) and r.luma_max == max(px)
        assert r.dark_ratio == pytest.approx(
            round(sum(1 for v in px if v <= 31) / n, 6), abs=1e-9
        )


def test_audio_stats_match_decoded_reference(spark):
    import struct

    from calp_cva_tracking_pipeline_spark.operators.phash import (
        audio_sample_stats,
    )
    from calp_cva_tracking_pipeline_spark.operators.wav_stdlib import (
        encode_wav,
    )

    rng = random.Random(4)
    clips = {}
    for i in range(5):
        smp = [rng.randrange(-32768, 32768) for _ in range(200)]
        if i == 0:
            smp[:50] = [0] * 50  # dead air
        if i == 1:
            smp[:10] = [32767] * 10  # clipping
        clips[i] = smp
    rows = [
        (i, encode_wav(8000, 1, 2,
                       b"".join(struct.pack("<h", v) for v in smp)))
        for i, smp in clips.items()
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r.media_id: r
        for r in audio_sample_stats(df, "doc_id", "payload").collect()
    }
    for i, smp in clips.items():
        n = len(smp)
        r = out[i]
        assert r.n_samples == n
        assert r.rms == pytest.approx(
            round(math.sqrt(sum(v * v for v in smp) / n), 6), abs=1e-9
        )
        assert r.peak == max(abs(v) for v in smp)
        assert r.silence_ratio == pytest.approx(
            round(sum(1 for v in smp if abs(v) <= 327) / n, 6), abs=1e-9
        )
        assert r.clip_ratio == pytest.approx(
            round(sum(1 for v in smp if abs(v) >= 32704) / n, 6), abs=1e-9
        )


# ---------------------------------------------------------------------------
# Advisor-proofing guards (found by self-review before the advisor ran)
# ---------------------------------------------------------------------------


def test_audio_stats_zero_frame_clip_yields_null_ratios(spark):
    from calp_cva_tracking_pipeline_spark.operators.phash import (
        audio_sample_stats,
    )
    from calp_cva_tracking_pipeline_spark.operators.wav_stdlib import (
        encode_wav,
    )

    df = spark.createDataFrame(
        [(1, encode_wav(8000, 1, 2, b""))], "doc_id long, payload binary"
    )
    rows = audio_sample_stats(df, "doc_id", "payload").collect()
    assert len(rows) == 1 and rows[0].n_samples == 0
    assert rows[0].rms is None and rows[0].silence_ratio is None


def test_shard_shuffle_rejects_nonpositive_shards(spark):
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        shard_shuffle,
    )

    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="n_shards"):
        shard_shuffle(df, "doc_id", n_shards=0)


def test_snippet_extract_rejects_empty_terms(spark):
    from calp_cva_tracking_pipeline_spark.operators.retrieval import (
        snippet_extract,
    )

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="query_terms"):
        snippet_extract(df, "doc_id", "text", [])


def test_time_split_rejects_unordered_boundaries(spark):
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        time_split,
    )

    df = spark.createDataFrame([], "id long, ts timestamp")
    with pytest.raises(ValueError, match="boundaries_ppm"):
        time_split(df, "ts", boundaries_ppm=(850000, 700000))


# ---------------------------------------------------------------------------
# T162/T163 wave-30 cross-checks
# ---------------------------------------------------------------------------


def test_token_budget_prefix_matches_brute_force(spark):
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        token_budget_select,
    )

    rng = random.Random(13)
    rows = [
        (i, f"g{i % 3}", rng.randrange(1, 50), rng.randrange(0, 1000))
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "id long, grp string, tok long, qual long"
    )
    out = {
        r["grp"]: r
        for r in token_budget_select(
            df, "id", "grp", F.col("tok"), F.col("qual"), budget=300
        ).collect()
    }
    ref: dict[str, dict] = {}
    for g in ("g0", "g1", "g2"):
        docs = sorted(
            (r for r in rows if r[1] == g), key=lambda r: (-r[3], r[0])
        )
        cum = kept = tkept = 0
        for r in docs:
            cum += r[2]
            if cum <= 300:
                kept += 1
                tkept += r[2]
        ref[g] = {
            "n_docs": len(docs),
            "n_kept": kept,
            "tokens_total": sum(r[2] for r in docs),
            "tokens_kept": tkept,
        }
    for g, exp in ref.items():
        for k, v in exp.items():
            assert out[g][k] == v, (g, k, out[g][k], v)
        assert out[g]["fill_ppm"] == round(
            exp["tokens_kept"] * 1e6 / 300
        )


# ---------------------------------------------------------------------------
# T164/T165 wave-31 cross-checks
# ---------------------------------------------------------------------------


def test_dedup_normalized_families(spark):
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        dedup_normalized,
    )

    rows = [
        (1, "Hello, World!"),
        (2, "hello   world"),          # same family as 1 (norm-equal)
        (3, "HELLO WORLD."),           # same family
        (4, "hello worlds"),           # different
        (5, "hello worlds"),           # byte-exact dup of 4
        (6, None),                     # excluded
        (7, "unique text here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        dedup_normalized(df, "doc_id", "text").collect(),
        key=lambda r: r.rep_id,
    )
    assert len(out) == 2
    fam1, fam2 = out
    assert (fam1.rep_id, fam1.n_docs, fam1.n_exact_distinct) == (1, 3, 3)
    assert (fam2.rep_id, fam2.n_docs, fam2.n_exact_distinct) == (4, 2, 1)


def test_bfs_layers_match_reference(spark):
    from calp_cva_tracking_pipeline_spark.operators.graph import bfs_layers

    # path graph 0-1-2-3-4-5 plus a triangle 10-11-12 off node 2
    e = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5),
         (2, 10), (10, 11), (11, 12), (12, 10)]
    edges = spark.createDataFrame(e, "src long, dst long")
    sources = spark.createDataFrame([(0,)], "node long")
    out = {
        r.node: r.dist
        for r in bfs_layers(edges, sources, n_iter=3).collect()
    }
    # brute-force BFS reference, capped at 3 hops
    adj: dict[int, set] = {}
    for a, b in e:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    ref, frontier = {0: 0}, {0}
    for d in (1, 2, 3):
        frontier = {
            n for f in frontier for n in adj[f] if n not in ref
        }
        for n in frontier:
            ref[n] = d
    assert out == ref  # nodes beyond 3 hops (4, 5, 11-via-12?) omitted
    # determinism under repartition
    out2 = {
        r.node: r.dist
        for r in bfs_layers(
            edges.repartition(5), sources, n_iter=3
        ).collect()
    }
    assert out2 == ref


# ---------------------------------------------------------------------------
# T167 radius_join vs brute force (grid coverage must be RECALL-exact)
# ---------------------------------------------------------------------------


def test_radius_join_matches_brute_force(spark):
    from calp_cva_tracking_pipeline_spark.operators.geo import (
        haversine_km,
        radius_join,
    )

    rng = random.Random(21)
    pts = [(i, rng.uniform(-60, 60), rng.uniform(-180, 180))
           for i in range(300)]
    prb = [(j, rng.uniform(-60, 60), rng.uniform(-180, 180))
           for j in range(40)]
    pdf = spark.createDataFrame(pts, "point_id long, lat double, lon double")
    qdf = spark.createDataFrame(prb, "probe_id long, lat double, lon double")
    R = 800.0
    got = {
        (r.probe_id, r.point_id)
        for r in radius_join(pdf, qdf, radius_km=R).collect()
    }
    # brute force via the SAME haversine expression (cross join)
    brute = (
        qdf.withColumnRenamed("lat", "qlat").withColumnRenamed("lon", "qlon")
        .crossJoin(
            pdf.withColumnRenamed("lat", "plat")
            .withColumnRenamed("lon", "plon")
        )
        .select(
            "probe_id", "point_id",
            F.round(
                haversine_km(
                    F.col("qlat"), F.col("qlon"),
                    F.col("plat"), F.col("plon"),
                ), 6,
            ).alias("d"),
        )
        .filter(F.col("d") <= R)
    )
    ref = {(r.probe_id, r.point_id) for r in brute.collect()}
    assert got == ref and len(ref) > 0
    # out-of-band and NULL coordinates are excluded, not wrong
    bad = spark.createDataFrame(
        [(900, 75.0, 0.0), (901, None, 5.0)],
        "probe_id long, lat double, lon double",
    )
    assert radius_join(pdf, bad, radius_km=R).count() == 0


# ---------------------------------------------------------------------------
# FRSQ container + scene cuts
# ---------------------------------------------------------------------------


def test_frsq_roundtrip_and_malformed():
    from calp_cva_tracking_pipeline_spark.operators.videoseq import (
        decode_frsq,
        encode_frsq,
    )

    frames = [b"abc", b"", b"\x00" * 100]
    assert decode_frsq(encode_frsq(frames)) == frames
    assert decode_frsq(encode_frsq([])) == []
    with pytest.raises(ValueError, match="FRSQ"):
        decode_frsq(b"NOTF" + b"\x00" * 10)
    with pytest.raises(ValueError, match="truncated"):
        decode_frsq(encode_frsq([b"abcdef"])[:-3])


def test_scene_cuts_detects_hard_cut_only(spark):
    from calp_cva_tracking_pipeline_spark.operators.bmp_stdlib import (
        encode_bmp,
    )
    from calp_cva_tracking_pipeline_spark.operators.videoseq import (
        encode_frsq,
        scene_cuts,
    )

    def frame(level):
        px = bytes((level,) * (4 * 4 * 3))
        return encode_bmp(4, 4, px)

    # video 1: levels 10,12,11,200,201 -> one cut at frame 3
    v1 = encode_frsq([frame(v) for v in (10, 12, 11, 200, 201)])
    # video 2: smooth ramp, no cut
    v2 = encode_frsq([frame(v) for v in (50, 55, 60, 65)])
    # video 3: malformed payload -> excluded, not wrong
    df = spark.createDataFrame(
        [(1, v1), (2, v2), (3, b"garbage")],
        "doc_id long, payload binary",
    )
    out = scene_cuts(df, "doc_id", "payload", threshold_milli=20000)
    rows = out.collect()
    assert [(r.media_id, r.frame_idx) for r in rows] == [(1, 3)]
    assert rows[0].prev_mean_milli == 11000
    assert rows[0].mean_milli == 200000


# ---------------------------------------------------------------------------
# T171-T173 wave-35 cross-checks
# ---------------------------------------------------------------------------


def test_lexical_diversity_matches_reference(spark):
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        lexical_diversity,
    )

    rows = [
        ("a", "the cat The CAT sat"),      # 5 tokens, types {the,cat,sat}
        ("a", "dog"),                      # +1 token, +1 type
        ("b", "x x x x"),                  # degenerate: 4 tokens, 1 type
        ("b", None),                       # excluded
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {
        r.source: r
        for r in lexical_diversity(df, "text", "source").collect()
    }
    a = out["a"]
    assert (a.n_tokens, a.n_types) == (6, 4)
    assert a.ttr == pytest.approx(round(4 / 6, 6), abs=1e-9)
    assert a.hapax_types == 2  # sat, dog (the=2, cat=2)
    b = out["b"]
    assert (b.n_tokens, b.n_types, b.hapax_types) == (4, 1, 0)
    assert b.ttr == 0.25 and b.hapax_ratio == 0.0


def test_markov_entropy_matches_reference(spark):
    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.catalog.scale import (
        ev_markov_entropy,
    )
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        transition_matrix,
    )

    sf = "/root/testdata/sf0.001"
    out = {
        r.from_type: r for r in ev_markov_entropy(spark, sf).collect()
    }
    trans = transition_matrix(
        T(spark, sf, "events"), "user_id", "ts", "event_type",
        tiebreak_cols=["event_id"],
    ).collect()
    by_from: dict[str, list[int]] = {}
    for r in trans:
        by_from.setdefault(r.from_type, []).append(r.n_transitions)
    for ft, counts in by_from.items():
        tot = sum(counts)
        ent = sum(
            int(round(round(-(c / tot) * math.log(c / tot), 9) * 1e9))
            for c in counts
        )
        r = out[ft]
        assert r.out_degree == len(counts)
        assert r.n_transitions == tot
        assert r.entropy_nats == pytest.approx(
            round(ent / 1e9, 6), abs=1e-9
        )


def test_spatial_clusters_match_brute_force(spark):
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        connected_components,
    )
    from calp_cva_tracking_pipeline_spark.operators.geo import radius_join

    rng = random.Random(31)
    pts = [(i, rng.uniform(-50, 50), rng.uniform(-40, 40))
           for i in range(120)]
    df = spark.createDataFrame(pts, "point_id long, lat double, lon double")
    R = 400.0
    pairs = radius_join(
        df, df, radius_km=R,
        point_cols=("point_id", "lat", "lon"),
        probe_cols=("point_id", "lat", "lon"),
    ).filter(F.col("probe_id") < F.col("point_id"))
    got = {
        r.node: r.component
        for r in connected_components(
            pairs, src_col="probe_id", dst_col="point_id"
        ).collect()
    }
    # brute-force union-find over haversine pairs
    import math as m

    def hav(a, b):
        la1, lo1 = m.radians(a[1]), m.radians(a[2])
        la2, lo2 = m.radians(b[1]), m.radians(b[2])
        x = (m.sin((la2 - la1) / 2) ** 2
             + m.cos(la1) * m.cos(la2) * m.sin((lo2 - lo1) / 2) ** 2)
        return 2 * 6371.0088 * m.asin(m.sqrt(x))

    parent = {p[0]: p[0] for p in pts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    linked = set()
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            if round(hav(pts[i], pts[j]), 6) <= R:
                linked.add(pts[i][0])
                linked.add(pts[j][0])
                ra, rb = find(pts[i][0]), find(pts[j][0])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    ref = {
        n: min(
            k for k in parent if find(k) == find(n)
        )
        for n in linked
    }
    assert got == ref


def test_frame_dedup_groups_by_decoded_pixels(spark):
    from calp_cva_tracking_pipeline_spark.operators.bmp_stdlib import (
        encode_bmp,
    )
    from calp_cva_tracking_pipeline_spark.operators.videoseq import (
        encode_frsq,
        frame_dedup_groups,
    )

    def frame(level):
        return encode_bmp(4, 4, bytes((level,) * 48))

    shared, unique_a, unique_b = frame(100), frame(7), frame(201)
    v1 = encode_frsq([shared, unique_a])
    v2 = encode_frsq([unique_b, shared, shared])
    v3 = encode_frsq([frame(55)])
    df = spark.createDataFrame(
        [(1, v1), (2, v2), (3, v3)], "doc_id long, payload binary"
    )
    out = frame_dedup_groups(df, "doc_id", "payload", min_group=2).collect()
    # exactly one duplicate group: the shared frame, 3 occurrences
    # across 2 videos, represented by (video 1, frame 0)
    assert len(out) == 1
    g = out[0]
    assert (g.n_frames, g.n_videos, g.rep_media, g.rep_frame) == (3, 2, 1, 0)
