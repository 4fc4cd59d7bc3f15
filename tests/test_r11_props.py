"""Round-11 randomized reference cross-checks: each new operator vs an
independently-written pure-Python reference on randomized inputs —
the test_wave22_props discipline (properties, not fixtures)."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F


def test_mmr_matches_python_greedy_random_pools(spark):
    from calp_cva_tracking_pipeline_spark.operators.retrieval import (
        mmr_rerank,
    )

    rng = random.Random(1103)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    pools = {}
    for q in range(5):
        cands = []
        for d in range(rng.randint(1, 9)):
            toks = rng.sample(vocab, rng.randint(0, 12))
            rel = rng.randint(0, 5_000_000)
            cands.append((q * 100 + d, rel, toks))
            rows.append((q, q * 100 + d, rel, toks))
        pools[q] = cands
    df = spark.createDataFrame(
        rows,
        "query_id int, doc_id long, rel_micro long, toks array<string>",
    )
    k, lam = 4, 70
    got = {}
    for r in mmr_rerank(
        df, "query_id", "doc_id", "rel_micro", "toks", k=k, lambda_pct=lam
    ).collect():
        got.setdefault(r.query_id, []).append(
            (r.mmr_rank, r.doc_id, r.mmr_score)
        )

    def jacc(a, b):
        u = len(a | b)
        return (1_000_000 * len(a & b)) // u if u else 0

    for q, cands in pools.items():
        sel, sets, exp = [], [], []
        for rank in range(1, min(k, len(cands)) + 1):
            best = None
            for cid, rel, toks in sorted(cands):
                if cid in sel:
                    continue
                ms = max((jacc(set(toks), s) for s in sets), default=0)
                sc = lam * rel - (100 - lam) * ms
                if best is None or sc > best[2]:
                    best = (cid, set(toks), sc)
            sel.append(best[0])
            sets.append(best[1])
            exp.append((rank, best[0], best[2]))
        assert sorted(got[q]) == exp, q


def test_matryoshka_recall_matches_python_brute(spark):
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        matryoshka_recall,
    )

    rng = random.Random(99)
    dim, n, k = 6, 30, 4
    vecs = {
        i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, v array<double>"
    )
    q = df.filter(F.col("vec_id") < 3)

    def topk(d):
        out = {}
        for qi in range(3):
            scored = []
            for ci, cv in vecs.items():
                if ci == qi:
                    continue
                a, b = vecs[qi][:d], cv[:d]
                dot = sum(x * y for x, y in zip(a, b))
                na = math.sqrt(sum(x * x for x in a))
                nb = math.sqrt(sum(x * x for x in b))
                scored.append((round(dot / (na * nb), 6), -ci))
            scored.sort(reverse=True)
            out[qi] = {-c for _, c in scored[:k]}
        return out

    full = topk(dim)
    got = {
        r.dims: r
        for r in matryoshka_recall(
            df, q, "vec_id", "v", "vec_id", "v", prefix_dims=[2, 4], k=k
        ).collect()
    }
    for d in (2, 4):
        pref = topk(d)
        hits = sum(len(pref[qi] & full[qi]) for qi in range(3))
        assert got[d].hits == hits, d
        assert got[d].recall_ppm == 1_000_000 * hits // (3 * k)


def test_twap_matches_python_integration(spark):
    import datetime as dt

    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        time_weighted_mean,
    )

    rng = random.Random(11)
    rows, series = [], {}
    for k in ("a", "b"):
        t, obs = 0, []
        for i in range(rng.randint(2, 12)):
            t += rng.randint(1, 300)
            v = round(rng.uniform(-50, 50), 2)
            rows.append(
                (k, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=t),
                 i, v)
            )
            obs.append((t, int(round(v * 100))))
        series[k] = obs
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, event_id long, value double"
    )
    out = {
        r.k: r
        for r in time_weighted_mean(
            df, ["k"], "ts", "value", tiebreak_cols=["event_id"]
        ).collect()
    }
    for k, obs in series.items():
        total = obs[-1][0] - obs[0][0]
        svd = sum(
            c * (obs[i + 1][0] - t) for i, (t, c) in enumerate(obs[:-1])
        )
        assert out[k].n_obs == len(obs)
        assert out[k].total_s == total
        if total > 0:
            assert out[k].twap == round(svd / total / 100, 6)


def test_interval_coverage_matches_python_merge(spark):
    import datetime as dt

    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        interval_coverage_gaps,
    )

    rng = random.Random(31)
    rows, per_key = [], {}
    base = dt.datetime(2024, 1, 1)
    for k in ("a", "b", "c"):
        ivs = []
        for _ in range(rng.randint(1, 15)):
            s = rng.randint(0, 5000)
            e = s + rng.randint(0, 800)
            ivs.append((s, e))
            rows.append(
                (k, base + dt.timedelta(seconds=s),
                 base + dt.timedelta(seconds=e))
            )
        per_key[k] = ivs
    df = spark.createDataFrame(
        rows, "k string, w_start timestamp, w_end timestamp"
    )
    out = {
        r.k: r
        for r in interval_coverage_gaps(
            df, ["k"], "w_start", "w_end"
        ).collect()
    }
    for k, ivs in per_key.items():
        merged, gaps = [], []
        for s, e in sorted(ivs):
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                if merged:
                    gaps.append(s - merged[-1][1])
                merged.append((s, e))
        r = out[k]
        assert r.n_intervals == len(ivs)
        assert r.n_islands == len(merged)
        assert r.covered_s == sum(e - s for s, e in merged)
        assert r.gap_s == sum(gaps)
        assert r.max_gap_s == (max(gaps) if gaps else 0)


def test_centroid_drift_matches_python_means(spark):
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        centroid_drift,
    )

    rng = random.Random(5)
    dim = 4
    old = [(i, rng.randint(0, 1), [rng.uniform(-1, 1) for _ in range(dim)])
           for i in range(30)]
    new = [(i, rng.choice([0, 1, 2]),
            [rng.uniform(-1, 1) for _ in range(dim)])
           for i in range(30)]
    schema = "vec_id long, label int, v array<double>"
    out = {
        r.label: r
        for r in centroid_drift(
            spark.createDataFrame(old, schema),
            spark.createDataFrame(new, schema),
            "v",
            "label",
        ).collect()
    }

    def cent(rows, lab):
        vs = [v for _, l, v in rows if l == lab]
        return (
            [round(sum(x[d] for x in vs) / len(vs), 6) for d in range(dim)],
            len(vs),
        ) if vs else (None, 0)

    for lab in (0, 1, 2):
        co, n_o = cent(old, lab)
        cn, n_n = cent(new, lab)
        r = out[lab]
        assert (r.n_old, r.n_new) == (n_o, n_n)
        if co and cn:
            d2 = sum((a - b) * (a - b) for a, b in zip(co, cn))
            assert abs(r.d2_drift - round(d2, 6)) <= 2e-6
        else:
            assert r.d2_drift is None
