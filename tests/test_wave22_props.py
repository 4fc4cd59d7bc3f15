"""Randomized cross-checks of the wave-22..27 operators against
pure-Python references — the test_r9_props pattern (one big seeded-random
DataFrame per property, not hypothesis-per-example). These catch what
the star-schema oracle data cannot: adversarial tie pileups, degenerate
groups and random interval geometry (the winnowing guarantee under
random shared runs lives in tests/test_bucket_pairs.py).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import random

_D0 = dt.datetime(2024, 1, 1)


def test_kaplan_meier_matches_python_reference(spark):
    """KM curve equals a direct product-limit computation over random
    user lifetimes with random censoring mix and tie pileups."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        kaplan_meier,
    )

    rng = random.Random(2202)
    rows = []
    lifetimes = {}
    horizon = 10_000
    for u in range(120):
        start = rng.randint(0, 2000)
        dur = rng.choice([0, 5, 5, 10, 10, 10, 50, 200, 1000, 5000])
        last = min(start + dur, horizon)
        rows.append((u, _D0 + dt.timedelta(seconds=start)))
        rows.append((u, _D0 + dt.timedelta(seconds=last)))
        lifetimes[u] = (last - start, last)
    # pin the as-of instant with one max-ts user
    rows.append((999, _D0))
    rows.append((999, _D0 + dt.timedelta(seconds=horizon)))
    lifetimes[999] = (horizon, horizon)
    churn_s = 500
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = [
        (r.t_s, r.n_risk, r.n_churned, r.n_censored, r.survival)
        for r in kaplan_meier(
            df, "user_id", "ts", churn_seconds=churn_s, bucket_seconds=7
        ).collect()
    ]

    # python reference
    buckets: dict[int, list[int]] = {}
    for dur, last in lifetimes.values():
        t = (dur // 7) * 7
        churned = (horizon - last) > churn_s
        d, c = buckets.get(t, [0, 0])
        if churned:
            d += 1
        else:
            c += 1
        buckets[t] = [d, c]
    total = len(lifetimes)
    exp = []
    at_risk = total
    surv = 1.0
    for t in sorted(buckets):
        d, c = buckets[t]
        surv *= 1.0 - d / at_risk
        if d > 0:
            exp.append((t, at_risk, d, c, round(surv, 6)))
        at_risk -= d + c
    assert [g[:4] for g in got] == [e[:4] for e in exp]
    for g, e in zip(got, exp):
        assert abs(g[4] - e[4]) < 1e-6, (g, e)


def test_weighted_quantiles_match_python_reference(spark):
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        weighted_quantiles,
    )

    rng = random.Random(2203)
    rows = []
    ref: dict[str, list[tuple[float, int]]] = {}
    for gi in range(12):
        g = f"g{gi:02d}"
        ref[g] = []
        for _ in range(rng.randint(1, 80)):
            v = rng.choice([1.0, 2.5, 2.5, 7.0, 7.0, 7.0, 100.0])
            w = rng.randint(1, 9)
            rows.append((g, v, float(w)))
            ref[g].append((v, w))
    df = spark.createDataFrame(rows, "g string, v double, w double")
    out = {
        r.g: r for r in weighted_quantiles(df, ["g"], "v", "w").collect()
    }

    def wq(vals, ppm):
        vals = sorted(vals)
        tw = sum(w for _, w in vals)
        k = max(1, -(-ppm * tw // 1_000_000))  # ceil
        cum = 0
        for v, w in vals:
            cum += w
            if cum >= k:
                return v
        return vals[-1][0]

    for g, vals in ref.items():
        r = out[g]
        assert r.total_weight == sum(w for _, w in vals)
        assert r.p50_weighted == wq(vals, 500_000), g
        assert r.p90_weighted == wq(vals, 900_000), g


def test_markov_stationary_matches_numpy_power_iteration(spark):
    """The engine's nano-pinned iteration lands within 1e-5 of a float
    power iteration with the same renormalizing dangling-mass rule, for
    a random multi-user event soup."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        markov_stationary,
    )

    rng = random.Random(2204)
    types = ["A", "B", "C", "D"]
    rows = []
    eid = 0
    seqs = []
    for u in range(25):
        seq = [rng.choice(types) for _ in range(rng.randint(2, 40))]
        seqs.append(seq)
        for i, s in enumerate(seq):
            rows.append(
                (u, eid, _D0 + dt.timedelta(seconds=i), s)
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, t string"
    )
    got = {
        r.t: r.stationary
        for r in markov_stationary(
            df, "user_id", "ts", "t", "event_id", n_iter=30
        ).collect()
    }

    # python reference with the same renormalization rule
    from collections import Counter

    trans: Counter = Counter()
    for seq in seqs:
        for a, b in zip(seq, seq[1:]):
            trans[(a, b)] += 1
    tys = sorted({a for a, _ in trans} | {b for _, b in trans})
    out_tot = Counter()
    for (a, _), c in trans.items():
        out_tot[a] += c
    pi = {t: 1.0 / len(tys) for t in tys}
    for _ in range(30):
        nxt = {t: 0.0 for t in tys}
        for (a, b), c in trans.items():
            nxt[b] += pi[a] * c / out_tot[a]
        s = sum(nxt.values())
        pi = {t: v / s for t, v in nxt.items()}
    for t in tys:
        assert abs(got[t] - pi[t]) < 1e-5, t


def test_interval_overlap_join_matches_brute_force(spark):
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        interval_overlap_join,
    )

    rng = random.Random(2205)
    left = []
    right = []
    for i in range(120):
        s = rng.randint(0, 5000)
        left.append((f"L{i}", s, s + rng.choice([0, 1, 10, 500, 3000])))
    for j in range(80):
        s = rng.randint(0, 5000)
        right.append((f"R{j}", s, s + rng.choice([1, 7, 100, 900])))
    ldf = spark.createDataFrame(left, "lid string, s_us long, e_us long")
    rdf = spark.createDataFrame(right, "rid string, s_us long, e_us long")
    got = {
        (r.lid, r.rid): r.overlap_us
        for r in interval_overlap_join(
            ldf, rdf, "lid", "rid", bin_us=64
        ).collect()
    }
    exp = {}
    for lid, ls, le in left:
        if le <= ls:
            continue
        for rid, rs, re_ in right:
            if rs < le and ls < re_:
                exp[(lid, rid)] = min(le, re_) - max(ls, rs)
    assert got == exp
