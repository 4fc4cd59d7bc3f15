"""Randomized cross-checks of the round-9 operators against pure-Python
reference implementations — same one-big-DataFrame seeded-random pattern
as test_cdc_funnel_props (hypothesis-per-example would pay one Spark job
per example). Catches the pathologies the star-schema oracle data can't:
touching/nested/zero-length intervals, tied gap timestamps, degenerate
one-row groups. (The cusum_fold slicing check lives in test_temporal.py.)
"""

from __future__ import annotations

import datetime as dt
import math
import random

_D0 = dt.datetime(2024, 1, 1)


def test_interval_union_matches_python_reference(spark):
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        interval_union_length,
    )

    rng = random.Random(9901)
    rows = []
    expected = {}
    for k in range(40):
        ivs = []
        for _ in range(rng.randint(0, 25)):
            s = rng.randint(0, 500)
            # mix: proper, touching, nested, zero-length, inverted
            e = s + rng.choice([0, 1, 5, 50, 200, -3])
            rows.append((k, s, e))
            if e > s:
                ivs.append((s, e))
        ivs.sort()
        covered = 0
        runs = 0
        cur_s = cur_e = None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
                runs += 1
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        if ivs:
            expected[k] = (len(ivs), runs, covered)
    df = spark.createDataFrame(rows, "k long, s long, e long")
    got = {
        r.k: (r.n_intervals, r.n_runs, r.covered)
        for r in interval_union_length(df, ["k"], "s", "e").collect()
    }
    assert got == expected


def test_gini_matches_python_reference(spark):
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        gini_by_group,
    )

    rng = random.Random(9902)
    rows = []
    vals: dict[int, list[int]] = {}
    for g in range(25):
        for _ in range(rng.randint(1, 60)):
            v = rng.choice([0, 0, 1, 5, 5, 100, 2500, 99999])
            rows.append((g, v / 100.0))  # cents-scaled back to float
            vals.setdefault(g, []).append(v)
    df = spark.createDataFrame(rows, "g long, v double")
    got = {
        r.g: (r.n, r.gini)
        for r in gini_by_group(df, ["g"], "v", cents=100).collect()
    }
    for g, xs in vals.items():
        xs.sort()
        n, s1 = len(xs), sum(xs)
        if s1 == 0:
            assert got[g] == (n, None)
            continue
        sr = sum((i + 1) * x for i, x in enumerate(xs))
        want = round((2 * sr - (n + 1) * s1) / (n * s1), 6)
        assert got[g][0] == n
        assert math.isclose(got[g][1], want, abs_tol=1e-9), g


def test_interarrival_matches_python_reference(spark):
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        interarrival_stats,
    )

    rng = random.Random(9904)
    rows = []
    times: dict[int, list[float]] = {}
    eid = 0
    for u in range(20):
        t = 0.0
        for _ in range(rng.randint(1, 30)):
            t += rng.choice([0.4, 1.0, 59.9, 60.0, 3600.5])
            rows.append((u, eid, _D0 + dt.timedelta(seconds=t)))
            times.setdefault(u, []).append(t)
            eid += 1
    df = spark.createDataFrame(rows, "u long, eid long, ts timestamp")
    got = {
        r.u: r
        for r in interarrival_stats(
            df, "u", "ts", tiebreak_cols=["eid"], min_events=3
        ).collect()
    }
    for u, ts in times.items():
        if len(ts) < 2:
            assert u not in got
            continue
        us = [round(t * 1e6) for t in sorted(ts)]
        gaps = [(b - a) // 1_000_000 for a, b in zip(us, us[1:])]
        n = len(gaps)
        r = got[u]
        assert r.n_gaps == n
        if len(ts) < 3:
            assert r.mean_gap_s is None
            continue
        mean = sum(gaps) / n
        var = (
            (n * sum(g * g for g in gaps) - sum(gaps) ** 2)
            / (n * (n - 1))
            if n > 1
            else 0.0
        )
        std = math.sqrt(max(var, 0.0))
        assert math.isclose(r.mean_gap_s, round(mean, 6), abs_tol=1e-9)
        assert math.isclose(r.std_gap_s, round(std, 6), abs_tol=1e-9)


def test_neighbor_similarity_matches_python_reference(spark):
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        neighbor_similarity,
    )

    rng = random.Random(9905)
    edges = set()
    for _ in range(120):
        a, b = rng.randint(0, 24), rng.randint(0, 24)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    # duplicates + both orientations in the input
    rows = list(edges) + [(b, a) for a, b in list(edges)[:30]]
    df = spark.createDataFrame(rows, "src long, dst long")
    nbrs: dict[int, set] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    expected = {}
    nodes = sorted(nbrs)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            shared = len(nbrs[a] & nbrs[b])
            if shared >= 2:
                un = len(nbrs[a]) + len(nbrs[b]) - shared
                j = shared / un
                if shared * 1_000_000 >= 200_000 * un:
                    expected[(a, b)] = (shared, round(j, 6))
    got = {
        (r.node_a, r.node_b): (r.shared, r.jaccard)
        for r in neighbor_similarity(
            df, min_shared=2, threshold=0.2
        ).collect()
    }
    assert got == expected


def test_autocorrelation_matches_python_reference(spark):
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        autocorrelation,
    )

    rng = random.Random(9906)
    rows = []
    series: dict[int, list[int]] = {}
    eid = 0
    for u in range(15):
        n = rng.randint(1, 50)
        x = 5000
        for i in range(n):
            # AR(1)-ish in cents so lag-1 acf is strongly positive
            x = int(0.8 * x + rng.randint(-500, 500))
            rows.append((u, eid, _D0 + dt.timedelta(minutes=i), x / 100.0))
            series.setdefault(u, []).append(x)
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    got = {
        r.user_id: r
        for r in autocorrelation(
            df, ["user_id"], "ts", "value", "event_id",
            lag=1, min_pairs=10,
        ).collect()
    }
    for u, xs in series.items():
        n = len(xs)
        r = got[u]
        assert r.n == n
        m = n - 1
        if m < 10:
            assert r.acf is None
            continue
        mean = sum(xs) / n
        den = sum((v - mean) ** 2 for v in xs)
        num = sum(
            (xs[i] - mean) * (xs[i - 1] - mean) for i in range(1, n)
        )
        if den <= 0:
            assert r.acf is None
            continue
        want = round(num / den, 6)
        assert math.isclose(r.acf, want, abs_tol=1e-6), (u, r.acf, want)
        assert r.acf > 0.3  # AR(1) with phi=0.8 must read persistent
