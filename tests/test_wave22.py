"""Hand-data unit tests for the round-9 wave-22 operators (the catalog
oracle proves engine parity; these pin SEMANTICS on inputs where the
right answer is checkable by eye or by a tiny Python reference)."""

from __future__ import annotations


def test_cohens_kappa_textbook_and_edge_cases(spark):
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        annotator_agreement,
    )

    # Textbook 2x2: 20 yes/yes, 60 no/no, 10+10 off-diagonal.
    rows = (
        [("g", "y", "y")] * 20
        + [("g", "n", "n")] * 60
        + [("g", "y", "n")] * 10
        + [("g", "n", "y")] * 10
        # pe=1 group: both annotators constant and equal -> kappa NULL
        + [("const", "y", "y")] * 5
        # disjoint labels: pe=0 -> kappa == po == 0
        + [("disj", "l1", "l2")] * 4
        # NULLs drop, not disagreement
        + [("g", None, "y"), ("g", "y", None)]
    )
    df = spark.createDataFrame(rows, "grp string, a string, b string")
    out = {
        r.grp: r
        for r in annotator_agreement(df, "a", "b", ["grp"]).collect()
    }
    g = out["g"]
    assert g.n == 100 and g.po == 0.8 and g.pe == 0.58
    assert g.kappa == round((0.8 - 0.58) / 0.42, 6)
    assert out["const"].n == 5 and out["const"].kappa is None
    assert out["const"].po == 1.0 and out["const"].pe == 1.0
    d = out["disj"]
    assert d.po == 0.0 and d.pe == 0.0 and d.kappa == 0.0
    # global (ungrouped) path returns one row
    glob = annotator_agreement(df, "a", "b").collect()
    assert len(glob) == 1 and glob[0].n == 109


def test_kaplan_meier_hand_curve(spark):
    import datetime as dt

    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        kaplan_meier,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(u, *secs):
        return [(u, t0 + dt.timedelta(seconds=s)) for s in secs]

    # as_of = max ts = t0+1000 (u5's last). churn window 100s.
    rows = (
        ev(1, 0, 10)      # dur 10, silent 990 -> churned
        + ev(2, 0, 10)    # dur 10 -> churned
        + ev(3, 0, 20)    # dur 20 -> churned
        + ev(4, 500, 520)  # dur 20, silent 480 -> churned
        + ev(5, 900, 1000)  # dur 100, silent 0 -> censored
    )
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = kaplan_meier(
        df, "user_id", "ts", churn_seconds=100, bucket_seconds=1
    ).collect()
    assert [
        (r.t_s, r.n_risk, r.n_churned, r.n_censored, r.survival)
        for r in out
    ] == [
        (10, 5, 2, 0, 0.6),  # S = 1 - 2/5
        (20, 3, 2, 0, 0.2),  # S = 0.6 * (1 - 2/3)
    ]


def test_js_divergence_reference_and_bounds(spark):
    import math

    from calp_cva_tracking_pipeline_spark.operators.textops import (
        corpus_js_divergence,
    )

    docs = [
        ("a", "x x y z"),
        ("a", "y z w"),
        ("b", "x y y q"),
        ("c", "only unique words here"),  # disjoint vs rest -> ln 2
    ]
    df = spark.createDataFrame(docs, "source string, text string")
    out = {r.source: r for r in corpus_js_divergence(df, "source").collect()}

    def ref_jsd(pc, qc):
        tp, tq = sum(pc.values()), sum(qc.values())
        s = 0.0
        for k in set(pc) | set(qc):
            p, q = pc.get(k, 0) / tp, qc.get(k, 0) / tq
            m = (p + q) / 2
            if p:
                s += p * math.log(p / m)
            if q:
                s += q * math.log(q / m)
        return s / 2

    from collections import Counter

    corpora = {
        "a": Counter("x x y z y z w".split()),
        "b": Counter("x y y q".split()),
        "c": Counter("only unique words here".split()),
    }
    for g, pc in corpora.items():
        rest = Counter()
        for o, qc in corpora.items():
            if o != g:
                rest += qc
        assert abs(out[g].jsd - ref_jsd(pc, rest)) < 1e-5, g
    assert abs(out["c"].jsd - math.log(2)) < 1e-5
    assert out["a"].n_tokens == 7 and out["a"].n_rest_tokens == 8

    # single-group corpus: empty rest -> NULL jsd, group still emitted
    solo = spark.createDataFrame([("a", "x y")], "source string, text string")
    r = corpus_js_divergence(solo, "source").collect()
    assert len(r) == 1 and r[0].jsd is None


def test_seasonal_strength_perfect_and_degenerate(spark):
    import datetime as dt

    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        seasonal_strength,
    )

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    # perfectly hour-periodic over 3 days -> resid 0, strength 1
    for d in range(3):
        for h in range(24):
            rows.append(
                ("seasonal", t0 + dt.timedelta(days=d, hours=h),
                 float((h % 12) * 10))
            )
    # constant series -> zero detrended variance -> NULL strength
    for d in range(2):
        for h in range(24):
            rows.append(
                ("flat", t0 + dt.timedelta(days=d, hours=h), 5.0)
            )
    # too few rows -> NULL strength
    for h in range(5):
        rows.append(("tiny", t0 + dt.timedelta(hours=h), float(h)))
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    out = {
        r.k: r
        for r in seasonal_strength(df, ["k"], "ts", "value").collect()
    }
    assert out["seasonal"].strength == 1.0
    assert out["seasonal"].var_resid == 0.0
    assert out["seasonal"].var_detrended > 0
    assert out["flat"].strength is None and out["flat"].var_detrended == 0.0
    assert out["tiny"].strength is None


def test_winsorized_stats_hand_cuts(spark):
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        winsorized_stats,
    )

    # 10 values 1..9 plus one huge outlier. p10/p90 in ppm:
    # k_lo = ceil(0.1*10)=1 -> lo = 1; k_hi = ceil(0.9*10)=9 -> hi = 9.
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 1000.0]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "g string, v double"
    )
    out = winsorized_stats(
        df, ["g"], "v", p_lo_ppm=100_000, p_hi_ppm=900_000
    ).collect()
    r = out[0]
    assert (r.n, r.lo, r.hi, r.n_clipped) == (10, 1.0, 9.0, 1)
    assert r.mean_raw == round(sum(vals) / 10, 6)
    assert r.mean_winsorized == round(
        sum(min(max(v, 1.0), 9.0) for v in vals) / 10, 6
    )
    # duplicates at the cut commute: ties need no tie-break
    dup = spark.createDataFrame(
        [("g", float(v)) for v in [5, 5, 5, 5, 1, 9]],
        "g string, v double",
    )
    r2 = winsorized_stats(
        dup, ["g"], "v", p_lo_ppm=200_000, p_hi_ppm=800_000
    ).collect()[0]
    # n=6: k_lo=ceil(1.2)=2 -> 2nd smallest = 5; k_hi=ceil(4.8)=5 -> 5
    assert (r2.lo, r2.hi) == (5.0, 5.0)
    assert r2.mean_winsorized == 5.0 and r2.n_clipped == 2


def test_retrieval_metrics_hand_example(spark):
    from calp_cva_tracking_pipeline_spark.operators.retrieval import (
        retrieval_metrics,
    )

    run = spark.createDataFrame(
        [
            ("q1", "a", 1), ("q1", "b", 2), ("q1", "c", 3),
            ("q2", "d", 1), ("q2", "e", 2), ("q2", "f", 3),
        ],
        "query_id string, neighbor_id string, rank int",
    )
    relevance = spark.createDataFrame(
        [("q1", "b"), ("q2", "zzz")],
        "query_id string, neighbor_id string",
    )
    out = retrieval_metrics(run, relevance, k=3).collect()[0]
    # q1: first relevant at rank 2 -> RR 0.5; nDCG = w2/w1 = 1/log2(3)
    # q2: no relevant retrieved -> 0s (still counted)
    assert out.n_queries == 2
    assert out.mrr == 0.25
    assert out.ndcg == round(0.630929754 / 2, 6)
    assert out.precision == round(1 / 6, 6)


def test_bootstrap_ci_tracks_analytic_se(spark):
    import math

    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        bootstrap_mean_ci,
    )

    # deterministic "uniform" values: i*7919 % 1000, n=2000
    rows = [("g", i, float((i * 7919) % 1000)) for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    out = bootstrap_mean_ci(df, ["g"], "id", "v").collect()[0]
    vals = [(i * 7919) % 1000 for i in range(2000)]
    mean = sum(vals) / len(vals)
    sd = math.sqrt(
        sum((v - mean) ** 2 for v in vals) / (len(vals) - 1)
    )
    analytic_se = sd / math.sqrt(len(vals))
    assert out.mean == round(mean, 6)
    assert out.se_boot is not None and out.se_boot > 0
    # B=32 replicas: the bootstrap SE estimate has ~13% relative noise;
    # a wide band still catches wrong-by-construction (x10 / /10) bugs
    assert 0.5 * analytic_se < out.se_boot < 2.0 * analytic_se
    assert out.ci_lo < out.mean < out.ci_hi
    # deterministic: same plan, same numbers
    again = bootstrap_mean_ci(df, ["g"], "id", "v").collect()[0]
    assert (again.se_boot, again.ci_lo, again.ci_hi) == (
        out.se_boot, out.ci_lo, out.ci_hi,
    )


def test_oov_rate_hand_vocab_cut(spark):
    from calp_cva_tracking_pipeline_spark.operators.textops import oov_rate

    # global counts: "x" 5, "y" 3, "z" 2, "q" 1 -> vocab_size=2 keeps
    # {x, y}; group a = "x x x y z", group b = "x x y y z q"
    docs = [
        ("a", "x x x y z"),
        ("b", "x x y y z q"),
    ]
    df = spark.createDataFrame(docs, "source string, text string")
    out = {r.source: r for r in oov_rate(df, "source", vocab_size=2).collect()}
    a, b = out["a"], out["b"]
    assert (a.n_tokens, a.n_oov_tokens, a.n_distinct_oov) == (5, 1, 1)
    assert a.oov_rate == 0.2
    assert (b.n_tokens, b.n_oov_tokens, b.n_distinct_oov) == (6, 2, 2)
    assert b.oov_rate == round(2 / 6, 6)
    # tie at the cut breaks by token asc: with vocab_size=3 the third
    # slot goes to "z" (count 2) not "q"
    out3 = {r.source: r for r in oov_rate(df, "source", vocab_size=3).collect()}
    assert out3["b"].n_oov_tokens == 1 and out3["b"].n_distinct_oov == 1


def test_centroid_confusion_separable_clusters(spark):
    from calp_cva_tracking_pipeline_spark.operators.linalg import (
        centroid_confusion,
    )

    # two well-separated 2-d clusters + one point nearer the wrong one
    rows = [
        (1, [0.0, 0.0], "a"), (2, [0.1, 0.0], "a"), (3, [0.0, 0.1], "a"),
        (4, [10.0, 10.0], "b"), (5, [10.1, 10.0], "b"),
        (6, [9.9, 9.9], "a"),  # mislabeled -> assigned b
        (7, None, "a"), (8, [1.0, 1.0], None),  # dropped
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = {
        (r.label, r.assigned_label): (r.n, r.frac)
        for r in centroid_confusion(
            df, "vec_id", "embedding", "label"
        ).collect()
    }
    # 'a' centroid is dragged by point 6 but stays near origin;
    # points 1-3 -> a, point 6 -> b, points 4-5 -> b
    assert out[("a", "a")][0] == 3
    assert out[("a", "b")][0] == 1
    assert out[("b", "b")] == (2, 1.0)
    assert out[("a", "a")][1] == 0.75


def test_mann_whitney_python_reference_with_ties(spark):
    import math

    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        mann_whitney,
    )

    ctrl = [1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 7.0, 8.0, 9.0, 10.0]
    var_hi = [4.0, 5.0, 6.0, 6.0, 8.0, 11.0, 12.0, 12.0, 13.0, 14.0]
    rows = [("c", v) for v in ctrl] + [("hi", v) for v in var_hi]
    df = spark.createDataFrame(rows, "variant string, value double")
    out = {
        r.variant: r
        for r in mann_whitney(df, "variant", "value", control="c").collect()
    }

    def ref(xs, ys):
        u = sum(
            sum(1.0 for y in ys if y < x) + 0.5 * sum(1 for y in ys if y == x)
            for x in xs
        )
        nv, nc = len(xs), len(ys)
        nd = nv + nc
        pooled = xs + ys
        from collections import Counter

        t3 = sum(t**3 - t for t in Counter(pooled).values())
        var = nv * nc / 12 * ((nd + 1) - t3 / (nd * (nd - 1)))
        return u, (u - nv * nc / 2) / math.sqrt(var)

    u_ref, z_ref = ref(var_hi, ctrl)
    hi = out["hi"]
    assert hi.u == u_ref
    assert abs(hi.z - z_ref) < 1e-6
    assert out["c"].u is None and out["c"].z is None
    # symmetric sanity: identical distributions -> z ~ 0
    same = spark.createDataFrame(
        [("c", float(v)) for v in range(20)]
        + [("s", float(v)) for v in range(20)],
        "variant string, value double",
    )
    s_row = {
        r.variant: r
        for r in mann_whitney(same, "variant", "value", control="c").collect()
    }["s"]
    assert s_row.u == 200.0 and s_row.z == 0.0


def test_cluster_eval_perfect_and_random(spark):
    import math

    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        cluster_label_eval,
    )

    # two tight, far-apart blobs whose labels match the blobs exactly:
    # k=2 init takes the two lowest ids (one per blob) -> perfect
    # clustering -> purity 1, NMI 1
    rows = []
    for i in range(10):
        rows.append((i * 2, [0.0 + i * 0.01, 0.0], "a"))      # even ids blob a
        rows.append((i * 2 + 1, [50.0, 50.0 + i * 0.01], "b"))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    r = cluster_label_eval(
        df, "vec_id", "embedding", "label", n_clusters=2, iters=1
    ).collect()[0]
    assert r.n == 20 and r.n_cells == 2
    assert r.purity == 1.0
    assert abs(r.nmi - 1.0) < 1e-6
    # labels independent of clusters -> NMI ~ 0 (exactly 0 when the
    # contingency is perfectly balanced)
    rows2 = []
    for i in range(20):
        blob = [0.0, float(i % 2) * 100.0]
        rows2.append((i, blob, "x" if i % 4 < 2 else "y"))
    df2 = spark.createDataFrame(
        rows2, "vec_id long, embedding array<double>, label string"
    )
    r2 = cluster_label_eval(
        df2, "vec_id", "embedding", "label", n_clusters=2, iters=1
    ).collect()[0]
    assert r2.nmi is not None and abs(r2.nmi) < 0.05


def test_interval_overlap_join_bins_and_boundaries(spark):
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        interval_overlap_join,
    )

    B = 100  # tiny bins to force multi-bin spans
    left = spark.createDataFrame(
        [
            ("L1", 0, 250),     # spans bins 0,1,2
            ("L2", 500, 600),   # bin 5
            ("L3", 990, 1000),  # bin 9
            ("L4", 50, 50),     # degenerate -> dropped
        ],
        "lid string, s_us long, e_us long",
    )
    right = spark.createDataFrame(
        [
            ("R1", 100, 300),   # overlaps L1 on bins 1 and 2 -> ONE row
            ("R2", 250, 400),   # touches L1 at 250 -> NO overlap
            ("R3", 590, 1000),  # overlaps L2 (10us) and L3 (10us)
        ],
        "rid string, s_us long, e_us long",
    )
    out = {
        (r.lid, r.rid): r.overlap_us
        for r in interval_overlap_join(
            left, right, "lid", "rid", bin_us=B
        ).collect()
    }
    assert out == {
        ("L1", "R1"): 150,
        ("L2", "R3"): 10,
        ("L3", "R3"): 10,
    }


def test_seasonal_anomaly_ignores_rhythm_flags_spike(spark):
    import datetime as dt

    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        seasonal_anomaly,
    )

    t0 = dt.datetime(2024, 5, 1)
    rows = []
    eid = 0
    # strong daily rhythm: value = 100 * (hour % 12), 4 days
    for d in range(4):
        for h in range(24):
            v = float(100 * (h % 12))
            # one true spike buried at day 2, hour 6 (rhythm says 600)
            if d == 2 and h == 6:
                v = 5000.0
            rows.append(("k", eid, t0 + dt.timedelta(days=d, hours=h), v))
            eid += 1
    df = spark.createDataFrame(
        rows, "k string, event_id long, ts timestamp, value double"
    )
    out = seasonal_anomaly(
        df, ["k"], "event_id", "ts", "value", z_thresh=3.0
    ).collect()
    flagged = {r.event_id for r in out}
    spike_id = 2 * 24 + 6
    assert spike_id in flagged
    # the rhythm itself (evening peaks on other days) must NOT flag
    assert len(flagged) <= 4  # the spike + at most its decomposition echo


def test_funnel_step_times_hand_latencies(spark):
    import datetime as dt

    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        funnel_step_times,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(u, typ, s):
        return (u, typ, t0 + dt.timedelta(seconds=s))

    rows = [
        # u1: full funnel, a->b 10s, b->c 100s
        ev(1, "a", 0), ev(1, "b", 10), ev(1, "c", 110),
        # u2: a->b 30s, never c
        ev(2, "a", 0), ev(2, "b", 30),
        # u3: only a
        ev(3, "a", 5),
        # u4: b before a -> strictly-after means b never counts
        ev(4, "b", 0), ev(4, "a", 10),
    ]
    df = spark.createDataFrame(rows, "u long, t string, ts timestamp")
    out = {
        r.hop: r
        for r in funnel_step_times(df, "u", "ts", "t", ["a", "b", "c"]).collect()
    }
    h1 = out[1]
    assert (h1.n_entered, h1.n_converted) == (4, 2)
    assert h1.rate == 0.5
    assert (h1.p50_s, h1.p90_s) == (10, 30)  # ceil(.5*2)=1 -> 10; ceil(.9*2)=2 -> 30
    h2 = out[2]
    assert (h2.n_entered, h2.n_converted) == (2, 1)
    assert (h2.p50_s, h2.p90_s) == (100, 100)


def test_column_cardinalities_single_pass(spark):
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        column_cardinalities,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (3, "b")],
        "k long, v string",
    )
    out = {r.column: r for r in column_cardinalities(df, ["k", "v"]).collect()}
    assert (out["k"].n_rows, out["k"].n_nulls, out["k"].n_distinct) == (4, 0, 3)
    assert (out["v"].n_rows, out["v"].n_nulls, out["v"].n_distinct) == (4, 1, 2)
    # single aggregation: exactly one Expand, no per-column scans
    plan = (
        column_cardinalities(df, ["k", "v"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Expand") >= 1


def test_pit_lookup_semantics_via_asof(spark):
    import datetime as dt

    from calp_cva_tracking_pipeline_spark.operators.cdc import scd2_history
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        asof_join,
    )

    d = dt.date
    # one entity, three versions: A from Jan1, B from Jan10, C from Feb1
    log = spark.createDataFrame(
        [
            (1, d(2024, 1, 1), "A", 1),
            (1, d(2024, 1, 5), "A", 2),   # no change -> same version
            (1, d(2024, 1, 10), "B", 3),
            (1, d(2024, 2, 1), "C", 4),
        ],
        "k long, ts date, attr string, ob long",
    )
    dim = scd2_history(
        log, ["k"], "ts", ["attr"], tiebreak_cols=["ob"]
    ).select("k", "effective_from", "version", "attr")
    probes = spark.createDataFrame(
        [
            (1, d(2023, 12, 25)),  # before first version -> null
            (1, d(2024, 1, 1)),    # boundary day -> A
            (1, d(2024, 1, 9)),    # -> A
            (1, d(2024, 1, 10)),   # boundary -> B
            (1, d(2024, 3, 1)),    # current -> C
        ],
        "k long, at date",
    )
    out = asof_join(
        probes, dim, ["k"], "at", "effective_from",
        right_cols=["version", "attr"],
    ).orderBy("at").collect()
    assert [r.attr for r in out] == [None, "A", "A", "B", "C"]


def test_markov_stationary_two_state_chain(spark):
    import datetime as dt

    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        markov_stationary,
    )

    t0 = dt.datetime(2024, 1, 1)
    # one user alternating A->B->A->B... plus extra A->A self-loops:
    # transitions: A->B x3, A->A x3, B->A x3  =>
    # P(A->B)=.5, P(A->A)=.5, P(B->A)=1
    # stationary: pi_A = 2/3, pi_B = 1/3
    seq = ["A", "A", "A", "A", "B", "A", "B", "A", "B", "A"]
    rows = [
        (1, i, t0 + dt.timedelta(minutes=i), s) for i, s in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, t string"
    )
    out = {
        r.t: r
        for r in markov_stationary(
            df, "user_id", "ts", "t", "event_id", n_iter=40
        ).collect()
    }
    assert abs(out["A"].stationary - 2 / 3) < 1e-3
    assert abs(out["B"].stationary - 1 / 3) < 1e-3
    assert out["A"].n_out_transitions == 6
    assert out["B"].n_out_transitions == 3


def test_neyman_allocation_favors_high_variance_strata(spark):
    # stratum "wide": values 0/1000 alternating (huge sd); "narrow":
    # constant 500 (sd 0). Equal sizes -> ALL budget goes to "wide".
    rows = [("wide", i, float(1000 * (i % 2))) for i in range(200)] + [
        ("narrow", 1000 + i, 500.0) for i in range(200)
    ]
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        neyman_allocation,
    )

    df = spark.createDataFrame(rows, "st string, id long, v double")
    out = {
        r.st: r
        for r in neyman_allocation(df, "st", "v", "id", n_target=100).collect()
    }
    w, n = out["wide"], out["narrow"]
    assert w.alloc_ppm == 1_000_000 and n.alloc_ppm == 0
    assert n.n_sampled == 0 and n.sd == 0.0
    # wide stratum: rate 100/200 = 50% -> ~half sampled (hash draw)
    assert w.rate_ppm == 500_000
    assert 60 < w.n_sampled < 140
    # determinism
    again = {
        r.st: r.n_sampled
        for r in neyman_allocation(df, "st", "v", "id", n_target=100).collect()
    }
    assert again["wide"] == w.n_sampled


def test_null_correlation_phi_signs(spark):
    # a and b null together (same rows) -> phi = 1
    # a and c null exclusively -> phi = -1
    rows = []
    for i in range(40):
        gap = i % 4 == 0
        rows.append((
            None if gap else 1.0,           # a: null on gap rows
            None if gap else 2.0,           # b: same gaps as a -> phi 1
            3.0 if gap else None,           # c: complement -> phi -1
            None if i % 5 == 0 else 4.0,    # d: independent of a
            # (overlap i%20==0 -> 2 rows = exactly the 10*8/40 expected
            # under independence -> phi 0)
        ))
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        null_correlation,
    )

    df = spark.createDataFrame(
        rows, "a double, b double, c double, d double"
    )
    out = {
        (r.col_a, r.col_b): r
        for r in null_correlation(df, ["a", "b", "c", "d"]).collect()
    }
    assert out[("a", "b")].phi == 1.0
    assert out[("a", "b")].n_both_null == 10
    assert out[("a", "c")].phi == -1.0
    assert abs(out[("a", "d")].phi) < 0.2
    # degenerate margin: never-null column -> NULL phi
    df2 = spark.createDataFrame(
        [(1.0, None), (2.0, 3.0)], "x double, y double"
    )
    r2 = null_correlation(df2, ["x", "y"]).collect()[0]
    assert r2.phi is None


def test_m4_downsample_keeps_pixel_extremes(spark):
    import datetime as dt

    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        m4_downsample,
    )

    t0 = dt.datetime(2024, 1, 1)
    # one key, one bucket (100s): first at t=1, last at t=99,
    # min at t=40 (v=-5), max at t=60 (v=50); filler elsewhere
    pts = [(1, 10.0), (40, -5.0), (50, 10.0), (60, 50.0), (99, 20.0)]
    rows = [
        ("k", i, t0 + dt.timedelta(seconds=s), v)
        for i, (s, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows, "k string, event_id long, ts timestamp, value double"
    )
    out = m4_downsample(
        df, ["k"], "ts", "value", "event_id", bucket_seconds=100
    ).collect()
    kept = {(r.t_s % 100, r.value) for r in out}
    assert kept == {(1, 10.0), (40, -5.0), (60, 50.0), (99, 20.0)}
    # the mid filler point (t=50) is dropped; 4 roles -> 4 rows here
    assert len(out) == 4


def test_alert_episodes_islands(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        alert_episodes,
    )

    # flags at t = 0h, 1h, 2h (episode 1), then a 3-day gap, then
    # t = 74h, 75h (episode 2); second key one lone alarm
    rows = [
        (1, 1, t0, 3.5),
        (1, 2, t0 + dt.timedelta(hours=1), -4.0),
        (1, 3, t0 + dt.timedelta(hours=2), 3.2),
        (1, 4, t0 + dt.timedelta(hours=74), 5.0),
        (1, 5, t0 + dt.timedelta(hours=75), 3.1),
        (2, 6, t0, 6.0),
    ]
    df = spark.createDataFrame(
        rows, "k long, event_id long, ts timestamp, z double"
    )
    out = alert_episodes(
        df, ["k"], "ts", "event_id", max_gap_seconds=86_400
    ).collect()
    eps = {(r.k, r.episode): r for r in out}
    assert len(eps) == 3
    e1 = eps[(1, 1)]
    assert (e1.n_alerts, e1.duration_s, e1.peak_abs_z) == (3, 7200, 4.0)
    e2 = eps[(1, 2)]
    assert (e2.n_alerts, e2.duration_s, e2.peak_abs_z) == (2, 3600, 5.0)
    assert eps[(2, 1)].n_alerts == 1


def test_weighted_quantiles_hand_cuts(spark):
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        weighted_quantiles,
    )

    # values 10/20/30 with weights 1/1/8: W=10; weighted median needs
    # cum >= 5 -> value 30 (row-counted median would say 20!)
    rows = [
        ("g", 10.0, 1.0), ("g", 20.0, 1.0), ("g", 30.0, 8.0),
        # zero/negative weights drop
        ("g", 999.0, 0.0), ("g", -999.0, -3.0),
    ]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    r = weighted_quantiles(df, ["g"], "v", "w").collect()[0]
    assert (r.n, r.total_weight) == (3, 10)
    assert r.p50_weighted == 30.0
    assert r.p90_weighted == 30.0
    # equal-weight case reduces to plain disc quantiles
    flat = spark.createDataFrame(
        [("g", float(v), 1.0) for v in range(1, 11)],
        "g string, v double, w double",
    )
    r2 = weighted_quantiles(flat, ["g"], "v", "w").collect()[0]
    assert r2.p50_weighted == 5.0 and r2.p90_weighted == 9.0


def test_zipf_fit_recovers_synthetic_exponent(spark):
    # build a corpus whose token counts follow freq(r) = round(C/r):
    # the fitted slope must land near -1 with r2 ~ 1
    rows = []
    for r in range(1, 101):
        freq = max(1, round(2000 / r))
        rows.append(("z", " ".join([f"tok{r:03d}"] * freq)))
    from calp_cva_tracking_pipeline_spark.operators.textops import zipf_fit

    df = spark.createDataFrame(rows, "lang string, text string")
    out = zipf_fit(df, "lang", top_n=100).collect()[0]
    assert out.n_ranked == 100
    assert -1.05 < out.slope < -0.95
    assert out.r2 > 0.99
    # uniform-frequency corpus: slope ~ 0
    flat = spark.createDataFrame(
        [("u", " ".join(f"w{i}" for i in range(50)))] * 4,
        "lang string, text string",
    )
    f = zipf_fit(flat, "lang", top_n=50).collect()[0]
    assert abs(f.slope) < 1e-6 and f.r2 is None  # zero y-variance


def test_quantization_error_within_theoretical_bound(spark):
    from calp_cva_tracking_pipeline_spark.operators.linalg import (
        quantization_error,
    )

    rows = [
        (1, [1.0, -2.0, 0.003, 0.0]),
        (2, [0.5, 1.7, -0.001, 0.0]),
        (3, [-1.0, 0.2, 0.002, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.dim: r for r in quantization_error(df, "embedding", "vec_id").collect()}
    assert len(out) == 4
    for d, r in out.items():
        # symmetric int8: |err| <= scale/254 (+ pinning resolution)
        assert r.max_abs_err <= r.scale / 254 + 1e-9, (d, r)
        assert r.mse <= r.max_abs_err ** 2 + 1e-12
    # dead dimension: scale 0, exact zeros
    assert out[3].scale == 0.0 and out[3].mse == 0.0
