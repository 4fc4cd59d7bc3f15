"""Behavioral event analytics: ordered funnel conversion and cohort
retention.

No reference counterpart (the reference has no event/clickstream data —
SURVEY.md §2 is flows/orgs/deflators); engine additions for the events
table, the analytics a training-data pipeline's telemetry side needs
(conversion through ingest→filter→publish stages, cohort survival of
crawl sources week over week).

Scale design: both operators are ONE user-keyed exchange plus
unordered-frame windows (no orderBy → no per-partition sort at all for
the funnel's min-carry chain). ``funnel_steps``'s step-N time depends on
step N-1's, so each step is its own Window node — but every node shares
the same hashpartitioning, so Spark plans one shuffle and the per-user
group-collapse aggregation rides the same distribution exchange-free
(pinned in tests/test_plan_shapes.py). No joins, no row amplification;
user skew behaves like any keyed window. ``cohort_retention``'s second
exchange is the (cohort, offset) count-distinct aggregation — output-
sized, cardinality ≤ cohorts × horizon weeks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.operators.temporal import _span_us
from calp_cva_tracking_pipeline_spark.session import cut


def funnel_steps(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered funnel: per user, ``t_<step_i>`` is the earliest event of
    step i occurring STRICTLY AFTER the user's step-(i-1) time (first
    step: earliest occurrence overall). A null step time means the user
    never completed that step in order; later steps are then null by
    construction (the strictly-after predicate never matches against a
    null bound). ``steps_completed`` counts the non-null prefix. One row
    per user observed in ``df``.

    Strict ordering means simultaneous step-i/step-i+1 events do NOT
    both count — the conservative reading (a purchase logged at the
    same microsecond as the click it came from is one hop, not two).
    """
    w = Window.partitionBy(user_col)
    out = df
    prev: str | None = None
    names = []
    for step in steps:
        name = f"t_{step}"
        cond = F.col(type_col) == F.lit(step)
        if prev is not None:
            cond = cond & (F.col(ts_col) > F.col(prev))
        out = out.withColumn(
            name, F.min(F.when(cond, F.col(ts_col))).over(w)
        )
        prev = name
        names.append(name)
    completed = sum(
        (F.col(n).isNotNull().cast("int") for n in names), F.lit(0)
    )
    return (
        out.groupBy(user_col)
        .agg(
            *[F.first(n).alias(n) for n in names],
        )
        .withColumn("steps_completed", completed)
    )


def transition_matrix(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each adjacent pair in a user's (ts, tiebreak)-ordered
    stream, count (from_type → to_type) and row-normalize to transition
    probabilities (6 dp). Output: (from_type, to_type, n_transitions,
    prob); rows with no successor (each user's last event) contribute
    nothing.

    Plan: one user-keyed exchange for the lead window; everything after
    operates on the TYPE-PAIR cardinality (≤ |types|²), so the group
    and normalization exchanges are vocabulary-sized regardless of the
    event volume. The (ts, tiebreak) ordering must be total per user or
    adjacent pairs are partition-order-dependent."""
    tiebreak_cols = tiebreak_cols or []
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col), *[F.col(c) for c in tiebreak_cols]
    )
    pairs = (
        df.withColumn("__next", F.lead(type_col).over(w))
        .filter(F.col("__next").isNotNull())
        .select(
            F.col(type_col).alias("from_type"),
            F.col("__next").alias("to_type"),
        )
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_transitions"))
    )
    wrow = Window.partitionBy("from_type")
    return pairs.withColumn(
        "prob",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(wrow).cast("double"),
            6,
        ),
    )


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    week_seconds: int = 7 * 24 * 3600,
) -> DataFrame:
    """Cohort × week-offset retention counts: a user's cohort is the DAY
    of their first event; each (user, event) lands in the week bucket
    ``(event_epoch − first_event_epoch) div week_seconds`` — cohort-
    RELATIVE weeks (every user's week 0 starts at their own first
    event), so no calendar-week-boundary truncation artifacts and the
    arithmetic is exact integer epoch math cross-engine. Output:
    (cohort_day, week_offset, n_users) with distinct-user counts."""
    w = Window.partitionBy(user_col)
    first_ts = F.min(ts_col).over(w)
    return (
        df.withColumn("__first", first_ts)
        .select(
            F.col(user_col),
            F.col("__first").cast("date").alias("cohort_day"),
            (
                (
                    F.unix_timestamp(F.col(ts_col))
                    - F.unix_timestamp(F.col("__first"))
                )
                / week_seconds
            ).cast("bigint").alias("week_offset"),
        )
        .groupBy("cohort_day", "week_offset")
        .agg(F.countDistinct(user_col).alias("n_users"))
    )


def touch_attribution(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    touch_types: tuple[str, ...],
    conversion_type: str,
    window_spec: str = "7 days",
) -> DataFrame:
    """First-touch and last-touch attribution: for every conversion
    event, the earliest and the latest touch event of the same user
    inside the trailing attribution window ``[conv_ts - window,
    conv_ts]`` (unattributed conversions keep NULL touch columns).

    One events stream, ZERO joins: touches and conversions stay in the
    same keyed stream, and two aggregates over one trailing RANGE frame
    resolve both ends — ``min``/``max`` of a (ts, id, type) struct that
    is NULL on non-touch rows (nulls are ignored by min/max, and struct
    ordering is lexicographic with ts leading, id making it total).
    Touches sharing the conversion's exact timestamp are inside the
    closed frame on both engines; RANGE frames are tie-safe (peer rows
    share one frame), so no ordering tie-break is needed beyond the
    struct's own id field.

    Scale shape: one hash exchange on the user plus a per-user sort —
    both attribution ends ride the SAME window frame, so adding
    first-touch on top of last-touch is free. The frame state holds only
    the running min/max struct, not the window's rows. Compare the
    join-based formulation (conversions × touches range join): that one
    replicates every touch into every covering window — O(rows ×
    windows) — where this stays O(rows log rows).
    """
    span_us = _span_us(window_spec)

    touch = F.when(
        F.col(type_col).isin(*touch_types),
        F.struct(
            F.col(ts_col).alias("ts"),
            F.col(id_col).alias("id"),
            F.col(type_col).alias("t"),
        ),
    )
    stream = df.select(
        user_col,
        ts_col,
        type_col,
        id_col,
        F.unix_micros(F.col(ts_col)).alias("__ts_us"),
        touch.alias("__touch"),
    )
    w = (
        Window.partitionBy(user_col)
        .orderBy("__ts_us")
        .rangeBetween(-span_us, 0)
    )
    attributed = stream.select(
        user_col,
        ts_col,
        type_col,
        id_col,
        F.min("__touch").over(w).alias("__first"),
        F.max("__touch").over(w).alias("__last"),
    )
    conv = attributed.filter(F.col(type_col) == conversion_type)
    return conv.select(
        F.col(id_col).alias("conversion_id"),
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("conv_ts"),
        F.col("__first").getField("t").alias("first_touch_type"),
        F.col("__first").getField("ts").alias("first_touch_ts"),
        F.col("__last").getField("t").alias("last_touch_type"),
        F.col("__last").getField("ts").alias("last_touch_ts"),
    )


def session_paths(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    grain: str = "DAY",
    max_len: int = 8,
    top_k: int = 20,
) -> DataFrame:
    """Top-K behavioral paths: the frequency-ranked event-type sequences
    users actually take within a session (here a ``grain`` time bucket)
    — the sequence-mining staple behind "what do users do after X"
    product questions and behavioral-cloning dataset curation.

    Each (user, bucket) session contributes ONE path: its first
    ``max_len`` event types in (ts, id) order joined with ``>``. The
    length cap is applied as a row_number predicate BELOW the collapse,
    which Spark executes as WindowGroupLimit — per-partition top-N
    pushdown, so a runaway session (one bot user, 10⁷ events in a
    bucket) contributes ``max_len`` rows to the collect, never its whole
    history (the same bounded-group discipline as the posting-list rank
    cut, T82). The collapse groupBy shares the window's (user, bucket)
    hashpartitioning — one session-keyed exchange total; the path-count
    aggregation is session-sized and the final top-K is a TakeOrdered
    over path-count rows, never a global sort.

    Ordering is total ((ts, id), id unique), ties on count break on the
    path string, so the top-K is deterministic across layouts/engines.

    Output: (path, n_sessions), the ``top_k`` most frequent, ordered by
    (n_sessions desc, path asc).
    """
    sess = F.date_trunc(grain, F.col(ts_col)).alias("__sess")
    w = Window.partitionBy(user_col, "__sess").orderBy(ts_col, id_col)
    ranked = (
        df.select(
            F.col(user_col),
            sess,
            F.col(ts_col),
            F.col(id_col),
            F.col(type_col).alias("__t"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_len)
    )
    paths = (
        ranked.groupBy(user_col, "__sess")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__rn"), F.col("__t")))
            ).alias("__seq")
        )
        .select(
            F.concat_ws(
                ">", F.transform("__seq", lambda s: s["__t"])
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(top_k)
    )


def rfm_segments(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    r_days: tuple = (7, 30, 90),
    f_counts: tuple = (3, 10, 30),
    m_values: tuple = (100.0, 1000.0, 10000.0),
) -> DataFrame:
    """Recency/Frequency/Monetary segmentation — the classic behavioral
    triage (band 4 = best) used to pick power users, churn risks and
    whale accounts; in a data-pipeline context it triages SOURCES by
    contribution recency/volume before sampling weights are assigned.

    Recency anchors on the CORPUS max timestamp (one-row aggregate,
    broadcast — deterministic and replayable, unlike wall-clock now());
    frequency/monetary are one map-side-combined user aggregation with
    the decimal money discipline. Bands come from caller-fixed ascending
    thresholds (quantile-derived bands belong to the percentile kernel;
    fixed cutoffs keep this one-pass and streaming-friendly): band =
    1 + #(thresholds passed), where recency passes by being UNDER the
    cutoff and frequency/monetary by being OVER it.

    Output: (user, recency_days, frequency, monetary, r_band, f_band,
    m_band) — one row per user.
    """
    anchor = df.agg(F.max(ts_col).alias("__anchor"))
    per_user = (
        df.groupBy(user_col)
        .agg(
            F.max(ts_col).alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(
                F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double"),
                2,
            ).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .withColumn(
            "recency_days",
            F.floor(
                (
                    F.unix_micros(F.col("__anchor"))
                    - F.unix_micros(F.col("__last"))
                )
                / F.lit(86400 * 1_000_000)
            ).cast("int"),
        )
    )

    def band_under(col, cuts):
        b = F.lit(1)
        for c in sorted(cuts, reverse=True):
            b = b + (col <= F.lit(c)).cast("int")
        return b

    def band_over(col, cuts):
        b = F.lit(1)
        for c in sorted(cuts):
            b = b + (col >= F.lit(c)).cast("int")
        return b

    return per_user.select(
        F.col(user_col),
        "recency_days",
        "frequency",
        "monetary",
        band_under(F.col("recency_days"), r_days).alias("r_band"),
        band_over(F.col("frequency"), f_counts).alias("f_band"),
        band_over(F.col("monetary"), m_values).alias("m_band"),
    )


def sequence_motifs(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_cols: list[str] | None = None,
    n: int = 3,
    min_support: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Frequent length-``n`` behavioral motifs: the n-gram extension of
    ``transition_matrix`` (bigrams) — which ordered event-type runs
    recur across the stream, the sequential-pattern primitive behind
    "what do users do right before churning/purchasing".

    Physical shape: ONE user-keyed exchange carries everything — the
    n-gram forms with ``n-1`` stacked ``lead`` projections over the same
    (ts, tiebreak) window (no self-joins: an n-way join formulation
    would shuffle the stream n times), then a motif-keyed map-side-
    combined count. Output is bounded by ``top_k``, taken with the
    total (count DESC, motif ASC) order so the cut is deterministic;
    the count aggregation itself is |event-type|ⁿ-bounded, tiny next
    to the stream. Rows with NULL user/ts/type drop first (a sequence
    has no slot for them); windows shorter than ``n`` produce no motif.

    Output: (motif 'a>b>c', n_occurrences, n_users) — occurrences count
    overlapping n-grams, n_users the distinct users exhibiting each.

    Engine addition (no reference counterpart; reference aggregations
    are grouped sums — SURVEY §2.5).
    """
    tb = tiebreak_cols or []
    w = Window.partitionBy(user_col).orderBy(ts_col, *tb)
    base = df.filter(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(type_col).isNotNull()
    )
    steps = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, n)
    ]
    grams = base.select(
        F.col(user_col).alias("__u"),
        F.concat_ws(">", *steps).alias("motif"),
        *[s.alias(f"__s{i}") for i, s in enumerate(steps)],
    ).filter(
        # concat_ws skips NULLs silently — require every slot explicitly
        F.expr(
            " AND ".join(f"__s{i} IS NOT NULL" for i in range(n))
        )
    )
    return (
        grams.groupBy("motif")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.count_distinct("__u").cast("bigint").alias("n_users"),
        )
        .filter(F.col("n_occurrences") >= min_support)
        .orderBy(F.col("n_occurrences").desc(), F.col("motif").asc())
        .limit(top_k)
    )


def interarrival_stats(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
    min_events: int = 3,
) -> DataFrame:
    """Per-key inter-arrival statistics + burstiness index: gap mean,
    sample std, coefficient of variation and Goh-Barabási burstiness
    B = (σ−μ)/(σ+μ) — the temporal-texture summary that separates a
    steady heartbeat (B→−1) from bursty human/incident behavior (B→1)
    BEFORE anyone fits session windows or anomaly thresholds to the
    wrong cadence.

    Exactness: gaps are integer SECONDS (floor of the micros diff —
    the documented 1 s gap resolution; sub-second cadences are the
    anomaly tier's RANGE windows' job) from ONE lag over the keyed
    (ts, tiebreak) window; n, Σg, Σg² aggregate as 64-bit integers —
    order-independent, and second-resolution keeps Σg² inside 2⁶³ for
    ~10⁶ gaps of up to ~90 years each (micros would overflow on a
    single month-long gap squared). mean/std/CV/B then derive in a
    fixed double expression order rounded to 6 dp. Keys with fewer
    than ``min_events`` events emit NULL statistics (two gaps make no
    distribution); zero-variance keys emit CV=0, B=−1 exactly.

    One keyed exchange + map-side-combined aggregation to key
    cardinality. Output: (user, n_gaps, mean_gap_s, std_gap_s, cv,
    burstiness). Engine addition.
    """
    tb = tiebreak_cols or []
    w = Window.partitionBy(user_col).orderBy(ts_col, *tb)
    base = df.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).alias("__u"),
        F.unix_micros(F.col(ts_col)).alias("__t"),
        *[F.col(c) for c in tb],
    )
    w2 = Window.partitionBy("__u").orderBy("__t", *tb)
    gap_us = F.col("__t") - F.lag("__t", 1).over(w2)
    gaps = base.select(
        "__u", (gap_us - (gap_us % 1_000_000)).alias("__gus")
    ).filter(F.col("__gus").isNotNull()).select(
        "__u", (F.col("__gus") / F.lit(1_000_000)).cast("long").alias("__g")
    )
    agg = gaps.groupBy("__u").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("__g").alias("__s1"),
        F.sum(F.col("__g") * F.col("__g")).alias("__s2"),
    )
    nD = F.col("n_gaps").cast("double")
    s1D = F.col("__s1").cast("double")
    s2D = F.col("__s2").cast("double")
    mean_s = s1D / nD
    var_s = F.when(
        F.col("n_gaps") > 1,
        (nD * s2D - s1D * s1D) / (nD * (nD - 1)),
    ).otherwise(F.lit(0.0))
    std_s = F.sqrt(F.greatest(var_s, F.lit(0.0)))
    enough = F.col("n_gaps") >= min_events - 1
    cv = F.when(mean_s > 0, std_s / mean_s).otherwise(F.lit(0.0))
    burst = F.when(
        (std_s + mean_s) > 0, (std_s - mean_s) / (std_s + mean_s)
    ).otherwise(F.lit(0.0))
    return agg.select(
        F.col("__u").alias(user_col),
        "n_gaps",
        F.when(enough, F.round(mean_s, 6)).alias("mean_gap_s"),
        F.when(enough, F.round(std_s, 6)).alias("std_gap_s"),
        F.when(enough, F.round(cv, 6)).alias("cv"),
        F.when(enough, F.round(burst, 6)).alias("burstiness"),
    ).orderBy(user_col)


def kaplan_meier(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    churn_seconds: int,
    bucket_seconds: int = 86_400,
) -> DataFrame:
    """Kaplan-Meier survival curve over user activity lifetimes with
    right censoring — the churn/retention LAW estimate (product-limit)
    that naive "fraction active after t" readouts bias when users joined
    at different times. A user's lifetime is their activity span
    (last - first event); the user is an observed churn if their last
    event precedes the corpus as-of instant (the global max timestamp —
    in-query, deterministic) by more than ``churn_seconds``, else they
    are censored at their current span.

    S(t_i) = Π_{j<=i} (1 - d_j / n_j) over event-time buckets: d_j =
    churns whose lifetime falls in bucket j, n_j = users still at risk
    (lifetime >= bucket j, censored included). The product is the
    engine-portable exp(sum(ln)) of ``windows.cumulative_product``
    (censor-only buckets contribute factor 1 exactly; an all-die bucket
    pins S to 0 via the min-factor guard, since ln(0) is engine-
    dependent), rounded 6 dp.

    Scale shape: the heavy pass is ONE user-keyed aggregation; the curve
    table the windows run on is bucket-cardinality-sized (lifetimes /
    ``bucket_seconds`` — day granularity by default, so a single-
    partition ordered window over it is output-sized by construction,
    the exact_percentiles discipline). Output: (t_s, n_risk, n_churned,
    n_censored, survival) for buckets with >= 1 churn, ascending.
    Engine addition; no reference counterpart.
    """
    per = (
        df.filter(F.col(ts_col).isNotNull())
        .select(
            F.col(user_col).alias("__u"),
            F.unix_micros(F.col(ts_col)).alias("__ts"),
        )
        .groupBy("__u")
        .agg(
            F.min("__ts").alias("__first"),
            F.max("__ts").alias("__last"),
        )
    )
    as_of = per.agg(F.max("__last").alias("__as_of"))
    bucket_us = F.lit(int(bucket_seconds) * 1_000_000)
    dur = F.col("__last") - F.col("__first")
    t_s = ((dur - dur % bucket_us) / bucket_us).cast("long") * F.lit(
        int(bucket_seconds)
    )
    lifed = per.crossJoin(F.broadcast(as_of)).select(
        t_s.alias("t_s"),
        (
            (F.col("__as_of") - F.col("__last"))
            > F.lit(int(churn_seconds) * 1_000_000)
        ).alias("__churned"),
    )
    times = lifed.groupBy("t_s").agg(
        F.sum(F.when(F.col("__churned"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_churned"),
        F.sum(F.when(F.col("__churned"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_censored"),
    )
    w_all = Window.orderBy("t_s").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prev = Window.orderBy("t_s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.orderBy("t_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    leavers = F.col("n_churned") + F.col("n_censored")
    n_risk = (
        F.sum(leavers).over(w_all)
        - F.coalesce(F.sum(leavers).over(w_prev), F.lit(0))
    ).cast("bigint")
    staged = times.withColumn("n_risk", n_risk).withColumn(
        "__factor",
        F.lit(1.0)
        - F.col("n_churned").cast("double")
        / F.col("n_risk").cast("double"),
    )
    min_factor = F.min("__factor").over(w_run)
    surv = F.when(min_factor == 0.0, F.lit(0.0)).otherwise(
        F.exp(F.sum(F.log("__factor")).over(w_run))
    )
    return (
        staged.withColumn("survival", F.round(surv, 6))
        .filter(F.col("n_churned") > 0)
        .select(
            "t_s", "n_risk", "n_churned", "n_censored", "survival"
        )
        .orderBy("t_s")
    )


def funnel_step_times(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    pcts_ppm: tuple[int, ...] = (500_000, 900_000),
) -> DataFrame:
    """Time-to-convert between consecutive funnel steps: for each hop
    i→i+1, the converting-user count, conversion rate from the hop's
    entry population, and exact order-statistic percentiles of the hop
    latency — the "WHERE does the funnel stall and for HOW LONG"
    readout ``funnel_steps``' completion counts cannot give.

    Hop latencies come from ``funnel_steps``' strictly-ordered step
    times (integer seconds, floor of the micros gap); percentiles are
    the winsorize tier's pure-integer ceil(p·n) ranks over ONE
    hop-keyed ordered window (hops×users rows after a melt — duplicate
    latencies commute, no tie-break). Output: one row per hop
    (hop, step_from, step_to, n_entered, n_converted, rate,
    p50_s, p90_s), ordered by hop — column names fixed for the default
    two percentiles. Engine addition; no reference counterpart.
    """
    ft = funnel_steps(df, user_col, ts_col, type_col, steps)
    hops = []
    for i in range(len(steps) - 1):
        a, b = f"t_{steps[i]}", f"t_{steps[i+1]}"
        gap_us = F.unix_micros(F.col(b)) - F.unix_micros(F.col(a))
        hops.append(
            ft.select(
                F.lit(i + 1).alias("hop"),
                F.lit(steps[i]).alias("step_from"),
                F.lit(steps[i + 1]).alias("step_to"),
                F.col(a).isNotNull().cast("int").alias("__entered"),
                F.when(
                    F.col(b).isNotNull(),
                    ((gap_us - gap_us % 1_000_000) / 1_000_000).cast(
                        "bigint"
                    ),
                ).alias("__gap_s"),
            )
        )
    melted = hops[0]
    for h in hops[1:]:
        melted = melted.unionByName(h)
    entered = melted.groupBy("hop", "step_from", "step_to").agg(
        F.sum("__entered").cast("bigint").alias("n_entered"),
        F.count("__gap_s").cast("bigint").alias("n_converted"),
    )
    conv = melted.filter(F.col("__gap_s").isNotNull())
    w_ord = Window.partitionBy("hop").orderBy("__gap_s")
    w_all = Window.partitionBy("hop")
    ranked = conv.withColumn("__rn", F.row_number().over(w_ord)).withColumn(
        "__n", F.count(F.lit(1)).over(w_all)
    )
    labels = [f"p{int(ppm) // 10000}_s" for ppm in pcts_ppm]
    if len(set(labels)) != len(labels):
        # e.g. 990000 and 995000 both floor to p99_s — silent duplicate
        # output columns; demand ppm values that map to distinct labels
        raise ValueError(
            f"pcts_ppm {list(pcts_ppm)} collide on percentile column "
            f"labels {labels}; use values that differ in whole percents"
        )
    cut_aggs = []
    for ppm in pcts_ppm:
        k = F.expr(
            f"greatest(1L, ({int(ppm)}L * __n + 999999L) div 1000000L)"
        )
        cut_aggs.append(
            F.max(F.when(F.col("__rn") == k, F.col("__gap_s"))).alias(
                f"p{ppm // 10000}_s"
            )
        )
    cuts = ranked.groupBy("hop").agg(*cut_aggs)
    rate = F.when(
        F.col("n_entered") > 0,
        F.round(
            F.col("n_converted").cast("double")
            / F.col("n_entered").cast("double"),
            6,
        ),
    )
    return (
        entered.join(cuts, "hop", "left")
        .select(
            "hop",
            "step_from",
            "step_to",
            "n_entered",
            "n_converted",
            rate.alias("rate"),
            *[F.col(f"p{p // 10000}_s") for p in pcts_ppm],
        )
        .orderBy("hop")
    )


def markov_stationary(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
    n_iter: int = 8,
) -> DataFrame:
    """Stationary distribution of the per-user event-type transition
    chain — where the behavior system spends its long-run time, the
    eigenvector summary the raw T68 transition matrix only hints at.
    Power iteration in integer NANO-units (the PageRank discipline):
    each round's mass flows π'(j) = Σ_i round(π(i)·c(i,j)/out(i)),
    then renormalizes to exactly 1e9 total (types with no outbound
    transitions leak mass; renormalization redistributes it
    proportionally — the standard dangling-mass fix). Every quantity
    both engines compute is an exact 64-bit integer or a deterministic
    IEEE double of exact integers, so the oracle unrolls the SAME
    ``n_iter`` rounds as CTE stages and matches bit-for-bit.

    Scale shape: ONE user-keyed lag window over the corpus builds the
    (from, to, count) matrix (type²-bounded); the iteration then runs
    on that tiny frame — each round references the previous π exactly
    once (linear lineage, the LPA discipline). Output: (event_type,
    n_out_transitions, stationary) 6 dp, ordered. Engine addition; no
    reference counterpart.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    pairs = cut(
        df.filter(
            F.col(ts_col).isNotNull() & F.col(type_col).isNotNull()
        )
        .withColumn("__next", F.lead(type_col).over(w))
        .filter(F.col("__next").isNotNull())
        .groupBy(
            F.col(type_col).alias("__f"), F.col("__next").alias("__t")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
        # r15: pairs is the ONE corpus-scale subtree here (user-keyed
        # lag window + groupBy) and it feeds out_tot, trans and types —
        # and through them EVERY iteration's flowed/nxt join. Without a
        # cut each of the n_iter rounds re-planned and re-executed the
        # corpus window ~4x (r15 executed-plan audit at sf0.1: 37
        # parquet scans / 128 exchanges, ~7s exec). One lazy cut
        # materializes it once; everything downstream is type²-bounded.
    )
    out_tot = pairs.groupBy("__f").agg(
        F.sum("__c").cast("bigint").alias("__rt")
    )
    trans = pairs.join(out_tot, "__f")
    types = (
        pairs.select(F.col("__f").alias("__ty"))
        .union(pairs.select("__t"))
        .distinct()
    )
    kcnt = types.agg(F.count(F.lit(1)).cast("bigint").alias("__k"))
    pi = types.crossJoin(F.broadcast(kcnt)).select(
        "__ty", F.expr("1000000000L div __k").alias("__pi")
    )
    for _ in range(n_iter):
        flowed = (
            trans.join(pi, trans["__f"] == pi["__ty"])
            .select(
                F.col("__t").alias("__ty"),
                F.round(
                    F.col("__pi").cast("double")
                    * F.col("__c").cast("double")
                    / F.col("__rt").cast("double")
                )
                .cast("bigint")
                .alias("__m"),
            )
            .groupBy("__ty")
            .agg(F.sum("__m").cast("bigint").alias("__pi_raw"))
        )
        nxt = types.join(flowed, "__ty", "left").select(
            "__ty",
            F.coalesce("__pi_raw", F.lit(0)).cast("bigint").alias(
                "__pi_raw"
            ),
        )
        # renormalize via ONE unpartitioned window over the type-
        # cardinality frame: a separate agg + crossJoin references nxt
        # TWICE per round -> 2^n plan lineage (the kcore lesson; this
        # exact shape StackOverflowed planning at n_iter=8). The window
        # is single-partition BY DESIGN — k rows, output-sized.
        tot_w = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        pi = nxt.select(
            "__ty",
            F.round(
                F.col("__pi_raw").cast("double")
                * F.lit(1e9)
                / F.sum("__pi_raw").over(tot_w).cast("double")
            )
            .cast("bigint")
            .alias("__pi"),
        )
    return (
        pi.join(
            out_tot.withColumnRenamed("__f", "__ty"), "__ty", "left"
        )
        .select(
            F.col("__ty").alias(type_col),
            F.coalesce("__rt", F.lit(0)).cast("bigint").alias(
                "n_out_transitions"
            ),
            F.round(
                F.col("__pi").cast("double") / F.lit(1e9), 6
            ).alias("stationary"),
        )
        .orderBy(type_col)
    )


def transition_fold(
    batch: DataFrame,
    state: DataFrame | None,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Event-type transition counts for continuous ingest: fold ONE
    time-slice against a key-sized carried state and return
    ``(batch_transitions, new_state)`` — the foreachBatch resident that
    keeps ``markov_stationary``'s input matrix live on a stream (the
    cusum_fold/holt_fold contract; transitions are pure counts, so
    folded ledgers sum additively into the one-shot matrix —
    batch ≡ stream pinned in tests/test_streaming.py).

    The carried state is each user's LAST (ts, tiebreak, type): a
    slice's first event forms a boundary transition from the carried
    type, within-slice transitions come from the usual lag window, and
    the new state is the slice's last event per user (absent users
    carry through untouched). Batches must arrive in (ts, tiebreak)
    order per key — the standard append-stream contract.
    """
    spark = batch.sparkSession
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in batch.select(user_col, ts_col, tiebreak_col).schema.fields
    )
    ty_type = batch.schema[type_col].dataType.simpleString()
    state_schema = f"{key_schema}, __last_type {ty_type}"
    if state is None:
        state = spark.createDataFrame([], state_schema)
    enc = batch.filter(
        F.col(ts_col).isNotNull() & F.col(type_col).isNotNull()
    ).select(user_col, ts_col, tiebreak_col, type_col)
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    within = (
        enc.withColumn("__prev", F.lag(type_col).over(w))
        .filter(F.col("__prev").isNotNull())
        .select(
            F.col("__prev").alias("from_type"),
            F.col(type_col).alias("to_type"),
        )
    )
    firsts = (
        enc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(user_col, F.col(type_col).alias("__first_type"))
    )
    boundary = firsts.join(
        state.select(user_col, "__last_type"), user_col
    ).select(
        F.col("__last_type").alias("from_type"),
        F.col("__first_type").alias("to_type"),
    )
    out = (
        within.unionByName(boundary)
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    lasts = (
        enc.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(user_col).orderBy(
                    F.col(ts_col).desc(), F.col(tiebreak_col).desc()
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .select(
            user_col,
            ts_col,
            tiebreak_col,
            F.col(type_col).alias("__last_type"),
        )
    )
    untouched = state.join(
        enc.select(user_col).distinct(), user_col, "left_anti"
    )
    return out, lasts.unionByName(untouched)


def cohort_value_curve(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    val_col: str,
) -> DataFrame:
    """Cohort value (LTV) curve: users cohort by the ISO week of their
    FIRST event; per (cohort_week, age_weeks) the curve reports active
    users, the period's value and the cohort's CUMULATIVE value -- the
    payback/LTV readout product analytics reads off every retention
    table (T63 counts who comes back; this weighs what they bring).

    Scale shape: first-event timestamps are one user-keyed aggregate;
    cohort/age attach as a projection after one user-sized join; the
    (cohort, age) rollup map-side-combines, and the cumulative sum is
    a window over the cohort-keyed, age-ordered CELL table (cells <<
    events). Value pins to integer cents before every sum, so the
    cumulative column is engine-exact. Output: (cohort_week date,
    age_weeks, n_active, period_value, cum_value), ordered.
    """
    base = events.filter(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.round(F.coalesce(F.col(val_col), F.lit(0.0)) * 100, 0)
        .cast("long")
        .alias("__c"),
    )
    first = base.groupBy("__u").agg(
        F.date_trunc("week", F.min("__ts")).cast("date").alias("__cw")
    )
    cells = (
        base.join(first, "__u")
        .select(
            "__u",
            "__c",
            F.col("__cw"),
            F.expr(
                "CAST(datediff(CAST(__ts AS DATE), __cw) div 7"
                " AS BIGINT)"
            ).alias("age_weeks"),
        )
        .groupBy(F.col("__cw").alias("cohort_week"), "age_weeks")
        .agg(
            F.countDistinct("__u").cast("bigint").alias("n_active"),
            F.sum("__c").cast("bigint").alias("__pc"),
        )
    )
    w = Window.partitionBy("cohort_week").orderBy("age_weeks")
    return (
        cells.withColumn("__cum", F.sum("__pc").over(w))
        .select(
            "cohort_week",
            "age_weeks",
            "n_active",
            F.round(F.col("__pc").cast("double") / 100, 6).alias(
                "period_value"
            ),
            F.round(F.col("__cum").cast("double") / 100, 6).alias(
                "cum_value"
            ),
        )
        .orderBy("cohort_week", "age_weeks")
    )


def audience_overlap(
    df: DataFrame,
    user_col: str,
    type_col: str,
) -> DataFrame:
    """Audience overlap between event types — which behaviors share
    users: per unordered type pair (type_a < type_b) the distinct-user
    intersection, each side's audience size, and set Jaccard in exact
    floor micro-units (1e6·|A∩B| div |A∪B|). The segmentation readout
    that decides whether two surfaces can share a funnel or must be
    modeled apart.

    Shape: ONE distinct (user, type) projection (the only row-scaled
    exchange), a user-keyed self-join whose fan-out is bounded by each
    user's distinct-type count (≤ |types|, a schema-sized constant —
    never a row-scaled pair explosion), a pair-cell aggregation, and a
    broadcast join of per-type audience counts. NULL users/types drop
    by contract. Output: (type_a, type_b, n_a, n_b, n_both,
    jaccard_micro), ordered.
    """
    ut = (
        df.select(
            F.col(user_col).alias("__u"), F.col(type_col).alias("__t")
        )
        .filter(F.col("__u").isNotNull() & F.col("__t").isNotNull())
        .distinct()
    )
    sizes = ut.groupBy(F.col("__t").alias("__tt")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    a, b = ut.alias("a"), ut.alias("b")
    both = (
        a.join(
            b,
            (F.col("a.__u") == F.col("b.__u"))
            & (F.col("a.__t") < F.col("b.__t")),
        )
        .groupBy(
            F.col("a.__t").alias("type_a"), F.col("b.__t").alias("type_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    return (
        both.join(
            F.broadcast(sizes.withColumnRenamed("__n", "n_a")),
            F.col("type_a") == F.col("__tt"),
        )
        .drop("__tt")
        .join(
            F.broadcast(sizes.withColumnRenamed("__n", "n_b")),
            F.col("type_b") == F.col("__tt"),
        )
        .drop("__tt")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.expr(
                "CAST(1000000 * n_both div (n_a + n_b - n_both)"
                " AS BIGINT)"
            ).alias("jaccard_micro"),
        )
        .orderBy("type_a", "type_b")
    )


def stickiness(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    segment_col: str | None = None,
) -> DataFrame:
    """Monthly DAU/MAU stickiness — the engagement-density readout
    retention curves miss (a product can retain users who each show up
    once a month; stickiness says how much of the monthly audience is
    active on a typical day). Exact integers end-to-end:
    stickiness_ppm = 1000000 · Σ(daily distinct users) // (n_days ·
    monthly distinct users), with n_days = days actually observed (not
    calendar length — a half-instrumented month is not a quiet month).
    NULL user/ts rows are dropped by contract. With ``segment_col`` the
    readout is per (segment, month) — per-feature stickiness, the
    which-surface-is-habit-forming comparison (NULL segments form their
    own category: unattributed traffic is a finding).

    Scale shape: ONE distinct pass over (segment, month, day, user) —
    the same exchange then feeds the daily counts and (keyed one level
    up) the monthly distincts; no per-event window, no second scan of
    the raw stream.
    """
    seg = [segment_col] if segment_col else []
    e = (
        events.filter(
            F.col(ts_col).isNotNull() & F.col(user_col).isNotNull()
        )
        .select(
            *seg,
            F.date_trunc("month", F.col(ts_col))
            .cast("date")
            .alias("month"),
            F.col(ts_col).cast("date").alias("day"),
            F.col(user_col).alias("u"),
        )
        .distinct()
    )
    daily = e.groupBy(*seg, "month", "day").agg(
        F.count("*").alias("dau")
    )
    per = daily.groupBy(*seg, "month").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("dau").cast("bigint").alias("dau_sum"),
    )
    mau = e.groupBy(*seg, "month").agg(
        F.countDistinct("u").cast("bigint").alias("mau")
    )
    p, m = per.alias("__p"), mau.alias("__m")
    cond = F.lit(True)
    for c in seg + ["month"]:
        # null-safe: a NULL segment is a real category, not a dropped key
        cond = cond & F.col(f"__p.{c}").eqNullSafe(F.col(f"__m.{c}"))
    return (
        p.join(m, cond)
        .select(
            *[F.col(f"__p.{c}") for c in seg],
            F.col("__p.month").alias("month"),
            "n_days",
            "dau_sum",
            "mau",
            F.expr(
                "CAST(1000000 * dau_sum div (n_days * mau) AS BIGINT)"
            ).alias("stickiness_ppm"),
        )
        .orderBy(*seg, "month")
    )


def growth_accounting(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Daily growth accounting — the canonical new / retained /
    resurrected / churned decomposition of an active-user count (an
    "active users grew 3%" headline hides whether acquisition is
    masking churn; this ledger does not). Per day: n_active, n_new
    (first-ever day), n_retained (also active the previous calendar
    day), n_resurrected (active, not new, gap > 1 day), and n_churned
    = users whose LAST activity was the previous day (attributed to
    the day they went silent; the trailing day's churn is unknowable
    until more data arrives and is reported as of the observed
    horizon). Identity n_active = n_new + n_retained + n_resurrected
    holds exactly. NULL user/ts rows drop by contract.

    Scale shape: ONE distinct (user, day) pass, one user-keyed window
    for first-day/lag/lead, then a day-keyed count aggregation —
    nothing wider than the distinct activity table ever shuffles.
    """
    e = (
        events.filter(
            F.col(ts_col).isNotNull() & F.col(user_col).isNotNull()
        )
        .select(
            F.col(user_col).alias("u"),
            F.col(ts_col).cast("date").alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("u").orderBy("day")
    wall = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    flags = e.select(
        "u",
        "day",
        (F.col("day") == F.first("day").over(wall)).alias("__new"),
        F.datediff(F.col("day"), F.lag("day", 1).over(w)).alias("__gap"),
        F.datediff(F.lead("day", 1).over(w), F.col("day")).alias(
            "__next_gap"
        ),
    )
    active = flags.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_active"),
        F.sum(F.when(F.col("__new"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(F.col("__gap") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_retained"),
        F.sum(
            F.when(~F.col("__new") & (F.col("__gap") > 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_resurrected"),
    )
    # churn attributed to day d = users active on d-1 with no activity
    # on d (next_gap > 1 or no later activity at all)
    churn = (
        flags.filter(
            F.col("__next_gap").isNull() | (F.col("__next_gap") > 1)
        )
        .select(F.date_add("day", 1).alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("bigint").alias("n_churned"))
    )
    return (
        active.join(churn, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_active", F.lit(0)).alias("n_active"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
            F.coalesce("n_resurrected", F.lit(0)).alias("n_resurrected"),
            F.coalesce("n_churned", F.lit(0)).alias("n_churned"),
        )
        .orderBy("day")
    )


def activity_profile(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Hour-of-week activity heatmap: per (day-of-week, hour) cell the
    event count, distinct users and exact-ppm share of total traffic —
    the load-shape readout behind capacity planning and anomaly
    baselines. Day-of-week computes PORTABLY as (epoch_day + 4) mod 7
    (1970-01-01 was a Thursday; 0 = Sunday) — never the engine's
    dayofweek builtin, whose origin differs between engines. One cell
    aggregation; the global total enters as a broadcast scalar.
    """
    return activity_from_user_cells(
        activity_user_cells(events, user_col=user_col, ts_col=ts_col)
    )


def activity_user_cells(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """The ADDITIVE ledger grain behind ``activity_profile``: one row
    per (dow, hour, user) with its event count. Ledgers from disjoint
    micro-batches fold by union + re-sum (n_events is additive; the
    user dimension dedupes in the readout) — the streaming-resident
    form, same shape as the DQ seen-keys store."""
    return (
        events.filter(F.col(ts_col).isNotNull())
        .select(
            F.expr(
                f"CAST((datediff(CAST({ts_col} AS DATE),"
                " DATE'1970-01-01') + 4) % 7 AS INT)"
            ).alias("dow"),
            F.hour(F.col(ts_col)).alias("hour"),
            F.col(user_col).alias("u"),
        )
        .groupBy("dow", "hour", "u")
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )


def activity_from_user_cells(cells: DataFrame) -> DataFrame:
    """Ledger → the ``activity_profile`` readout: (dow, hour) cells
    with event counts, distinct users (NULL users count events but not
    users) and exact-ppm traffic share off a broadcast total."""
    agg = cells.groupBy("dow", "hour").agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.countDistinct("u").cast("bigint").alias("n_users"),
    )
    total = agg.agg(F.sum("n_events").cast("bigint").alias("__total"))
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "dow",
            "hour",
            "n_events",
            "n_users",
            F.expr(
                "CAST(1000000 * n_events div __total AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("dow", "hour")
    )


# Wilson z for 95% two-sided, embedded as a fixed literal so both
# engines fold the identical double (never compute it from a libm
# quantile at plan time).
WILSON_Z = 1.959964
WILSON_Z2 = WILSON_Z * WILSON_Z


def conversion_rate_series(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    exposure_type: str = "view",
    conversion_type: str = "purchase",
) -> DataFrame:
    """Daily conversion rate with a 95% Wilson score interval — the
    is-the-funnel-broken-today readout with honest uncertainty: a
    3-conversion day and a 3,000-conversion day showing the same rate
    are NOT the same evidence, and the Wilson interval (unlike the
    textbook normal approximation) stays inside [0,1] and behaves at
    small n — which daily slices of a funnel always include. The rate
    is a TRUE proportion: conversions over ALL funnel events that day
    (exposure + conversion types), so k ≤ n holds by construction even
    when conversion events are not logged as a subset of exposures.
    Rows: (day, n_exposures, n_conversions, rate_ppm, wilson_lo,
    wilson_hi) with n_exposures = the funnel-event denominator; days
    with zero funnel events are absent by construction.

    Engine-exactness: counts are exact integers; rate_ppm is a floor
    division; the Wilson bounds are IEEE double arithmetic over those
    integers with the z constant embedded as a fixed literal and the
    formula spelled in ONE canonical operand order mirrored by the SQL
    twin (sqrt is correctly-rounded per IEEE — the same expression
    tree yields the same bits), rounded to 6 dp at the very end.
    One day-keyed aggregation is the only exchange.
    """
    return conversion_ci_from_cells(
        conversion_day_cells(
            events, ts_col, type_col, exposure_type, conversion_type
        )
    )


def conversion_day_cells(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    exposure_type: str = "view",
    conversion_type: str = "purchase",
) -> DataFrame:
    """Per-batch (day, n_exposures, n_conversions) funnel counters — the
    map half of the streaming conversion-CI resident. Both counters are
    plain sums, so cells fold ADDITIVELY across micro-batches;
    foreachBatch ledger + ``conversion_ci_from_cells`` ≡ the one-shot
    ``conversion_rate_series`` — the Wilson bounds recompute from the
    folded integer counts, never fold themselves
    (tests/test_streaming.py)."""
    e = events.filter(
        F.col(ts_col).isNotNull()
        & F.col(type_col).isin(exposure_type, conversion_type)
    ).select(
        F.col(ts_col).cast("date").alias("day"),
        (F.col(type_col) == conversion_type).alias("__conv"),
    )
    return e.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_exposures"),
        F.sum(F.when(F.col("__conv"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_conversions"),
    )


def conversion_ci_from_cells(cells: DataFrame) -> DataFrame:
    """Conversion-CI readout from a PRE-AGGREGATED (day, n_exposures,
    n_conversions) ledger — the streaming-foldable half of
    ``conversion_rate_series``: re-collapse the append ledger by
    summation, then the ppm rate and Wilson bounds as IEEE doubles over
    the folded EXACT integers (intervals are a nonlinear function of
    k/n, so the resident folds counters and recomputes bounds — folding
    per-batch bounds would be wrong)."""
    day = cells.groupBy("day").agg(
        F.sum("n_exposures").cast("bigint").alias("n_exposures"),
        F.sum("n_conversions").cast("bigint").alias("n_conversions"),
    ).filter(F.col("n_exposures") > 0)
    # canonical spelling shared with the SQL twin: p = k/n computed
    # once, then center/margin/denominator in this exact order
    expr = (
        "round(((n_conversions / CAST(n_exposures AS DOUBLE)"
        " + {z2} / (2.0 * n_exposures)) {sign} {z} * sqrt("
        "(n_conversions / CAST(n_exposures AS DOUBLE))"
        " * (1.0 - n_conversions / CAST(n_exposures AS DOUBLE))"
        " / n_exposures"
        " + {z2} / (4.0 * n_exposures * n_exposures)))"
        " / (1.0 + {z2} / n_exposures), 6)"
    )
    return day.select(
        "day",
        "n_exposures",
        "n_conversions",
        F.expr(
            "CAST(1000000 * n_conversions div n_exposures AS BIGINT)"
        ).alias("rate_ppm"),
        F.expr(
            expr.format(z=WILSON_Z, z2=WILSON_Z2, sign="-")
        ).alias("wilson_lo"),
        F.expr(
            expr.format(z=WILSON_Z, z2=WILSON_Z2, sign="+")
        ).alias("wilson_hi"),
    ).orderBy("day")


def sprt_audit(
    events: DataFrame,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.2,
    ts_col: str = "ts",
    type_col: str = "event_type",
    exposure_type: str = "view",
    conversion_type: str = "purchase",
) -> DataFrame:
    """Wald sequential probability ratio test over the daily funnel
    counters — the when-could-we-have-stopped readout that the
    fixed-horizon A/B readout (pf_ab_test) and the per-day Wilson band
    (ev_conversion_ci) cannot give: per day the Bernoulli
    log-likelihood-ratio increment for H1: rate = p1 vs H0: rate = p0,
    its running total, and the Wald decision against the
    ln((1−β)/α) / ln(β/(1−α)) boundaries. An experiment platform runs
    this daily and stops paying for traffic the day the verdict leaves
    'continue' — sequential testing with controlled error rates.

    Engine-exactness: the four log terms are PLAN-TIME literal nano
    integers (the aa_weights_nano discipline — ln() diverges a nano
    across libms), so the increment k·w₁ + (n−k)·w₀ and its cumulative
    sum are integer arithmetic both engines replay bit-for-bit. Daily
    counters fold through the same ``conversion_day_cells`` kernel as
    the CI resident — the SPRT readout is streaming-resident for free
    (fold counters, recompute the cumulative verdict). One day-keyed
    aggregation + one ≤days-sized window. Output: (day, n, k,
    llr_nano, cum_llr_nano, verdict), day ascending; verdicts after a
    boundary crossing keep reporting the crossed state (the test is
    over — later days are bookkeeping).
    """
    import math

    if not (0.0 < p0 < 1.0 and 0.0 < p1 < 1.0 and p0 != p1):
        raise ValueError(f"need 0 < p0 != p1 < 1: {p0}, {p1}")
    if not (0.0 < alpha < 1.0 and 0.0 < beta < 1.0):
        raise ValueError(f"alpha/beta must be in (0,1): {alpha}, {beta}")
    w1 = round(1e9 * math.log(p1 / p0))
    w0 = round(1e9 * math.log((1.0 - p1) / (1.0 - p0)))
    up = round(1e9 * math.log((1.0 - beta) / alpha))
    lo = round(1e9 * math.log(beta / (1.0 - alpha)))
    day = conversion_day_cells(
        events, ts_col, type_col, exposure_type, conversion_type
    ).filter(F.col("n_exposures") > 0)
    llr = (
        F.col("n_conversions") * F.lit(w1)
        + (F.col("n_exposures") - F.col("n_conversions")) * F.lit(w0)
    ).cast("long")
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scored = day.select(
        "day",
        F.col("n_exposures").alias("n"),
        F.col("n_conversions").alias("k"),
        llr.alias("llr_nano"),
        F.sum(llr).over(w).cast("long").alias("cum_llr_nano"),
    )
    # a crossed boundary latches: the verdict reports the FIRST crossing
    # (second projection — the latch window reads the materialized cum)
    w2 = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    first_hi = F.min(
        F.when(F.col("cum_llr_nano") >= up, F.col("day"))
    ).over(w2)
    first_lo = F.min(
        F.when(F.col("cum_llr_nano") <= lo, F.col("day"))
    ).over(w2)
    verdict = (
        F.when(
            first_hi.isNotNull()
            & (first_lo.isNull() | (first_hi <= first_lo)),
            F.lit("accept_h1"),
        )
        .when(first_lo.isNotNull(), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
    )
    return scored.select(
        "day", "n", "k", "llr_nano", "cum_llr_nano",
        verdict.alias("verdict"),
    ).orderBy("day")


def did_audit(
    df: DataFrame,
    group_col: str,
    treated_col: Column,
    post_col: Column,
    conv_col: Column,
) -> DataFrame:
    """Difference-in-differences readout — the quasi-experimental
    estimate when a rollout could not be randomized (a feature shipped
    to one cohort on a date): the treated cohort's pre→post rate change
    MINUS the control cohort's, which nets out whatever moved both
    cohorts (seasonality, site-wide launches) under the parallel-trends
    assumption. One grouped integer-counter aggregation; everything
    after runs on group-cardinality rows.

    Engine-exactness: per (group, treated, post) cell the counters are
    integer (n, k); rates pin to integer ppm by floor division and the
    DiD is a difference of those integers — no float anywhere. Cells
    with n=0 yield NULL rates and a NULL did_ppm (no evidence ≠ zero
    effect). Output per group: the four cell (n, k) pairs, the four
    ppm rates, and did_ppm, ordered by group. Engine addition; no
    reference counterpart.
    """
    base = df.select(
        F.col(group_col).alias("grp"),
        treated_col.cast("boolean").alias("__t"),
        post_col.cast("boolean").alias("__p"),
        conv_col.cast("int").alias("__c"),
    ).filter(F.col("__t").isNotNull() & F.col("__p").isNotNull())

    def cell(t: bool, p: bool, what: str) -> Column:
        hit = (F.col("__t") == t) & (F.col("__p") == p)
        if what == "n":
            agg = F.sum(hit.cast("int"))
        else:
            agg = F.sum(F.when(hit, F.col("__c")).otherwise(0))
        return F.coalesce(agg, F.lit(0)).cast("bigint")

    cells = base.groupBy("grp").agg(
        *[
            cell(t, p, w).alias(f"{w}_{'t' if t else 'c'}{'post' if p else 'pre'}")
            for t in (True, False)
            for p in (True, False)
            for w in ("n", "k")
        ]
    )

    def rate(tag: str) -> Column:
        n, k = F.col(f"n_{tag}"), F.col(f"k_{tag}")
        return F.when(
            n > 0, F.expr(f"CAST((1000000 * k_{tag}) div n_{tag} AS BIGINT)")
        ).alias(f"rate_{tag}_ppm")

    rated = cells.select(
        "grp",
        *[F.col(c) for c in cells.columns if c != "grp"],
        rate("tpre"),
        rate("tpost"),
        rate("cpre"),
        rate("cpost"),
    )
    did = (
        (F.col("rate_tpost_ppm") - F.col("rate_tpre_ppm"))
        - (F.col("rate_cpost_ppm") - F.col("rate_cpre_ppm"))
    ).cast("bigint")
    return rated.select(
        F.col("grp").alias(group_col),
        "n_tpre", "k_tpre", "n_tpost", "k_tpost",
        "n_cpre", "k_cpre", "n_cpost", "k_cpost",
        "rate_tpre_ppm", "rate_tpost_ppm",
        "rate_cpre_ppm", "rate_cpost_ppm",
        did.alias("did_ppm"),
    ).orderBy(group_col)


def cuped_audit(
    df: DataFrame,
    group_col: str,
    unit_col: str,
    treated_col: Column,
    pre_col: Column,
    value_col: Column,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al., WSDM
    2013) per group: the treated-vs-control difference of means after
    regressing out each unit's PRE-period covariate — the standard
    lever that cuts an A/B test's required sample by the squared
    pre/post correlation. ``pre_col`` marks pre-period rows,
    ``value_col`` is the per-row metric; per (group, unit) the pre sum
    x and post sum y accumulate in integer CENTS, and by linearity the
    adjusted effect needs only cell means:
    Δ_cuped = (ȳ_t − ȳ_c) − θ·(x̄_t − x̄_c), θ = cov(x, y)/var(x)
    pooled within the group — no per-unit adjusted column, no second
    pass.

    Engine-exactness (the pf_corr/assortativity discipline): unit
    sums are exact cents; the pooled moments Σx, Σy, Σxy, Σx²
    accumulate as DECIMAL(38,0) (order-independent); θ derives in one
    fixed double expression and ROUNDS to 6 dp before entering the
    effect (so both engines use the identical rounded θ); effects are
    cents-scale doubles rounded to 6 dp. Zero pre-variance → NULL θ
    and NULL adjusted effect (no covariate signal ≠ zero effect);
    a group missing either arm → NULL effects. Physical shape: one
    (group, unit)-keyed exchange + one group-bounded moment
    aggregation. Output: (group, n_t, n_c, theta, raw_effect_cents,
    cuped_effect_cents), ordered by group. Engine addition; no
    reference counterpart.
    """
    unit = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(unit_col).alias("__u"),
            treated_col.cast("boolean").alias("__t"),
            F.when(
                pre_col,
                F.round(value_col.cast("double") * 100, 0).cast("bigint"),
            )
            .otherwise(F.lit(0))
            .alias("__xc"),
            F.when(
                ~pre_col,
                F.round(value_col.cast("double") * 100, 0).cast("bigint"),
            )
            .otherwise(F.lit(0))
            .alias("__yc"),
        )
        .filter(F.col("__t").isNotNull() & F.col("__u").isNotNull())
        .groupBy("grp", "__u", "__t")
        .agg(
            F.sum("__xc").cast("bigint").alias("x"),
            F.sum("__yc").cast("bigint").alias("y"),
        )
    )
    dec = "decimal(38,0)"
    mom = unit.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr(f"CAST(x AS {dec})")).cast(dec).alias("sx"),
        F.sum(F.expr(f"CAST(y AS {dec})")).cast(dec).alias("sy"),
        F.sum(F.expr(f"CAST(x AS {dec}) * y")).cast(dec).alias("sxy"),
        F.sum(F.expr(f"CAST(x AS {dec}) * x")).cast(dec).alias("sxx"),
        F.sum(F.when(F.col("__t"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_t"),
        F.sum(F.when(F.col("__t"), F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sx_t"),
        F.sum(F.when(F.col("__t"), F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("sy_t"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n.cast(dec) * F.col("sxy") - sx * sy).cast("double")
    den = (n.cast(dec) * F.col("sxx") - sx * sx).cast("double")
    theta = F.when(den > 0, F.round(num / den, 6))
    n_c = (n - F.col("n_t")).alias("n_c")
    both = (F.col("n_t") > 0) & (n > F.col("n_t"))
    mt = F.col("sy_t").cast("double") / F.col("n_t").cast("double")
    mc = (sy.cast("double") - F.col("sy_t").cast("double")) / (
        n - F.col("n_t")
    ).cast("double")
    xt = F.col("sx_t").cast("double") / F.col("n_t").cast("double")
    xc = (sx.cast("double") - F.col("sx_t").cast("double")) / (
        n - F.col("n_t")
    ).cast("double")
    raw = F.when(both, F.round(mt - mc, 6))
    return (
        mom.withColumn("theta", theta)
        .select(
            F.col("grp").alias(group_col),
            F.col("n_t"),
            n_c,
            F.col("theta"),
            raw.alias("raw_effect_cents"),
            F.when(
                both & F.col("theta").isNotNull(),
                F.round((mt - mc) - F.col("theta") * (xt - xc), 6),
            ).alias("cuped_effect_cents"),
        )
        .orderBy(group_col)
    )


def mde_family_cells(
    df: DataFrame, group_col: str, treated_col: str, conv_col: str
) -> DataFrame:
    """Per-batch (group, n_t, n_c, k) counters for the streaming MDE
    resident — plain integer sums, additively foldable across
    micro-batches (the fdr/calibration cell discipline); foreachBatch
    ledger + ``mde_from_family_cells`` ≡ the one-shot sizing readout,
    batch≡stream pinned in tests/test_streaming.py."""
    t = F.col(treated_col).cast("boolean")
    return df.groupBy(group_col).agg(
        F.sum(t.cast("int")).cast("bigint").alias("n_t"),
        F.sum((~t).cast("int")).cast("bigint").alias("n_c"),
        F.coalesce(F.sum(F.col(conv_col).cast("int")), F.lit(0))
        .cast("bigint")
        .alias("k"),
    )


def mde_from_family_cells(
    cells: DataFrame,
    group_col: str,
    z_alpha: float = 1.959964,
    z_beta: float = 0.841621,
) -> DataFrame:
    """Minimum-detectable-effect readout from a PRE-AGGREGATED
    (group, n_t, n_c, k) ledger: re-collapse by summation, then the
    two-proportion normal-approximation MDE at the given z points —
    MDE = (z_a+z_b)·sqrt(p(1−p)(1/n_t+1/n_c)) with p the pooled
    floor-ppm-pinned rate, derived in ONE fixed double expression from
    the folded integers and rounded to integer ppm (nonlinear in the
    counters, so the resident folds counters and recomputes). Arms
    with zero units yield NULL mde. The one-shot catalog row composes
    these same halves."""
    agg = cells.groupBy(group_col).agg(
        F.sum("n_t").cast("bigint").alias("n_t"),
        F.sum("n_c").cast("bigint").alias("n_c"),
        F.sum("k").cast("bigint").alias("k"),
    )
    n = F.col("n_t") + F.col("n_c")
    p = F.col("k").cast("double") / n.cast("double")
    mde = F.lit(z_alpha + z_beta) * F.sqrt(
        p
        * (F.lit(1.0) - p)
        * (
            F.lit(1.0) / F.col("n_t").cast("double")
            + F.lit(1.0) / F.col("n_c").cast("double")
        )
    )
    return agg.select(
        group_col,
        "n_t",
        "n_c",
        "k",
        F.expr("CAST((1000000 * k) div (n_t + n_c) AS BIGINT)").alias(
            "rate_ppm"
        ),
        F.when(
            (F.col("n_t") > 0) & (F.col("n_c") > 0),
            F.round(mde * 1e6, 0).cast("bigint"),
        ).alias("mde_ppm"),
    ).orderBy(group_col)


# χ²(1 df) critical value at 95%, nano-pinned — the standard SRM alarm
# line (Fabijan et al., "Diagnosing Sample Ratio Mismatch", KDD 2019
# uses far stricter p-cuts in production; the threshold is a parameter)
SRM_CRIT_NANO = 3_841_458_821


def srm_audit(
    df: DataFrame,
    group_col: str,
    unit_col: str,
    treated_col: Column,
    crit_nano: int = SRM_CRIT_NANO,
) -> DataFrame:
    """Sample-ratio-mismatch check per group — the FIRST gate an
    experiment platform runs before reading any metric: if the
    realized unit split deviates from the intended 50/50 beyond chance,
    the assignment machinery is broken and every downstream readout
    (did/cuped/sprt/mde) is invalid. One-degree chi-square against the
    even split: χ² = (n_t − n_c)²/n, computed ENTIRELY in integers —
    χ²_nano = (10⁹·d²) div n over DECIMAL(38,0) — and compared to the
    nano-pinned critical value, so the verdict is bit-stable
    cross-engine with no libm anywhere.

    Units dedupe per (group, unit, arm); a unit assigned to both arms
    within a group (a genuine assignment bug) contributes to both
    counters — which inflates χ² and flags, the correct failure
    direction. Output: (group, n_t, n_c, chi2_nano, srm), ordered by
    group. Engine addition; no reference counterpart."""
    units = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(unit_col).alias("__u"),
            treated_col.cast("boolean").alias("__t"),
        )
        .filter(F.col("__u").isNotNull() & F.col("__t").isNotNull())
        .distinct()
    )
    agg = units.groupBy("grp").agg(
        F.sum(F.col("__t").cast("int")).cast("bigint").alias("n_t"),
        F.sum((~F.col("__t")).cast("int")).cast("bigint").alias("n_c"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_t",
        "n_c",
        F.expr(
            "CAST((CAST(1000000000 AS DECIMAL(38,0))"
            " * (n_t - n_c) * (n_t - n_c)) div (n_t + n_c) AS BIGINT)"
        ).alias("chi2_nano"),
        (
            F.expr(
                "CAST((CAST(1000000000 AS DECIMAL(38,0))"
                " * (n_t - n_c) * (n_t - n_c)) div (n_t + n_c)"
                " AS BIGINT)"
            )
            > F.lit(crit_nano)
        ).alias("srm"),
    ).orderBy(group_col)
