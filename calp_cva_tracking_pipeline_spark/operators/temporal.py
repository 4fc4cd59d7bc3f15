"""Temporal operators: as-of and interval joins, windows, recurrences.

Neither exists in the reference (its joins are all equi/fuzzy — SURVEY.md
§2.4); they are engine additions for the time-series side of a large-scale
pipeline (attach the prevailing FX rate / model version / config epoch to
each event; tag events with the maintenance window containing them).

Scale design:

- ``asof_join`` never builds a join node at all: both sides are unioned,
  hash-shuffled ONCE on the join keys, and resolved with a single
  ``last(..., ignorenulls=True)`` running window — the classic
  union-and-carry-forward formulation. Cost at 100 TB is one shuffle of
  (left + right) keyed rows plus a per-key sort; there is no row
  amplification, no range condition for the optimizer to mis-plan as a
  nested loop, and skew behaves exactly like any keyed window (salt the
  key upstream if one entity dominates).

- ``interval_join`` has two physical strategies behind one semantic: a
  broadcast range join when the interval side is dimension-sized (the
  common case — calendars, maintenance windows, rate validity periods),
  and a bucketized equi-join for two big sides: intervals are exploded to
  the coarse time buckets they overlap, point rows map to exactly ONE
  bucket, so the equi-join on (keys, bucket) plus a residual range filter
  returns each true match exactly once — no post-join dedup, no
  cross-product. Bucket width trades replication of the interval side
  (len/width copies) against join selectivity; point rows are never
  replicated.

- The integer recurrences (EWMA, Holt, CUSUM) are each spelled once, as
  a fold of one time-slice against key-sized carried state; a one-shot
  smoother is its fold run with no carried state (``state=None`` plans no
  state join). EWMA and Holt are serial, so both run in ``_series_fold``:
  one ``applyInPandas`` kernel that joins the state, runs the per-key
  step (``_ewma_series``, ``_holt_series``) in (ts, tiebreak) order,
  emits the raw integer state of each key's last row and carries silent
  keys (``_carried``). ``ewma_smooth`` is the EWMA fold run once,
  ``ewma_smooth_chunked`` runs it once per epoch, and ``holt_smooth`` is
  ``holt_fold`` run once. CUSUM has a closed form, so ``cusum_fold`` is
  two stacked JVM windows and ``cusum_detect`` is that fold run once.
  ``_encoded`` owns the NULL filter and the ``round(value·scale)`` → long
  encode for all of them and for ``rolling_anomaly``.
"""

from __future__ import annotations

from functools import partial, reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.session import cut

_ASOF = "__asof_payload"
_SIDE = "__asof_side"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_time: str,
    right_time: str | None = None,
    direction: str = "backward",
    tolerance: Column | None = None,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """For each left row, attach the nearest right row per key: the latest
    with ``right_time <= left_time`` (backward, the default), the
    earliest with ``right_time >= left_time`` (forward), or whichever of
    those two is closer in time (nearest; exact ties go backward — the
    stale-but-seen row beats the not-yet-seen one, and the rule is
    deterministic). Left rows with no admissible right row keep nulls
    (left-outer semantics, row count preserved). Equal timestamps match
    in both directions.

    ``tolerance`` (a Column literal, e.g. ``F.expr("INTERVAL 1 HOUR")`` or
    a numeric for numeric time axes) voids matches farther than that from
    the left timestamp. The matched timestamp is returned as
    ``<right_time>_matched`` alongside the right payload columns.

    Ordering ties on the right side (duplicate (keys, right_time) rows)
    are resolved deterministically by taking the lexicographically
    greatest payload struct — same result on every run and partitioning.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest: {direction}"
        )
    if not keys:
        # an unkeyed window is one partition holding the full union — a
        # scale-killer this operator refuses to plan silently
        raise ValueError(
            "asof_join requires join keys; for a global (keyless) as-of "
            "against a dimension-sized right side use "
            "asof_join_broadcast"
        )
    right_time = right_time or left_time
    payload = right_cols or [
        c for c in right.columns if c not in keys and c != right_time
    ]
    missing = [c for c in payload if c in left.columns]
    if missing:
        raise ValueError(
            f"right payload columns collide with left: {missing}"
        )
    matched_time = f"{right_time}_matched"

    # One struct column carries the whole right row; last(ignorenulls)
    # then skips LEFT rows (struct null) but carries right rows whose
    # individual payload fields are null — per-field last() would wrongly
    # reach past a null field to an older row.
    r = right.select(
        *[F.col(k) for k in keys],
        F.col(right_time).alias("__t"),
        F.struct(
            F.col(right_time).alias(matched_time),
            *[F.col(c) for c in payload],
        ).alias(_ASOF),
    )
    # A null right timestamp can match nothing — and unfiltered it would
    # sort ahead of every real row under nulls-first ordering and be
    # carried into every left row.
    r = r.filter(F.col("__t").isNotNull())
    # Duplicate (keys, time) right rows: keep one deterministic winner
    # up front — cheaper than widening the window frame, and makes the
    # result independent of input partitioning.
    r = r.groupBy(*keys, "__t").agg(F.max(_ASOF).alias(_ASOF))
    l = left.withColumn("__t", F.col(left_time)).withColumn(
        _ASOF, F.lit(None).cast(r.schema[_ASOF].dataType)
    )
    # At equal timestamps the right row must resolve BEFORE the left row
    # reading it, in window order: side 0 = right, 1 = left.
    lhs = l.select(
        *[F.col(c) for c in left.columns],
        F.col("__t"),
        F.lit(1).alias(_SIDE),
        F.col(_ASOF),
    )
    rhs = r.select(
        *[
            F.col(k) if k in keys else F.lit(None).alias(k)
            for k in left.columns
        ],
        F.col("__t"),
        F.lit(0).alias(_SIDE),
        F.col(_ASOF),
    )
    # nulls FIRST in both directions: a null-time left row then precedes
    # every (non-null-filtered) right row and carries no match. Spark's
    # desc() default is nulls-LAST, which would hand null-time left rows
    # the final carried state instead.
    def _carried(asc: bool) -> Column:
        order = [
            F.col("__t").asc_nulls_first()
            if asc
            else F.col("__t").desc_nulls_first(),
            F.col(_SIDE).asc(),
        ]
        w = (
            Window.partitionBy(*keys)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return F.last(_ASOF, ignorenulls=True).over(w)

    u = lhs.unionByName(rhs)
    if direction != "nearest":
        asc = direction == "backward"
        out = u.withColumn(_ASOF, _carried(asc)).filter(F.col(_SIDE) == 1)
        if tolerance is not None:
            gap = (
                F.col("__t") - F.col(f"{_ASOF}.{matched_time}")
                if asc
                else F.col(f"{_ASOF}.{matched_time}") - F.col("__t")
            )
            out = out.withColumn(
                _ASOF, F.when(gap <= tolerance, F.col(_ASOF))
            )
    else:
        # nearest: both carried states over the SAME keyed exchange (the
        # second ordering re-sorts within partitions, it does not
        # re-shuffle), then a per-row pick of the closer candidate.
        out = (
            u.withColumn("__bwd", _carried(True))
            .withColumn("__fwd", _carried(False))
            .filter(F.col(_SIDE) == 1)
        )
        bt = F.col(f"__bwd.{matched_time}")
        ft = F.col(f"__fwd.{matched_time}")
        valid_b = F.col("__bwd").isNotNull()
        valid_f = F.col("__fwd").isNotNull()
        if tolerance is not None:
            valid_b = valid_b & ((F.col("__t") - bt) <= tolerance)
            valid_f = valid_f & ((ft - F.col("__t")) <= tolerance)
        # gaps compare as doubles (epoch seconds / numeric axis); exact
        # ties go backward (<=)
        gb = F.col("__t").cast("double") - bt.cast("double")
        gf = ft.cast("double") - F.col("__t").cast("double")
        choice = (
            F.when(valid_b & valid_f,
                   F.when(gb <= gf, F.col("__bwd")).otherwise(F.col("__fwd")))
            .when(valid_b, F.col("__bwd"))
            .when(valid_f, F.col("__fwd"))
        )
        out = out.withColumn(_ASOF, choice).drop("__bwd", "__fwd")
    return out.select(
        *[F.col(c) for c in left.columns],
        F.col(f"{_ASOF}.{matched_time}").alias(matched_time),
        *[F.col(f"{_ASOF}.{c}").alias(c) for c in payload],
    )


def asof_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    left_time: str,
    right_time: str | None = None,
    direction: str = "backward",
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Keyless (global) as-of join for a dimension-sized right side —
    config epochs, model-version timelines, rate tables.

    The whole right side is collapsed to ONE sorted array of payload
    structs and broadcast; each left row resolves its match with an array
    filter + endpoint pick, so the left side is never shuffled and adds no
    window state. Per-row cost is O(|right|) — use the keyed
    ``asof_join`` when the right side is fact-sized.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    right_time = right_time or left_time
    payload = right_cols or [
        c for c in right.columns if c != right_time
    ]
    collide = [c for c in payload if c in left.columns]
    if collide:
        raise ValueError(
            f"right payload columns collide with left: {collide}"
        )
    matched_time = f"{right_time}_matched"
    arr = right.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(right_time).alias(matched_time),
                    *[F.col(c) for c in payload],
                )
            )
        ).alias("__asof_arr")
    )
    t = F.col(left_time)
    # try_element_at: a left row with no admissible epoch (or a null
    # timestamp) filters to an empty array, where ANSI element_at throws
    if direction == "backward":
        # sorted ascending by time (leading struct field) → last <= t
        pick = F.try_element_at(
            F.filter(
                F.col("__asof_arr"), lambda e: e[matched_time] <= t
            ),
            F.lit(-1),
        )
    else:
        pick = F.try_element_at(
            F.filter(
                F.col("__asof_arr"), lambda e: e[matched_time] >= t
            ),
            F.lit(1),
        )
    return (
        left.join(F.broadcast(arr))
        .withColumn("__asof_pick", pick)
        .select(
            *[F.col(c) for c in left.columns],
            F.col(f"__asof_pick.{matched_time}").alias(matched_time),
            *[F.col(f"__asof_pick.{c}").alias(c) for c in payload],
        )
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_time: str,
    start: str,
    end: str,
    keys: list[str] | None = None,
    how: str = "inner",
    bucket_width: Column | None = None,
) -> DataFrame:
    """Join point rows to every interval containing them:
    ``start <= point_time < end`` (half-open, so adjacent intervals never
    double-match a boundary point), optionally also equi-matched on
    ``keys``. ``how`` is ``inner`` or ``left`` (points with no interval).

    Default physical plan broadcasts the interval side — correct whenever
    intervals are dimension-shaped. For two large sides pass
    ``bucket_width`` (same units as the time axis: seconds for
    timestamps): intervals are exploded to each coarse bucket they
    overlap, points map to exactly one bucket, and the join becomes a
    shuffled equi-join on (keys, bucket) with the range predicate as a
    residual filter — each true match appears exactly once because only
    the interval copy in the point's own bucket can pass the residual.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left: {how}")
    keys = keys or []
    dup = [
        c
        for c in intervals.columns
        if c in points.columns and c not in keys
    ]
    if dup:
        raise ValueError(
            f"interval columns collide with point columns: {dup}"
        )
    range_cond = (F.col(start) <= F.col(point_time)) & (
        F.col(point_time) < F.col(end)
    )

    if bucket_width is None:
        cond = range_cond
        for k in keys:
            cond &= points[k].eqNullSafe(intervals[k])
        joined = points.join(F.broadcast(intervals), cond, how)
        for k in keys:
            joined = joined.drop(intervals[k])
        return joined

    time_types = ("timestamp", "timestamp_ntz")

    def to_bucket(df: DataFrame, col: str) -> Column:
        # unix_micros is exact for timestamp axes; numeric axes divide
        # directly
        c = F.col(col)
        if df.schema[col].dataType.typeName() in time_types:
            c = F.unix_micros(c) / F.lit(1_000_000.0)
        return F.floor(c / bucket_width)

    p = points.withColumn("__bucket", to_bucket(points, point_time))
    i = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                to_bucket(intervals, start),
                # end is exclusive, but a point in end's bucket can still
                # precede it — replicate over the full closed bucket range
                to_bucket(intervals, end),
            )
        ),
    )
    # predicates built once, against the derived frames actually joined
    # (range columns are unambiguous post-rename, keys qualified on p/i)
    on = (p["__bucket"] == i["__bucket"]) & range_cond
    for k in keys:
        on &= p[k].eqNullSafe(i[k])
    joined = p.join(i, on, how).drop(p["__bucket"]).drop(i["__bucket"])
    for k in keys:
        joined = joined.drop(i[k])
    return joined


_UNIT_S = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def _span_us(window_spec: str) -> int:
    """``"<n> <unit>"`` (second … week, singular or plural, any case) →
    microseconds, the RANGE-frame length over ``unix_micros``. An unknown
    unit raises ``KeyError``."""
    amount, unit = window_spec.strip().split()
    return int(amount) * _UNIT_S[unit.lower()] * 1_000_000


def rolling_time_window(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    aggs: dict[str, Column],
    window_spec: str = "7 days",
) -> DataFrame:
    """Trailing time-RANGE window aggregates per key (the "7-day rolling
    sum per user" idiom) — every input row comes back with the aggregate
    of all rows of the same key whose timestamp lies in
    ``[ts - window, ts]`` (both ends inclusive, matching ANSI
    ``RANGE BETWEEN INTERVAL .. PRECEDING AND CURRENT ROW``).

    ``aggs`` maps output column name → aggregate Column over the frame
    (e.g. ``{"n_7d": F.count(F.lit(1)), "sum_7d": money_sum("value")}``).

    Semantics are tie-safe by construction: a RANGE frame treats rows
    with equal timestamps as peers sharing one frame, so the result is
    independent of partition/sort order even when ``ts_col`` is not
    unique within a key — no tie-break column is needed (unlike every
    ROWS-frame operator in this package).

    Scale shape: ONE hash exchange on ``keys`` plus a per-key sort — the
    same cost as any keyed window. The frame is evaluated with Spark's
    sliding-frame aggregation (each row enters/leaves the running state
    once), not a per-row rescan, so cost is O(rows) after the sort and
    the window length never multiplies data volume. Skewed keys behave
    like any keyed window: salt upstream or split the hot key's history
    if one entity dominates.

    The RANGE frame needs a numeric ordering key: timestamps are ordered
    by exact ``unix_micros`` and the window length is converted to
    microseconds (exact for any whole-second spec).
    """
    span_us = _span_us(window_spec)

    ordered = df.withColumn("__ts_us", F.unix_micros(F.col(ts_col)))
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts_us")
        .rangeBetween(-span_us, 0)
    )
    out = ordered
    for name, agg in aggs.items():
        out = out.withColumn(name, agg.over(w))
    return out.drop("__ts_us")


def _encoded(
    df: DataFrame, ts_col: str, value_col: str, scale: int, *cols
) -> DataFrame:
    """The rows a recurrence or window statistic can use — value and
    timestamp both non-NULL (a NULL has no slot in a recurrence, and every
    oracle drops it too) — as ``cols`` plus ``__x`` = ``round(value·scale)``
    as a long. The encode runs JVM-side: half away from zero in both
    engines, and .5-exact products cannot arise from data with fewer
    decimals than the scale, so Python kernels only ever see ints."""
    return df.filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        *cols,
        F.round(F.col(value_col).cast("double") * scale)
        .cast("long")
        .alias("__x"),
    )


def _carried(
    new: DataFrame, state: DataFrame | None, enc: DataFrame, keys: list[str]
) -> DataFrame:
    """A fold's next state: ``new`` plus the ``state`` rows of the keys
    with no row in the batch ``enc``, which carry through untouched."""
    if state is None:
        return new
    silent = state.join(enc.select(*keys).distinct(), keys, "left_anti")
    return new.unionByName(silent)


def _series_fold(
    batch: DataFrame,
    state: DataFrame | None,
    keys: list[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    scale: int,
    step,
    outs: tuple[str, ...],
    carry: tuple[str, ...],
) -> tuple[DataFrame, DataFrame]:
    """The fold kernel of the serial integer recurrences (EWMA, Holt).

    ``step(xs, seed)`` runs the recurrence over one key's ordered integer
    values, resumed from ``seed`` (a tuple of ints; None for a fresh
    series), and returns (one integer series per ``outs`` column, the
    final state tuple). The batch is encoded (``_encoded``), left-joined
    to ``state`` (keys + one long per ``carry`` name; None plans no
    join), and grouped by key into one ``applyInPandas`` call that sorts
    by (ts, tiebreak) and runs ``step``. Each series comes back as doubles
    v/scale; the raw integer state rides on the key's last row only (a
    state re-read from a double would lose exactness once |v| ≥ 2⁵³),
    and keys absent from the batch carry through untouched.
    → (keys + tiebreak + ``outs``, next state).
    """
    enc = _encoded(
        batch, ts_col, value_col, scale,
        *keys, tiebreak_col, F.col(ts_col).alias("__ts"),
    )
    seeded = state is not None
    schema = ", ".join(
        [
            f"{f.name} {f.dataType.simpleString()}"
            for f in enc.schema.fields[: len(keys) + 1]
        ]
        + [f"{c} double" for c in outs]
        + [f"__{c} long" for c in carry]
    )

    def fold(pdf):
        # numpy sorts and a one-shot frame build: a key's group is often
        # tens of rows, where pandas' per-call overhead dominates
        order = np.lexsort(
            (pdf[tiebreak_col].to_numpy(), pdf["__ts"].to_numpy())
        )
        seed = None
        if seeded and pd.notna(pdf[carry[0]].iloc[0]):
            seed = tuple(int(pdf[c].iloc[0]) for c in carry)
        series, last = step(pdf["__x"].to_numpy()[order].tolist(), seed)
        res = {c: pdf[c].to_numpy()[order] for c in (*keys, tiebreak_col)}
        for c, vs in zip(outs, series):
            res[c] = [v / scale for v in vs]
        held = np.ones(len(order), bool)
        held[-1] = False
        for c, v in zip(carry, last):
            vals = np.zeros(len(order), np.int64)
            vals[-1] = v
            res[f"__{c}"] = pd.arrays.IntegerArray(vals, held)
        return pd.DataFrame(res)

    res = (enc.join(state, keys, "left") if seeded else enc).groupBy(
        *keys
    ).applyInPandas(fold, schema)
    new = res.filter(F.col(f"__{carry[0]}").isNotNull()).select(
        *keys, *(F.col(f"__{c}").alias(c) for c in carry)
    )
    return (
        res.select(*keys, tiebreak_col, *outs),
        _carried(new, state, enc, keys),
    )


def _ewma_series(xs, seed, alpha_num, alpha_den):
    """The integer EWMA recurrence over one ordered series, resumed from
    ``seed`` = (s,). → ([s per row], (s,))."""
    keep = alpha_den - alpha_num
    s = seed[0] if seed else None
    ss = []
    for x in xs:
        s = x if s is None else (alpha_num * x + keep * s) // alpha_den
        ss.append(s)
    return [ss], (s,)


def _ewma_fold(
    batch, state, keys, ts_col, value_col, tiebreak_col,
    alpha_num, alpha_den, scale,
):
    """One EWMA time-slice against carried state (keys + ``s`` long)."""
    step = partial(_ewma_series, alpha_num=alpha_num, alpha_den=alpha_den)
    return _series_fold(
        batch, state, keys, ts_col, value_col, tiebreak_col, scale, step,
        ("ewma",), ("s",),
    )


def ewma_smooth(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    alpha_num: int = 1,
    alpha_den: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-key exponentially-weighted moving average with a BIT-EXACT
    integer recurrence: s₀ = x₀, sₜ = ⌊(αnum·xₜ + (αden−αnum)·sₜ₋₁) /
    αden⌋ over values pre-rounded to ``scale`` integer units. The float
    formulation of EWMA is a sequential recurrence whose result depends
    on accumulation precision; the integer-floor recurrence (the same
    discipline as the PageRank nano-unit iteration) makes the smoothed
    series identical across partitionings, re-runs, and engines — a
    DuckDB recursive CTE replays it exactly, so the catalog oracle
    checks every smoothed point.

    The EWMA fold run once with no carried state. The recurrence is
    serial per key, so each task holds one key's whole history; a key
    with an UNBOUNDED history (one entity, 10⁹ events) would pin one
    task on one giant pandas frame — use ``ewma_smooth_chunked`` there.
    Rows with NULL values or timestamps are excluded (the oracle mirrors
    the exclusion). Output: keys + tiebreak + ``ewma`` (double, exact
    multiple of 1/scale).
    """
    return _ewma_fold(
        df, None, keys, ts_col, value_col, tiebreak_col,
        alpha_num, alpha_den, scale,
    )[0]


def ewma_smooth_chunked(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    alpha_num: int = 1,
    alpha_den: int = 4,
    scale: int = 1_000_000,
    epoch: str = "30 days",
) -> DataFrame:
    """``ewma_smooth`` for keys with UNBOUNDED histories: identical
    integer-floor recurrence, identical output row for row, but time is
    sliced into ``epoch``-wide chunks and the EWMA fold runs once per
    epoch, carrying the one-integer per-key state — so no task ever
    materializes more than one epoch of one key's history, and a single
    10⁹-event entity distributes over history/epoch tasks instead of
    pinning one.

    Only the key-sized state is cut (``session.cut``, eager) after each
    epoch: this is an iterative operator like PageRank, and the cut keeps
    each epoch's plan from re-running every earlier epoch. Epoch outputs
    are never materialized — the deterministic kernel recomputes each
    epoch once at final collection, so nothing row-scaled is ever
    checkpointed. The driver holds only the list of epoch boundaries —
    calendar-bounded (time span / epoch), never row- or key-scaled.

    Epochs partition time globally, so per-key slice order is exactly
    history order and the recurrence composes: s at an epoch boundary is
    the same integer whether the boundary exists or not — that algebraic
    fact is WHY chunking is exact.
    """
    tagged = df.withColumn("__epoch", F.window(F.col(ts_col), epoch).start)
    epochs = [
        r["__epoch"]
        for r in _encoded(tagged, ts_col, value_col, scale, "__epoch")
        .select("__epoch")
        .distinct()
        .orderBy("__epoch")
        .collect()
    ]
    parts, state = [], None
    for e in epochs:
        part, state = _ewma_fold(
            tagged.filter(F.col("__epoch") == F.lit(e)), state, keys,
            ts_col, value_col, tiebreak_col, alpha_num, alpha_den, scale,
        )
        parts.append(part)
        state = cut(state, eager=True)
    if not parts:
        return ewma_smooth(
            df, keys, ts_col, value_col, tiebreak_col,
            alpha_num, alpha_den, scale,
        )
    return reduce(DataFrame.unionByName, parts)


def rolling_anomaly(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    id_col: str,
    window_spec: str = "7 days",
    z_threshold: float = 3.0,
    min_points: int = 10,
    cents: int = 100,
) -> DataFrame:
    """Trailing-window z-score anomaly detection per key: flag rows
    whose value sits more than ``z_threshold`` sample standard
    deviations from their OWN key's trailing-window mean — the
    streaming-telemetry counterpart of the global median/MAD pass
    (``profiling.robust_outliers``): a value normal for one user can be
    anomalous for another.

    Exactness: the window aggregates are INTEGER sums of cent-scaled
    values (n, Σx, Σx² — Σx² stays ≤ 2⁶³ for cent-scaled values up to
    ~10⁶ over ~10⁷-row windows), so the sufficient statistics are
    order-independent; mean/variance/z then derive in a fixed double
    expression order (IEEE division and sqrt are correctly rounded, so
    even pre-round the z is bit-identical across engines). Rows with a
    NULL value or timestamp are dropped BEFORE the window (same contract
    and encode as ``ewma_smooth``) so the window population n counts
    exactly the rows that feed Σx/Σx² — counting unusable rows would bias
    the mean downward and the ``min_points`` gate upward. Windows with
    fewer than ``min_points`` rows or zero variance are never flagged — a
    2-point history is not a distribution — and a one-row window has no
    sample variance at all, so its z is NULL whatever ``min_points`` is.

    One keyed exchange + sort (rides the same RANGE-frame machinery as
    ``rolling_time_window``); the anomaly filter is a projection on top.
    """
    span_us = _span_us(window_spec)

    enc = _encoded(
        df, ts_col, value_col, cents,
        *keys, id_col, ts_col, value_col,
        F.unix_micros(F.col(ts_col)).alias("__ts_us"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts_us")
        .rangeBetween(-span_us, 0)
    )
    stats = enc.select(
        *keys,
        id_col,
        ts_col,
        value_col,
        F.col("__x"),
        F.count(F.lit(1)).over(w).alias("__n"),
        F.sum("__x").over(w).alias("__s1"),
        F.sum(F.col("__x") * F.col("__x")).over(w).alias("__s2"),
    )
    nD = F.col("__n").cast("double")
    s1D = F.col("__s1").cast("double")
    s2D = F.col("__s2").cast("double")
    # a one-row window has no sample variance: NULL, not a division by 0
    var = (nD * s2D - s1D * s1D) / F.when(F.col("__n") > 1, nD * (nD - 1))
    z = (F.col("__x").cast("double") - s1D / nD) / F.sqrt(var)
    flagged = stats.withColumn(
        "z",
        F.when(
            (F.col("__n") >= min_points) & (var > 0), F.round(z, 6)
        ),
    ).filter(F.abs(F.col("z")) > z_threshold)
    return flagged.select(*keys, id_col, ts_col, value_col, "z")


def cusum_detect(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    target: float,
    slack: float,
    threshold: float,
    scale: int = 1_000_000,
) -> DataFrame:
    """Two-sided CUSUM drift detection per key (Page 1954): the classic
    recurrence S⁺ₜ = max(0, S⁺ₜ₋₁ + (xₜ − target − slack)) looks as
    serial as EWMA, but it has a CLOSED FORM — with Pₜ the running sum
    of the increments, S⁺ₜ = Pₜ − min(0, min_{j≤t} Pⱼ) — so unlike
    ``ewma_smooth`` (which genuinely needs a per-key pandas kernel) it
    runs entirely as two stacked window projections over ONE keyed
    exchange: a cumulative sum, then a running min of that sum. No
    Python, no state, whole-stage codegen end to end; the mirrored
    S⁻ side reuses the same window. At 100 TB the cost is one shuffle
    of the event stream plus a per-key sort — identical to any keyed
    window, with the usual skew remedy (salt a mega-key upstream).

    ``cusum_fold`` run once with no carried state (so no state join).
    Values and the target/slack/threshold parameters are encoded to
    ``scale`` integer units up front, so every running sum, min and
    comparison is 64-bit integer arithmetic — bit-identical across
    partitionings, re-runs and engines, and the DuckDB oracle replays
    it with the same two-level window. Rows with NULL value or
    timestamp are dropped. Ordering within a key is (ts, tiebreak) and
    must be total.

    Output: keys + tiebreak + ts + ``cusum_pos``/``cusum_neg`` (doubles,
    exact multiples of 1/scale) + ``alarm_pos``/``alarm_neg`` booleans
    (statistic strictly above threshold). Integer sums stay within 2⁶³
    for micro-scaled |value| ≤ ~9·10⁹ per 10⁶-row key history — the
    same envelope as the EWMA tier.
    """
    return cusum_fold(
        df, None, keys, ts_col, value_col, tiebreak_col,
        target, slack, threshold, scale,
    )[0]


def cusum_fold(
    batch: DataFrame,
    state: DataFrame | None,
    keys: list[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    target: float,
    slack: float,
    threshold: float,
    scale: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """``cusum_detect`` for continuous ingest: fold ONE time-slice of
    the stream against a key-sized carried state and return
    ``(batch_output, new_state)`` — the foreachBatch resident for drift
    alarms (mirrors the T41/T60 incremental pattern; VERDICT r8 ask #7).

    The closed form composes across slices exactly: with Pₜ the global
    prefix sum and Mₜ the global running min of P, a slice needs only
    its key's carried ``(S, M)`` pair — P within the slice is S plus the
    local prefix sum, and the running min is min(M, local running min).
    Both are 64-bit integer values, so a chunked fold is BIT-IDENTICAL
    to the one-shot window, the same algebra that makes
    ``ewma_smooth_chunked`` exact.

    ``state`` columns: keys + ``s_pp s_pn m_pp m_pn`` (long; the last
    prefix sums and running mins per side). Pass ``None`` (no state
    join is planned) or an empty frame to start. Keys absent from the
    batch carry through untouched. Batches must arrive in (ts, tiebreak)
    order per key — the standard append-stream contract, same as every
    recurrence fold.

    Physical shape: one keyed window over the slice + a key-sized state
    join (broadcastable while the key set is dimension-sized; AQE
    decides) + a key-sized aggregate for the next state. Nothing
    row-scaled is ever carried between slices.
    """
    t_i, k_i, h_i = (round(v * scale) for v in (target, slack, threshold))
    # every running sum and min shares one frame; the columns are SQL
    # strings, one py4j call each instead of one per operator
    ts, tb = f"`{ts_col}`", f"`{tiebreak_col}`"
    run = (
        f" OVER (PARTITION BY {', '.join(f'`{k}`' for k in keys)}"
        f" ORDER BY {ts}, {tb}"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    enc = _encoded(
        batch, ts_col, value_col, scale, *keys, tiebreak_col, ts_col
    )
    loc = enc.select(
        *keys,
        tiebreak_col,
        ts_col,
        F.expr(f"sum(__x - {t_i} - {k_i}){run} AS __lp"),
        F.expr(f"sum({t_i} - __x - {k_i}){run} AS __ln"),
    )
    if state is None:
        j, s, m = loc, {"p": "0L", "n": "0L"}, {"p": "NULL", "n": "NULL"}
    else:
        j = loc.join(state, keys, "left")
        s = {d: f"coalesce(s_p{d}, 0L)" for d in "pn"}
        m = {d: f"m_p{d}" for d in "pn"}
    # per side: S = P − min(0, M, local running min + S_carried), with P =
    # local prefix sum + S_carried; least skips NULLs, so a fresh key (no
    # M) keeps the local running min
    stat = {
        d: f"(__l{d} + {s[d]}"
        f" - least(0L, {m[d]}, min(__l{d}){run} + {s[d]}))"
        for d in "pn"
    }
    out = j.select(
        *keys,
        tiebreak_col,
        ts_col,
        F.expr(f"{stat['p']} / {scale} AS cusum_pos"),
        F.expr(f"{stat['n']} / {scale} AS cusum_neg"),
        F.expr(f"{stat['p']} > {h_i} AS alarm_pos"),
        F.expr(f"{stat['n']} > {h_i} AS alarm_neg"),
    )
    # next state: the slice's last prefix sum and min over its prefix sums
    last = f"struct({ts}, {tb})"
    new = j.groupBy(*keys).agg(
        *(F.expr(f"max_by(__l{d} + {s[d]}, {last}) AS s_p{d}") for d in "pn"),
        *(
            F.expr(f"min(least({m[d]}, __l{d} + {s[d]})) AS m_p{d}")
            for d in "pn"
        ),
    )
    return out, _carried(new, state, enc, keys)


def _holt_series(xs, seed, alpha_num, alpha_den, beta_num, beta_den):
    """The integer Holt recurrence over one ordered series, resumed from
    ``seed`` = (l, b). → ([levels, trends, forecasts], (l, b))."""
    a_keep = alpha_den - alpha_num
    b_keep = beta_den - beta_num
    lvl, trd = seed or (None, 0)
    levels, trends = [], []
    for x in xs:
        if lvl is None:
            lvl, trd = x, 0
        else:
            nl = (alpha_num * x + a_keep * (lvl + trd)) // alpha_den
            trd = (beta_num * (nl - lvl) + b_keep * trd) // beta_den
            lvl = nl
        levels.append(lvl)
        trends.append(trd)
    forecasts = [lv + tr for lv, tr in zip(levels, trends)]
    return [levels, trends, forecasts], (lvl, trd)


def holt_smooth(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    alpha_num: int = 1,
    alpha_den: int = 4,
    beta_num: int = 1,
    beta_den: int = 8,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-key Holt double-exponential smoothing (level + trend) with a
    BIT-EXACT two-integer recurrence — ``ewma_smooth``'s discipline
    extended to the trending-series case EWMA systematically lags:

        l₀ = x₀, b₀ = 0
        lₜ = ⌊(αn·xₜ + (αd−αn)·(lₜ₋₁+bₜ₋₁)) / αd⌋
        bₜ = ⌊(βn·(lₜ−lₜ₋₁) + (βd−βn)·bₜ₋₁) / βd⌋

    over values pre-rounded to ``scale`` integer units; the one-step
    forecast lₜ+bₜ rides along. Identical across partitionings, re-runs
    and engines — the oracle replays it as a recursive CTE carrying the
    same two integers (with the floor-division spelled out, since SQL
    ``//`` truncates). ``holt_fold`` run once with no carried state.
    NULL values/timestamps are excluded (mirrored in the oracle).
    Output: keys + tiebreak + (level, trend, forecast), each an exact
    multiple of 1/scale. Engine addition; no reference counterpart.
    """
    return holt_fold(
        df, None, keys, ts_col, value_col, tiebreak_col,
        alpha_num, alpha_den, beta_num, beta_den, scale,
    )[0]


def holt_fold(
    batch: DataFrame,
    state: DataFrame | None,
    keys: list[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    alpha_num: int = 1,
    alpha_den: int = 4,
    beta_num: int = 1,
    beta_den: int = 8,
    scale: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """``holt_smooth`` for continuous ingest: fold ONE time-slice
    against a key-sized carried (level, trend) state and return
    ``(batch_output, new_state)`` — the foreachBatch resident, the
    cusum_fold contract with two integers of carried state instead of
    four. Because the recurrence is integer-exact, a chunked fold is
    BIT-IDENTICAL to the one-shot smoother. ``state`` columns: keys +
    (l long, b long); pass None to start (no state join is planned).
    Keys absent from the batch carry through untouched. Batches must
    arrive in (ts, tiebreak) order per key — the standard append-stream
    contract.
    """
    step = partial(
        _holt_series, alpha_num=alpha_num, alpha_den=alpha_den,
        beta_num=beta_num, beta_den=beta_den,
    )
    return _series_fold(
        batch, state, keys, ts_col, value_col, tiebreak_col, scale, step,
        ("level", "trend", "forecast"), ("l", "b"),
    )


def interval_union_length(
    df: DataFrame,
    keys: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Per-key union length of (possibly overlapping) integer intervals
    [start, end) — the interval-algebra aggregate behind "how much
    wall-clock was this machine actually busy" / "how many covered
    seconds does this entity's timeline span" where naive SUM(end-start)
    double-counts every overlap.

    Classic sweep as TWO stacked windows over ONE keyed exchange: the
    running max of previous ends marks where a new disjoint run starts
    (strictly-greater comparison: back-to-back intervals [a,b),[b,c)
    merge), a cumulative sum of those markers numbers the runs, and a
    run-level min/max + key-level sum collapse to group cardinality.
    All integer arithmetic on the raw (typically unix-micros) bounds —
    order-independent and engine-exact; zero/negative-length intervals
    and NULL bounds drop first.

    Output: keys + (n_intervals, n_runs, covered) — covered in the
    input's integer units. Engine addition; no reference counterpart.
    """
    enc = df.filter(
        F.col(start_col).isNotNull()
        & F.col(end_col).isNotNull()
        & (F.col(end_col) > F.col(start_col))
    ).select(
        *keys,
        F.col(start_col).cast("long").alias("__s"),
        F.col(end_col).cast("long").alias("__e"),
    )
    w = Window.partitionBy(*keys).orderBy("__s", "__e")
    prev_max = F.max("__e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = enc.withColumn(
        "__new",
        F.when(
            prev_max.isNull() | (F.col("__s") > prev_max), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "__run",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runs = marked.groupBy(*keys, "__run").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.min("__s").alias("__rs"),
        F.max("__e").alias("__re"),
    )
    return (
        runs.groupBy(*keys)
        .agg(
            F.sum("__cnt").cast("bigint").alias("n_intervals"),
            F.count(F.lit(1)).cast("bigint").alias("n_runs"),
            F.sum(F.col("__re") - F.col("__rs"))
            .cast("bigint")
            .alias("covered"),
        )
        .orderBy(*keys)
    )


def autocorrelation(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    lag: int = 1,
    cents: int = 100,
    min_pairs: int = 10,
) -> DataFrame:
    """Per-key lag-``lag`` sample autocorrelation of a value series —
    the periodicity/persistence summary next to the drift tier (CUSUM
    answers "did the level shift"; ACF answers "does the series
    remember itself", the check before anyone fits seasonal windows or
    assumes independence in an anomaly threshold).

    r_k = Σₜ(xₜ−x̄)(xₜ₋ₖ−x̄) / Σₜ(xₜ−x̄)² with x̄ over the FULL
    series (the standard sample ACF). Everything reduces to 64-bit
    integer sufficient statistics off ONE keyed lag window — n, Σx,
    Σx², pair count, Σxₜxₜ₋ₖ and the two one-sided pair sums — so the
    keyed aggregation is order-independent; the final expression
    evaluates in one fixed double order, rounded to 6 dp. Values
    encode to ``cents`` units (envelope: Σx·x ≤ 2⁶³ holds for
    cent-scaled |value| ≤ ~10⁵ over ~10⁷-row keys). Keys with fewer
    than ``min_pairs`` lag pairs or zero variance emit NULL acf.

    One keyed exchange + map-side-combined aggregation to key
    cardinality. Output: keys + (n, lag, acf).
    Engine addition; no reference counterpart.
    """
    enc = df.filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.col(tiebreak_col).alias("__tb"),
        F.round(F.col(value_col).cast("double") * cents)
        .cast("long")
        .alias("__x"),
    )
    w = Window.partitionBy(*keys).orderBy("__ts", "__tb")
    lagged = enc.withColumn("__xl", F.lag("__x", lag).over(w))
    pair = F.col("__xl").isNotNull()
    agg = lagged.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__x").alias("__s"),
        F.sum(F.col("__x") * F.col("__x")).alias("__q"),
        F.sum(F.when(pair, 1).otherwise(0)).cast("bigint").alias("__m"),
        F.sum(F.when(pair, F.col("__x") * F.col("__xl"))).alias("__c"),
        F.sum(F.when(pair, F.col("__x"))).alias("__sa"),
        F.sum(F.when(pair, F.col("__xl"))).alias("__sb"),
    )
    nD = F.col("n").cast("double")
    mean = F.col("__s").cast("double") / nD
    num = (
        F.col("__c").cast("double")
        - mean * F.col("__sa").cast("double")
        - mean * F.col("__sb").cast("double")
        + F.col("__m").cast("double") * mean * mean
    )
    den = F.col("__q").cast("double") - nD * mean * mean
    return agg.select(
        *keys,
        "n",
        F.lit(lag).cast("int").alias("lag"),
        F.when(
            (F.col("__m") >= min_pairs) & (den > 0),
            F.round(num / den, 6),
        ).alias("acf"),
    ).orderBy(*keys)


def seasonal_strength(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    min_rows: int = 24,
) -> DataFrame:
    """Seasonality-strength decomposition per key (the STL strength
    measure of Wang/Smith/Hyndman, computed moving-average-free): trend
    = the calendar-day mean, seasonal = the hour-of-day mean of the
    DETRENDED series, and F_s = max(0, 1 − Var(remainder)/
    Var(detrended)) ∈ [0,1] — ~0 for seasonality-free noise, →1 when
    the hour profile explains the day's shape. The "is there a daily
    rhythm" screen beside the CUSUM/ACF drift tier.

    Exactness: values round to whole units, detrended values pin to
    CENTI-unit integers after the (IEEE-deterministic) day-mean
    subtraction, hourly effects pin the same way, so both variances
    aggregate as 64-bit integer moment sums — order-independent and
    engine-exact (documented resolution: Σd² stays inside 2⁶³ for
    ~10⁹ rows of |detrended| ≤ 10⁴ units). Keys with fewer than
    ``min_rows`` rows or zero detrended variance emit NULL strength.

    Physical shape: one scan → (key×day) mean join (key-partitioned
    shuffle) → (key×hour) effect join (24·keys rows — broadcastable)
    → one key-cardinality moment aggregation. Output: keys + (n,
    var_detrended, var_resid, strength), unit², 6 dp. Engine addition;
    no reference counterpart.
    """
    keys_ok = F.lit(True)
    for kc in key_cols:
        keys_ok = keys_ok & F.col(kc).isNotNull()
    # key not-nulls up front so every branch of the shared enc lineage
    # is plan-identical (exchange reuse; see corpus_js_divergence).
    enc = df.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull() & keys_ok
    ).select(
        *key_cols,
        F.to_date(F.col(ts_col)).alias("__day"),
        F.hour(F.col(ts_col)).alias("__hour"),
        F.round(F.col(value_col).cast("double")).cast("long").alias("__x"),
    )
    day_means = enc.groupBy(*key_cols, "__day").agg(
        F.count(F.lit(1)).cast("bigint").alias("__nd"),
        F.sum("__x").cast("bigint").alias("__sd"),
    )
    detr = enc.join(day_means, [*key_cols, "__day"]).select(
        *key_cols,
        "__hour",
        F.round(
            (
                F.col("__x").cast("double")
                - F.col("__sd").cast("double") / F.col("__nd").cast("double")
            )
            * F.lit(100.0)
        )
        .cast("bigint")
        .alias("__dc"),
    )
    hour_eff = detr.groupBy(*key_cols, "__hour").agg(
        F.round(
            F.sum("__dc").cast("double") / F.count(F.lit(1)).cast("double")
        )
        .cast("bigint")
        .alias("__hc")
    )
    # no broadcast hint: hour_eff is keys x 24 — key-SCALED, so a
    # forced broadcast becomes a driver OOM at high key cardinality
    # (the assoc.py round-8 advisor lesson); AQE picks broadcast
    # whenever it actually fits.
    resid = detr.join(hour_eff, [*key_cols, "__hour"]).select(
        *key_cols,
        "__dc",
        (F.col("__dc") - F.col("__hc")).alias("__rc"),
    )
    agg = resid.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__dc").cast("bigint").alias("__s1d"),
        F.sum(F.col("__dc") * F.col("__dc")).cast("bigint").alias("__s2d"),
        F.sum("__rc").cast("bigint").alias("__s1r"),
        F.sum(F.col("__rc") * F.col("__rc")).cast("bigint").alias("__s2r"),
    )
    nD = F.col("n").cast("double")
    var_d = (
        nD * F.col("__s2d").cast("double")
        - F.col("__s1d").cast("double") * F.col("__s1d").cast("double")
    ) / (nD * nD)
    var_r = (
        nD * F.col("__s2r").cast("double")
        - F.col("__s1r").cast("double") * F.col("__s1r").cast("double")
    ) / (nD * nD)
    usable = (F.col("n") >= min_rows) & (var_d > 0)
    strength = F.greatest(F.lit(0.0), F.lit(1.0) - var_r / var_d)
    return agg.select(
        *key_cols,
        "n",
        F.round(var_d / F.lit(1e4), 6).alias("var_detrended"),
        F.round(var_r / F.lit(1e4), 6).alias("var_resid"),
        F.when(usable, F.round(strength, 6)).alias("strength"),
    ).orderBy(*key_cols)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    start_col: str = "s_us",
    end_col: str = "e_us",
    bin_us: int = 3_600_000_000,
) -> DataFrame:
    """Interval-overlap range join — pairs (left, right) whose half-open
    [start, end) micro-second intervals intersect, with the overlap
    length. THE range-join primitive (downtime × sessions, promotions ×
    orders, incidents × activity) that a naive formulation turns into a
    cross join.

    Plan shape: both sides explode to the coarse time bins they span
    (``sequence(s div bin, (e-1) div bin)``), the join is an EQUI-join
    on the bin (hash-partitionable, AQE-skew-splittable), a pair that
    shares several bins dedupes through one distinct, and the exact
    predicate ``a.s < b.e AND b.s < a.e`` filters bin neighbors that
    do not truly intersect. Join volume is Σ_bin |L_bin|·|R_bin| —
    data-proportional when intervals are short relative to ``bin_us``
    (bins-per-interval = span/bin + 1; size the bin to the MEDIAN span,
    and split pathological long-lived intervals upstream). Degenerate
    inputs (end <= start, null bounds) drop. Output: (left_id,
    right_id, overlap_us), overlap integral-exact. Engine addition; no
    reference counterpart.
    """
    b = F.lit(int(bin_us))

    def binned(df: DataFrame, id_col: str, tag: str) -> DataFrame:
        s, e = F.col(start_col), F.col(end_col)
        return (
            df.filter(
                s.isNotNull() & e.isNotNull() & (e > s)
            )
            .select(
                F.col(id_col).alias(f"__{tag}id"),
                s.alias(f"__{tag}s"),
                e.alias(f"__{tag}e"),
                F.explode(
                    F.sequence(
                        ((s - s % b) / b).cast("bigint"),
                        (((e - 1) - (e - 1) % b) / b).cast("bigint"),
                    )
                ).alias("__bin"),
            )
        )

    la = binned(left, left_id, "l")
    rb = binned(right, right_id, "r")
    pairs = (
        la.join(rb, "__bin")
        .filter(
            (F.col("__ls") < F.col("__re"))
            & (F.col("__rs") < F.col("__le"))
        )
        .select("__lid", "__rid", "__ls", "__le", "__rs", "__re")
        .distinct()
    )
    return pairs.select(
        F.col("__lid").alias(left_id),
        F.col("__rid").alias(right_id),
        (
            F.least("__le", "__re") - F.greatest("__ls", "__rs")
        ).cast("bigint").alias("overlap_us"),
    )


def seasonal_anomaly(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    ts_col: str,
    value_col: str,
    z_thresh: float = 3.0,
    min_rows: int = 48,
) -> DataFrame:
    """Seasonally-adjusted anomaly flags: z-score of the two-way
    decomposition RESIDUAL (value − day mean − hour effect) per key —
    the alarm that a plain rolling z (``rolling_anomaly``) cannot give
    on rhythmic series, where every evening peak looks anomalous
    against a flat baseline. Detrend/deseasonalize exactly as
    ``seasonal_strength`` (same centi-unit integer pinning, same
    exchange-reusable lineage), then one key-cardinality moment
    aggregate supplies mean/sd of the residual and rows with
    |z| > ``z_thresh`` flag. Keys with fewer than ``min_rows`` rows or
    zero residual variance emit nothing (no inference from degenerate
    baselines). Output: keys + (id, resid, z) for flagged rows,
    ordered by keys + id. Engine addition; no reference counterpart.
    """
    keys_ok = F.lit(True)
    for kc in key_cols:
        keys_ok = keys_ok & F.col(kc).isNotNull()
    enc = df.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull() & keys_ok
    ).select(
        *key_cols,
        F.col(id_col).alias("__id"),
        F.to_date(F.col(ts_col)).alias("__day"),
        F.hour(F.col(ts_col)).alias("__hour"),
        F.round(F.col(value_col).cast("double")).cast("long").alias("__x"),
    )
    day_means = enc.groupBy(*key_cols, "__day").agg(
        F.count(F.lit(1)).cast("bigint").alias("__nd"),
        F.sum("__x").cast("bigint").alias("__sd"),
    )
    # detr feeds the hour-effect aggregate AND the residual join, and
    # resid (below) feeds the moment aggregate AND the flag join — each
    # level doubles the replanned upstream, so the fact table scanned
    # 2^3 = 8x in the static plan (r15 audit). ONE lazy cut on detr
    # (the deeper shared subtree: fact scan + day-mean join) bounds
    # every replan; resid deliberately replans off the detr RDD
    # (r15 advice: a second cut pinned ~2x the encoded fact table in
    # executor storage per query — the resid replan costs one keyed
    # join + hour-effect agg over the ALREADY-CUT detr rows, never a
    # fact re-scan, so the storage is the bigger risk at 100 TB).
    detr = cut(
        enc.join(day_means, [*key_cols, "__day"])
        .select(
            *key_cols,
            "__id",
            "__hour",
            F.round(
                (
                    F.col("__x").cast("double")
                    - F.col("__sd").cast("double")
                    / F.col("__nd").cast("double")
                )
                * F.lit(100.0)
            )
            .cast("bigint")
            .alias("__dc"),
        )
    )
    hour_eff = detr.groupBy(*key_cols, "__hour").agg(
        F.round(
            F.sum("__dc").cast("double") / F.count(F.lit(1)).cast("double")
        )
        .cast("bigint")
        .alias("__hc")
    )
    # no broadcast hint: hour_eff is keys x 24 — key-SCALED, so a
    # forced broadcast becomes a driver OOM at high key cardinality
    # (the assoc.py round-8 advisor lesson); AQE picks broadcast
    # whenever it actually fits.
    resid = detr.join(hour_eff, [*key_cols, "__hour"]).select(
        *key_cols,
        "__id",
        (F.col("__dc") - F.col("__hc")).alias("__rc"),
    )
    stats = resid.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__rc").cast("bigint").alias("__s1"),
        F.sum(F.col("__rc") * F.col("__rc")).cast("bigint").alias("__s2"),
    )
    nD = F.col("__n").cast("double")
    mean_ = F.col("__s1").cast("double") / nD
    var_ = (
        nD * F.col("__s2").cast("double")
        - F.col("__s1").cast("double") * F.col("__s1").cast("double")
    ) / (nD * nD)
    # stats is key-cardinality — same no-force-broadcast rule
    j = resid.join(stats, key_cols).filter(
        (F.col("__n") >= min_rows) & (var_ > 0)
    )
    z = (F.col("__rc").cast("double") - mean_) / F.sqrt(var_)
    return (
        j.withColumn("__z", z)
        .filter(F.abs(F.col("__z")) > z_thresh)
        .select(
            *key_cols,
            F.col("__id").alias(id_col),
            F.round(F.col("__rc").cast("double") / F.lit(100.0), 6).alias(
                "resid"
            ),
            F.round("__z", 6).alias("z"),
        )
        .orderBy(*key_cols, id_col)
    )


def m4_downsample(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    id_col: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., VLDB 2014): per (key,
    time bucket) keep the FOUR pixel-defining rows — first, last, min
    and max — which renders bit-identically to the full series on any
    display whose x-resolution matches the bucket width, at 4/|bucket|
    of the data. The dashboard/viz feeder for billion-point series.

    One map-side-combined groupBy: each role is a min/max over a
    struct whose leading field is the role's ordering and whose
    remaining fields give a TOTAL order ((value, ts, id) for min/max,
    (ts, id, value) for first/last), so role winners are deterministic
    under ties on both engines. The four winners then unpivot and
    dedupe (a row can hold several roles — a bucket's max is often its
    last). Output: keys + (bucket_s, ts, value, id), distinct rows
    ascending; value rounds to cents for the cross-engine struct
    comparison (documented resolution). Engine addition; no reference
    counterpart.
    """
    b_us = int(bucket_seconds) * 1_000_000
    tus = F.unix_micros(F.col(ts_col))
    enc = df.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *key_cols,
        ((tus - tus % b_us) / F.lit(b_us)).cast("bigint").alias("__b"),
        tus.alias("__t"),
        F.round(F.col(value_col).cast("double") * 100)
        .cast("bigint")
        .alias("__v"),
        F.col(id_col).alias("__id"),
    )
    v_struct = F.struct(
        F.col("__v"), F.col("__t"), F.col("__id")
    )
    t_struct = F.struct(
        F.col("__t"), F.col("__id"), F.col("__v")
    )
    agg = enc.groupBy(*key_cols, "__b").agg(
        F.min(v_struct).alias("__vmin"),
        F.max(v_struct).alias("__vmax"),
        F.min(t_struct).alias("__tmin"),
        F.max(t_struct).alias("__tmax"),
    )
    pts = F.array(
        F.struct(
            F.col("__vmin.__t").alias("t"),
            F.col("__vmin.__v").alias("v"),
            F.col("__vmin.__id").alias("i"),
        ),
        F.struct(
            F.col("__vmax.__t").alias("t"),
            F.col("__vmax.__v").alias("v"),
            F.col("__vmax.__id").alias("i"),
        ),
        F.struct(
            F.col("__tmin.__t").alias("t"),
            F.col("__tmin.__v").alias("v"),
            F.col("__tmin.__id").alias("i"),
        ),
        F.struct(
            F.col("__tmax.__t").alias("t"),
            F.col("__tmax.__v").alias("v"),
            F.col("__tmax.__id").alias("i"),
        ),
    )
    return (
        agg.select(
            *key_cols,
            (F.col("__b") * F.lit(int(bucket_seconds))).alias("bucket_s"),
            F.explode(F.array_distinct(pts)).alias("__p"),
        )
        .select(
            *key_cols,
            "bucket_s",
            (
                (F.col("__p.t") - F.col("__p.t") % 1_000_000)
                / F.lit(1_000_000)
            ).cast("bigint").alias("t_s"),
            F.round(
                F.col("__p.v").cast("double") / F.lit(100.0), 6
            ).alias("value"),
            F.col("__p.i").alias(id_col),
        )
        .distinct()
        .orderBy(*key_cols, "bucket_s", "t_s", id_col)
    )


def alert_episodes(
    flags: DataFrame,
    keys: list[str],
    ts_col: str,
    id_col: str,
    z_col: str = "z",
    max_gap_seconds: int = 86_400,
) -> DataFrame:
    """Collapse per-row anomaly FLAGS into alert EPISODES — the
    alert-fatigue fix: one misbehaving entity fires hundreds of
    row-level alarms (``rolling_anomaly`` / ``seasonal_anomaly``
    output), but the on-call pages once per EPISODE. Consecutive
    flagged rows of a key belong to one episode while their gap stays
    within ``max_gap_seconds``; a larger gap opens a new one (the
    gaps-and-islands pattern — sessionization over alarms).

    One keyed window pass: lag gives the gap, the cumulative marker sum
    numbers islands, one aggregate per episode. Integer-second gaps;
    peak severity is max(|z|) of already-6-dp z values (exact). Output:
    keys + (episode, start_ts, end_ts, duration_s, n_alerts,
    peak_abs_z), ordered. Engine addition; no reference counterpart.
    """
    w = Window.partitionBy(*keys).orderBy(ts_col, id_col)
    tus = F.unix_micros(F.col(ts_col))
    gap_s = (
        (tus - F.lag(tus).over(w))
        - (tus - F.lag(tus).over(w)) % 1_000_000
    ) / 1_000_000
    marked = flags.withColumn(
        "__new",
        F.when(
            F.lag(ts_col).over(w).isNull()
            | (gap_s.cast("bigint") > max_gap_seconds),
            1,
        ).otherwise(0),
    ).withColumn(
        "__ep",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    dur = F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col))
    return (
        marked.groupBy(*keys, F.col("__ep").alias("episode"))
        .agg(
            F.min(ts_col).alias("start_ts"),
            F.max(ts_col).alias("end_ts"),
            ((dur - dur % 1_000_000) / 1_000_000)
            .cast("bigint")
            .alias("duration_s"),
            F.count(F.lit(1)).cast("bigint").alias("n_alerts"),
            F.max(F.abs(F.col(z_col))).alias("peak_abs_z"),
        )
        .orderBy(*keys, "episode")
    )


def lag_features(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    id_col: str,
    window_rows: int = 3,
) -> DataFrame:
    """Per-entity lagged feature construction -- the feature-store
    primitive every event-driven model consumes (fraud, churn, CTR):
    for each event, the PREVIOUS value, the rolling mean of the last
    ``window_rows`` values (current included), seconds since the
    previous event, and the 1-based event index. All four ride ONE
    key-ordered exchange (four window functions, same partition + the
    same total order -- a tie in ts breaks on the id column so every
    column pairing is partition-order-independent, the w1_cumprod
    lesson). Values pin to integer cents before the rolling sum, so the
    mean is engine-exact at 6 dp. Output: (key, id, ts, prev_value,
    rolling_mean, gap_s, event_idx), one row per input event.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    wr = w.rowsBetween(-(window_rows - 1), 0)
    cents = F.round(F.col(val_col) * 100, 0).cast("long")
    return (
        df.filter(
            F.col(ts_col).isNotNull() & F.col(key_col).isNotNull()
        )
        .select(
            key_col,
            id_col,
            F.col(ts_col),
            cents.alias("__c"),
        )
        .select(
            key_col,
            id_col,
            ts_col,
            F.round(
                F.lag("__c").over(w).cast("double") / 100, 6
            ).alias("prev_value"),
            F.round(
                F.sum("__c").over(wr).cast("double")
                / (F.count(F.lit(1)).over(wr) * 100),
                6,
            ).alias("rolling_mean"),
            (
                F.unix_timestamp(F.col(ts_col))
                - F.unix_timestamp(F.lag(ts_col).over(w))
            ).cast("bigint").alias("gap_s"),
            F.row_number().over(w).cast("bigint").alias("event_idx"),
        )
        .orderBy(key_col, ts_col, id_col)
    )


def time_weighted_mean(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    val_col: str,
    tiebreak_cols: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Duration-weighted mean per key (TWAP and every sensor/price
    "average level over time" readout): each observation holds its
    value until the NEXT observation, so the mean weights values by
    their holding duration -- the arithmetic mean over-weights bursty
    sampling; this one integrates over time. The final observation of a
    key carries no duration and drops from the weighted mean by
    contract (its holding interval is unknown).

    Integer-exact: durations are whole seconds (lead over ONE keyed
    exchange), values pin to cents, the value*duration products
    accumulate as DECIMAL(38,0) (order-independent), one double
    division at the end. ``tiebreak_cols`` completes the per-key order
    when timestamps can tie (tied observations get zero duration — but
    deterministically so under any partitioning); rows with a NULL
    timestamp drop by contract (no holding interval). Output per key:
    (keys..., n_obs, total_s, twap), ordered.
    """
    order = [F.col(ts_col)] + [
        F.col(c) for c in (tiebreak_cols or [])
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    cents = F.round(F.col(val_col) * 100, 0).cast("long")
    t = df.filter(F.col(ts_col).isNotNull()).select(
        *key_cols,
        F.col(ts_col),
        *[F.col(c) for c in (tiebreak_cols or [])],
        cents.alias("__c"),
    ).withColumn(
        "__dur",
        (
            F.unix_timestamp(F.lead(ts_col).over(w))
            - F.unix_timestamp(F.col(ts_col))
        ).cast("long"),
    )
    vd = F.col("__c").cast("decimal(38,0)") * F.col("__dur")
    return (
        t.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
            F.coalesce(F.sum("__dur"), F.lit(0))
            .cast("bigint")
            .alias("total_s"),
            F.sum(vd).alias("__svd"),
        )
        .select(
            *key_cols,
            "n_obs",
            "total_s",
            F.when(
                F.col("total_s") > 0,
                F.round(
                    F.col("__svd").cast("double")
                    / F.col("total_s")
                    / 100,
                    round_to,
                ),
            ).alias("twap"),
        )
        .orderBy(*key_cols)
    )


def interval_coverage_gaps(
    df: DataFrame,
    key_cols: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Interval coverage audit per key -- the uptime/coverage readout
    for any validity-interval table (sensor feeds, SLA windows, SCD2
    versions): merge overlapping/touching intervals, then report the
    covered span, the uncovered gap mass INSIDE the observed window,
    and the largest single gap. The classic gaps-and-islands merge:
    an interval starts a new island when its start exceeds the running
    max end of everything before it -- one key-ordered exchange, two
    window passes (running max end, island id), then a key rollup.

    Integer-exact: bounds convert to whole epoch seconds before any
    arithmetic. Malformed intervals (NULL bounds or end < start) drop
    by contract. Output per key: (keys..., n_intervals, n_islands,
    covered_s, gap_s, max_gap_s), ordered.
    """
    s = F.unix_timestamp(F.col(start_col)).cast("long")
    e = F.unix_timestamp(F.col(end_col)).cast("long")
    base = df.filter(
        F.col(start_col).isNotNull()
        & F.col(end_col).isNotNull()
        & (e >= s)
    ).select(*key_cols, s.alias("__s"), e.alias("__e"))
    w = Window.partitionBy(*key_cols).orderBy("__s", "__e")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    t = (
        base.withColumn("__pmax", F.max("__e").over(wprev))
        .withColumn(
            "__new",
            F.when(
                F.col("__pmax").isNull()
                | (F.col("__s") > F.col("__pmax")),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__gap",
            F.when(
                (F.col("__new") == 1) & F.col("__pmax").isNotNull(),
                F.col("__s") - F.col("__pmax"),
            ).otherwise(F.lit(0)),
        )
        .withColumn("__island", F.sum("__new").over(w))
    )
    islands = t.groupBy(*key_cols, F.col("__island")).agg(
        F.min("__s").alias("__is"),
        F.max("__e").alias("__ie"),
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.max("__gap").alias("__g"),
    )
    return (
        islands.groupBy(*key_cols)
        .agg(
            F.sum("__n").cast("bigint").alias("n_intervals"),
            F.count(F.lit(1)).cast("bigint").alias("n_islands"),
            F.sum(F.col("__ie") - F.col("__is"))
            .cast("bigint")
            .alias("covered_s"),
            F.coalesce(F.sum("__g"), F.lit(0))
            .cast("bigint")
            .alias("gap_s"),
            F.coalesce(F.max("__g"), F.lit(0))
            .cast("bigint")
            .alias("max_gap_s"),
        )
        .orderBy(*key_cols)
    )


def drawdown(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Maximum drawdown per key — how far below its running peak a
    monitored value fell, and when: the standard health readout for any
    metric series (throughput, balance, score) where "still below the
    old peak" is the alarm condition. Values pin to integer cents
    (ROUND(v·100)); the running peak is a cumulative MAX window, the
    drawdown at each row is peak − value, and the reported max
    drawdown breaks ties on EARLIEST (ts, id) — a total order, so the
    row choice is engine-exact.

    NULL ts/value rows drop by contract (a NULL cannot hold a peak).
    One key-ordered exchange, two window passes (cumulative max +
    ranked pick), one row per key: (key, n, peak_cents, max_drawdown
    _cents, drawdown_ts). Keys whose series never dips report 0 with
    their first row's ts (peak − value = 0 everywhere — the earliest
    tie wins by the same rule, no special case).
    """
    b = df.filter(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.round(F.col(value_col).cast("double") * 100, 0)
        .cast("bigint")
        .alias("__c"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("__k")
    # n and the global peak ride the SAME keyed exchange as the
    # cumulative window (partition-only frames over an already
    # key-partitioned sort are free) — a separate groupBy+join would
    # re-scan and re-shuffle the input for values the window already has
    scored = (
        b.withColumn("__peak", F.max("__c").over(w))
        .withColumn("__dd", F.col("__peak") - F.col("__c"))
        .withColumn("__n", F.count(F.lit(1)).over(wall).cast("bigint"))
        .withColumn("__pk", F.max("__c").over(wall).cast("bigint"))
    )
    pick = Window.partitionBy("__k").orderBy(
        F.col("__dd").desc(), F.col("__ts").asc(), F.col("__id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__k").alias(key_col),
            F.col("__n").alias("n"),
            F.col("__pk").alias("peak_cents"),
            F.col("__dd").cast("bigint").alias("max_drawdown_cents"),
            F.col("__ts").alias("drawdown_ts"),
        )
        .orderBy(key_col)
    )


def changepoint_scan(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Single best CUSUM changepoint per key (binary-segmentation step
    1, Page 1954 lineage): the split position t maximizing
    |n·S_t − t·S_n| where S_t is the prefix sum of the cents-pinned
    series — the scaled-integer form of the classic max-CUSUM statistic
    (the float form t·(n−t)·(mean_L−mean_R) re-opens libm divergence;
    multiplying through by n keeps every term an exact int64 product of
    a cents prefix and a row count). The drift monitors (psi/ks/cusum)
    say IF a series moved; this says WHERE.

    One key-ordered exchange: prefix sums via a cumulative window,
    totals via the key partition window, argmax via one ranked pick
    with ties on EARLIEST t (total order). Splits are interior
    (1 ≤ t < n); single-row keys emit nothing. NULL ts/value rows drop
    by contract. Output: (key, n, split_pos, split_ts, cusum_cents =
    the max statistic published per-row as |S_t − (t/n)·S_n| in exact
    floor cents — int64-safe where the n-scaled argmax form is not,
    mean_left_cmicro/mean_right_cmicro = exact floor-div micro-cent
    means), ordered by key.
    """
    b = df.filter(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.round(F.col(value_col).cast("double") * 100, 0)
        .cast("bigint")
        .alias("__c"),
    )
    wcum = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("__k")
    scored = (
        b.withColumn("__t", F.count(F.lit(1)).over(wcum).cast("bigint"))
        .withColumn("__pre", F.sum("__c").over(wcum).cast("bigint"))
        .withColumn("__n", F.count(F.lit(1)).over(wall).cast("bigint"))
        .withColumn("__tot", F.sum("__c").over(wall).cast("bigint"))
        .filter(F.col("__t") < F.col("__n"))
        .withColumn(
            # n·S_t − t·S_n runs in DECIMAL(38,0): at web scale both
            # products exceed int64 (rows/key ~1e9 × cents ~1e13); the
            # epoch-plan overflow lesson
            "__stat",
            F.expr(
                "abs(CAST(__n AS DECIMAL(38,0)) * __pre"
                " - CAST(__t AS DECIMAL(38,0)) * __tot)"
            ),
        )
    )
    pick = Window.partitionBy("__k").orderBy(
        F.col("__stat").desc(), F.col("__t").asc()
    )
    # floor-div means over +1e6-shifted cents (negative dividends:
    # Spark div truncates where DuckDB // floors — the shift keeps both
    # exact and equal; centi-micro = 1e6 * cents div rows), products in
    # DECIMAL(38,0)
    # the shift is 1e12 cents/row (covers means to ±1e10 currency —
    # beyond any real metric — while 1e6·(t·1e12) stays ≪ 1e38)
    mean_l = F.expr(
        "CAST(CAST(1000000 AS DECIMAL(38,0))"
        " * (__pre + CAST(__t AS DECIMAL(38,0)) * 1000000000000)"
        " div __t - 1000000000000000000 AS BIGINT)"
    )
    mean_r = F.expr(
        "CAST(CAST(1000000 AS DECIMAL(38,0))"
        " * ((__tot - __pre)"
        "    + CAST(__n - __t AS DECIMAL(38,0)) * 1000000000000)"
        " div (__n - __t) - 1000000000000000000 AS BIGINT)"
    )
    return (
        scored.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__k").alias(key_col),
            F.col("__n").alias("n"),
            F.col("__t").cast("bigint").alias("split_pos"),
            F.col("__ts").alias("split_ts"),
            # published per-row: |S_t − (t/n)·S_n| in exact floor cents
            # — int64-safe (≤ total |cents|) where the raw n-scaled
            # statistic is not
            F.expr("CAST(__stat div __n AS BIGINT)").alias(
                "cusum_cents"
            ),
            mean_l.alias("mean_left_cmicro"),
            mean_r.alias("mean_right_cmicro"),
        )
        .orderBy(key_col)
    )


def theil_sen_trend(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_days: int = 30,
) -> DataFrame:
    """Per-key Theil–Sen robust trend over the last ``window_days``
    daily buckets: the median of all pairwise (Δvalue/Δday) slopes —
    the trend estimator a single spike cannot drag (OLS breakdown
    point 0, Theil–Sen 29%; the right default for alerting on noisy
    operational series). Published as slope_nano_per_day =
    FLOOR(median · 10⁹) — IEEE double division/multiply is
    bit-deterministic across engines and FLOOR never sits on a
    rounding boundary the way ROUND-half does, so the DuckDB twin
    reproduces it exactly.

    Scale shape: per-row values pin to micro ints, ONE (key, day)
    aggregation bounds each key's series to ≤ window_days points, the
    rank cut keeps the trailing window, and the C(W,2) ≤ 435 pairwise
    slopes are generated INSIDE a collected array (plan-time-bounded,
    no pair shuffle, no self-join). Keys with a single daily bucket
    are excluded by contract; NULL ts/value rows drop.
    """
    daily = (
        df.filter(
            F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("__k"),
            F.col(ts_col).cast("date").alias("__day"),
            F.expr(
                f"CAST(ROUND({value_col} * 1000000, 0) AS BIGINT)"
            ).alias("__vm"),
        )
        .groupBy("__k", "__day")
        .agg(
            F.expr("CAST(sum(__vm) div count(*) AS BIGINT)").alias("__v")
        )
    )
    w = Window.partitionBy("__k").orderBy(F.col("__day").desc())
    recent = daily.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= window_days
    )
    pts = recent.groupBy("__k").agg(
        F.expr(
            "array_sort(collect_list(struct("
            "datediff(__day, DATE'1970-01-01') AS d, __v AS v)))"
        ).alias("__pts")
    )
    return (
        pts.withColumn("__n", F.size("__pts"))
        .filter(F.col("__n") >= 2)
        .withColumn(
            "__slopes",
            # the divide MUST run in IEEE double: a bare 1000000.0
            # literal types as DECIMAL in BOTH engines, and
            # bigint/decimal division follows each engine's own
            # decimal-scale rounding rules (caught by the pure-double
            # Python reference in test_r12_wave_props) — CAST AS DOUBLE
            # pins the bit-deterministic path
            F.expr(
                "array_sort(flatten(transform(sequence(1, __n - 1), i ->"
                " transform(sequence(i + 1, __n), j ->"
                " CAST(element_at(__pts, j).v - element_at(__pts, i).v"
                "      AS DOUBLE)"
                " / (CAST(1000000 AS DOUBLE) * (element_at(__pts, j).d"
                "                 - element_at(__pts, i).d))))))"
            ),
        )
        .select(
            F.col("__k").alias(key_col),
            F.col("__n").cast("bigint").alias("n_days"),
            F.expr("CAST(size(__slopes) AS BIGINT)").alias("n_slopes"),
            F.expr(
                "CAST(FLOOR(element_at(__slopes,"
                " CAST((size(__slopes) + 1) div 2 AS INT))"
                " * CAST(1000000000 AS DOUBLE)) AS BIGINT)"
            ).alias("slope_nano_per_day"),
        )
        .orderBy(key_col)
    )


def out_of_order_audit(
    df: DataFrame,
    key_col: str,
    seq_col: str,
    ts_col: str,
) -> DataFrame:
    """Out-of-order ingestion audit: per key, how often the event
    timestamp REGRESSES along the producer sequence order — adjacent
    (by ``seq_col``) pairs where ts decreases, the worst regression in
    integer seconds, and the inversion rate in exact ppm. This is the
    number that sizes streaming watermarks: a pipeline tuned to
    "events are roughly ordered" needs to know the actual disorder
    magnitude, not assume it. Rows with NULL seq/ts drop by contract;
    adjacency is over the surviving sequence.

    Scale shape: one key-ordered window pass (single keyed exchange),
    then a key-level aggregate; integer-second epoch arithmetic keeps
    the DuckDB twin bit-exact.
    """
    w = Window.partitionBy("__k").orderBy("__s")
    pairs = (
        df.filter(
            F.col(seq_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("__k"),
            F.col(seq_col).alias("__s"),
            F.unix_timestamp(F.col(ts_col)).cast("bigint").alias("__t"),
        )
        .withColumn("__pt", F.lag("__t", 1).over(w))
        .filter(F.col("__pt").isNotNull())
    )
    return (
        pairs.groupBy(F.col("__k").alias(key_col))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("__t") < F.col("__pt"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_inversions"),
            F.max(
                F.when(
                    F.col("__t") < F.col("__pt"),
                    F.col("__pt") - F.col("__t"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("max_regression_s"),
        )
        .withColumn(
            "inversion_ppm",
            F.expr(
                "CAST(1000000 * n_inversions div n_pairs AS BIGINT)"
            ),
        )
        .orderBy(key_col)
    )


def forecast_backtest(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    season: int = 7,
    ma_window: int = 3,
) -> DataFrame:
    """Forecast-baseline backtest per key — the M-competition floor
    every fancy model must beat BEFORE it ships: one-step-ahead errors
    of naive (yesterday's value), seasonal-naive (value ``season`` days
    back) and the trailing ``ma_window``-day moving average, over the
    daily micro-int mean series. A model that cannot beat these three
    numbers on YOUR data is a liability, and computing them costs one
    window pass. Errors stay in exact micro ints; MAE uses Σ|e| (so
    floor-div agrees across engines) and the signed bias ships as the
    raw exact Σe with n, never a signed floor-division (truncation
    direction differs across engines on negatives).

    Output: (key, method, n_preds, mae_micro, sum_err_micro,
    worst_abs_micro), methods present only where their lag exists —
    keys shorter than the season emit no seasonal-naive row by
    contract. One key-ordered window exchange; the daily
    pre-aggregation bounds every series like the Theil–Sen kernel.
    """
    daily = (
        df.filter(
            F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("__k"),
            F.col(ts_col).cast("date").alias("__day"),
            F.expr(
                f"CAST(ROUND({value_col} * 1000000, 0) AS BIGINT)"
            ).alias("__vm"),
        )
        .groupBy("__k", "__day")
        .agg(
            F.expr("CAST(sum(__vm) div count(*) AS BIGINT)").alias("__v")
        )
    )
    w = Window.partitionBy("__k").orderBy("__day")
    wma = w.rowsBetween(-ma_window, -1)
    preds = daily.select(
        "__k",
        "__v",
        F.lag("__v", 1).over(w).alias("__naive"),
        F.lag("__v", season).over(w).alias("__snaive"),
        F.when(
            F.count("__v").over(wma) >= ma_window,
            F.expr(
                f"CAST(sum(__v) OVER (PARTITION BY __k ORDER BY __day"
                f" ROWS BETWEEN {ma_window} PRECEDING AND 1 PRECEDING)"
                f" div {ma_window} AS BIGINT)"
            ),
        ).alias("__ma"),
    )
    rec = F.explode(
        F.array(
            F.struct(
                F.lit("naive").alias("method"),
                F.col("__naive").alias("pred"),
            ),
            F.struct(
                F.lit("snaive").alias("method"),
                F.col("__snaive").alias("pred"),
            ),
            F.struct(
                F.lit(f"ma{ma_window}").alias("method"),
                F.col("__ma").alias("pred"),
            ),
        )
    )
    errs = (
        preds.select("__k", "__v", rec.alias("__r"))
        .select(
            "__k",
            F.col("__r.method").alias("method"),
            (F.col("__v") - F.col("__r.pred")).alias("__e"),
        )
        .filter(F.col("__e").isNotNull())
    )
    return (
        errs.groupBy(F.col("__k").alias(key_col), "method")
        .agg(
            F.count("*").cast("bigint").alias("n_preds"),
            F.expr(
                "CAST(sum(abs(__e)) div count(*) AS BIGINT)"
            ).alias("mae_micro"),
            F.sum("__e").cast("bigint").alias("sum_err_micro"),
            F.max(F.abs(F.col("__e"))).cast("bigint").alias(
                "worst_abs_micro"
            ),
        )
        .orderBy(key_col, "method")
    )


def binseg_changepoints(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Depth-2 BINARY SEGMENTATION (Scott & Knott lineage): the
    ``changepoint_scan`` max-CUSUM split, then the same argmax re-run
    INSIDE each half — up to three changepoints per key, which is what
    separates "the metric moved once" from "it moved, recovered, and
    moved again" (a single-split scan smears multi-shift series into
    one misplaced split). Depth is fixed at 2 by design: every extra
    level doubles the segment count, and the standard practice is a
    shallow scan feeding a human/alert, not full segmentation.

    Same integer discipline as changepoint_scan (cents prefix sums,
    DECIMAL(38,0) n·S_t − t·S_n argmax, earliest-t ties). Level 2
    recomputes the statistic WITHIN each side (prefix sums relative to
    the segment — the level-1 split row closes the left segment), and
    sides shorter than 2 rows emit nothing. Segments are labeled by
    breadth-first position: level 1 = 'all', level 2 = 'left'/'right'.

    Plan shape: ONE key-ordered exchange computes the level-1 argmax;
    the level-1 splits (key-sized) join back on the key, the side
    label becomes a projection, and level 2 is one (key, side)-keyed
    window pass over the SAME sorted layout — no per-segment
    re-scans, no driver loop. Output: (key, level, segment, n_seg,
    split_pos, split_ts, cusum_cents), split_pos GLOBAL 1-based within
    the key's series, ordered by (key, level, segment). Engine
    addition; no reference counterpart.
    """
    b = df.filter(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.round(F.col(value_col).cast("double") * 100, 0)
        .cast("bigint")
        .alias("__c"),
    )
    wcum = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("__k")
    rows = (
        b.withColumn("__t", F.count(F.lit(1)).over(wcum).cast("bigint"))
        .withColumn("__pre", F.sum("__c").over(wcum).cast("bigint"))
        .withColumn("__n", F.count(F.lit(1)).over(wall).cast("bigint"))
        .withColumn("__tot", F.sum("__c").over(wall).cast("bigint"))
    )
    stat = F.expr(
        "abs(CAST(__n AS DECIMAL(38,0)) * __pre"
        " - CAST(__t AS DECIMAL(38,0)) * __tot)"
    )
    pick1 = Window.partitionBy("__k").orderBy(
        F.col("__stat").desc(), F.col("__t").asc()
    )
    lvl1 = (
        rows.filter(F.col("__t") < F.col("__n"))
        .withColumn("__stat", stat)
        .withColumn("__rn", F.row_number().over(pick1))
        .filter(F.col("__rn") == 1)
        .select(
            "__k",
            F.col("__t").alias("__t1"),
            F.col("__ts").alias("__ts1"),
            F.col("__n").alias("__n1"),
            F.expr("CAST(__stat div __n AS BIGINT)").alias("__cc1"),
        )
    )
    # level 2: side label is a projection off the joined split; the
    # within-side prefix/total derive from the LEVEL-1 cumulative
    # columns by subtraction (left closes at t1), so no re-sort beyond
    # the (key, side) window pass
    sided = rows.join(lvl1.select("__k", "__t1"), ["__k"]).withColumn(
        "__side",
        F.when(F.col("__t") <= F.col("__t1"), F.lit("left")).otherwise(
            F.lit("right")
        ),
    )
    wside = Window.partitionBy("__k", "__side")
    # per-side local position/prefix: left is (t, pre) as-is; right
    # shifts by the boundary (t1, S_t1). The boundary prefix must be
    # the prefix AT the split row (t == t1), not max(pre) over the
    # left side — they differ whenever the series has negative values.
    bnd_pre = F.max(
        F.when(F.col("__t") == F.col("__t1"), F.col("__pre"))
    ).over(Window.partitionBy("__k"))
    sided = (
        sided.withColumn(
            "__bpre",
            F.coalesce(bnd_pre, F.lit(0)).cast("bigint"),
        )
        .withColumn(
            "__lt",
            F.when(
                F.col("__side") == "left", F.col("__t")
            ).otherwise(F.col("__t") - F.col("__t1")),
        )
        .withColumn(
            "__lpre",
            F.when(
                F.col("__side") == "left", F.col("__pre")
            ).otherwise(F.col("__pre") - F.col("__bpre")),
        )
        .withColumn("__ln", F.count(F.lit(1)).over(wside).cast("bigint"))
        .withColumn(
            "__ltot",
            F.when(
                F.col("__side") == "left", F.col("__bpre")
            ).otherwise(F.col("__tot") - F.col("__bpre")),
        )
    )
    stat2 = F.expr(
        "abs(CAST(__ln AS DECIMAL(38,0)) * __lpre"
        " - CAST(__lt AS DECIMAL(38,0)) * __ltot)"
    )
    pick2 = Window.partitionBy("__k", "__side").orderBy(
        F.col("__stat").desc(), F.col("__t").asc()
    )
    lvl2 = (
        sided.filter(F.col("__lt") < F.col("__ln"))
        .withColumn("__stat", stat2)
        .withColumn("__rn", F.row_number().over(pick2))
        .filter(F.col("__rn") == 1)
        .select(
            "__k",
            F.lit(2).alias("level"),
            F.col("__side").alias("segment"),
            F.col("__ln").alias("n_seg"),
            F.col("__t").alias("split_pos"),
            F.col("__ts").alias("split_ts"),
            F.expr("CAST(__stat div __ln AS BIGINT)").alias(
                "cusum_cents"
            ),
        )
    )
    out1 = lvl1.select(
        "__k",
        F.lit(1).alias("level"),
        F.lit("all").alias("segment"),
        F.col("__n1").alias("n_seg"),
        F.col("__t1").alias("split_pos"),
        F.col("__ts1").alias("split_ts"),
        F.col("__cc1").alias("cusum_cents"),
    )
    return (
        out1.unionByName(lvl2)
        .select(
            F.col("__k").alias(key_col),
            F.col("level").cast("int").alias("level"),
            "segment",
            F.col("n_seg").cast("bigint").alias("n_seg"),
            F.col("split_pos").cast("bigint").alias("split_pos"),
            "split_ts",
            "cusum_cents",
        )
        .orderBy(key_col, "level", "segment")
    )
