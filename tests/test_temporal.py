"""Temporal operators: as-of join + interval join vs DuckDB's native
ASOF/range joins, the integer recurrences (EWMA, CUSUM, Holt) and their
folds against pure-Python replays, and the rolling z-score anomaly screen.

DuckDB implements ASOF JOIN natively, so these tests get oracle-grade
verification without consuming a driver catalog slot (the correctness gate
reads only the first 50 queries() entries)."""

from __future__ import annotations

import datetime as dt
import math
import random

import duckdb
import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.catalog.common import T
from calp_cva_tracking_pipeline_spark.catalog.scale import (
    EV_ANOMALY_SQL,
    TS_EWMA_SQL,
)
from calp_cva_tracking_pipeline_spark.operators.temporal import (
    asof_join,
    cusum_detect,
    cusum_fold,
    ewma_smooth,
    ewma_smooth_chunked,
    holt_fold,
    holt_smooth,
    interval_join,
    rolling_anomaly,
)

T0 = dt.datetime(2024, 1, 1)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _duck_on(frames: dict[str, pd.DataFrame]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, pdf in frames.items():
        con.register(f"__{name}", pdf)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM __{name}")
    return con


def _events_sides(spark, sf_dir):
    """Left = all events; right = sparse per-user rate epochs sampled from
    the same table (unique (user_id, ts) by construction of the sample)."""
    e = T(spark, sf_dir, "events")
    left = e.select("event_id", "user_id", "ts", "value")
    right = (
        e.filter(F.col("event_id") % 11 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max(F.col("value") * 2).alias("rate"))
    )
    return left, right


def _duck_con(sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    con.execute(
        "CREATE VIEW l AS SELECT event_id, user_id, ts, value FROM events"
    )
    con.execute(
        "CREATE VIEW r AS SELECT user_id, ts, MAX(value * 2) AS rate "
        "FROM events WHERE event_id % 11 = 0 GROUP BY user_id, ts"
    )
    return con


def _canon(rows):
    out = []
    for row in rows:
        out.append(
            tuple(
                "%.9g" % v if isinstance(v, float) else repr(v) for v in row
            )
        )
    out.sort()
    return out


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_join_matches_duckdb(spark, sf_dir, direction):
    left, right = _events_sides(spark, sf_dir)
    got = asof_join(
        left,
        right,
        keys=["user_id"],
        left_time="ts",
        right_time="ts",
        direction=direction,
    ).select("event_id", "user_id", "value", "ts_matched", "rate")
    op = ">=" if direction == "backward" else "<="
    con = _duck_con(sf_dir)
    want = con.execute(
        f"""
        SELECT l.event_id, l.user_id, l.value,
               r.ts AS ts_matched, r.rate
        FROM l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.ts {op} r.ts
        """
    ).fetchall()
    srows = [
        (r["event_id"], r["user_id"], r["value"],
         r["ts_matched"] and r["ts_matched"].replace(tzinfo=None),
         r["rate"])
        for r in got.collect()
    ]
    wrows = [(a, b, c, d, e) for a, b, c, d, e in want]
    assert len(srows) == left.count()  # left-outer: row count preserved
    assert _canon(srows) == _canon(wrows)


def test_asof_equal_timestamp_matches(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c")], "k int, t int, pl string"
    )
    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 15, 2.0)], "k int, t int, rate double"
    )
    got = {
        r["pl"]: (r["t_matched"], r["rate"])
        for r in asof_join(
            left, right, keys=["k"], left_time="t"
        ).collect()
    }
    assert got == {
        "a": (10, 1.0),  # equal timestamp matches
        "b": (15, 2.0),
        "c": (None, None),  # nothing at or before t=5
    }


def test_asof_tolerance_voids_stale_matches(spark):
    left = spark.createDataFrame([(1, 100), (1, 200)], "k int, t int")
    right = spark.createDataFrame([(1, 95, 7.0)], "k int, t int, r double")
    got = {
        r["t"]: r["r"]
        for r in asof_join(
            left, right, keys=["k"], left_time="t", tolerance=F.lit(10)
        ).collect()
    }
    assert got == {100: 7.0, 200: None}  # 200-95=105 > 10 → voided


def test_asof_duplicate_right_timestamps_deterministic(spark):
    left = spark.createDataFrame([(1, 10)], "k int, t int")
    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 10, 9.0)], "k int, t int, r double"
    )
    for _ in range(3):
        rows = asof_join(
            left, right, keys=["k"], left_time="t"
        ).collect()
        assert rows[0]["r"] == 9.0  # max payload struct wins, every run


def test_asof_plan_single_shuffle_no_join(spark, sf_dir):
    left, right = _events_sides(spark, sf_dir)
    plan = (
        asof_join(left, right, keys=["user_id"], left_time="ts")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan  # union + window, not a join node
    assert plan.count("Exchange hashpartitioning") <= 2  # union sides


def test_interval_join_matches_duckdb(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    points = e.select("event_id", "user_id", "ts")
    windows = spark.createDataFrame(
        [
            ("w1", "2024-01-01 00:00:00", "2024-04-01 00:00:00"),
            ("w2", "2024-04-01 00:00:00", "2024-07-01 00:00:00"),
            ("w3", "2024-06-15 00:00:00", "2024-09-01 00:00:00"),  # overlaps
        ],
        "win string, start string, end string",
    ).select(
        "win",
        F.col("start").cast("timestamp").alias("start"),
        F.col("end").cast("timestamp").alias("end"),
    )
    got = interval_join(
        points, windows, point_time="ts", start="start", end="end"
    ).select("event_id", "win")
    con = _duck_con(sf_dir)
    want = con.execute(
        """
        WITH w(win, start_, end_) AS (VALUES
          ('w1', TIMESTAMP '2024-01-01', TIMESTAMP '2024-04-01'),
          ('w2', TIMESTAMP '2024-04-01', TIMESTAMP '2024-07-01'),
          ('w3', TIMESTAMP '2024-06-15', TIMESTAMP '2024-09-01'))
        SELECT e.event_id, w.win FROM events e JOIN w
          ON w.start_ <= e.ts AND e.ts < w.end_
        """
    ).fetchall()
    assert _canon([tuple(r) for r in got.collect()]) == _canon(
        [tuple(r) for r in want]
    )


def test_interval_join_bucketized_equals_broadcast(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    points = e.select("event_id", "user_id", "ts")
    # per-user windows → keyed join; widths from hours to months so
    # intervals span 1..many buckets
    windows = (
        e.filter(F.col("event_id") % 37 == 0)
        .select(
            "user_id",
            F.col("ts").alias("start"),
            (
                F.col("ts")
                + F.when(
                    F.col("event_id") % 2 == 0,
                    F.expr("INTERVAL 6 HOUR"),
                ).otherwise(F.expr("INTERVAL 45 DAY"))
            ).alias("end"),
            (F.col("event_id") * 10).alias("win_id"),
        )
    )
    base = interval_join(
        points,
        windows,
        point_time="ts",
        start="start",
        end="end",
        keys=["user_id"],
        how="left",
    ).select("event_id", "win_id")
    bucketed = interval_join(
        points,
        windows,
        point_time="ts",
        start="start",
        end="end",
        keys=["user_id"],
        how="left",
        bucket_width=F.lit(7 * 24 * 3600),  # 1-week buckets
    ).select("event_id", "win_id")
    a = _canon([tuple(r) for r in base.collect()])
    b = _canon([tuple(r) for r in bucketed.collect()])
    assert a == b and len(a) >= points.count()


def test_asof_join_rejects_empty_keys(spark):
    df = spark.createDataFrame([(1, 1)], "k int, t int")
    with pytest.raises(ValueError, match="asof_join_broadcast"):
        asof_join(df, df.select("t"), keys=[], left_time="t")


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_broadcast_matches_duckdb_global(spark, sf_dir, direction):
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        asof_join_broadcast,
    )

    e = T(spark, sf_dir, "events")
    left = e.select("event_id", "ts").filter(F.col("event_id") < 500)
    # a global epoch timeline: 7 cut points spread over the data range
    epochs = (
        e.filter(F.col("event_id") % 997 == 0)
        .select(
            F.col("ts").alias("epoch_ts"),
            F.col("event_id").alias("epoch_id"),
        )
    )
    got = asof_join_broadcast(
        left, epochs, left_time="ts", right_time="epoch_ts",
        direction=direction,
    )
    op = ">=" if direction == "backward" else "<="
    con = _duck_con(sf_dir)
    want = con.execute(
        f"""
        WITH lft AS (SELECT event_id, ts FROM events
                     WHERE event_id < 500),
             ep AS (SELECT ts AS epoch_ts, event_id AS epoch_id
                    FROM events WHERE event_id % 997 = 0)
        SELECT l.event_id, l.ts, ep.epoch_ts AS epoch_ts_matched,
               ep.epoch_id
        FROM lft l ASOF LEFT JOIN ep ON l.ts {op} ep.epoch_ts
        """
    ).fetchall()
    srows = [
        (
            r["event_id"],
            r["ts"],
            r["epoch_ts_matched"]
            and r["epoch_ts_matched"].replace(tzinfo=None),
            r["epoch_id"],
        )
        for r in got.collect()
    ]
    assert _canon(srows) == _canon([tuple(r) for r in want])


def test_interval_join_left_keyless_keeps_unmatched_points(spark):
    points = spark.createDataFrame(
        [(1, 5), (2, 15), (3, 50)], "pid int, t int"
    )
    windows = spark.createDataFrame(
        [("w1", 0, 10), ("w2", 10, 20)], "win string, s int, e int"
    )
    rows = {
        (r["pid"], r["win"])
        for r in interval_join(
            points, windows, point_time="t", start="s", end="e", how="left"
        ).collect()
    }
    assert rows == {(1, "w1"), (2, "w2"), (3, None)}


def test_asof_tolerance_timestamp_axis(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 13:00:00")],
        "k int, t string",
    ).select("k", F.col("t").cast("timestamp").alias("t"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 5.0)], "k int, t string, r double"
    ).select("k", F.col("t").cast("timestamp").alias("t"), "r")
    got = {
        r["t"].hour: r["r"]
        for r in asof_join(
            left,
            right,
            keys=["k"],
            left_time="t",
            tolerance=F.expr("INTERVAL 1 HOUR"),
        ).collect()
    }
    assert got == {10: 5.0, 13: None}  # 3.5h gap exceeds 1h tolerance


def test_asof_property_random_inputs_match_duckdb(spark):
    """Adversarial generated data: duplicate left timestamps, left rows
    before any right row, keys on only one side, negative times."""
    import random

    rng = random.Random(20260813)
    left_rows = [
        (rng.randint(0, 4), rng.randint(-50, 50), i)
        for i in range(120)
    ]
    right_rows = [
        (rng.randint(0, 5), rng.randint(-50, 50))
        for _ in range(40)
    ]
    # unique (k, t) on the right (dedup winner is engine policy; DuckDB's
    # pick for duplicate right keys is unspecified)
    right_rows = [
        (k, t, float(k * 1000 + t)) for (k, t) in {r for r in right_rows}
    ]
    left = spark.createDataFrame(left_rows, "k int, t int, lid int")
    right = spark.createDataFrame(right_rows, "k int, t int, r double")
    got = sorted(
        (r["lid"], r["t_matched"], r["r"])
        for r in asof_join(
            left, right, keys=["k"], left_time="t"
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE l(k int, t int, lid int); "
        "CREATE TABLE r(k int, t int, rv double)"
    )
    con.executemany("INSERT INTO l VALUES (?,?,?)", left_rows)
    con.executemany("INSERT INTO r VALUES (?,?,?)", right_rows)
    want = sorted(
        (lid, tm, rv)
        for lid, tm, rv in con.execute(
            "SELECT l.lid, r.t, r.rv FROM l ASOF LEFT JOIN r "
            "ON l.k = r.k AND l.t >= r.t"
        ).fetchall()
    )
    assert got == want


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_null_timestamps_never_match(spark, direction):
    """Null-time left rows match nothing (DuckDB semantics: NULL
    comparisons are false); null-time right rows are inert."""
    left = spark.createDataFrame(
        [(1, None, "a"), (1, 20, "b")], "k int, t int, pl string"
    )
    right = spark.createDataFrame(
        [(1, 10, 5.0), (1, 30, 6.0), (1, None, 99.0)],
        "k int, t int, r double",
    )
    got = {
        r["pl"]: r["r"]
        for r in asof_join(
            left, right, keys=["k"], left_time="t", direction=direction
        ).collect()
    }
    expect_b = 5.0 if direction == "backward" else 6.0
    assert got == {"a": None, "b": expect_b}
    assert len(got) == 2  # left-outer row count preserved


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_broadcast_no_admissible_epoch(spark, direction):
    """Empty filtered epoch arrays must yield nulls, not an ANSI
    element_at error (left rows outside the epoch range + null times)."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        asof_join_broadcast,
    )

    left = spark.createDataFrame(
        [(1, 5), (2, 50), (3, None)], "pid int, t int"
    )
    right = spark.createDataFrame([(10, 1.0), (20, 2.0)], "t int, r double")
    got = {
        r["pid"]: (r["t_matched"], r["r"])
        for r in asof_join_broadcast(
            left, right, left_time="t", direction=direction
        ).collect()
    }
    if direction == "backward":
        assert got == {1: (None, None), 2: (20, 2.0), 3: (None, None)}
    else:
        assert got == {1: (10, 1.0), 2: (None, None), 3: (None, None)}


def test_asof_nearest_picks_closer_side_tie_goes_backward(spark):
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("u", 10.0, "a"), ("u", 14.0, "b"), ("u", 25.0, "c"),
         ("u", 3.0, "d"), ("v", 7.0, "e")],
        "k string, t double, tag string",
    )
    right = spark.createDataFrame(
        [("u", 8.0, 100.0), ("u", 16.0, 200.0), ("u", 30.0, 300.0)],
        "k string, t double, rate double",
    )
    out = {
        r["tag"]: (r["t_matched"], r["rate"])
        for r in asof_join(
            left, right, ["k"], "t", direction="nearest"
        ).collect()
    }
    assert out["a"] == (8.0, 100.0)    # gap 2 back vs 6 fwd
    assert out["b"] == (16.0, 200.0)   # gap 6 back vs 2 fwd
    assert out["c"] == (30.0, 300.0)   # gap 9 back vs 5 fwd
    assert out["d"] == (8.0, 100.0)    # nothing behind -> forward
    assert out["e"] == (None, None)    # key v has no right rows

    # exact tie -> backward
    left_tie = spark.createDataFrame(
        [("u", 12.0, "mid")], "k string, t double, tag string"
    )
    [r] = asof_join(
        left_tie, right, ["k"], "t", direction="nearest"
    ).collect()
    assert (r["t_matched"], r["rate"]) == (8.0, 100.0)

    # tolerance voids the far side: at t=14 backward gap 6 > 3, fwd 2 <= 3
    [r] = asof_join(
        left.filter(F.col("tag") == "b"), right, ["k"], "t",
        direction="nearest", tolerance=F.lit(3.0),
    ).collect()
    assert (r["t_matched"], r["rate"]) == (16.0, 200.0)
    # tolerance voids both
    [r] = asof_join(
        left.filter(F.col("tag") == "b"), right, ["k"], "t",
        direction="nearest", tolerance=F.lit(1.0),
    ).collect()
    assert (r["t_matched"], r["rate"]) == (None, None)

    # deterministic under repartition
    a = sorted(map(tuple, asof_join(
        left, right, ["k"], "t", direction="nearest").collect()))
    b = sorted(map(tuple, asof_join(
        left.repartition(5), right.repartition(3), ["k"], "t",
        direction="nearest").collect()))
    assert a == b


# ---------------------------------------------------------------------------
# integer recurrences: EWMA
# ---------------------------------------------------------------------------


def _ewma_ref(rows, alpha_num=1, alpha_den=4, scale=1_000_000):
    """Pure-python integer recurrence reference."""
    import math

    state: dict = {}
    out = {}
    for u, i, ts, v in sorted(rows, key=lambda r: (r[0], r[2], r[1])):
        x = int(math.floor(v * scale + 0.5))
        s = state.get(u)
        s = x if s is None else (alpha_num * x + (alpha_den - alpha_num) * s) // alpha_den
        state[u] = s
        out[i] = s / scale
    return out


def test_ewma_matches_reference_and_layout_independent(spark):
    rng = random.Random(31)
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (
            rng.randrange(5),
            i,
            t0 + dt.timedelta(minutes=rng.randrange(10000)),
            round(rng.uniform(0, 300), 2),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    want = _ewma_ref(rows)

    def run(d):
        got = ewma_smooth(
            d, ["user_id"], "ts", "value", "event_id"
        ).collect()
        return {r["event_id"]: r["ewma"] for r in got}

    got = run(df)
    assert got == want
    assert run(df.repartition(9, "value")) == want  # bit-identical, any layout


def test_ewma_excludes_null_rows_from_recurrence(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, t0, 100.0),
        (1, 2, t0 + dt.timedelta(hours=1), None),
        (1, 3, t0 + dt.timedelta(hours=2), 0.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    got = {r["event_id"]: r["ewma"] for r in ewma_smooth(
        df, ["user_id"], "ts", "value", "event_id"
    ).collect()}
    assert set(got) == {1, 3}
    assert got[3] == (0 + 3 * 100_000_000) // 4 / 1_000_000  # null row skipped


# ---------------------------------------------------------------------------
# TS_EWMA_SQL // was truncate-toward-zero; kernel floors. Negative inputs
# with a non-divisible numerator used to diverge (python -2e-06 vs duck
# -1e-06 on the advisor's repro).
# ---------------------------------------------------------------------------


def test_ewma_oracle_floors_on_negative_inputs(spark):
    rows = [
        # one user, values chosen so the recurrence numerator goes negative
        # and is NOT divisible by alpha_den=4 at several steps
        (1, 0, T0, -0.000007),
        (1, 1, T0 + dt.timedelta(minutes=1), 0.000001),
        (1, 2, T0 + dt.timedelta(minutes=2), -0.000003),
        (1, 3, T0 + dt.timedelta(minutes=3), -1.25),
        (1, 4, T0 + dt.timedelta(minutes=4), 0.33),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    got = {
        r.event_id: r.ewma
        for r in ewma_smooth(
            df, ["user_id"], "ts", "value", "event_id"
        ).collect()
    }

    # python floor reference (the kernel's own law)
    s = None
    want = {}
    for _, i, _, v in rows:
        x = round(v * 1_000_000)
        s = x if s is None else (x + 3 * s) // 4
        want[i] = s / 1_000_000
    assert got == want

    # the REAL catalog oracle must replay it identically now that the //
    # is the explicit floor form
    con = _duck_on(
        {
            "events": pd.DataFrame(
                rows, columns=["user_id", "event_id", "ts", "value"]
            )
        }
    )
    oracle = {
        r[1]: r[2]
        for r in con.execute(TS_EWMA_SQL).fetchall()
    }
    assert oracle == want


def test_ewma_chunked_equals_oneshot(spark):
    """ewma_smooth_chunked slices time into epochs and carries the
    one-integer state across them; the recurrence composes at epoch
    boundaries, so it must equal the one-shot kernel ROW FOR ROW — on
    data with negative values, keys silent for whole epochs (their state
    must carry), ties, and keys that appear mid-stream."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        ewma_smooth_chunked,
    )

    rng = random.Random(43)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(600):
        u = rng.randrange(6)
        # user 3 goes silent between day 3 and day 11 (skips >2 epochs)
        day = rng.choice([0, 1, 2, 11, 12]) if u == 3 else rng.uniform(0, 14)
        rows.append(
            (
                u,
                i,
                t0 + dt.timedelta(days=day, seconds=rng.randrange(86400)),
                round(rng.uniform(-200, 300), 2),
            )
        )
    # user 5 appears only in the last epoch
    rows = [r for r in rows if not (r[0] == 5 and r[3] < 250)]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    oneshot = {
        r.event_id: r.ewma
        for r in ewma_smooth(df, ["user_id"], "ts", "value", "event_id").collect()
    }
    chunked = {
        r.event_id: r.ewma
        for r in ewma_smooth_chunked(
            df, ["user_id"], "ts", "value", "event_id", epoch="2 days"
        ).collect()
    }
    assert chunked == oneshot
    # layout-independence of the chunked path
    chunked2 = {
        r.event_id: r.ewma
        for r in ewma_smooth_chunked(
            df.repartition(13, "event_id"),
            ["user_id"],
            "ts",
            "value",
            "event_id",
            epoch="2 days",
        ).collect()
    }
    assert chunked2 == oneshot


# ---------------------------------------------------------------------------
# ewma_smooth_chunked seed fidelity: the carried state used to be
# round(ewma*scale) on a double, silently diverging from ewma_smooth
# once |s| >= 2^53 micro-units. The kernel now emits the raw integer
# state and seeds from it directly.
# ---------------------------------------------------------------------------


def test_ewma_chunked_exact_beyond_double_precision(spark):
    # values ~4e12 at scale=1e6 → integer state ~4e18: above 2^53
    # (~9.0e15) where doubles lose integer exactness, below 2^63.
    t0 = dt.datetime(2024, 1, 1)
    vals = [4.0e12 + k * 1.000001e6 + 0.33 for k in range(8)]
    rows = [
        (1, i, t0 + dt.timedelta(days=20 * i), v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    flat = {
        r.event_id: r.ewma
        for r in ewma_smooth(df, ["user_id"], "ts", "value", "event_id").collect()
    }
    chunked = {
        r.event_id: r.ewma
        for r in ewma_smooth_chunked(
            df, ["user_id"], "ts", "value", "event_id", epoch="30 days"
        ).collect()
    }
    # 8 rows at 20-day spacing / 30-day epochs → ≥4 epoch boundaries
    # crossed; every row must match the unchunked integer recurrence
    # bit-for-bit (exact double equality, no tolerance).
    assert chunked == flat

    # and the integer states really do exceed 2^53 (test is vacuous
    # otherwise)
    s = None
    for _, _, _, v in rows:
        x = round(v * 1_000_000)
        s = x if s is None else (x + 3 * s) // 4
        assert abs(s) > 2**53


# ---------------------------------------------------------------------------
# integer recurrences: CUSUM
# ---------------------------------------------------------------------------


def _cusum_naive(xs, target, slack, h, scale=1_000_000):
    """Page's recurrence, literally — the serial definition the closed
    form must reproduce."""
    t, k, hh = (round(v * scale) for v in (target, slack, h))
    sp = sn = 0
    out = []
    for x in xs:
        xi = round(x * scale)
        sp = max(0, sp + (xi - t - k))
        sn = max(0, sn + (t - xi - k))
        out.append((sp / scale, sn / scale, sp > hh, sn > hh))
    return out


def test_cusum_closed_form_matches_recurrence(spark):
    # Mixed signs, a drift-up burst, a drift-down tail, and values that
    # cross the threshold both ways.
    xs = [5.0, -3.25, 12.5, 40.0, 41.0, 39.5, -60.0, -55.0, -58.5, 10.0]
    rows = [
        Row(k="a", ts=i, ev=i, v=x) for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(rows)
    got = (
        cusum_detect(
            df,
            keys=["k"],
            ts_col="ts",
            value_col="v",
            tiebreak_col="ev",
            target=2.0,
            slack=1.0,
            threshold=30.0,
        )
        .orderBy("ev")
        .collect()
    )
    want = _cusum_naive(xs, 2.0, 1.0, 30.0)
    assert [
        (r.cusum_pos, r.cusum_neg, r.alarm_pos, r.alarm_neg) for r in got
    ] == want
    assert any(r.alarm_pos for r in got) and any(r.alarm_neg for r in got)


def test_cusum_keys_independent_and_nulls_dropped(spark):
    rows = [
        Row(k="a", ts=1, ev=1, v=100.0),
        Row(k="a", ts=2, ev=2, v=None),  # dropped, not a zero
        Row(k="a", ts=3, ev=3, v=100.0),
        Row(k="b", ts=1, ev=4, v=0.0),  # separate key: no carryover
    ]
    df = spark.createDataFrame(rows)
    got = {
        r.ev: (r.cusum_pos, r.cusum_neg)
        for r in cusum_detect(
            df,
            keys=["k"],
            ts_col="ts",
            value_col="v",
            tiebreak_col="ev",
            target=10.0,
            slack=0.0,
            threshold=1000.0,
        ).collect()
    }
    assert 2 not in got
    assert got[1] == (90.0, 0.0)
    assert got[3] == (180.0, 0.0)  # null row contributed nothing
    assert got[4] == (0.0, 10.0)


def test_cusum_fold_random_slicing_equals_one_shot(spark):
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        cusum_detect,
        cusum_fold,
    )

    rng = random.Random(9903)
    rows = []
    eid = 0
    for u in range(12):
        t = 0
        for _ in range(rng.randint(1, 40)):
            t += rng.randint(0, 3)  # dense ties across users
            rows.append(
                (u, eid, T0 + dt.timedelta(minutes=t),
                 rng.uniform(30.0, 70.0))
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    params = dict(
        keys=["user_id"], ts_col="ts", value_col="value",
        tiebreak_col="event_id", target=50.0, slack=5.0, threshold=60.0,
    )
    one_shot = {
        (r.user_id, r.event_id): (
            r.cusum_pos, r.cusum_neg, r.alarm_pos, r.alarm_neg
        )
        for r in cusum_detect(df, **params).collect()
    }
    # three random GLOBAL time slicings, folded sequentially
    for trial in range(3):
        cuts = sorted(
            rng.sample(range(1, 120), rng.randint(1, 4))
        )
        bounds = [T0 + dt.timedelta(minutes=c) for c in cuts]
        state = None
        folded = {}
        lo = None
        for hi in [*bounds, None]:
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col("ts") > lo)
            if hi is not None:
                cond = cond & (F.col("ts") <= hi)
            batch = df.filter(cond)
            out, state = cusum_fold(batch, state, **params)
            for r in out.collect():
                folded[(r.user_id, r.event_id)] = (
                    r.cusum_pos, r.cusum_neg, r.alarm_pos, r.alarm_neg
                )
            # materialize state like a real foreachBatch loop would
            state = spark.createDataFrame(state.collect(), state.schema)
            lo = hi
        assert folded == one_shot, f"trial {trial} cuts {cuts}"


# ---------------------------------------------------------------------------
# integer recurrences: Holt
# ---------------------------------------------------------------------------


def test_holt_tracks_linear_ramp_and_replays_exactly(spark):
    import datetime as dt

    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        holt_smooth,
    )

    t0 = dt.datetime(2024, 1, 1)
    # perfect ramp x_t = 10*t: Holt's trend converges toward 10/step
    rows = [
        (1, i, t0 + dt.timedelta(hours=i), float(10 * i))
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    out = {
        r.event_id: r
        for r in holt_smooth(
            df, ["user_id"], "ts", "value", "event_id"
        ).collect()
    }
    # exact Python replay of the integer recurrence
    lvl, trd = None, 0
    for i in range(60):
        x = 10 * i * 1_000_000
        if lvl is None:
            lvl, trd = x, 0
        else:
            nl = (1 * x + 3 * (lvl + trd)) // 4
            trd = (1 * (nl - lvl) + 7 * trd) // 8
            lvl = nl
        r = out[i]
        assert r.level == lvl / 1e6 and r.trend == trd / 1e6
        assert r.forecast == (lvl + trd) / 1e6
    # late in the ramp the trend estimate is positive and substantial,
    # and the one-step-AHEAD forecast beats the pure level at
    # predicting the next value x_60 = 600
    last = out[59]
    assert last.trend > 5.0
    assert abs(last.forecast - 600.0) < abs(last.level - 600.0)


# ---------------------------------------------------------------------------
# rolling_anomaly
# ---------------------------------------------------------------------------


def test_rolling_anomaly_flags_planted_spike_only(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, i, t0 + dt.timedelta(hours=i), 10.0 + (i % 3))
        for i in range(40)
    ]
    rows.append((1, 99, t0 + dt.timedelta(hours=41), 500.0))
    # another user with too-short history: never flagged
    rows += [(2, 200 + i, t0 + dt.timedelta(hours=i), float(i * 100)) for i in range(5)]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    out = rolling_anomaly(
        df, ["user_id"], "ts", "value", "event_id", "7 days", 3.0, 10
    ).collect()
    assert [r["event_id"] for r in out] == [99]
    assert out[0]["z"] > 3.0


def test_rolling_anomaly_constant_series_never_divides_by_zero(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, i, t0 + dt.timedelta(hours=i), 7.0) for i in range(30)]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    assert (
        rolling_anomaly(
            df, ["user_id"], "ts", "value", "event_id", "7 days", 3.0, 10
        ).count()
        == 0
    )


# ---------------------------------------------------------------------------
# rolling_anomaly counted NULL-value rows into the window n while Σx/Σx²
# skipped them; both engines now drop NULL value/ts rows pre-window.
# ---------------------------------------------------------------------------


def test_rolling_anomaly_ignores_null_rows_in_window_population(spark):
    # 10 calm non-null points + 1 spike = n reaches min_points=10 exactly
    # at the spike; 5 interleaved NULL rows must not inflate n or shift
    # the mean.
    rows = []
    for i in range(10):
        rows.append((1, i, T0 + dt.timedelta(hours=i), 10.0))
    for j in range(5):
        rows.append((1, 100 + j, T0 + dt.timedelta(hours=j, minutes=30), None))
    rows.append((1, 999, T0 + dt.timedelta(hours=10), 1000.0))
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    out = rolling_anomaly(
        df,
        keys=["user_id"],
        ts_col="ts",
        value_col="value",
        id_col="event_id",
        window_spec="7 days",
        z_threshold=3.0,
        min_points=10,
    ).collect()
    assert [r.event_id for r in out] == [999]

    # hand-computed z over the 11 NON-NULL rows only
    xs = [1000] * 10 + [100000]  # cent units
    n, s1, s2 = len(xs), sum(xs), sum(x * x for x in xs)
    var = (n * s2 - s1 * s1) / (n * (n - 1))
    z = round((xs[-1] - s1 / n) / var**0.5, 6)
    assert out[0].z == z

    # oracle replays the same exclusion on the same frame
    con = _duck_on(
        {
            "events": pd.DataFrame(
                rows, columns=["user_id", "event_id", "ts", "value"]
            ).astype({"value": "float64"})
        }
    )
    oracle = con.execute(EV_ANOMALY_SQL).fetchall()
    assert [(r[1], r[4]) for r in oracle] == [(999, z)]

def test_rolling_anomaly_min_points_one_leaves_one_row_windows_null(spark):
    """``min_points`` ≤ 1 used to reach the variance of a one-row window,
    n·(n−1) = 0, and ANSI mode raised DIVIDE_BY_ZERO. A one-row window
    has no sample variance: its z is NULL, so it is never flagged."""
    rows = [(1, 1, T0, 5.0)] + [
        (2, 10 + i, T0 + dt.timedelta(hours=i), v)
        for i, v in enumerate([10.0, 12.0, 9.0, 30.0])
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    for min_points in (0, 1):
        got = {
            r.event_id: r.z
            for r in rolling_anomaly(
                df, ["user_id"], "ts", "value", "event_id", "7 days",
                0.0, min_points,
            ).collect()
        }
        assert sorted(got) == [11, 12, 13]
        xs = [1000, 1200, 900, 3000]  # cent units
        for n in (2, 3, 4):
            w = xs[:n]
            s1, s2 = sum(w), sum(x * x for x in w)
            var = (n * s2 - s1 * s1) / (n * (n - 1))
            z = (w[-1] - s1 / n) / var**0.5
            assert math.isclose(got[9 + n], z, abs_tol=1e-6)


# ---------------------------------------------------------------------------
# the fold contract shared by every recurrence
# ---------------------------------------------------------------------------


def _recurrences(rows, scale=1_000_000):
    """Pure-Python EWMA (1/4), Holt (1/4, 1/8) and CUSUM (target 50,
    slack 5, threshold 60) per event, each key replayed in (ts, id)
    order, plus each key's final Holt (l, b) state."""
    t, k, h = 50 * scale, 5 * scale, 60 * scale
    ewma, holt, cusum, last = {}, {}, {}, {}
    for u in sorted({r[0] for r in rows}):
        s = lvl = None
        trd = sp = sn = 0
        for _, i, _, v in sorted(
            (r for r in rows if r[0] == u and r[3] is not None),
            key=lambda r: (r[2], r[1]),
        ):
            x = round(v * scale)
            s = x if s is None else (x + 3 * s) // 4
            if lvl is None:
                lvl, trd = x, 0
            else:
                nl = (x + 3 * (lvl + trd)) // 4
                trd = ((nl - lvl) + 7 * trd) // 8
                lvl = nl
            sp = max(0, sp + x - t - k)
            sn = max(0, sn + t - x - k)
            ewma[i] = s / scale
            holt[i] = (lvl / scale, trd / scale, (lvl + trd) / scale)
            cusum[i] = (sp / scale, sn / scale, sp > h, sn > h)
        last[u] = (lvl, trd)
    return ewma, holt, cusum, last


def test_folds_over_random_slicings_equal_python_recurrences(spark):
    """``cusum_fold`` and ``holt_fold`` over a random global time slicing
    — the first batch empty, user 4 silent in the middle slices, NULL
    values, ties on ts and negative values — and ``ewma_smooth_chunked``
    over a random epoch width must replay the serial recurrences exactly,
    and the last state must hold every key, silent ones included."""
    rng = random.Random(1331)
    rows = []
    for i in range(160):
        u = rng.randrange(6)
        m = rng.randrange(14400) // 7 * 7  # ties within and across keys
        if u == 4:
            m = rng.choice([rng.randrange(1000), 13000 + rng.randrange(1400)])
        v = None if i % 23 == 0 else round(rng.uniform(-40.0, 140.0), 2)
        rows.append((u, i, T0 + dt.timedelta(minutes=m), v))
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    ewma, holt, cusum, last = _recurrences(rows)
    args = (["user_id"], "ts", "value", "event_id")
    cuts = sorted({3000, 11000, rng.randrange(1, 14400)})
    bounds = [T0 - dt.timedelta(minutes=1)] + [
        T0 + dt.timedelta(minutes=c) for c in cuts
    ]
    got_c, got_h = {}, {}
    c_state = h_state = None
    for lo, hi in zip([None, *bounds], [*bounds, None]):
        cond = F.lit(True)
        if lo is not None:
            cond &= F.col("ts") > lo
        if hi is not None:
            cond &= F.col("ts") <= hi
        batch = df.filter(cond)
        out, c_state = cusum_fold(
            batch, c_state, *args, target=50.0, slack=5.0, threshold=60.0
        )
        for r in out.collect():
            got_c[r.event_id] = (
                r.cusum_pos, r.cusum_neg, r.alarm_pos, r.alarm_neg
            )
        out, h_state = holt_fold(batch, h_state, *args)
        for r in out.collect():
            got_h[r.event_id] = (r.level, r.trend, r.forecast)
        # materialize both states like a foreachBatch store would
        c_state = spark.createDataFrame(c_state.collect(), c_state.schema)
        h_state = spark.createDataFrame(h_state.collect(), h_state.schema)
    assert got_c == cusum, f"cuts {cuts}"
    assert got_h == holt, f"cuts {cuts}"
    assert {r.user_id: (r.l, r.b) for r in h_state.collect()} == last
    assert c_state.count() == len(last)

    epoch = f"{rng.randint(3, 4)} days"  # user 4 silent in the middle epochs
    got_e = {
        r.event_id: r.ewma
        for r in ewma_smooth_chunked(df, *args, epoch=epoch).collect()
    }
    assert got_e == ewma, f"epoch {epoch}"


def test_one_shot_smoothers_plan_no_join(spark):
    """A one-shot smoother is its fold with no carried state, and a fold
    without state plans no state join — checked on the optimized plan,
    without running it. The same fold with a state frame does join."""
    df = spark.createDataFrame(
        [(1, 1, T0, 1.0)],
        "user_id bigint, event_id bigint, ts timestamp, value double",
    )
    args = (["user_id"], "ts", "value", "event_id")
    cusum = dict(target=0.0, slack=0.0, threshold=1.0)
    for out in (
        cusum_detect(df, *args, **cusum),
        holt_smooth(df, *args),
        ewma_smooth(df, *args),
    ):
        assert "Join" not in _optimized(out)
    _, state = cusum_fold(df, None, *args, **cusum)
    assert "Join" in _optimized(cusum_fold(df, state, *args, **cusum)[0])
