"""Round-15 pins for the five ADVICE.md findings (judge round 14):

1. (high) binseg_changepoints' level-1 boundary prefix must be the
   prefix AT the split row, not max(__pre) over the left side — the
   two differ whenever the series has negative values, and the old
   spelling corrupted every level-2 statistic AND diverged from the
   DuckDB twin TS_BINSEG_SQL (temporal.py);
2. EV_DID_SQL must filter ts IS NOT NULL so an event_type whose rows
   all have NULL ts is absent from BOTH twins (native did_audit drops
   NULL post flags) (scale.py);
3. _percentiles_from_long's dead ``rng`` parameter was removed (no
   caller; the fusion it was added for was measured and rejected)
   (profiling.py);
4. template_census keeps the id column's native type for exemplar_id
   (a bigint cast silently NULLed string/UUID ids) (textops.py);
5. test_graph_checkpoint no longer leaks a checkpoint dir into later
   tests: it sets and clears the context's checkpointDir var only
   inside a restore-on-exit context — pinned in that file itself.
"""

from __future__ import annotations

import datetime
import inspect
from itertools import accumulate

import duckdb
import pandas as pd

import pytest
# r16: catalog-wide sweep / historical-pin tier — excluded from the
# driver's default run (see pytest.ini); run with -m exhaustive.
pytestmark = pytest.mark.exhaustive


def _binseg_reference(vals: list[float]):
    """Plain-Python replica of the documented depth-2 binseg integer
    semantics: cents, exact prefix sums, |n·S_t − t·S_n| argmax with
    earliest-t ties, level 2 relative to the segment (left closes at
    the level-1 split row). Returns {(level, segment): (n_seg,
    split_pos, cusum_cents)}."""
    c = [round(v * 100) for v in vals]
    n = len(c)
    pre = list(accumulate(c))
    tot = pre[-1]
    out = {}

    def argmax(ts, stats):
        best = None
        for t, s in zip(ts, stats):
            if best is None or s > best[1]:
                best = (t, s)
        return best

    t1, s1 = argmax(
        range(1, n),
        [abs(n * pre[t - 1] - t * tot) for t in range(1, n)],
    )
    out[(1, "all")] = (n, t1, s1 // n)
    bpre = pre[t1 - 1]  # prefix AT the split row — not max over left
    # left: global t in 1..t1, lt = t, lpre = pre_t, ln = t1, ltot=bpre
    if t1 >= 2:
        cand = [
            (t, abs(t1 * pre[t - 1] - t * bpre)) for t in range(1, t1)
        ]
        bt, bs = argmax([t for t, _ in cand], [s for _, s in cand])
        out[(2, "left")] = (t1, bt, bs // t1)
    # right: global t in t1+1..n, lt = t-t1, lpre = pre_t - bpre
    ln = n - t1
    if ln >= 2:
        cand = [
            (
                t,
                abs(ln * (pre[t - 1] - bpre) - (t - t1) * (tot - bpre)),
            )
            for t in range(t1 + 1, n)
        ]
        bt, bs = argmax([t for t, _ in cand], [s for _, s in cand])
        out[(2, "right")] = (ln, bt, bs // ln)
    return out


# A series engineered so max(prefix over left) != prefix at the split:
# a big early positive spike, then negatives, then a sustained shift.
_NEG_SERIES = [100.0, -100.0, -100.0, -100.0, 50.0, -80.0] + [
    200.0
] * 6 + [-50.0] * 4


def test_binseg_negative_values_match_python_reference(spark):
    """Finding 1 (native side): with negative values the boundary
    prefix at the level-1 split row differs from max(pre) over the
    left side; every (level, segment) row must match the exact-integer
    Python replica."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        binseg_changepoints,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("k", t0 + datetime.timedelta(minutes=i), i, v)
        for i, v in enumerate(_NEG_SERIES)
    ]
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, id long, v double"
    )
    expected = _binseg_reference(_NEG_SERIES)
    # precondition: the series actually distinguishes the two
    # spellings — max prefix over the left side != prefix at the split
    c = [round(v * 100) for v in _NEG_SERIES]
    pre = list(accumulate(c))
    t1 = expected[(1, "all")][1]
    assert max(pre[:t1]) != pre[t1 - 1], (
        "test series no longer separates max(pre) from pre@split"
    )
    got = {
        (r.level, r.segment): (r.n_seg, r.split_pos, r.cusum_cents)
        for r in binseg_changepoints(df, "k", "ts", "v", "id").collect()
    }
    assert got == expected, (got, expected)


def test_binseg_negative_values_match_duckdb_twin(spark):
    """Finding 1 (cross-engine side): the DuckDB twin TS_BINSEG_SQL
    already joined the prefix at the split row; native must now agree
    on a negative-value series end to end."""
    from calp_cva_tracking_pipeline_spark.catalog.scale import (
        TS_BINSEG_SQL,
    )
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        binseg_changepoints,
    )

    t0 = datetime.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "event_type": ["k"] * len(_NEG_SERIES),
            "ts": [
                t0 + datetime.timedelta(minutes=i)
                for i in range(len(_NEG_SERIES))
            ],
            "event_id": list(range(len(_NEG_SERIES))),
            "value": _NEG_SERIES,
        }
    )
    con = duckdb.connect()
    con.register("events", pdf)
    oracle = [
        (r[0], r[1], r[2], int(r[3]), int(r[4]), r[5], int(r[6]))
        for r in con.sql(TS_BINSEG_SQL).fetchall()
    ]
    df = spark.createDataFrame(
        pdf.rename(
            columns={
                "event_type": "k",
                "event_id": "id",
                "value": "v",
            }
        )
    )
    native = [
        (
            r[0],
            r[1],
            r[2],
            int(r[3]),
            int(r[4]),
            r[5],
            int(r[6]),
        )
        for r in binseg_changepoints(
            df, "k", "ts", "v", "id"
        ).collect()
    ]
    assert native == oracle, (native, oracle)


def test_ev_did_sql_drops_all_null_ts_event_types(spark):
    """Finding 2: native did_audit drops rows whose post flag is NULL,
    so an event_type with only NULL-ts rows is ABSENT from its output;
    EV_DID_SQL must now filter ts IS NOT NULL and agree."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.scale import (
        DID_CUT_BASE,
        DID_CUT_UPLIFT,
        DID_SPLIT_TS,
        EV_DID_SQL,
    )
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        did_audit,
    )

    t_pre = datetime.datetime(2024, 1, 10)
    t_post = datetime.datetime(2024, 1, 20)
    rows = [
        ("click", t_pre, 1, 60.0),
        ("click", t_post, 2, 60.0),
        ("click", t_pre, 3, 10.0),
        ("click", t_post, 4, 10.0),
        # ghost: every ts NULL — must vanish from both twins
        ("ghost", None, 5, 99.0),
        ("ghost", None, 6, 99.0),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_type", "ts", "user_id", "value"]
    )
    con = duckdb.connect()
    con.register("events", pdf)
    oracle = con.sql(EV_DID_SQL).df()
    assert list(oracle["event_type"]) == ["click"], (
        "ghost (all-NULL ts) must be absent from the SQL twin"
    )

    e = spark.createDataFrame(
        pdf, "event_type string, ts timestamp, user_id long, value double"
    ).filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
    treated = F.col("user_id") % 2 == 0
    post = F.col("ts") >= F.lit(DID_SPLIT_TS).cast("timestamp")
    conv = F.col("value") > F.when(
        treated & post, F.lit(DID_CUT_UPLIFT)
    ).otherwise(F.lit(DID_CUT_BASE))
    native = did_audit(e, "event_type", treated, post, conv).collect()
    assert [r.event_type for r in native] == ["click"]
    nrow = native[0]
    orow = oracle.iloc[0]
    for col in [
        "n_tpre", "k_tpre", "n_tpost", "k_tpost",
        "n_cpre", "k_cpre", "n_cpost", "k_cpost",
    ]:
        assert int(getattr(nrow, col)) == int(orow[col]), col


def test_percentiles_from_long_rng_param_removed():
    """Finding 3: the rejected-fusion ``rng`` parameter is gone — the
    kernel's signature carries no untested branches."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        _percentiles_from_long,
    )

    params = list(
        inspect.signature(_percentiles_from_long).parameters
    )
    assert params == ["long", "ps", "round_to"], params


def test_template_census_string_ids_survive(spark):
    """Finding 4: a string/UUID id column must come through as the
    exemplar (min by the column's own ordering), not silently NULL."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        template_census,
    )

    df = spark.createDataFrame(
        [
            ("uuid-b", "order 123 shipped", "a"),
            ("uuid-a", "order 456 shipped", "a"),
            ("uuid-c", "order 9 shipped", "b"),
        ],
        "doc_id string, text string, source string",
    )
    out = template_census(df, "doc_id", min_docs=2).collect()
    assert len(out) == 1
    row = out[0]
    assert row.n_docs == 3 and row.n_sources == 2
    assert row.exemplar_id == "uuid-a"
    assert (
        dict(template_census(df, "doc_id").dtypes)["exemplar_id"]
        == "string"
    )
