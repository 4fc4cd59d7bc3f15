"""Round-14 pins for the four ADVICE.md findings (judge round 13):

1. hits() overflow guard must cover the FINAL ×1e9 normalization
   multiply, not just the raw unnormalized bound (pinned in
   tests/test_graph.py with the rest of the rank family);
2. ppr_sql must not divide by zero when the seed set is disjoint from
   the graph — it mirrors native's m==0 all-zero early-return
   (graph.py:1826);
3. corpus_release_audit must label NULL-text docs gate_drop, not let
   the NULL gate fall through to exact_drop (scale.py:14376,
   plans/corpus.py);
4. kfold_audit's NULL-group sentinel is chr(1) on BOTH twins
   (scale.py:14176 / sampling.py).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

# r16: catalog-wide sweep / historical-pin tier — excluded from the
# driver's default run (see pytest.ini); run with -m exhaustive.
pytestmark = pytest.mark.exhaustive


def test_ppr_sql_disjoint_seed_set_matches_native(spark):
    """Finding 2: `{s} // cnt` crashed DuckDB with division by zero
    when the seed set shares no node with the edge set (vectorized
    engines evaluate both CASE arms), while native
    personalized_pagerank early-returns all-zero ranks. The NULLIF
    spelling must make the twins agree on that edge case."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        personalized_pagerank,
        ppr_sql,
    )

    sql = ppr_sql(
        "SELECT * FROM (VALUES (1, 2), (2, 3), (3, 1)) t(src, dst)",
        "SELECT 99 AS node",
    )
    oracle = duckdb.sql(sql).fetchall()
    assert [tuple(r) for r in oracle] == [(1, 0), (2, 0), (3, 0)]

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(99,)], "node long")
    native = [
        (r.node, r.rank_nano)
        for r in personalized_pagerank(edges, seeds).collect()
    ]
    assert native == [(1, 0), (2, 0), (3, 0)]


def test_corpus_audit_null_text_is_gate_drop(spark):
    """Finding 3: the gate expression is NULL (not FALSE) for NULL
    text, so `WHEN NOT gate` skipped and unscoreable docs were
    misattributed to exact_drop. Coalesced to FALSE they must report
    gate_drop — and conservation must still hold."""
    from calp_cva_tracking_pipeline_spark.plans.corpus import (
        corpus_release_report,
    )

    good = " ".join(f"the quick word{i} and of to" for i in range(4))
    docs = spark.createDataFrame(
        [
            (1, "a", good),
            (2, "a", None),
            (3, "a", good + " extra tail words here"),
        ],
        "doc_id long, source string, text string",
    )
    row = corpus_release_report(docs).collect()[0]
    assert row.n_gate_drop >= 1, "NULL-text doc must be gate_drop"
    assert (
        row.n_gate_drop
        + row.n_exact_drop
        + row.n_neardup_drop
        + row.n_kept
        == row.n_raw
        == 3
    )
    # and the SQL twin coalesces the same way (textual pin on the
    # generated oracle — the parity suite checks values at 3 SFs)
    from calp_cva_tracking_pipeline_spark.catalog.scale import (
        CORPUS_RELEASE_SQL,
    )

    assert "COALESCE(((" in CORPUS_RELEASE_SQL


def test_kfold_sentinel_identical_across_twins(spark):
    """Finding 4: native coalesced NULL groups to chr(0) while the SQL
    twin used chr(1) — a real key equal to either sentinel aliased
    with the NULL group on one engine but not the other. Both twins
    now use chr(1); on a frame that CONTAINS a literal chr(1) key in
    the same fold as NULL rows, both must report the same (identical,
    deliberately aliased) census."""
    from calp_cva_tracking_pipeline_spark.catalog.scale import (
        KFOLD_K,
        KFOLD_SEED,
        MX_KFOLD_SQL,
    )
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        kfold_assign,
        kfold_audit,
    )

    data = [(i, "\x01" if i % 5 == 0 else None) for i in range(40)] + [
        (100 + i, f"u{i % 3}") for i in range(30)
    ]
    df = spark.createDataFrame(data, "event_id long, user_id string")
    native = [
        (r.fold, r.n_groups, r.n_rows, r.rows_ppm)
        for r in kfold_audit(df, "user_id", KFOLD_K, seed=KFOLD_SEED)
        .collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events(event_id BIGINT, user_id VARCHAR)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?)", data)
    oracle = con.execute(MX_KFOLD_SQL).fetchall()
    oracle = [tuple(r) for r in oracle]
    assert native == oracle
    # the literal chr(1) key gets a real fold while NULL rows form the
    # NULL fold — sentinel coalescing is census-internal on both sides
    lab = kfold_assign(df, "user_id", KFOLD_K, seed=KFOLD_SEED)
    folds = {
        r.user_id: r.fold
        for r in lab.select("user_id", "fold").distinct().collect()
    }
    assert folds["\x01"] is not None and folds[None] is None
