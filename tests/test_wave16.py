"""Sixteenth-wave operators (round 8): FK integrity audit,
label-propagation communities — hand-computed expectations (oracle
parity runs separately in test_oracle_parity.py via the catalog entries;
the CUSUM tests live in test_temporal.py, the association-rule tests in
test_bucket_pairs.py)."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Row
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.operators.graph import (
    label_propagation,
)
from calp_cva_tracking_pipeline_spark.operators.profiling import (
    ref_integrity,
)


# --- referential integrity ---


def test_ref_integrity_orphans_and_nulls(spark):
    child = spark.createDataFrame(
        [Row(fk=1), Row(fk=1), Row(fk=2), Row(fk=9), Row(fk=None)]
    )
    parent = spark.createDataFrame([Row(pk=1), Row(pk=2), Row(pk=3)])
    (r,) = ref_integrity([("c_p", child, "fk", parent, "pk")]).collect()
    assert (
        r.fk,
        r.child_rows,
        r.null_key_rows,
        r.distinct_keys,
        r.orphan_keys,
        r.orphan_rows,
        r.orphan_rate,
    ) == ("c_p", 5, 1, 3, 1, 1, 0.2)


def test_ref_integrity_multiple_fks_ordered(spark):
    child = spark.createDataFrame([Row(a=1, b=7)])
    pa = spark.createDataFrame([Row(k=1)])
    pb = spark.createDataFrame([Row(k=8)])
    got = ref_integrity(
        [
            ("z_fk", child, "a", pa, "k"),
            ("a_fk", child, "b", pb, "k"),
        ]
    ).collect()
    assert [r.fk for r in got] == ["a_fk", "z_fk"]
    assert got[0].orphan_rows == 1 and got[1].orphan_rows == 0


# --- label propagation ---


def _lpa_naive(edges, n_iter):
    """Synchronous LPA with (count desc, label asc) tie-break, literal."""
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    lbl = {n: n for n in adj}
    for _ in range(n_iter):
        nxt = {}
        for n, nbrs in adj.items():
            votes: dict[int, int] = {}
            for m in nbrs:
                votes[lbl[m]] = votes.get(lbl[m], 0) + 1
            nxt[n] = min(votes, key=lambda c: (-votes[c], c))
        lbl = nxt
    return lbl


def test_label_propagation_two_cliques_bridge(spark):
    # Two 4-cliques joined by one bridge edge: LPA must keep them as two
    # communities where connected components would merge them.
    c1 = list(combinations([1, 2, 3, 4], 2))
    c2 = list(combinations([11, 12, 13, 14], 2))
    edges = c1 + c2 + [(4, 11)]
    df = spark.createDataFrame([Row(src=u, dst=v) for u, v in edges])
    got = {r.node: r.label for r in label_propagation(df, n_iter=4).collect()}
    assert got == _lpa_naive(edges, 4)
    assert len({got[n] for n in (1, 2, 3)} | {got[n] for n in (12, 13, 14)}) == 2


def test_label_propagation_canonicalizes_input(spark):
    # Directed duplicates + a self-loop must not change the vote counts.
    edges = [(1, 2), (2, 1), (2, 3), (3, 3), (1, 2)]
    df = spark.createDataFrame([Row(src=u, dst=v) for u, v in edges])
    got = {r.node: r.label for r in label_propagation(df, n_iter=3).collect()}
    assert got == _lpa_naive([(1, 2), (2, 3)], 3)
