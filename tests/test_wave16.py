"""Sixteenth-wave operators (round 8): basket association rules, FK
integrity audit, label-propagation communities — hand-computed
expectations (oracle parity runs separately in test_oracle_parity.py via
the catalog entries; the CUSUM tests live in test_temporal.py)."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Row
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.operators.assoc import (
    association_rules,
)
from calp_cva_tracking_pipeline_spark.operators.graph import (
    label_propagation,
)
from calp_cva_tracking_pipeline_spark.operators.profiling import (
    ref_integrity,
)


# --- association rules ---


def test_association_rules_hand_computed(spark):
    # 4 baskets over items 1..3; item 4 infrequent (appears once).
    baskets = {
        10: [1, 2, 3],
        20: [1, 2],
        30: [1, 2, 4],
        40: [3, 1],
    }
    rows = [
        Row(b=b, i=i) for b, items in baskets.items() for i in items
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r.antecedent, r.consequent): (
            r.pair_n,
            r.support,
            r.confidence,
            r.lift,
        )
        for r in association_rules(
            df, "b", "i", min_item_count=2, min_pair_count=2
        ).collect()
    }
    # item counts: 1->4, 2->3, 3->2, 4->1 (dropped). pairs: (1,2)->3,
    # (1,3)->2, (2,3)->1 (below floor). n_baskets = 4.
    assert set(got) == {(1, 2), (2, 1), (1, 3), (3, 1)}
    assert got[(1, 2)] == (3, 0.75, 0.75, 1.0)
    assert got[(2, 1)] == (3, 0.75, 1.0, 1.0)
    assert got[(1, 3)] == (2, 0.5, 0.5, 1.0)
    assert got[(3, 1)] == (2, 0.5, 1.0, 1.0)


def test_association_rules_mega_basket_guard_and_dup_rows(spark):
    rows = [Row(b=1, i=i) for i in range(10)] + [
        Row(b=2, i=0),
        Row(b=2, i=1),
        Row(b=2, i=0),  # duplicate (basket, item) row: counted once
        Row(b=3, i=0),
        Row(b=3, i=1),
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r.antecedent, r.consequent): r.pair_n
        for r in association_rules(
            df,
            "b",
            "i",
            min_item_count=1,
            min_pair_count=2,
            max_basket=5,
        ).collect()
    }
    # basket 1 (10 items > cap) contributes no pairs; (0,1) co-occurs in
    # baskets 2 and 3 only.
    assert got == {(0, 1): 2, (1, 0): 2}


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
