"""Graph operator tests. The rank family (pagerank, pagerank_weighted,
personalized_pagerank, hits, hits_weighted): the integer recurrences vs
pure-Python references, structural rank ordering, dangling-mass
handling, mass conservation, partition-independence (the property the
nano-unit design buys), the wrappers' bit-for-bit degenerations onto
each other, plan linearity and the HITS overflow guard. Then the
triangle census, neighbour similarity, Adamic-Adar and the 4-cycle
census."""

from __future__ import annotations

import itertools
import math
import random
from fractions import Fraction

import duckdb
import pandas as pd
import pytest

from calp_cva_tracking_pipeline_spark.operators.graph import (
    RANK_SCALE,
    pagerank,
)


def _py_pagerank(edges, n_iter=3, d=85, with_sentinel=False):
    """The exact integer recurrence, independently implemented —
    sentinel-accumulator (one-round-lag dangling) formulation: round t
    fans out the sentinel's CURRENT value s (initialized to the uniform
    init's dangling sum) while the sentinel collects this round's
    dangling mass for the next."""
    e = sorted(set(edges))
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    n = len(nodes)
    outdeg: dict = {}
    for u, _ in e:
        outdeg[u] = outdeg.get(u, 0) + 1
    rank = {v: RANK_SCALE // n for v in nodes}
    base = (RANK_SCALE - d * RANK_SCALE // 100) // n
    s = sum(r for v, r in rank.items() if v not in outdeg)
    for _ in range(n_iter):
        inflow = {v: s // n for v in nodes}
        for u, v in e:
            inflow[v] += rank[u] // outdeg[u]
        s = sum(r for v, r in rank.items() if v not in outdeg)
        rank = {v: base + (d * inflow[v]) // 100 for v in nodes}
    return (rank, s) if with_sentinel else rank


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    return {
        r.node: r.rank_nano for r in pagerank(df, **kw).collect()
    }


def test_pagerank_matches_python_reference_random_graph(spark):
    rng = random.Random(2024)
    edges = list({
        (rng.randint(0, 39), rng.randint(0, 39)) for _ in range(150)
    })
    assert _run(spark, edges) == _py_pagerank(edges)


def test_pagerank_hub_outranks_leaves(spark):
    # star pointing at node 0 → node 0 must dominate
    edges = [(i, 0) for i in range(1, 10)]
    ranks = _run(spark, edges)
    assert ranks[0] == max(ranks.values())
    # the hub (also the lone dangling node) dominates; with the lagged
    # dangling redistribution the leaves receive the hub's full mass
    # back one round later, so the margin is ~3x rather than the
    # same-round variant's ~6x
    assert ranks[0] > 3 * ranks[1]


def test_pagerank_all_sinks_stays_uniform(spark):
    # pure bipartite one-way: sources all have equal structure, sinks too
    edges = [(i, 100 + i) for i in range(8)]
    ranks = _run(spark, edges)
    assert len({ranks[i] for i in range(8)}) == 1
    assert len({ranks[100 + i] for i in range(8)}) == 1
    assert ranks[100] > ranks[0]  # sinks receive, sources only emit


def test_pagerank_mass_conserved_within_floor_loss(spark):
    rng = random.Random(7)
    edges = list({
        (rng.randint(0, 29), rng.randint(0, 29)) for _ in range(90)
    })
    ranks = _run(spark, edges)
    total = sum(ranks.values())
    n, e = 30, len(edges)
    # the sentinel holds one round's dangling mass in transit at
    # termination (excluded from the output by contract); beyond that,
    # floor ops lose at most ~1 nano-unit per node/edge/div per round
    _, in_transit = _py_pagerank(edges, with_sentinel=True)
    assert total <= RANK_SCALE - in_transit
    assert total >= RANK_SCALE - in_transit - 3 * (2 * n + e + 100)


def test_pagerank_partition_independent(spark):
    rng = random.Random(11)
    edges = list({
        (rng.randint(0, 49), rng.randint(0, 49)) for _ in range(200)
    })
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    a = {r.node: r.rank_nano for r in pagerank(df).collect()}
    b = {
        r.node: r.rank_nano
        for r in pagerank(df.repartition(13)).collect()
    }
    assert a == b


def test_pagerank_duplicate_edges_collapse(spark):
    once = _run(spark, [(1, 2), (2, 1), (1, 3)])
    dup = _run(spark, [(1, 2), (1, 2), (2, 1), (1, 3), (1, 3)])
    assert once == dup


# --- weighted PageRank ------------------------------------------------------


def _ranks(df):
    return {r.node: r.rank_nano for r in df.collect()}


def test_pagerank_weighted_degenerates_to_pagerank(spark):
    """With no duplicate edges every w = 1 and W = outdeg, so the
    weighted recurrence must reproduce pagerank BIT-FOR-BIT — cycles,
    dangling nodes and all."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        pagerank,
        pagerank_weighted,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (1, 3)],
        "src long, dst long",
    )
    assert _ranks(pagerank_weighted(edges)) == _ranks(pagerank(edges))


def test_pagerank_weighted_multiplicity_shifts_rank(spark):
    """1 links 2 three times and 3 once: with weighted out-shares node
    2 must out-rank node 3; the unweighted collapse ranks them equal.
    The DuckDB twin must agree on every rank."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        pagerank,
        pagerank_weighted,
        pagerank_weighted_sql,
    )

    raw = [(1, 2), (1, 2), (1, 2), (1, 3), (2, 1), (3, 1)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = _ranks(pagerank_weighted(edges))
    assert got[2] > got[3]
    flat = _ranks(pagerank(edges))
    assert flat[2] == flat[3]

    cte = "SELECT src, dst FROM raw_edges"
    con = duckdb.connect()
    con.register("raw_edges", pd.DataFrame(raw, columns=["src", "dst"]))
    oracle = {
        int(r[0]): int(r[1])
        for r in con.sql(pagerank_weighted_sql(cte)).fetchall()
    }
    assert got == oracle, (got, oracle)


def test_pagerank_weighted_null_and_empty_edges(spark):
    """NULL-endpoint edges drop (malformed; NULL is the sentinel key)
    and an empty graph yields an empty ranking — the pagerank
    degenerate contract."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        pagerank_weighted,
    )

    edges = spark.createDataFrame(
        [(1, 2), (None, 2), (1, None)], "src long, dst long"
    )
    got = _ranks(pagerank_weighted(edges))
    assert set(got) == {1, 2}
    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank_weighted(empty).count() == 0


def test_pagerank_weighted_plan_linear_in_rounds(spark):
    """The evolving rank vector is referenced once per round — the
    executed plan's scan count must grow at most linearly in n_iter
    (the kcore 3^n lesson, pinned like the unweighted flagship)."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        pagerank_weighted,
    )

    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 7) for i in range(7)] + [(1, 2), (1, 2)],
        "src long, dst long",
    )

    def scans(n):
        df = pagerank_weighted(edges, n_iter=n)
        df.count()
        return df._jdf.queryExecution().executedPlan().toString().count(
            "Scan"
        )

    s3, s7 = scans(3), scans(7)
    assert s7 - s3 <= 4 * (7 - 3) + 8, (s3, s7)


# --- personalized PageRank -------------------------------------------------


def test_ppr_with_full_seed_set_equals_uniform_pagerank(spark):
    """personalized_pagerank degenerates EXACTLY to pagerank when the
    seed set is the whole node universe (teleport uniform, sentinel
    fans to every node, base everywhere) — bit-for-bit on random
    digraphs with dangling nodes; and with a proper subset, seeds
    carry strictly more rank than the graph minimum."""
    import random

    from calp_cva_tracking_pipeline_spark.operators.graph import (
        pagerank,
        personalized_pagerank,
    )

    rng = random.Random(1321)
    for trial in range(2):
        edges = {
            (rng.randrange(12), rng.randrange(12))
            for _ in range(rng.randint(6, 30))
        }
        df = spark.createDataFrame(sorted(edges), "src long, dst long")
        nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
        all_seeds = spark.createDataFrame(
            [(v,) for v in nodes], "node long"
        )
        pr = {r.node: r.rank_nano for r in pagerank(df).collect()}
        ppr = {
            r.node: r.rank_nano
            for r in personalized_pagerank(df, all_seeds).collect()
        }
        assert ppr == pr, f"trial {trial}"

        sub = spark.createDataFrame([(nodes[0],)], "node long")
        pp = {
            r.node: r.rank_nano
            for r in personalized_pagerank(df, sub).collect()
        }
        assert pp[nodes[0]] > min(pp.values())


# --- HITS ------------------------------------------------------------------


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_hits_matches_rational_reference_random_digraphs(spark):
    """hits() == exact rational-arithmetic HITS (unnormalized rounds,
    final L1 floor normalization) on random directed graphs, including
    dangling nodes, sources, multi-edges (collapsed) and self-loops."""
    from calp_cva_tracking_pipeline_spark.operators.graph import hits

    rng = random.Random(1301)
    for trial in range(3):
        n = rng.randint(5, 14)
        edges = set()
        for _ in range(rng.randint(4, 40)):
            edges.add((rng.randrange(n), rng.randrange(n)))
        rows = list(edges) + [rng.choice(list(edges))]  # a multi-edge
        df = spark.createDataFrame(rows, "src long, dst long")
        got = {
            r.node: (r.hub_nano, r.auth_nano)
            for r in hits(df, "src", "dst", n_iter=3).collect()
        }

        nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
        h = {v: Fraction(10**9) for v in nodes}
        a = {}
        for _ in range(3):
            a = {v: Fraction(0) for v in nodes}
            for s, d in edges:
                a[d] += h[s]
            h = {v: Fraction(0) for v in nodes}
            for s, d in edges:
                h[s] += a[d]
        th, ta = sum(h.values()), sum(a.values())
        exp = {
            v: (
                int(h[v] * 10**9 // th) if th else 0,
                int(a[v] * 10**9 // ta) if ta else 0,
            )
            for v in nodes
        }
        assert got == exp, f"trial {trial}"


def test_hits_weighted_equals_hits_on_simple_graph(spark):
    """On a graph with NO parallel edges every weight is 1, so weighted
    HITS must reproduce hits() bit-for-bit (same decimal rounds, same
    normalization)."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        hits,
        hits_weighted,
    )

    e = spark.createDataFrame(
        [(i, (i * 3 + 1) % 11) for i in range(11)] + [(2, 5), (7, 1)],
        "src long, dst long",
    )
    a = [tuple(r) for r in hits(e).collect()]
    b = [tuple(r) for r in hits_weighted(e).collect()]
    assert a == b


def test_hits_weighted_multiplicity_shifts_authority(spark):
    """Duplicating one edge 5x must strictly raise the authority of its
    destination relative to the unweighted run — the semantics hits()'s
    docstring declares out of scope."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        hits_weighted,
    )

    base = [(1, 2), (1, 3), (4, 2), (4, 3), (2, 4)]
    flat = spark.createDataFrame(base, "src long, dst long")
    heavy = spark.createDataFrame(
        base + [(1, 3)] * 5, "src long, dst long"
    )
    a_flat = {r.node: r.auth_nano for r in hits_weighted(flat).collect()}
    a_heavy = {r.node: r.auth_nano for r in hits_weighted(heavy).collect()}
    assert a_heavy[3] > a_flat[3]


def test_hits_cuts_shared_prefix_once(spark):
    """Finding 1: hub's and auth's checkpoints both re-executed the full
    2t-round join lineage (nothing cut the shared prefix). The last
    round's authority frame now localCheckpoints, so the result plan's
    live lineage is one round deep — pinned via the scan count of the
    returned frame (checkpointed RDD scans, bounded; before the fix the
    hub side carried every round)."""
    from calp_cva_tracking_pipeline_spark.operators.graph import hits

    df = spark.createDataFrame(
        [(i, (i * 3 + 1) % 7) for i in range(7)], "src long, dst long"
    )
    out = hits(df, "src", "dst", n_iter=3)
    out.count()
    plan = _executed(out)
    # the live plan reads checkpointed RDDs (edge frame + cut score
    # frames), never a 6-round join chain: bound the join count
    n_joins = plan.count("Join")
    assert n_joins <= 8, f"hits plan carries the full lineage: {n_joins}"
    assert "ExistingRDD" in plan


def test_hits_overflow_guard_raises_loudly(spark):
    """Finding 4: past decimal(38,0)/HUGEINT range a non-ANSI session
    would NULL the sums and the zero-score reattachment would silently
    report 0 — the conservative bound must refuse instead."""
    from calp_cva_tracking_pipeline_spark.operators.graph import hits

    df = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(5) if a != b],
        "src long, dst long",
    )
    with pytest.raises(ValueError, match="decimal"):
        hits(df, "src", "dst", n_iter=40)


def test_hits_guard_covers_final_normalization(spark):
    """Finding 1: a bound in [1e29, 1e38) passed the old raw-score
    guard yet the final `__h * 1e9` multiply overflowed decimal(38,0),
    silently NULLing on non-ANSI Spark. 25-node complete digraph:
    (24·24)^7·1e9·25 ≈ 5e29 — must now raise; one fewer round
    (≈9e26) stays under 1e29 and must still run NULL-free."""
    from calp_cva_tracking_pipeline_spark.operators.graph import hits

    df = spark.createDataFrame(
        [(a, b) for a in range(25) for b in range(25) if a != b],
        "src long, dst long",
    )
    with pytest.raises(ValueError, match="decimal"):
        hits(df, "src", "dst", n_iter=7)
    rows = hits(df, "src", "dst", n_iter=6).collect()
    assert len(rows) == 25
    assert all(
        r.hub_nano is not None and r.auth_nano is not None for r in rows
    )


# --- triangle census --------------------------------------------------------

from itertools import combinations

from calp_cva_tracking_pipeline_spark.operators.graph import triangle_stats


def _py_triangles(edges):
    adj: dict = {}
    und = set()
    for a, b in edges:
        if a == b:
            continue
        und.add((min(a, b), max(a, b)))
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    tri = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    return len(nodes), len(und), wedges, tri


def _tri_run(spark, edges):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    r = triangle_stats(df).first()
    return r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles


def test_triangles_known_graphs(spark):
    k4 = [(a, b) for a, b in combinations(range(4), 2)]
    assert _tri_run(spark, k4) == (4, 6, 12, 4)
    star = [(0, i) for i in range(1, 8)]
    assert _tri_run(spark, star) == (8, 7, 21, 0)
    path = [(0, 1), (1, 2), (2, 3)]
    assert _tri_run(spark, path) == (4, 3, 2, 0)


def test_triangles_match_bruteforce_random(spark):
    rng = random.Random(3131)
    edges = list({
        (rng.randint(0, 24), rng.randint(0, 24)) for _ in range(120)
    })
    assert _tri_run(spark, edges) == _py_triangles(edges)


def test_triangles_direction_and_duplicates_ignored(spark):
    tri = [(1, 2), (2, 3), (3, 1)]
    rev = [(2, 1), (3, 2), (1, 3), (2, 1)]
    assert _tri_run(spark, tri) == _tri_run(spark, tri + rev) == (3, 3, 3, 1)


def test_triangles_hub_graph_counts_exactly(spark):
    # hub 0 connected to all; ring among leaves 1..12: each ring edge
    # (i, i+1) forms a triangle with the hub
    hub = [(0, i) for i in range(1, 13)]
    ring = [(i, i % 12 + 1) for i in range(1, 13)]
    n, e, w, t = _tri_run(spark, hub + ring)
    assert (n, e, t) == (13, 24, 12)


def test_triangle_estimate_unbiased_and_deterministic(spark):
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        triangle_estimate,
    )

    rng = random.Random(88)
    edges = list({
        (rng.randint(0, 59), rng.randint(0, 59)) for _ in range(900)
    })
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    exact = triangle_stats(df).first().n_triangles
    est = triangle_estimate(df, sample_denom=2).first()
    # p=1/2 on a dense random graph: generous 3-sigma-ish band
    assert exact > 100
    assert abs(est.est_triangles - exact) / exact < 0.5, (
        est.est_triangles, exact,
    )
    # deterministic portable coin: identical under repartitioning
    est2 = triangle_estimate(df.repartition(9), sample_denom=2).first()
    assert tuple(est) == tuple(est2)
    # sample keeps roughly half the edges
    n_edges = triangle_stats(df).first().n_edges
    assert abs(est.n_sample_edges - n_edges / 2) < n_edges * 0.2


def test_neighbor_similarity_known_graph(spark):
    """Square 1-2-3-4-1 plus chord hub 5 connected to all: hand-checked
    Jaccard values, inclusive-pair semantics, and the mega-hub cap."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        neighbor_similarity,
    )

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (5, 1), (5, 2), (5, 3), (5, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {
        (r.node_a, r.node_b): (r.shared, r.jaccard)
        for r in neighbor_similarity(
            df, min_shared=2, threshold=0.0
        ).collect()
    }
    # N(1)={2,4,5} N(3)={2,4,5}: shared 3, union 3 -> J=1.0
    assert out[(1, 3)] == (3, 1.0)
    # N(2)={1,3,5} N(4)={1,3,5}: J=1.0
    assert out[(2, 4)] == (3, 1.0)
    # adjacent pair (1,2): N(1)={2,4,5} N(2)={1,3,5} shared={5} -> below min_shared
    assert (1, 2) not in out
    # capping out the hub (deg 4) removes its wedges: pairs (1,3)/(2,4)
    # drop to 2 shared (via the square corners only)
    capped = {
        (r.node_a, r.node_b): r.shared
        for r in neighbor_similarity(
            df, min_shared=2, threshold=0.0, max_neighbors=3
        ).collect()
    }
    assert capped[(1, 3)] == 2 and capped[(2, 4)] == 2


# --- link prediction and 4-cycles (wedges via dedup.bucket_pairs) ---


def test_adamic_adar_hand_graph(spark):
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        aa_weights_nano,
        adamic_adar,
    )

    # star through w (deg 3) plus a second shared neighbor v (deg 2)
    # for the (1, 2) pair only
    edges = [(1, 10), (2, 10), (3, 10), (1, 20), (2, 20)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {
        (r.node_a, r.node_b): r
        for r in adamic_adar(df, min_shared=1).collect()
    }
    w = aa_weights_nano(64)

    def wd(d):  # weight of degree d (the list is 0-based at degree 1)
        return w[d - 1]

    # node 10 has degree 3, node 20 degree 2; nodes 1,2 have degree 2,
    # node 3 degree 1. Pair (1,2): shared {10, 20}
    assert out[(1, 2)].shared == 2
    assert out[(1, 2)].aa_nano == wd(3) + wd(2)
    # pairs (1,3), (2,3): shared {10} only
    assert out[(1, 3)].aa_nano == wd(3)
    assert out[(2, 3)].aa_nano == wd(3)
    # the weight table matches math.log
    assert wd(3) == int(round(1e9 / math.log(3)))
    # pair (10, 20): shared neighbors {1, 2} (deg 2 each)
    assert out[(10, 20)].aa_nano == 2 * wd(2)


def test_adamic_adar_matches_python_random_graph(spark):
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        aa_weights_nano,
        adamic_adar,
    )

    rng = random.Random(2047)
    edges = list({
        (rng.randint(0, 24), rng.randint(0, 24)) for _ in range(80)
    })
    df = spark.createDataFrame(edges, "src long, dst long")
    cap = 10
    got = {
        (r.node_a, r.node_b): (r.shared, r.aa_nano)
        for r in adamic_adar(
            df, min_shared=1, max_neighbors=cap
        ).collect()
    }

    adj: dict[int, set] = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    w = aa_weights_nano(cap)
    exp: dict = {}
    for c, ns in adj.items():
        if len(ns) > cap:
            continue
        for a in ns:
            for b in ns:
                if a < b:
                    s, nano = exp.get((a, b), (0, 0))
                    exp[(a, b)] = (s + 1, nano + w[len(ns) - 1])
    assert got == exp


def test_square_census_hand_graphs(spark):
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        square_census,
    )

    # C4 (one square), plus a pendant and a duplicate/reversed edge
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (2, 1), (1, 5)],
        "src long, dst long",
    )
    row = square_census(edges).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_squares) == (5, 5, 1)
    # K4: 4 nodes, 6 edges, 3 squares (each pair of disjoint edges);
    # every unordered pair has codeg 2 -> 6 pairs * C(2,2)=1 -> 6/2=3
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "src long, dst long",
    )
    row = square_census(k4).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_squares) == (4, 6, 3)
    # triangle: no squares
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    assert square_census(tri).collect()[0].n_squares == 0


def test_square_census_hub_prune_is_node_level(spark):
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        square_census,
    )

    # star hub 0 with 5 leaves + a disjoint C4: pruning deg>4 drops
    # node 0 AND its edges; the square remains
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)]
        + [(10, 11), (11, 12), (12, 13), (13, 10)],
        "src long, dst long",
    )
    row = square_census(edges, max_degree=4).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_squares) == (4, 4, 1)


def test_square_census_matches_bruteforce_random_graphs(spark):
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        square_census,
    )

    rng = random.Random(17)
    for trial in range(3):
        n = rng.randint(5, 12)
        edges = [
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if rng.random() < 0.4
        ]
        if not edges:
            continue
        adj = {i: set() for i in range(n)}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        brute = 0
        for quad in itertools.combinations(range(n), 4):
            for perm in itertools.permutations(quad):
                a, b, c, d = perm
                if (
                    b in adj[a] and c in adj[b]
                    and d in adj[c] and a in adj[d]
                ):
                    brute += 1
        brute //= 8  # each 4-cycle counted 8x (4 rotations x 2 dirs)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = square_census(df).collect()[0].n_squares
        assert got == brute, (trial, edges)
