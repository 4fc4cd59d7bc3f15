"""graph_search_frontier — the ANN graph beam search — against a
pure-Python replay of its search contract: fixed lowest-id entry points,
per hop the out-neighbors of the top-``beam`` candidates join the
candidate set, recall@k against exact brute force. The edge set comes
from knn_graph (its own tests pin it); everything else is recomputed
here, with cosine rounded half-up to 6 dp as Spark rounds it.

Also pins the execution shape: a bounded job count for the whole query
(build plus execute) and no broadcast hint on the corpus-sized node
table."""

from __future__ import annotations

import math
import random
from decimal import ROUND_HALF_UP, Decimal

import pytest

from calp_cva_tracking_pipeline_spark.operators.similarity import (
    brute_force_topk,
    graph_search_frontier,
    knn_graph,
)

SCHEMA = "vec_id long, embedding array<double>"


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    c = d / (na * nb)
    return float(Decimal(repr(c)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _edges(spark, vecs, edge_k, n_centroids, nprobe):
    df = spark.createDataFrame(list(vecs.items()), SCHEMA)
    out = {}
    for r in knn_graph(
        df, "vec_id", "embedding", k=edge_k, n_centroids=n_centroids,
        nprobe=nprobe,
    ).collect():
        out.setdefault(r.vec_id, []).append(r.neighbor_id)
    return out


def _py_frontier(vecs, queries, edges, entry_n, beam, max_hops, k):
    """The search contract, replayed query by query."""
    ids = sorted(vecs)
    entries = ids[:entry_n]
    tot = [[0, 0, 0] for _ in range(max_hops + 1)]  # pairs, hits, cands
    for qid, qv in queries.items():
        def ranked(cands):
            return sorted(
                (c for c in cands if c != qid),
                key=lambda c: (-_cos(qv, vecs[c]), c),
            )

        truth = set(ranked(ids)[:k])
        cand = set(entries)
        for h in range(max_hops + 1):
            scored = ranked(cand)
            tot[h][0] += len(truth)
            tot[h][1] += len(truth & set(scored[:k]))
            tot[h][2] += len(scored)
            for b in scored[:beam]:
                cand |= set(edges.get(b, ()))
    nq = len(queries)
    return [
        (h, k, p, hit, 1_000_000 * hit // p if p else 0, c // nq if nq else 0)
        for h, (p, hit, c) in enumerate(tot)
    ]


def _run(spark, vecs, queries, **kw):
    corpus = spark.createDataFrame(list(vecs.items()), SCHEMA)
    q = spark.createDataFrame(list(queries.items()), SCHEMA)
    return [
        tuple(r)
        for r in graph_search_frontier(
            corpus, q, "vec_id", "embedding", "vec_id", "embedding", **kw
        ).collect()
    ]


def _check(spark, vecs, queries, edge_k=3, n_centroids=4, nprobe=2,
           entry_n=2, beam=4, max_hops=2, k=3):
    got = _run(
        spark, vecs, queries, edge_k=edge_k, n_centroids=n_centroids,
        nprobe=nprobe, entry_n=entry_n, beam=beam, max_hops=max_hops, k=k,
    )
    edges = _edges(spark, vecs, edge_k, n_centroids, nprobe)
    exp = _py_frontier(vecs, queries, edges, entry_n, beam, max_hops, k)
    assert got == exp
    return got


def _random_vecs(seed, n, dim):
    rng = random.Random(seed)
    return {
        i: [round(rng.uniform(-1, 1), 3) for _ in range(dim)]
        for i in range(n)
    }


def test_graph_search_frontier_matches_python_beam(spark):
    """graph_search_frontier's recall rows == a pure-Python beam search
    over the SAME edge set (built by knn_graph) and the same brute
    ground truth — the deterministic expansion contract, replayed."""
    rng = random.Random(1307)
    dim, n = 6, 40
    vecs = {
        i: [round(rng.uniform(-1, 1), 3) for _ in range(dim)]
        for i in range(n)
    }
    df = spark.createDataFrame(list(vecs.items()), SCHEMA)
    queries = df.filter("vec_id >= 30")
    k, beam, entry_n, hops = 3, 4, 2, 2

    out = {
        r.hops: (r.n_pairs, r.n_hit, r.recall_ppm)
        for r in graph_search_frontier(
            df, queries, "vec_id", "embedding", "vec_id", "embedding",
            edge_k=3, n_centroids=4, nprobe=2,
            entry_n=entry_n, beam=beam, max_hops=hops, k=k,
        ).collect()
    }

    edges = {}
    for r in knn_graph(
        df, "vec_id", "embedding", k=3, n_centroids=4, nprobe=2
    ).collect():
        edges.setdefault(r.vec_id, []).append(r.neighbor_id)
    brute = {}
    for r in brute_force_topk(
        df, queries, "vec_id", "embedding", "vec_id", "embedding", k=k
    ).collect():
        brute.setdefault(r.query_id, set()).add(r.neighbor_id)

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    totals = {h: [0, 0] for h in range(hops + 1)}  # h -> [pairs, hits]
    for q in range(30, 40):
        cand = set(sorted(vecs)[:entry_n])
        for h in range(hops + 1):
            scored = sorted(
                ((cos(vecs[q], vecs[c]), -c) for c in cand if c != q),
                reverse=True,
            )
            topk = {-cid for _, cid in scored[:k]}
            totals[h][0] += k  # brute emits k pairs per query
            totals[h][1] += len(topk & brute[q])
            if h < hops:
                for b in (-cid for _, cid in scored[:beam]):
                    cand |= set(edges.get(b, []))
    for h in range(hops + 1):
        pairs, hits_n = totals[h]
        assert out[h][0] == pairs and out[h][1] == hits_n, (h, out[h], totals[h])
        assert out[h][2] == 1_000_000 * hits_n // pairs


def test_exact_duplicate_vectors_leave_nodes_without_out_edges(spark):
    """knn_graph collapses exact duplicates to their min-id
    representative, so the other copies have no out-edges; here they
    are entry points and ground-truth members (cosine 1.0 ties)."""
    vecs = _random_vecs(5, 40, 4)
    for dup, src in ((1, 0), (2, 0), (35, 30), (36, 30), (37, 31)):
        vecs[dup] = list(vecs[src])
    edges = _edges(spark, vecs, 3, 4, 2)
    assert not any(edges.get(i) for i in (1, 2, 35, 36, 37))
    queries = {i: vecs[i] for i in range(30, 40)}
    got = _check(spark, vecs, queries, entry_n=3, beam=4, max_hops=3, k=4)
    assert got[0][3] < got[-1][3]  # the search does reach the truth


def test_query_outside_the_corpus(spark):
    vecs = _random_vecs(21, 40, 5)
    rng = random.Random(22)
    queries = {
        1000 + i: [round(rng.uniform(-1, 1), 3) for _ in range(5)]
        for i in range(6)
    }
    got = _check(spark, vecs, queries, entry_n=2, beam=3, max_hops=2, k=3)
    assert all(r[2] == 6 * 3 for r in got)  # no self-exclusion


def test_single_entry_that_is_the_query_leaves_an_empty_beam(spark):
    """entry_n=1 and query 0 is the lowest corpus id: its only entry is
    itself, so it scores nothing and its beam stays empty every hop."""
    vecs = _random_vecs(11, 30, 5)
    queries = {i: vecs[i] for i in (0, 25, 29)}
    got = _check(spark, vecs, queries, entry_n=1, beam=3, max_hops=2, k=3)
    alone = _check(
        spark, vecs, {0: vecs[0]}, entry_n=1, beam=3, max_hops=2, k=3
    )
    assert [r[3] for r in alone] == [0, 0, 0]
    assert [r[5] for r in alone] == [0, 0, 0]
    assert got[0][2] == 3 * 3


def test_zero_hops_scores_only_the_entry_points(spark):
    vecs = _random_vecs(12, 30, 5)
    queries = {i: vecs[i] for i in range(24, 30)}
    got = _check(spark, vecs, queries, entry_n=3, beam=3, max_hops=0, k=3)
    assert len(got) == 1 and got[0][5] == 3


def test_empty_query_frame_yields_zero_rows_per_hop(spark):
    vecs = _random_vecs(3, 30, 4)
    got = _check(spark, vecs, {}, entry_n=2, beam=3, max_hops=2, k=3)
    assert got == [(h, 3, 0, 0, 0, 0) for h in range(3)]


def test_job_ceiling_and_no_broadcast_hint_on_the_node_table(spark):
    """The whole query (plan build plus execution) runs at most 25
    Spark jobs: one lazy cut on the node table and a linear per-query
    state lineage, no per-hop cuts. The node table is corpus-sized, so
    its joins carry no broadcast hint (AQE may still broadcast it when
    it turns out small)."""
    vecs = _random_vecs(1307, 40, 6)
    corpus = spark.createDataFrame(list(vecs.items()), SCHEMA)
    queries = corpus.filter("vec_id >= 30")
    sc = spark.sparkContext
    group = "ann-graph-search-job-ceiling"
    sc.setJobGroup(group, group)
    try:
        out = graph_search_frontier(
            corpus, queries, "vec_id", "embedding", "vec_id", "embedding",
            edge_k=3, n_centroids=4, nprobe=2, entry_n=2, beam=4,
            max_hops=3, k=3,
        )
        out.collect()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) <= 25, len(jobs)

    plan = out._jdf.queryExecution().optimizedPlan().toString()
    node_joins = [
        ln for ln in plan.splitlines() if "Join" in ln and "__nid" in ln
    ]
    assert len(node_joins) == 3  # one per hop
    assert not any("broadcast" in ln for ln in node_joins), node_joins


@pytest.mark.parametrize("bad", [
    dict(entry_n=0), dict(beam=0), dict(max_hops=-1),
])
def test_rejects_degenerate_search_parameters(spark, bad):
    vecs = _random_vecs(1, 8, 3)
    corpus = spark.createDataFrame(list(vecs.items()), SCHEMA)
    with pytest.raises(ValueError):
        graph_search_frontier(
            corpus, corpus, "vec_id", "embedding", "vec_id", "embedding",
            **bad,
        )
