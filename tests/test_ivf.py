"""IVF ANN: oracle parity, recall floor vs brute force, and the
plan-shape guarantee that the centroid init is distributed.

ann_ivf_topk is a driver catalog row (catalog.scale) since round 3; this
file keeps a local replica of the DuckDB comparison so the gate also runs
in plain pytest, plus the recall/refinement checks the driver can't do.
"""

from __future__ import annotations

import inspect
import math
import random
import re
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.catalog.scale import (
    ANN_IVF_SQL,
    IVF_CENTROIDS,
    IVF_NPROBE,
    N_QUERIES,
    TOP_K,
    ann_ivf_topk,
)
from calp_cva_tracking_pipeline_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    train_centroids,
)


def test_ivf_matches_duckdb_oracle(spark, sf_dir):
    srows = sorted(
        tuple(r) for r in ann_ivf_topk(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    drows = sorted(
        (r[0], r[1], f"{r[2]:.9g}", r[3])
        for r in con.execute(ANN_IVF_SQL).fetchall()
    )
    srows = [(a, b, f"{c:.9g}", d) for a, b, c, d in srows]
    assert srows == drows


def test_centroid_init_is_distributed_take_ordered(spark, sf_dir):
    # The one-time index build must never funnel the corpus through a
    # single task: init plans as TakeOrderedAndProject (per-partition
    # top-n), NOT an unpartitioned window / global sort.
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = train_centroids(e, "vec_id", "embedding", IVF_CENTROIDS)
    plan = cent._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
    assert cent.count() == IVF_CENTROIDS


def test_ivf_recall_floor_vs_brute(spark, sf_dir):
    # testdata embeddings are uniform random — the worst case for IVF
    # (neighborhoods don't cluster), so the floor is deliberately loose;
    # clustered real embeddings sit far above it. nprobe=n_centroids must
    # be exact (every cell probed ⇒ identical candidate set to brute force).
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(
            e, q, "vec_id", "embedding", "vec_id", "embedding", k=TOP_K
        ).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_topk(spark, sf_dir).collect()
    }
    assert len(ivf & brute) / len(brute) >= 0.15

    full = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(
            e, q, "vec_id", "embedding", "vec_id", "embedding",
            n_centroids=IVF_CENTROIDS, nprobe=IVF_CENTROIDS, k=TOP_K,
        ).collect()
    }
    assert full == brute


def test_ivf_persisted_index_search_is_exchange_free(spark, sf_dir, tmp_path):
    """Persist-and-reload path (VERDICT r3 #7): the cell assignment written
    bucketed by __cell, reloaded through the catalog, searched with
    prebuilt centroids — the search plan must contain NO corpus-side
    exchange (no hashpartitioning on __cell / neighbor vectors; the only
    shuffle allowed is the query-side top-k window) and no re-assignment
    (no crossJoin/argmin stages), and results must equal the from-scratch
    search."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        load_ivf_index,
        persist_ivf_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    table = "ivf_cells_test"
    try:
        cent = persist_ivf_index(
            e, "vec_id", "embedding", table,
            n_centroids=IVF_CENTROIDS, num_buckets=8,
        )
        cells, cent_loaded = load_ivf_index(spark, table)
        out = ivf_topk(
            None, q, "vec_id", "embedding", "vec_id", "embedding",
            nprobe=IVF_NPROBE, k=TOP_K,
            centroids=cent_loaded, cells=cells,
        )
        rows = sorted(
            (r.query_id, r.neighbor_id, f"{r.cosine:.9g}", r.rank)
            for r in out.collect()
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # corpus side: bucketed scan feeding the probe join directly
        assert "Exchange hashpartitioning(__cell" not in plan
        assert "SelectedBucketsCount" in plan  # bucket metadata in the plan
        # no re-assignment at search time: the argmin groupBy would show as
        # an aggregate over __aid, and assignment's nested-loop centroid
        # scoring would show as a second join on the corpus side
        assert "__aid" not in plan
        # only query-side shuffles remain (probe ranking + result top-k):
        # every shuffle exchange in the plan partitions by query_id
        import re

        keys = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
        assert keys and all(k.startswith("query_id") for k in keys), keys
        # parity with the from-scratch search on the same centroids
        ref = sorted(
            (r.query_id, r.neighbor_id, f"{r.cosine:.9g}", r.rank)
            for r in ivf_topk(
                e, q, "vec_id", "embedding", "vec_id", "embedding",
                nprobe=IVF_NPROBE, k=TOP_K, centroids=cent,
            ).collect()
        )
        assert rows == ref
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}_centroids")


def test_lloyd_refinement_keeps_contract(spark, sf_dir):
    # one refinement pass: same schema, same per-query row count, centroids
    # still IVF_CENTROIDS rows of the input dimensionality
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = train_centroids(e, "vec_id", "embedding", IVF_CENTROIDS, iters=1)
    rows = cent.collect()
    assert len(rows) == IVF_CENTROIDS
    dim = len(rows[0]["__cent"])
    assert all(len(r["__cent"]) == dim for r in rows)
    q = e.filter(F.col("vec_id") < N_QUERIES)
    out = ivf_topk(
        e, q, "vec_id", "embedding", "vec_id", "embedding",
        n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE, k=TOP_K, centroids=cent,
    )
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    per_q = out.groupBy("query_id").count().collect()
    assert all(r["count"] <= TOP_K for r in per_q)


def test_lsh_multiprobe_recall_floor(spark, sf_dir):
    # multiprobe widens only the query-side probe list (Hamming-adjacent
    # sign patterns); at the catalog 4x4 operating point recall@5 on the
    # uniform worst-case testdata measured 0.40 (no flips) -> 0.90
    # (1 flip) -> 1.00 (2 flips). Pin a loose floor and monotonicity.
    from calp_cva_tracking_pipeline_spark.catalog.scale import (
        EMB_DIM,
        LSH_PLANES,
        LSH_SEED,
        LSH_TABLES,
    )
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        lsh_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(
            e, q, "vec_id", "embedding", "vec_id", "embedding", k=TOP_K
        ).collect()
    }

    def recall(flips):
        got = {
            (r.query_id, r.neighbor_id)
            for r in lsh_topk(
                e, q, "vec_id", "embedding", "vec_id", "embedding",
                dim=EMB_DIM, k=TOP_K, n_planes=LSH_PLANES,
                n_tables=LSH_TABLES, seed=LSH_SEED, n_probe_flips=flips,
            ).collect()
        }
        return len(got & brute) / len(brute)

    r0, r1 = recall(0), recall(1)
    assert r1 >= 0.8
    assert r1 > r0


def test_ivf_incremental_index_append(spark, sf_dir):
    """Incremental ingest for the IVF index: a new embedding batch is
    assigned to the EXISTING centroids (no retrain, no history rescan)
    and its cells union onto the stored cells — search over the merged
    index is identical to an index built over the full corpus with the
    same centroids. This is the O(batch)-per-ingest property the digest/
    band stores give dedup, for ANN."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        assign_cells,
        ivf_topk,
        train_centroids,
    )

    e = T(spark, sf_dir, "embeddings")
    old = e.filter(F.col("vec_id") % 2 == 0)
    new = e.filter(F.col("vec_id") % 2 == 1)
    cent = train_centroids(old, "vec_id", "embedding", 8)

    full_cells = assign_cells(e, cent, "vec_id", "embedding")
    merged_cells = assign_cells(old, cent, "vec_id", "embedding").unionByName(
        assign_cells(new, cent, "vec_id", "embedding")
    )

    q = e.filter(F.col("vec_id") < 4)
    a = ivf_topk(
        e, q, "vec_id", "embedding", "vec_id", "embedding",
        nprobe=2, k=5, centroids=cent, cells=merged_cells,
    )
    b = ivf_topk(
        e, q, "vec_id", "embedding", "vec_id", "embedding",
        nprobe=2, k=5, centroids=cent, cells=full_cells,
    )
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb and len(ra) == 4 * 5


def test_auto_n_centroids_two_regimes(spark, sf_dir):
    """Auto quantizer sizing: √N for search, N/cell for all-pairs — and
    the all-pairs default actually drives knn_graph/semantic_dedup (the
    round-7 verdict's quadratic-cell fix)."""
    import math

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        DEFAULT_CELL_SIZE,
        auto_n_centroids,
        knn_graph,
    )

    e = T(spark, sf_dir, "embeddings")
    n = e.count()
    assert auto_n_centroids(e) == math.ceil(math.sqrt(n))
    assert auto_n_centroids(e, DEFAULT_CELL_SIZE) == -(-n // DEFAULT_CELL_SIZE)
    # tiny corpus can never get more centroids than rows
    two = e.limit(2)
    assert auto_n_centroids(two) <= 2
    assert auto_n_centroids(two, 1) == 2

    # the auto default (n_centroids=None) must equal the explicit
    # all-pairs K — proves the default routes through the N/cell regime,
    # not the √N search regime
    k_auto = knn_graph(e, "vec_id", "embedding", k=3, nprobe=2)
    k_explicit = knn_graph(
        e, "vec_id", "embedding", k=3,
        n_centroids=-(-n // DEFAULT_CELL_SIZE), nprobe=2,
    )
    assert sorted(map(tuple, k_auto.collect())) == sorted(
        map(tuple, k_explicit.collect())
    )


def test_knn_graph_hand_computed_within_cell(spark):
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        knn_graph,
    )

    # 2 centroids (ids 0 and 1, lowest-id init); vectors near (1,0) land
    # in cell 0, near (0,1) in cell 1. k=2 per node within its cell.
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.9, 0.1]),
        (3, [0.8, 0.2]),
        (4, [0.1, 0.9]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = knn_graph(df, "vec_id", "embedding", k=2, n_centroids=2)
    got = {
        (r.vec_id, r.rank): r.neighbor_id for r in out.collect()
    }
    # cell 0 = {0, 2, 3}; cell 1 = {1, 4}
    # cos(2,0)=0.993884 > cos(2,3)=0.990896 > cos(3,0)=0.970143
    assert got[(0, 1)] == 2 and got[(0, 2)] == 3
    assert got[(2, 1)] == 0 and got[(2, 2)] == 3
    assert got[(3, 1)] == 2 and got[(3, 2)] == 0
    assert got[(1, 1)] == 4 and got[(4, 1)] == 1
    assert (1, 2) not in got  # only one same-cell neighbor exists


def test_knn_graph_pre_collapse_and_layout_independent(spark):
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        knn_graph,
    )

    # 10 byte-identical vectors + 3 distinct: duplicates collapse to the
    # min id, so no neighbor list is flooded with sim=1.0 self-copies
    rows = [(i, [1.0, 0.0]) for i in range(10)] + [
        (20, [0.9, 0.1]),
        (21, [0.8, 0.2]),
        (22, [0.7, 0.3]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = knn_graph(df, "vec_id", "embedding", k=3, n_centroids=1)
    ids = {r.vec_id for r in out.collect()}
    assert ids == {0, 20, 21, 22}  # representatives only
    a = {(r.vec_id, r.rank): r.neighbor_id for r in out.collect()}
    b = {
        (r.vec_id, r.rank): r.neighbor_id
        for r in knn_graph(
            df.repartition(7), "vec_id", "embedding", k=3, n_centroids=1
        ).collect()
    }
    assert a == b


def test_knn_graph_nprobe2_recovers_boundary_neighbor(spark):
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        knn_graph,
    )

    # centroids = lowest-id vectors 0 ([1,0]) and 1 ([0,1]).
    # node 5 = [0.72, 0.70]: primary cell 0 (barely), but its TRUE
    # nearest neighbor is node 6 = [0.68, 0.74] in cell 1.
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (5, [0.72, 0.70]),
        (6, [0.68, 0.74]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got1 = {
        (r.vec_id, r.rank): r.neighbor_id
        for r in knn_graph(
            df, "vec_id", "embedding", k=1, n_centroids=2, nprobe=1
        ).collect()
    }
    got2 = {
        (r.vec_id, r.rank): r.neighbor_id
        for r in knn_graph(
            df, "vec_id", "embedding", k=1, n_centroids=2, nprobe=2
        ).collect()
    }
    # within-cell only: 5's best neighbor is limited to cell 0 → 0
    assert got1[(5, 1)] == 0
    # nprobe=2: 5 also meets cell 1 and finds its true neighbor 6
    assert got2[(5, 1)] == 6
    # layout independence of the multi-probe path
    got2b = {
        (r.vec_id, r.rank): r.neighbor_id
        for r in knn_graph(
            df.repartition(5), "vec_id", "embedding", k=1, n_centroids=2,
            nprobe=2,
        ).collect()
    }
    assert got2b == got2


def test_lloyd_refinement_reduces_distortion_and_is_deterministic(spark):
    import random

    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        assign_cells,
        sq_dist,
        train_centroids,
    )

    rng = random.Random(3)
    # two tight blobs; lowest-id init picks both seeds from blob A, so
    # Lloyd must actually move a centroid to blob B to win
    rows = [
        (i, [rng.gauss(0, 0.05), rng.gauss(0, 0.05)]) for i in range(40)
    ] + [
        (100 + i, [rng.gauss(5, 0.05), rng.gauss(5, 0.05)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    def distortion(cent):
        assigned = assign_cells(df, cent, "vec_id", "embedding")
        joined = assigned.join(
            cent, assigned["__cell"] == cent["centroid_id"]
        )
        return joined.agg(
            F.sum(sq_dist(F.col("embedding"), F.col("__cent")))
        ).collect()[0][0]

    d0 = distortion(train_centroids(df, "vec_id", "embedding", 2, iters=0))
    d2 = distortion(train_centroids(df, "vec_id", "embedding", 2, iters=2))
    assert d2 < d0 * 0.5  # Lloyd must substantially improve the bad init

    # bit-determinism across layouts (the decimal-mean discipline)
    c_a = {
        (r.centroid_id, tuple(r["__cent"]))
        for r in train_centroids(df, "vec_id", "embedding", 2, iters=2).collect()
    }
    c_b = {
        (r.centroid_id, tuple(r["__cent"]))
        for r in train_centroids(
            df.repartition(9), "vec_id", "embedding", 2, iters=2
        ).collect()
    }
    assert c_a == c_b


def test_lloyd_empty_cells_keep_previous_centroid(spark):
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        train_centroids,
    )

    # 4 centroids over 2 distinct points: two cells must go empty and
    # keep their init vectors rather than vanishing
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [9.0, 9.0]), (3, [9.0, 9.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cent = train_centroids(df, "vec_id", "embedding", 4, iters=2).collect()
    assert len(cent) == 4  # k never shrinks


def test_hard_negatives_labels_and_order(spark):
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        hard_negatives,
    )

    # anchors at the axes; one same-label near-duplicate that MUST be
    # skipped in favor of a farther different-label vector
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.01], 0),   # same label as anchor 0 — never a negative
        (2, [0.9, 0.1], 1),     # hardest valid negative for anchor 0
        (3, [0.0, 1.0], 1),
        (4, [-1.0, 0.0], 2),
        (5, [0.5, 0.5], None),  # unlabeled: excluded by contract
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>, label int")
    q = df.filter(F.col("vec_id") == 0)
    out = hard_negatives(
        df, q, "vec_id", "v", "label", "vec_id", "v", "label",
        n_centroids=1, nprobe=1, k=2,
    ).collect()
    assert [r.negative_id for r in out] == [2, 3]
    assert all(r.negative_label != r.query_label for r in out)
    assert out[0].cosine > out[1].cosine


def test_ivf_incremental_audit_invariants(spark):
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        ivf_incremental_audit,
    )

    base = spark.createDataFrame(
        [(i, [float(i % 4), float((i * 7) % 5)]) for i in range(40)],
        "vec_id long, v array<double>",
    )
    inc = spark.createDataFrame(
        [(100 + i, [float(i % 4) + 0.25, 0.0]) for i in range(12)],
        "vec_id long, v array<double>",
    )
    out = ivf_incremental_audit(base, inc, "vec_id", "v", n_centroids=4)
    rows = out.collect()
    assert len(rows) == 4  # every centroid reports, hot or dead
    assert sum(r.n_base for r in rows) == 40
    assert sum(r.n_new for r in rows) == 12
    for r in rows:
        if r.n_base > 0:
            assert r.growth_ppm == 1_000_000 * r.n_new // r.n_base
        else:
            assert r.growth_ppm is None
        if r.n_new == 0:
            assert r.mean_d2_new is None and r.d2_drift is None


def test_embedding_outliers_ceil_rule_and_flag_counts(spark):
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        embedding_outliers,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_outliers(
        df, "vec_id", "embedding", n_centroids=4, flag_ppm=100000
    ).collect()
    assert sum(r.n for r in out) == 200
    for r in out:
        assert r.n_flagged == -(-100000 * r.n // 1000000)  # ceil rule
        if r.n_flagged:
            assert r.cut_d2 <= r.max_d2
    # deterministic under repartition
    out2 = embedding_outliers(
        df.repartition(9), "vec_id", "embedding",
        n_centroids=4, flag_ppm=100000,
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_range_search_contains_thresholded_topk(spark, sf_dir):
    """Consistency across serving modes: with the same index/operating
    point, every ivf_topk hit at cosine >= tau must appear in the range
    result (range is the thresholded closure of the ranked view when
    k <= max_results), and no range hit may fall below tau."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.catalog.scale import (
        IVF_CENTROIDS,
        IVF_NPROBE,
        N_QUERIES,
        RANGE_TAU,
        TOP_K,
    )
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        ivf_range_search,
        ivf_topk,
    )

    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    topk = ivf_topk(
        e, q, "vec_id", "embedding", "vec_id", "embedding",
        n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE, k=TOP_K,
    ).collect()
    rng = ivf_range_search(
        e, q, "vec_id", "embedding", "vec_id", "embedding",
        threshold=RANGE_TAU,
        n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE, max_results=100,
    ).collect()
    range_pairs = {(r.query_id, r.neighbor_id) for r in rng}
    assert all(r.cosine >= RANGE_TAU for r in rng)
    missing = [
        (r.query_id, r.neighbor_id)
        for r in topk
        if r.cosine >= RANGE_TAU
        and (r.query_id, r.neighbor_id) not in range_pairs
    ]
    assert not missing, missing


# ---------------------------------------------------------------------------
# the nearest-centroid kernel (_nearest_centroids) vs a pure-Python rule
# ---------------------------------------------------------------------------


def _ref_nearest(rows, cents, n):
    """Per row id, its ``n`` nearest (d2, cid): d2 is the sequential
    squared-L2 sum rounded to 6 dp, ordered by (d2, cid) with a NULL
    distance first."""
    out = {}
    for rid, v in rows:
        scored = sorted(
            (
                (v is not None, d2 or 0.0, cid, d2)
                for cid, c in cents
                for d2 in [
                    None if v is None
                    else round(sum((a - b) * (a - b) for a, b in zip(v, c)), 6)
                ]
            )
        )
        out[rid] = [(d2, cid) for _, _, cid, d2 in scored[:n]]
    return out


def _kernel_frames(spark, rows, cents):
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        _nearest_centroids,
    )

    r = spark.createDataFrame(rows, "__id long, __v array<double>")
    c = spark.createDataFrame(cents, "centroid_id long, __cent array<double>")

    def argmin():
        return {
            x["__id"]: [(x["__d2"], x["__cid"])]
            for x in _nearest_centroids(r, ["__id"], "__v", c).collect()
        }

    def ranked(n):
        got = {}
        for x in sorted(
            _nearest_centroids(r, ["__id"], "__v", c, n=n).collect(),
            key=lambda x: (x["__id"], x["__rank"]),
        ):
            got.setdefault(x["__id"], []).append((x["__d2"], x["__cid"]))
        return got

    return r, c, argmin, ranked


def test_kernel_equidistant_centroids_lower_id_wins(spark):
    """Two centroids at the same rounded distance: the lower id is the
    argmin and leads the probe order — in the kernel and in
    assign_cells."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        assign_cells,
    )

    # centroid 7 and centroid 3 are mirror images around row 0 (d2 = 1
    # each); row 1 sits exactly between centroids 3 and 9 (d2 = 4 each)
    cents = [(7, [1.0, 0.0]), (3, [-1.0, 0.0]), (9, [3.0, 0.0])]
    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [2.5, 0.0])]
    r, c, argmin, ranked = _kernel_frames(spark, rows, cents)
    ref = _ref_nearest(rows, cents, 3)
    assert ref[0][0] == (1.0, 3) and ref[1][:2] == [(0.0, 7), (4.0, 3)]
    assert argmin() == {k: v[:1] for k, v in ref.items()}
    assert ranked(3) == ref
    cells = {
        x["__id"]: x["__cell"]
        for x in assign_cells(r, c, "__id", "__v").collect()
    }
    assert cells == {k: v[0][1] for k, v in ref.items()}


def test_kernel_null_vector_takes_the_lowest_id_cell(spark):
    """A NULL vector scores NULL against every centroid; NULL sorts
    first, so the row lands in the lowest-id cell and probes in id
    order — the rule the argmin and the window both applied before the
    kernel."""
    cents = [(5, [0.0, 1.0]), (2, [1.0, 0.0]), (8, [4.0, 4.0])]
    rows = [(0, None), (1, [0.9, 0.1])]
    _, _, argmin, ranked = _kernel_frames(spark, rows, cents)
    ref = _ref_nearest(rows, cents, 3)
    assert ref[0] == [(None, 2), (None, 5), (None, 8)]
    assert argmin() == {k: v[:1] for k, v in ref.items()}
    assert ranked(2) == {k: v[:2] for k, v in ref.items()}


def test_kernel_empty_centroid_frame_yields_nothing(spark):
    """No centroids: assign_cells returns zero rows and no row gets a
    probe, matching the pure-Python rule's empty lists."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        assign_cells,
    )

    rows = [(0, [0.0, 1.0]), (1, [2.0, 2.0])]
    r, c, argmin, ranked = _kernel_frames(spark, rows, [])
    assert _ref_nearest(rows, [], 2) == {0: [], 1: []}
    assert argmin() == {} and ranked(2) == {}
    assert assign_cells(r, c, "__id", "__v").count() == 0


def test_kernel_n_beyond_centroid_count_returns_every_centroid(spark):
    """n larger than the centroid count returns every centroid once per
    row, in (d2, id) order."""
    rng = random.Random(11)
    cents = [(cid, [rng.uniform(-1, 1) for _ in range(4)]) for cid in range(5)]
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(6)]
    _, _, _, ranked = _kernel_frames(spark, rows, cents)
    ref = _ref_nearest(rows, cents, 10)
    assert all(len(v) == 5 for v in ref.values())
    assert ranked(10) == ref


def _probe_callers():
    from calp_cva_tracking_pipeline_spark.operators import similarity as s

    q = ("vec_id", "v")
    return {
        "ivf_topk": lambda df, c: s.ivf_topk(
            df, df, *q, *q, nprobe=0, centroids=c
        ),
        "ivf_pq_topk": lambda df, c: s.ivf_pq_topk(
            df, df, *q, *q, n_centroids=2, nprobe=0, m=2, k_codebook=2,
            dim=2,
        ),
        "hard_negatives": lambda df, c: s.hard_negatives(
            df, df, *q, "label", *q, "label", nprobe=0, centroids=c
        ),
        "ivf_range_search": lambda df, c: s.ivf_range_search(
            df, df, *q, *q, threshold=0.5, nprobe=0, centroids=c
        ),
        "knn_graph": lambda df, c: s.knn_graph(
            df, *q, k=2, nprobe=0, centroids=c
        ),
    }


@pytest.mark.parametrize(
    "caller",
    ["ivf_topk", "ivf_pq_topk", "hard_negatives", "ivf_range_search",
     "knn_graph"],
)
def test_probe_count_below_one_is_rejected(spark, caller):
    """nprobe=0 is an error, not an empty result (a row_number <= 0 cut
    kept no probe) and not a silent nprobe=1."""
    df = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(6)],
        "vec_id long, v array<double>, label int",
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [5.0, 1.0])],
        "centroid_id long, __cent array<double>",
    )
    with pytest.raises(ValueError, match="probe count"):
        _probe_callers()[caller](df, cents)


def test_nearest_centroid_rule_lives_in_the_kernel():
    """``sq_dist(`` meets a centroid or codebook frame only inside
    ``_nearest_centroids``: linalg.py never spells it, and the other
    similarity.py calls are the definition and the PQ lookup-table build
    (``_adc_topk``), which scores every code and picks no argmin."""
    from calp_cva_tracking_pipeline_spark.operators import linalg, similarity

    for mod, want in (
        (similarity, {"sq_dist": 1, "_nearest_centroids": 1, "_adc_topk": 1}),
        (linalg, {}),
    ):
        hits = {
            name: n
            for name, fn in inspect.getmembers(mod, inspect.isfunction)
            if fn.__module__ == mod.__name__
            and (n := inspect.getsource(fn).count("sq_dist("))
        }
        assert hits == want, (mod.__name__, hits)
        src = Path(mod.__file__).read_text(encoding="utf-8")
        assert src.count("sq_dist(") == sum(want.values()), mod.__name__


# ---------------------------------------------------------------------------
# the IVF search family: filtered search and the k-NN graph serving path
# ---------------------------------------------------------------------------


def test_filtered_ann_only_matching_labels_and_true_topk(spark):
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        ivf_filtered_topk,
    )

    # 1 centroid -> every vector in one cell: the filtered search IS
    # the exact filtered top-k, so the contract is directly checkable
    rows = [
        (0, [1.0, 0.0], 9),          # query (label irrelevant)
        (1, [1.0, 0.1], 1),          # closest overall, WRONG label
        (2, [1.0, 0.2], 2),          # right label, 2nd closest
        (3, [0.0, 1.0], 2),          # right label, far
        (4, [1.0, 0.05], None),      # NULL label never matches
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    q = df.filter("vec_id = 0")
    out = ivf_filtered_topk(
        df, q, "vec_id", "embedding", "vec_id", "embedding",
        "label", 2, n_centroids=1, nprobe=1, k=2,
    ).collect()
    assert [(r.neighbor_id, r.rank) for r in out] == [(2, 1), (3, 2)]
    # the wrong-label closest vector never appears
    assert all(r.neighbor_id != 1 for r in out)


def test_filtered_ann_prebuilt_cells_requires_centroids(spark):
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        ivf_filtered_topk,
    )

    df = spark.createDataFrame(
        [(0, [1.0], 1)], "vec_id long, embedding array<double>, label int"
    )
    with pytest.raises(ValueError, match="requires the `centroids`"):
        ivf_filtered_topk(
            df, df, "vec_id", "embedding", "vec_id", "embedding",
            "label", 1, cells=df,
        )


def test_knn_graph_serve_path_identical_to_cold_build(spark, sf_dir):
    """The bench's emb_knn_graph_serve entry (prebuilt cached centroids)
    must emit EXACTLY the cold build+search edges — centroid training is
    deterministic, so reusing the quantizer may change only the timing,
    never the graph."""
    import bench
    from calp_cva_tracking_pipeline_spark.catalog.scale import (
        emb_knn_graph,
    )

    bench._KNN_CENTROID_CACHE.clear()
    cold = {tuple(r) for r in emb_knn_graph(spark, sf_dir).collect()}
    served = {
        tuple(r) for r in bench._knn_graph_serve(spark, sf_dir).collect()
    }
    assert served == cold and len(cold) > 0
    # second call reuses the cache (no retrain) and still matches
    served2 = {
        tuple(r) for r in bench._knn_graph_serve(spark, sf_dir).collect()
    }
    assert served2 == cold
    bench._KNN_CENTROID_CACHE.clear()


# ---------------------------------------------------------------------------
# the score-and-rank kernel (_cosine_topk) vs a pure-Python rule
# ---------------------------------------------------------------------------


def _ref_cosine_topk(queries, corpus, k, floor=None):
    """Per query id, its ``k`` best (neighbour id, cosine): cosine =
    round(dot / (|q|·|c|), 6) with every sum folded left from 0.0, the
    query itself excluded, cosine >= ``floor``, ordered by cosine desc
    then the lower neighbour id."""

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    out = {}
    for qid, qv in queries:
        scored = sorted(
            (-cos, cid)
            for cid, cv in corpus
            if cid != qid
            for cos in [
                round(
                    dot(qv, cv) / (math.sqrt(dot(qv, qv)) * math.sqrt(dot(cv, cv))),
                    6,
                )
            ]
            if floor is None or cos >= floor
        )
        out[qid] = [(cid, -neg) for neg, cid in scored[:k]]
    return out


# ids 4 and 9 share a vector, and 2 / 5 mirror each other about the x
# axis: query 0 meets two exact cosine ties (0.707107 and 0.6)
_CORPUS = [
    (0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [3.0, -4.0]), (5, [3.0, 4.0]),
    (4, [1.0, 1.0]), (9, [1.0, 1.0]), (7, [-1.0, 0.5]),
]
_QUERIES = [(0, [1.0, 0.0]), (100, [1.0, 1.0]), (101, [0.3, -0.7])]


def _kernel_topk(spark, queries, corpus, k, floor=None):
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        _cosine_topk,
    )

    q = spark.createDataFrame(queries, "query_id long, __qvec array<double>")
    c = spark.createDataFrame(corpus, "neighbor_id long, __cvec array<double>")
    return _ranked(_cosine_topk(q, c, None, k, floor=floor).collect())


def _ranked(rows):
    got = {}
    for r in sorted(rows, key=lambda r: (r[0], r["rank"])):
        got.setdefault(r[0], []).append((r[1], r[-2]))
        assert r["rank"] == len(got[r[0]])
    return got


def test_cosine_kernel_ties_break_on_lower_neighbour_and_skip_self(spark):
    """Equal cosines rank the lower neighbour id first, and a query that
    is also a corpus row never meets itself."""
    ref = _ref_cosine_topk(_QUERIES, _CORPUS, 4)
    assert ref[0] == [(4, 0.707107), (9, 0.707107), (2, 0.6), (5, 0.6)]
    assert ref[100][:2] == [(4, 1.0), (9, 1.0)]
    assert _kernel_topk(spark, _QUERIES, _CORPUS, 4) == ref


def test_cosine_kernel_k_above_candidate_count_keeps_every_candidate(spark):
    """k larger than the candidates keeps each candidate once, ranked
    1..n; the self-excluded query has one candidate fewer."""
    ref = _ref_cosine_topk(_QUERIES, _CORPUS, 50)
    assert len(ref[0]) == len(_CORPUS) - 1
    assert len(ref[100]) == len(_CORPUS)
    assert _kernel_topk(spark, _QUERIES, _CORPUS, 50) == ref


def test_cosine_kernel_range_floor_is_inclusive(spark):
    """A neighbour exactly at the floor stays: query 0's 0.6 pair survives
    a 0.6 floor, in the kernel and through ivf_range_search (one cell, so
    the probe sees the whole corpus)."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        ivf_range_search,
    )

    ref = _ref_cosine_topk(_QUERIES, _CORPUS, 50, floor=0.6)
    assert ref[0] == [(4, 0.707107), (9, 0.707107), (2, 0.6), (5, 0.6)]
    assert _kernel_topk(spark, _QUERIES, _CORPUS, 50, floor=0.6) == {
        qid: v for qid, v in ref.items() if v
    }
    df = spark.createDataFrame(_CORPUS, "vec_id long, v array<double>")
    got = _ranked(
        ivf_range_search(
            df, spark.createDataFrame(_QUERIES[:1], "vec_id long, v array<double>"),
            "vec_id", "v", "vec_id", "v", 0.6, n_centroids=1, nprobe=1,
        ).collect()
    )
    assert got == {0: ref[0]}


def test_cosine_kernel_all_pairs_mode_ranks_from_both_ends(spark):
    """c=None (the knn_graph mode) scores each undirected pair once and
    ranks it from both ends: with every row in one cell it equals the
    rule with the corpus as its own query set."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        _cosine_topk,
    )

    q = spark.createDataFrame(
        [(i, v, 0) for i, v in _CORPUS],
        "query_id long, __qvec array<double>, __cell int",
    )
    got = _ranked(_cosine_topk(q, None, "__cell", 3).collect())
    assert got == _ref_cosine_topk(_CORPUS, _CORPUS, 3)


def test_cosine_score_and_neighbour_cut_live_in_the_kernels():
    """The cosine ``dot(…) / (…*…)`` is spelled only in ``_cosine_topk``
    and the per-query ``row_number()`` cut only in ``_rank_cut`` (the
    cosine and ADC searches both rank through it). The other
    ``row_number()`` calls rank centroids (``_nearest_centroids``) and
    per-cell outliers (``embedding_outliers``), not neighbours;
    ``pair_cosine_hist`` buckets pair cosines in micro-units and ranks
    nothing; ``graph_search_frontier`` spells its beam in SQL."""
    from calp_cva_tracking_pipeline_spark.operators import similarity

    cosine = re.compile(r"dot\((?:[^()]|\([^()]*\))*\)\s*/\s*\(")
    want_cos = {"_cosine_topk": 1, "pair_cosine_hist": 1}
    want_cut = {"_rank_cut": 1, "_nearest_centroids": 1,
                "embedding_outliers": 1}
    got_cos, got_cut = {}, {}
    for name, fn in inspect.getmembers(similarity, inspect.isfunction):
        if fn.__module__ != similarity.__name__:
            continue
        src = inspect.getsource(fn)
        if n := len(cosine.findall(src)):
            got_cos[name] = n
        if n := src.count("row_number()"):
            got_cut[name] = n
    assert (got_cos, got_cut) == (want_cos, want_cut)
    src = Path(similarity.__file__).read_text(encoding="utf-8")
    assert len(cosine.findall(src)) == sum(want_cos.values())
    assert src.count("row_number()") == sum(want_cut.values())


def test_oracle_d2_is_null_where_sq_dist_is(spark):
    """The DuckDB d² fragment and ``sq_dist`` agree where a term is NULL:
    a NULL element or a length mismatch makes the distance NULL on both
    engines (list_sum would skip the NULL terms and return 5.0 and 1.0)."""
    from calp_cva_tracking_pipeline_spark.catalog.scale import _D2
    from calp_cva_tracking_pipeline_spark.operators.similarity import sq_dist

    cases = [
        ([1.0, None, 2.0], [0.0, 0.0, 0.0]),
        ([1.0], [0.0, 3.0]),
        ([1.0, 2.0], [0.5, 0.25]),
    ]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(cases)],
        "i int, a array<double>, b array<double>",
    )
    spark_d2 = [
        r[1]
        for r in sorted(
            df.select("i", F.round(sq_dist(F.col("a"), F.col("b")), 6))
            .collect()
        )
    ]
    con = duckdb.connect()
    duck_d2 = [
        con.execute(
            f"SELECT {_D2.format(a='a', b='b')}"
            " FROM (SELECT ?::DOUBLE[] AS a, ?::DOUBLE[] AS b)",
            [a, b],
        ).fetchone()[0]
        for a, b in cases
    ]
    assert spark_d2 == duck_d2 == [None, None, 3.3125]
