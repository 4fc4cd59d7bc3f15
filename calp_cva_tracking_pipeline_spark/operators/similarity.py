"""Similarity search over embedding columns (beyond-reference capability).

Three tiers: brute-force cosine top-k is the correctness baseline;
hyperplane-LSH ANN and IVF (inverted-file cells + nprobe search) are the
scale paths (candidates per query ≈ corpus/2^planes resp. corpus·nprobe/
n_centroids instead of full corpus). LSH needs no training and its recall
is data-independent; IVF exploits cluster structure in real embedding
distributions for better recall at the same candidate budget. Dot products
run as JVM higher-order functions (zip_with + aggregate) — no Python in
the loop, whole-stage codegen applies.

At 100 TB the corpus side is hash-partitioned once and reused across query
batches; the (small) query set is broadcast so the scan side never shuffles.

Measured recall@5 vs brute force on the synthetic testdata at sf0.01
(uniform random 64-d vectors — LSH's worst case, no cluster structure):
IVF 0.925 at nprobe=2/16 (~1/8 of corpus scored) and 0.950 at nprobe=8;
multi-table LSH 0.40 at 4 planes x 4 tables (~1/4 of corpus), matching the
hyperplane collision math p = (1 - theta/pi)^planes OR'd across tables.
IVF is the default scale tier; LSH remains the no-training fallback.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.operators.partitioning import (
    spread_small_input,
)


def random_planes(
    n_planes: int, dim: int, seed: int = 42
) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from a fixed LCG.

    Components are in [-1, 1); reproducible across runs/engines without
    numpy's RNG (same reasoning as functions.hashing.minhash_params).
    ``dim`` is the embedding dimensionality — a declared schema constant,
    not probed from data (no driver-side action in plan construction).
    Different ``seed`` values give independent LSH tables.
    """
    planes, state = [], seed
    for _ in range(n_planes):
        comps = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (2**31)
            comps.append(state / float(2**30) - 1.0)
        planes.append(comps)
    return planes


def dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    queries × corpus via broadcast of the (small) query side — the corpus
    scan stays shuffle-free; ranking is a per-query-key window. Ordering key
    is (rounded cosine desc, id) so ranks are stable under float jitter.
    Returns (query_id, neighbor_id, cosine, rank).
    """
    # norms fold ONCE per query row / corpus row instead of once per
    # pair (the r12 knn_graph rewrite applied to the brute kernel —
    # higher-order folds run interpreted, so per-pair work was 3 folds
    # where 1 suffices). Bit-identical: cosine = dot/(nq*nc) is the
    # same IEEE expression — the sqrt folds produce identical doubles
    # and the multiplication order is unchanged.
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qvec"),
    ).withColumn("__qnrm", norm(F.col("__qvec")))
    c = spread_small_input(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    ).withColumn("__cnrm", norm(F.col("__cvec")))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qnrm") * F.col("__cnrm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def plane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id of ``vec`` against ``planes`` (bit i set iff
    vec · plane_i >= 0). Pure JVM expression."""
    bits = [
        F.when(
            dot(vec, F.array(*[F.lit(x) for x in plane])) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        for i, plane in enumerate(planes)
    ]
    b = bits[0]
    for t in bits[1:]:
        b = b + t
    return b


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 2,
    seed: int = 42,
    n_probe_flips: int = 0,
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH bucket join, exact cosine within
    bucket. The scale path — candidate count per table drops
    ~2^n_planes-fold versus brute force.

    Recall comes from OR-amplification over ``n_tables`` independent hash
    tables (per-table seed offsets): a neighbor is a candidate if it
    collides with the query in ANY table. A single table's recall cliffs for
    neighbors near a hyperplane; with T tables the miss probability decays
    as (1 - p^b)^T.

    ``n_probe_flips`` adds MULTIPROBE on top (Lv et al., VLDB'07): each
    query also probes every bucket within Hamming distance
    ``n_probe_flips`` of its own sign pattern, per table — the buckets a
    true neighbor most likely fell into when it landed on the far side of
    a hyperplane. Recall rises without any extra tables or corpus-side
    state: ONLY the query-side probe list widens (by
    sum(C(n_planes, r) for r <= flips) entries), and the query side is
    the broadcast side, so corpus scan cost and index memory are
    unchanged — multiprobe trades candidate-set size for recall at
    constant storage, where n_tables trades storage. Measured on the
    uniform-random testdata at the 4x4 operating point: recall@5
    0.40 -> 0.90 (1 flip, probing 5/16 of the bucket space) -> 1.00
    (2 flips, 11/16 — at 4 planes that is most of the corpus, so prefer
    more planes + 1 flip at scale). SCALE.md's quality table carries the
    grid; tests/test_ivf.py pins the 1-flip floor.

    Shape for 100 TB: ONE corpus pass — every table's bucket id is computed
    in a single projection and exploded to (table, bucket) rows, then one
    broadcast join against the query side's identically-exploded probe set.
    (A per-table union of joins would plan ``n_tables`` full copies of the
    corpus scan pipeline — the same 0-ReusedExchange trap as a self-join.)
    The corpus is never shuffled; the per-pair groupBy (pairs colliding in
    several tables score identically) shuffles only the candidate set,
    which is ≪ corpus. Same output schema as brute_force_topk.
    """
    tables = [
        (t, random_planes(n_planes, dim=dim, seed=seed + 1000 * t))
        for t in range(n_tables)
    ]

    def _buckets(vec: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    plane_bucket(vec, planes).alias("bkt"),
                )
                for t, planes in tables
            ]
        )

    # norms fold once per (row, table) entry instead of once per pair
    # (the r12 knn_graph pattern; bit-identical — see brute_force_topk)
    ct = (
        spread_small_input(corpus)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cvec"),
            F.explode(_buckets(F.col(vec_col))).alias("__tb"),
        )
        .select(
            "neighbor_id",
            "__cvec",
            F.col("__tb.tbl").alias("__tbl"),
            F.col("__tb.bkt").alias("__bkt"),
        )
        .withColumn("__cnrm", norm(F.col("__cvec")))
    )
    # multiprobe: the query side additionally probes every bucket whose
    # sign pattern differs in <= n_probe_flips bits (XOR masks); corpus
    # side stays single-bucket
    from itertools import combinations

    flip_masks = [
        sum(1 << i for i in comb)
        for r in range(1, n_probe_flips + 1)
        for comb in combinations(range(n_planes), r)
    ]

    def _probe_buckets(vec: Column) -> Column:
        entries = []
        for t, planes in tables:
            b = plane_bucket(vec, planes)
            entries.append(
                F.struct(F.lit(t).alias("tbl"), b.alias("bkt"))
            )
            entries.extend(
                F.struct(
                    F.lit(t).alias("tbl"),
                    b.bitwiseXOR(F.lit(m)).alias("bkt"),
                )
                for m in flip_masks
            )
        return F.array(*entries)

    qt = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("__qvec"),
            F.explode(_probe_buckets(F.col(query_vec_col))).alias("__tb"),
        )
        .select(
            "query_id",
            "__qvec",
            F.col("__tb.tbl").alias("__tbl"),
            F.col("__tb.bkt").alias("__bkt"),
        )
        .withColumn("__qnrm", norm(F.col("__qvec")))
    )
    scored = (
        ct.join(F.broadcast(qt), ["__tbl", "__bkt"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qnrm") * F.col("__cnrm")),
                6,
            ).alias("cosine"),
        )
    )
    dedup = scored.groupBy("query_id", "neighbor_id").agg(
        F.max("cosine").alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        dedup.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def sq_dist(a: Column, b: Column) -> Column:
    """Sequential-order squared L2 distance of two array columns (no sqrt:
    monotone for ranking, one libm call fewer to disagree across engines)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Auto cell-size budget for the ALL-PAIRS family (knn_graph,
# semantic_dedup): K = ceil(N/128) keeps rows-per-cell constant as the
# corpus grows, so the within-cell pair volume (sum(|cell|²) ≈ N·128)
# stays LINEAR in N — the property the 8× probes check. 128 is the
# measured sweet spot (SCALE.md: 16000 vectors at 128-row cells = 2.0M
# pairs, ~4s; recall grows with cell size, work grows linearly with it).
DEFAULT_CELL_SIZE = 128


def auto_n_centroids(
    corpus: DataFrame, target_cell_size: int | None = None
) -> int:
    """Corpus-derived coarse-quantizer size, ONE bounded driver statistic
    (a single long from ``count()``).

    Two regimes, because search and all-pairs scale differently:

    - ``target_cell_size=None`` → ceil(sqrt(N)): the SEARCH-optimal rule
      (per query, probe ranking costs K and cell scanning costs
      nprobe·N/K; K=√N minimizes the sum — the standard FAISS sizing,
      K ∈ [√N, 16√N]). Used by ivf_topk/train_centroids defaults.
    - ``target_cell_size=c`` → ceil(N/c): the ALL-PAIRS rule — constant
      rows-per-cell keeps sum(|cell|²) ≈ N·c linear in N. Used by
      knn_graph/semantic_dedup defaults (DEFAULT_CELL_SIZE); a FIXED
      n_centroids there is quadratic — measured 20× time at 8× corpus
      with 16 cells vs 2.3× with corpus-scaled cells (SCALE.md).

    Corpora with a persisted index (persist_ivf_index / explicit
    ``centroids=``) never pay the count, and callers with domain
    knowledge still pass an explicit ``n_centroids``.
    """
    n = corpus.count()
    if n <= 0:
        return 1
    if target_cell_size and target_cell_size > 0:
        k = -(-n // target_cell_size)
    else:
        k = math.ceil(math.sqrt(n))
    return max(1, min(int(k), n))


# Lloyd assignment strategy cut-over: up to this many centroids the
# per-row argmin inlines as a literal struct-array expression (zero
# shuffle); past it the expression tree would dwarf codegen limits, so
# the state re-enters as a broadcast literal local relation instead.
_LLOYD_INLINE_K = 64


def train_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int | None,
    iters: int = 0,
) -> DataFrame:
    """Deterministic IVF coarse quantizer → (centroid_id long, __cent vec).

    ``n_centroids=None`` auto-sizes to ceil(sqrt(N)) via
    ``auto_n_centroids`` — the scale-safe default (fixed cell counts go
    quadratic; see that docstring). Explicit values remain for tuned
    operating points (e.g. the documented nprobe/recall tradeoffs).

    Init takes the ``n_centroids`` lowest-id corpus vectors (deterministic
    and oracle-expressible; ids in this engine are synthetic/hashed, so the
    pick is unclustered) via ``orderBy(id).limit(n)`` — Catalyst plans a
    distributed TakeOrderedAndProject (per-partition top-n, tiny merge), so
    the init never funnels the corpus through one task. (The previous
    unpartitioned row_number window was a single-partition global sort — a
    100 TB-killer for the one-time index build.) The centroid id IS the
    source vector id: probe ordering and cell joins only need a distinct,
    deterministically ordered key, and reusing the id keeps the plan free of
    any global renumbering step.

    ``iters`` Lloyd refinement passes follow, with DRIVER-RESIDENT
    centroid state (model state is k·d-bounded by definition — the
    MLlib KMeans shape): each round assigns via a map-side argmin
    against the literal centroids (zero-shuffle for k ≤
    ``_LLOYD_INLINE_K``; a broadcast literal relation past that), runs
    ONE (cell, dim)-keyed mean exchange, and collects the k new
    centroids. Refinement is ORACLE-EXACT since round 7: each
    per-dimension mean accumulates as DECIMAL (order-independent —
    addition order cannot change it), divides once in double and
    rounds to 6 dp before becoming the next centroid coordinate, so
    every iteration is a deterministic function of the previous one
    that an unrolled SQL CTE replays bit-for-bit (the PageRank/EWMA
    integer discipline applied to Lloyd; a collected double re-enters
    as an exact literal). A cell that loses all members keeps its
    previous centroid — an iteration must never shrink k.
    """
    if n_centroids is None:
        n_centroids = auto_n_centroids(corpus)
    cent = (
        corpus.select(F.col(id_col).alias("__cid0"), F.col(vec_col).alias("__cent"))
        .orderBy("__cid0")
        .limit(n_centroids)
        .select(F.col("__cid0").cast("long").alias("centroid_id"), "__cent")
    )
    if iters == 0:
        return cent
    # Lloyd refinement keeps the centroid state DRIVER-RESIDENT (the
    # MLlib KMeans design: centroids are model state, k·d-bounded by
    # definition, broadcast each round). The previous all-DataFrame
    # loop referenced the evolving `cent` frame TWICE per round
    # (broadcast inside assign + the rebuild left join), duplicating
    # the whole upstream lineage 2^iters ways, and each assign paid a
    # crossJoin + argmin exchange + a corpus re-join — round-14
    # verdict flagged it at 9.37x the DuckDB proxy. With literal
    # centroids the assignment is a MAP-SIDE argmin (no shuffle, no
    # join), so each round is ONE corpus scan + ONE (cell, dim)-keyed
    # mean exchange (map-side combined, k·d-bounded), and the collect
    # moves only model-sized rows. Values are bit-identical: the same
    # rounded-d² struct-min tie-broken on cid, the same DECIMAL(27,9)
    # mean accumulation rounded to 6 dp — a collected double re-enters
    # as an exact literal (A/B in BENCH_DETAIL.json, r15).
    state = [
        (int(r["centroid_id"]), [float(x) for x in r["__cent"]])
        for r in cent.collect()
        # a NULL vector cannot serve as a centroid (null-burst inputs:
        # the lazy form produced NULL distances that never won a tie)
        if r["__cent"] is not None
    ]
    if not state:
        # empty corpus: zero centroids in, zero out (the old lazy loop
        # degenerated the same way via its empty crossJoin)
        return corpus.sparkSession.createDataFrame(
            [], "centroid_id long, __cent array<double>"
        )
    base = corpus.select(
        F.col(id_col).alias("__aid"), F.col(vec_col).alias("__avec")
    )
    spark = corpus.sparkSession
    for _ in range(iters):
        if len(state) <= _LLOYD_INLINE_K:
            # inline-literal argmin: array_min over per-centroid
            # (rounded d², cid) structs — identical lexicographic
            # semantics to assign_cells' min-of-struct aggregate. The
            # expression is built as ONE SQL string: per-Column py4j
            # construction costs ~0.5s/round at k·d=512 literals (the
            # documented F.expr ~10x plan-build speedup), and a string
            # double literal parses correctly-rounded, so a collected
            # double re-enters exactly.
            structs = ", ".join(
                "named_struct('d2', round(aggregate(zip_with(__avec, "
                f"array({', '.join(f'CAST({v!r} AS DOUBLE)' for v in vec)}), "
                "(x, y) -> (CAST(x AS DOUBLE) - y) * "
                "(CAST(x AS DOUBLE) - y)), CAST(0.0 AS DOUBLE), "
                f"(acc, v) -> acc + v), 6), 'cid', CAST({cid} AS BIGINT))"
                for cid, vec in state
            )
            assigned = base.select(
                F.expr(f"array_min(array({structs})).cid").alias(
                    "__cell"
                ),
                "__avec",
            )
        else:
            # wide-k fallback: the state re-enters as a LITERAL local
            # relation (no lineage behind the broadcast), same
            # crossJoin + struct-min argmin as assign_cells, but the
            # means read the argmin's carried vector — no corpus
            # re-join
            cframe = spark.createDataFrame(
                state, "centroid_id long, __cent array<double>"
            )
            assigned = (
                base.crossJoin(F.broadcast(cframe))
                .select(
                    "__aid",
                    # vec rides INSIDE the argmin struct (cid is unique,
                    # so comparison never reaches it) — the means need
                    # no corpus re-join
                    F.struct(
                        F.round(
                            sq_dist(F.col("__avec"), F.col("__cent")), 6
                        ).alias("d2"),
                        F.col("centroid_id").alias("cid"),
                        F.col("__avec").alias("vec"),
                    ).alias("__dc"),
                )
                .groupBy("__aid")
                .agg(F.min("__dc").alias("__dc"))
                .select(
                    F.col("__dc.cid").alias("__cell"),
                    F.col("__dc.vec").alias("__avec"),
                )
            )
        # ONE (cell, dim)-keyed exchange; the k·d mean rows collect
        # directly (model-sized) and reassemble in Python — no second
        # per-cell aggregation stage
        mean_rows = (
            assigned.select(
                "__cell", F.posexplode("__avec").alias("__pos", "__val")
            )
            .groupBy("__cell", "__pos")
            .agg(
                F.round(
                    F.sum(
                        F.col("__val").cast("double").cast("decimal(27,9)")
                    ).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("__mean")
            )
            .collect()
        )
        new: dict[int, dict[int, float]] = {}
        for r in mean_rows:
            new.setdefault(int(r["__cell"]), {})[int(r["__pos"])] = float(
                r["__mean"]
            )
        new = {
            cid: [pm[p] for p in sorted(pm)] for cid, pm in new.items()
        }
        # a cell that loses all members keeps its previous centroid —
        # an iteration must never shrink k (the old left join+coalesce)
        state = [(cid, new.get(cid, vec)) for cid, vec in state]
    return spark.createDataFrame(
        state, "centroid_id long, __cent array<double>"
    )


def assign_cells(
    corpus: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """IVF index build: corpus + ``__cell`` = nearest centroid id.

    Distances are computed against broadcast centroids and reduced to the
    argmin as a min-of-struct over (rounded d², centroid_id) — ties break on
    centroid id, deterministically. Only (id, d², cid) tuples shuffle for
    the argmin; the corpus vectors shuffle ONCE in the join that attaches
    the winning cell. At scale this is the one-time index build — persist
    the result bucketed by ``__cell`` (sources.bucketed.write_bucketed) and
    every search is exchange-free on the corpus side.
    """
    dists = corpus.select(
        F.col(id_col).alias("__aid"), F.col(vec_col).alias("__avec")
    ).crossJoin(F.broadcast(centroids))
    best = (
        dists.select(
            "__aid",
            F.struct(
                F.round(sq_dist(F.col("__avec"), F.col("__cent")), 6).alias(
                    "d2"
                ),
                F.col("centroid_id").alias("cid"),
            ).alias("__dc"),
        )
        .groupBy("__aid")
        .agg(F.min("__dc").alias("__dc"))
        .select("__aid", F.col("__dc.cid").alias("__cell"))
    )
    return corpus.join(
        best, F.col(id_col) == F.col("__aid"), "inner"
    ).drop("__aid")


def persist_ivf_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    table: str,
    n_centroids: int | None = None,
    num_buckets: int = 16,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """One-time IVF index build, persisted for exchange-free search.

    Trains (or takes) the coarse centroids, assigns every corpus vector to
    its cell, and writes the assignment BUCKETED by ``__cell``
    (sources.bucketed.write_bucketed) as ``table``, with the centroids
    saved alongside as ``{table}_centroids``. Reloading via
    ``load_ivf_index`` and passing both to ``ivf_topk(cells=...,
    centroids=...)`` makes every search a bucketed scan + broadcast probe
    join: the corpus is never re-assigned and never shuffled — the shape
    SCALE.md promises for the 100 TB search path, proven by
    tests/test_ivf.py::test_ivf_persisted_index_search_is_exchange_free.
    """
    from calp_cva_tracking_pipeline_spark.sources.bucketed import (
        write_bucketed,
    )

    cent = centroids if centroids is not None else train_centroids(
        corpus, id_col, vec_col, n_centroids
    )
    cells = assign_cells(corpus, cent, id_col, vec_col)
    write_bucketed(cells, table, ["__cell"], num_buckets=num_buckets)
    cent.write.mode("overwrite").format("parquet").saveAsTable(
        f"{table}_centroids"
    )
    return cent


def load_ivf_index(spark, table: str) -> tuple[DataFrame, DataFrame]:
    """(cells, centroids) back from ``persist_ivf_index`` — cells carry
    their bucket metadata through the catalog read."""
    return spark.table(table), spark.table(f"{table}_centroids")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    n_centroids: int | None = None,
    nprobe: int = 4,
    k: int = 5,
    centroids: DataFrame | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) cells — the third ANN tier
    next to brute force and hyperplane LSH.

    Corpus vectors are binned to their nearest coarse centroid; each query
    probes its ``nprobe`` nearest cells and scores exact cosine only there —
    a candidate-set reduction of ~n_centroids/nprobe versus brute force.
    Recall depends on how well cells capture neighborhood structure:
    clustered real-world embeddings probe few cells for high recall, while
    uniform random vectors degrade toward nprobe/n_centroids — measure on
    deployment data before sizing (tests/test_ivf.py pins both parity and
    a recall floor vs brute force).

    Shape for 100 TB: centroids broadcast everywhere (a few KB); the cell
    assignment is the one-time index build (see assign_cells /
    persist_ivf_index — persist it bucketed by cell and pass it back via
    ``cells``); probe lists are query-side-small and broadcast into the
    cell join, so searches never shuffle the corpus. Same output schema as
    brute_force_topk.

    ``cells``: a prebuilt index (corpus columns + ``__cell``, e.g. from
    load_ivf_index) — requires ``centroids`` from the same build; when
    given, ``corpus`` is ignored and no assignment runs at search time.
    """
    if cells is not None and centroids is None:
        raise ValueError(
            "ivf_topk: a prebuilt `cells` index requires the `centroids` "
            "it was built with (load_ivf_index returns both)"
        )
    cent = centroids if centroids is not None else train_centroids(
        corpus, id_col, vec_col, n_centroids
    )
    if cells is None:
        cells = assign_cells(corpus, cent, id_col, vec_col)
    # norms fold once per corpus row / query row instead of once per
    # (probe-cell x corpus-row) pair (the r12 knn_graph pattern;
    # bit-identical — see brute_force_topk)
    cells = cells.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        "__cell",
    ).withColumn("__cnrm", norm(F.col("__cvec")))
    qd = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qvec"),
    ).crossJoin(F.broadcast(cent))
    pw = Window.partitionBy("query_id").orderBy(
        F.round(sq_dist(F.col("__qvec"), F.col("__cent")), 6),
        F.col("centroid_id"),
    )
    probes = (
        qd.withColumn("__pr", F.row_number().over(pw))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "__qvec", F.col("centroid_id").alias("__cell"))
        .withColumn("__qnrm", norm(F.col("__qvec")))
    )
    scored = (
        cells.join(F.broadcast(probes), ["__cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qnrm") * F.col("__cnrm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------


def _explode_subspaces(
    df: DataFrame, id_alias: str, vec_col: str, m: int, dim: int
) -> DataFrame:
    """(id, vec) → (id, m, sub): the vector split into ``m`` contiguous
    subvectors of dim/m. Pure projection + explode — no shuffle."""
    sub = dim // m
    return (
        df.select(
            F.col(id_alias),
            F.explode(F.array(*[F.lit(i) for i in range(m)])).alias("m"),
            F.col(vec_col).alias("__v"),
        )
        .select(
            id_alias,
            "m",
            F.slice(F.col("__v"), F.col("m") * sub + 1, sub).alias("__sub"),
        )
    )


def pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k: int = 16,
    dim: int = 64,
    iters: int = 0,
) -> DataFrame:
    """Deterministic PQ codebooks → (m, centroid_id, __cb): per-subspace
    centroids initialized from the ``k`` lowest-id corpus vectors'
    subvectors (the same oracle-expressible init as ``train_centroids``;
    the limit plans as TakeOrderedAndProject, never a global sort).

    ``iters`` per-subspace Lloyd passes follow: each assigns every
    corpus subvector to its nearest centroid (broadcast codebooks,
    rounded-d² struct-min) and rebuilds centroids as per-dimension means
    — every subspace refines in the SAME distributed jobs (the subspace
    id is just another grouping key), so a pass costs one assign + one
    explode-groupBy regardless of ``m``. Like IVF, refinement is
    float-iteration-order sensitive, so oracle-verified flows pin
    iters=0; the measured effect on clustered data is in
    tests/test_pq.py::test_lloyd_refinement_improves_recall_on_clusters.
    Empty cells keep their previous centroid (left join + coalesce) —
    k never shrinks."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    base = (
        corpus.select(
            F.col(id_col).cast("long").alias("centroid_id"),
            F.col(vec_col).alias("__bv"),
        )
        .orderBy("centroid_id")
        .limit(k)
    )
    cb = _explode_subspaces(
        base.withColumnRenamed("__bv", "__cv"), "centroid_id", "__cv", m, dim
    ).withColumnRenamed("__sub", "__cb")
    if not iters:
        return cb
    rows = _explode_subspaces(
        corpus.select(
            F.col(id_col).alias("__id"), F.col(vec_col).alias("__ev")
        ),
        "__id",
        "__ev",
        m,
        dim,
    )
    for _ in range(iters):
        assigned = (
            rows.join(F.broadcast(cb), "m")
            .select(
                "__id",
                "m",
                "__sub",
                F.struct(
                    F.round(
                        sq_dist(F.col("__sub"), F.col("__cb")), 6
                    ).alias("d2"),
                    F.col("centroid_id").alias("cid"),
                ).alias("__dc"),
            )
            .groupBy("__id", "m", "__sub")
            .agg(F.min("__dc").alias("__dc"))
            .select("m", F.col("__dc.cid").alias("centroid_id"), "__sub")
        )
        means = (
            assigned.select(
                "m",
                "centroid_id",
                F.posexplode("__sub").alias("__pos", "__val"),
            )
            .groupBy("m", "centroid_id", "__pos")
            .agg(F.avg("__val").alias("__mean"))
            .groupBy("m", "centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__mean"))
                ).alias("__pm")
            )
            .select(
                "m",
                "centroid_id",
                F.transform(F.col("__pm"), lambda s: s["__mean"]).alias(
                    "__new"
                ),
            )
        )
        cb = (
            cb.join(means, ["m", "centroid_id"], "left")
            .select(
                "m",
                "centroid_id",
                F.coalesce(F.col("__new"), F.col("__cb")).alias("__cb"),
            )
        )
    return cb


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """PQ encoding → (id, m, code): per subspace, the nearest codebook
    centroid (rounded-d², centroid-id struct-min — deterministic ties).
    The corpus never joins itself: subvector rows meet the BROADCAST
    codebook (m·k rows), and only (id, m, d², cid) tuples reach the
    argmin shuffle. A 64-dim float vector compresses to m small codes —
    the memory story that lets a 100 TB corpus's index live in RAM."""
    rows = _explode_subspaces(
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__ev")),
        "__id",
        "__ev",
        m,
        dim,
    )
    return (
        rows.join(F.broadcast(codebooks), "m")
        .select(
            "__id",
            "m",
            F.struct(
                F.round(sq_dist(F.col("__sub"), F.col("__cb")), 6).alias(
                    "d2"
                ),
                F.col("centroid_id").alias("cid"),
            ).alias("__dc"),
        )
        .groupBy("__id", "m")
        .agg(F.min("__dc").alias("__dc"))
        .select("__id", "m", F.col("__dc.cid").alias("code"))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    m: int = 4,
    k_codebook: int = 16,
    k: int = 5,
    dim: int = 64,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search → (query_id, neighbor_id,
    adist, rank): queries score against CODES, not vectors — per query a
    broadcast lookup table of exact subvector-to-centroid distances, and
    each corpus code row sums its m table entries. Approximation error is
    the quantization residual; ranking is (rounded adist, id), ties
    deterministic.

    Determinism: per-subspace distances round to 6 dp then sum as
    integer micro-units (m addends, order-exact cross-engine). Scale
    shape: the ADC join is corpus-codes × broadcast LUT on (m, code) —
    one narrow shuffle for the per-pair aggregation, a per-query-key
    window for the cut; full-corpus ADC is O(n·m) table lookups per
    query BY DESIGN (production composes PQ inside IVF cells — encode
    ``assign_cells`` output per cell — so ADC touches only probed
    cells)."""
    # a codebook trained here feeds BOTH the corpus encode and the query
    # LUT — without a cut each consumer replans the corpus-scale
    # subspace-training aggregation (r15 static-plan audit). The frame
    # is m·k rows: cut once, broadcast cheaply to both. A caller-passed
    # codebook is left alone (the caller owns its lineage).
    cb = (codebooks if codebooks is not None else
          pq_codebooks(
              corpus, id_col, vec_col, m, k_codebook, dim
          ).localCheckpoint(eager=False))
    codes = pq_encode(corpus, cb, id_col, vec_col, m, dim)
    qrows = _explode_subspaces(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("__qv"),
        ),
        "query_id",
        "__qv",
        m,
        dim,
    )
    lut = qrows.join(F.broadcast(cb), "m").select(
        "query_id",
        "m",
        F.col("centroid_id").alias("code"),
        F.round(sq_dist(F.col("__sub"), F.col("__cb")), 6).alias("__d2m"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("__id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("__id").alias("neighbor_id"),
            F.round(F.col("__d2m") * 1e6, 0).cast("long").alias("__micro"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.round(F.sum("__micro") / F.lit(1e6), 6).alias("adist")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adist", "rank")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 4,
    k_codebook: int = 16,
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """IVF×PQ composition — the billion-scale ANN shape (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
    coarse IVF cells prune the corpus to ``nprobe`` probed cells per
    query, and scoring inside those cells runs in the COMPRESSED domain
    (ADC over PQ codes through the broadcast lookup table) → (query_id,
    neighbor_id, adist, rank). Candidate reduction ~n_centroids/nprobe
    AND per-candidate cost independent of ``dim`` — multiplying the two
    tiers' savings.

    Index state per corpus vector: one cell id + m codes; vectors are
    touched only at build time. Both quantizers use the deterministic
    lowest-id init (oracle contract; Lloyd/residual refinement is the
    offline quality path). Scale shape: cells and codes join on id at
    build; at search the code table joins broadcast probes then the
    broadcast LUT — the corpus-sized side never shuffles on anything
    but its one build exchange."""
    cent = train_centroids(corpus, id_col, vec_col, n_centroids)
    cells = assign_cells(corpus, cent, id_col, vec_col).select(
        F.col(id_col).alias("__id"), "__cell"
    )
    # same 2-consumer codebook cut as pq_topk (encode + LUT)
    cb = pq_codebooks(
        corpus, id_col, vec_col, m, k_codebook, dim
    ).localCheckpoint(eager=False)
    codes = pq_encode(corpus, cb, id_col, vec_col, m, dim)
    coded = codes.join(cells, "__id")
    qd = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qvec"),
    ).crossJoin(F.broadcast(cent))
    pw = Window.partitionBy("query_id").orderBy(
        F.round(sq_dist(F.col("__qvec"), F.col("__cent")), 6),
        F.col("centroid_id"),
    )
    probes = (
        qd.withColumn("__pr", F.row_number().over(pw))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", F.col("centroid_id").alias("__cell"))
    )
    qrows = _explode_subspaces(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("__qv"),
        ),
        "query_id",
        "__qv",
        m,
        dim,
    )
    lut = qrows.join(F.broadcast(cb), "m").select(
        "query_id",
        "m",
        F.col("centroid_id").alias("code"),
        F.round(sq_dist(F.col("__sub"), F.col("__cb")), 6).alias("__d2m"),
    )
    scored = (
        coded.join(F.broadcast(probes), "__cell")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .filter(F.col("__id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("__id").alias("neighbor_id"),
            F.round(F.col("__d2m") * 1e6, 0).cast("long").alias("__micro"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("__micro") / F.lit(1e6), 6).alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adist", "rank")
    )


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    m: int = 4,
    k_codebook: int = 16,
    shortlist: int = 25,
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Two-stage retrieval: PQ/ADC builds a ``shortlist`` per query in
    the compressed domain, then EXACT cosine re-ranks only the shortlist
    → (query_id, neighbor_id, cosine, rank). The production shape for
    compressed indexes: stage 1 touches codes only (memory-resident at
    any corpus size), stage 2 fetches ``shortlist`` full vectors per
    query — so exact-quality ranking costs O(shortlist), not O(corpus),
    and recall is bounded only by shortlist membership (measured: see
    SCALE.md's ANN table — rerank recovers most of the ADC tier's gap
    to brute force).

    Scale shape: the shortlist (queries × shortlist rows) joins corpus
    vectors on id — broadcast-sized against the corpus, so the vector
    fetch is one broadcast join, never a corpus shuffle; queries
    broadcast as usual.
    """
    pool = pq_topk(
        corpus, queries, id_col, vec_col, query_id_col, query_vec_col,
        m=m, k_codebook=k_codebook, k=shortlist, dim=dim,
    ).select("query_id", "neighbor_id")
    # norms fold once per side row instead of once per shortlist pair
    # (the r12 knn_graph pattern; bit-identical — see brute_force_topk)
    qv = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qvec"),
    ).withColumn("__qnrm", norm(F.col("__qvec")))
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
    ).withColumn("__cnrm", norm(F.col("__cvec")))
    scored = (
        cv.join(F.broadcast(pool), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qnrm") * F.col("__cnrm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def knn_graph(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int | None = None,
    nprobe: int = 1,
    centroids: DataFrame | None = None,
    pre_collapse_exact: bool = True,
) -> DataFrame:
    """Approximate k-NN graph over an embedding corpus — the
    all-points-to-all-points sibling of `ivf_topk` (queries ARE the
    corpus) and the substrate for graph-based curation: feed the edges
    into `connected_components`/`cluster_representatives` for semantic
    clustering, into PageRank for centrality-weighted sampling, or use
    degree as a redundancy score.

    Approximation contract: candidates are pairs sharing at least one of
    each node's ``nprobe`` nearest cells (the same cells-bound-the-
    quadratic design as SemDeDup — comparisons are sum(|cell|²)-scale,
    never N²). ``nprobe=1`` is the pure within-cell regime; a node near
    a cell boundary can miss a cross-cell true neighbor there, and
    ``nprobe=2`` closes exactly that: every node also meets its
    second-closest cell's population, recovering boundary neighbors
    DETERMINISTICALLY (unlike a stochastic NN-descent repair, which a
    cell-partitioned seed graph cannot bootstrap anyway — strictly
    within-cell edges never cross cells by 2-hop expansion) at ≤
    nprobe²× the comparison cost. Exact duplicates pre-collapse to
    their min-id representative (a k-replica family would otherwise
    spend its whole neighbor list on itself — the standard
    duplicate-mass guard of the embedding tier).

    Determinism: cosine rounds to 6 dp and ranks break ties on neighbor
    id, so the edge set is identical across layouts/engines (the oracle
    replays multi-cell assignment, cosine and rank cut verbatim); pairs
    meeting in several shared cells dedup by (id, neighbor) before
    ranking.

    Physical shape: one corpus shuffle for cell assignment (free with a
    persisted bucketed IVF index — pass `centroids` for nprobe=1), the
    shared-cell self-join, then one id-keyed rank-cut exchange bounded
    by the candidate-pair count. Output: (id, neighbor_id, sim,
    rank ≤ k).
    """
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from pyspark.sql import Window

    base = spread_small_input(df).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    )
    if pre_collapse_exact:
        base = base.groupBy("__vec").agg(F.min("__id").alias("__id"))
    if centroids is None:
        if n_centroids is None:
            # all-pairs regime: constant rows-per-cell, K ∝ N (the √N
            # search rule would leave sum(|cell|²) growing N^1.5)
            n_centroids = auto_n_centroids(df, DEFAULT_CELL_SIZE)
        centroids = train_centroids(df, id_col, vec_col, n_centroids)
    if nprobe <= 1:
        assigned = assign_cells(base, centroids, "__id", "__vec").select(
            "__id", "__vec", "__cell"
        )
    else:
        wd = Window.partitionBy("__id").orderBy(
            F.col("__d2").asc(), F.col("__cell").asc()
        )
        assigned = (
            base.crossJoin(F.broadcast(centroids))
            .select(
                "__id",
                "__vec",
                F.col("centroid_id").alias("__cell"),
                F.round(
                    sq_dist(F.col("__vec"), F.col("__cent")), 6
                ).alias("__d2"),
            )
            .withColumn("__crn", F.row_number().over(wd))
            .filter(F.col("__crn") <= nprobe)
            .select("__id", "__vec", "__cell")
        )
    # Perf shape (measured, round 12): higher-order-function folds run
    # INTERPRETED, so per-pair work dominates the query. Two exact
    # rewrites cut it ~6x with a bit-identical edge set: (a) each
    # node's norm folds ONCE here instead of once per pair (cosine =
    # dot/(nl*nr) is the same IEEE expression — sqrt folds are
    # identical doubles, multiplication order unchanged); (b) the
    # self-join keeps only id< pairs, folds ONE dot per undirected
    # pair (dot(a,b) ≡ dot(b,a): same index order, commutative
    # multiplies), and explodes to both directions afterwards.
    # r15: the cell-assignment subtree (pre-collapse groupBy, centroid
    # crossJoin + argmin/window, norm fold) feeds BOTH sides of the
    # shared-cell self-join, and a self-join of a derived DataFrame
    # plans two full copies of its upstream with zero exchange reuse
    # (the documented minhash_lsh_candidates lesson). One lazy cut
    # materializes the assignment once inside the output job: the
    # before-plan held 8 corpus scans / 24 exchanges / 0 reuse.
    assigned = assigned.withColumn(
        "__nrm", norm(F.col("__vec"))
    ).localCheckpoint(eager=False)
    l, r = assigned.alias("l"), assigned.alias("r")
    half = (
        l.join(
            r,
            (F.col("l.__cell") == F.col("r.__cell"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__id").alias("a"),
            F.col("r.__id").alias("b"),
            F.round(
                dot(F.col("l.__vec"), F.col("r.__vec"))
                / (F.col("l.__nrm") * F.col("r.__nrm")),
                6,
            ).alias("sim"),
        )
    )
    if nprobe > 1:
        # a pair sharing several probed cells appears once per shared
        # cell with the identical sim — collapse before ranking (on the
        # halved set: half the dedup exchange volume too)
        half = half.groupBy("a", "b").agg(F.max("sim").alias("sim"))
    pairs = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("id"),
                    F.col("b").alias("neighbor_id"),
                    F.col("sim"),
                ),
                F.struct(
                    F.col("b").alias("id"),
                    F.col("a").alias("neighbor_id"),
                    F.col("sim"),
                ),
            )
        ).alias("__p")
    ).select("__p.id", "__p.neighbor_id", "__p.sim")
    w = Window.partitionBy("id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("id").alias(id_col), "neighbor_id", "sim", "rank")
    )


def cluster_label_eval(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    n_clusters: int,
    iters: int = 2,
) -> DataFrame:
    """Unsupervised-cluster quality against reference labels: purity and
    NMI of the Lloyd k-means assignment — the "did clustering find the
    label structure" readout that closes the embedding eval loop
    (emb_confusion scores the SUPERVISED centroids; this scores the
    unsupervised ones).

    Determinism: clustering is the bit-exact decimal-rounded
    ``train_centroids`` chain; assignment is ``assign_cells``' (rounded
    d², cid) argmin; purity is pure integer arithmetic; the entropy and
    mutual-information terms pin to integer NANO-units per contingency
    cell before their keyed sums (order-independent), and NMI's final
    sqrt-normalized ratio derives from those exact integers. Physical
    shape: the kmeans scans + ONE (cluster × label) contingency
    aggregation — cells bounded by k·|labels|, every marginal derived
    from the cell table. Output: one row (n, n_cells, purity, nmi);
    degenerate entropies (single cluster or single label) emit NULL
    nmi. Engine addition; no reference counterpart.
    """
    cents = train_centroids(df, id_col, vec_col, n_clusters, iters=iters)
    assigned = assign_cells(df, cents, id_col, vec_col)
    lab = df.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("__lid"), F.col(label_col).alias("__lab")
    )
    cells = (
        assigned.join(lab, assigned[id_col] == lab["__lid"])
        .groupBy("__cell", "__lab")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__ncl"))
        # k·|labels|-bounded, but referenced by every marginal below —
        # and a groupBy-derived frame consumed by multiple subtrees
        # NEVER fires exchange reuse (measured, SCALE.md), so without
        # this cut the kmeans+assignment lineage re-plans per marginal
        # (117 visible scans / 116 joins in the round-10 plan audit)
        .localCheckpoint(eager=False)
    )
    marg_c = cells.groupBy("__cell").agg(
        F.sum("__ncl").cast("bigint").alias("__nc"),
        F.max("__ncl").cast("bigint").alias("__maxl"),
    )
    marg_l = cells.groupBy("__lab").agg(
        F.sum("__ncl").cast("bigint").alias("__nl")
    )
    tot = cells.agg(F.sum("__ncl").cast("bigint").alias("__n"))
    j = (
        cells.join(F.broadcast(marg_c.select("__cell", "__nc")), "__cell")
        .join(F.broadcast(marg_l), "__lab")
        .crossJoin(F.broadcast(tot))
    )
    nD = F.col("__n").cast("double")
    ncl = F.col("__ncl").cast("double")
    nc = F.col("__nc").cast("double")
    nl = F.col("__nl").cast("double")
    mi_pin = F.round(
        (ncl / nD) * F.log(nD * ncl / (nc * nl)) * F.lit(1e9)
    ).cast("bigint")
    mi = j.agg(F.sum(mi_pin).alias("__mi_nano"))
    hc_pin = F.round(
        (F.col("__nc").cast("double") / F.col("__n").cast("double"))
        * F.log(
            F.col("__nc").cast("double") / F.col("__n").cast("double")
        )
        * F.lit(-1e9)
    ).cast("bigint")
    hl_pin = F.round(
        (F.col("__nl").cast("double") / F.col("__n").cast("double"))
        * F.log(
            F.col("__nl").cast("double") / F.col("__n").cast("double")
        )
        * F.lit(-1e9)
    ).cast("bigint")
    hc = (
        marg_c.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(hc_pin).alias("__hc_nano"),
            F.sum("__maxl").cast("bigint").alias("__pure"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        )
    )
    hl = marg_l.crossJoin(F.broadcast(tot)).agg(
        F.sum(hl_pin).alias("__hl_nano")
    )
    out = (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
    )
    mid = F.col("__mi_nano").cast("double") / F.lit(1e9)
    hcd = F.col("__hc_nano").cast("double") / F.lit(1e9)
    hld = F.col("__hl_nano").cast("double") / F.lit(1e9)
    nmi = F.when(
        (F.col("__hc_nano") > 0) & (F.col("__hl_nano") > 0),
        mid / F.sqrt(hcd * hld),
    )
    return out.select(
        F.col("__n").alias("n"),
        "n_cells",
        F.round(
            F.col("__pure").cast("double") / F.col("__n").cast("double"),
            6,
        ).alias("purity"),
        F.round(nmi, 6).alias("nmi"),
    )


def embedding_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int | None = None,
    flag_ppm: int = 50000,
) -> DataFrame:
    """Embedding-space outlier screen: squared distance to the assigned
    coarse-quantizer centroid per vector, with the per-cell top
    ``flag_ppm`` fraction (ceil-rank cut, ties broken by id) flagged as
    out-of-manifold — the embedding-tier curation drop next to the text
    quality gate (garbled, mislabeled or off-distribution documents
    land far from every centroid). Per-CELL ranks rather than a global
    cut: no global sort, and dense regions don't drown sparse ones.

    Same deterministic quantizer as the IVF tier (lowest-id init, so a
    corpus with a persisted index screens without re-clustering);
    distances round to 6 dp before the (d2, id) rank so the cut is
    engine-exact. Output per cell: (cell, n, n_flagged, cut_d2 = the
    smallest flagged distance, max_d2), ordered by cell.
    """
    cents = train_centroids(df, id_col, vec_col, n_centroids)
    dists = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).crossJoin(F.broadcast(cents))
    best = (
        dists.select(
            "__id",
            F.struct(
                F.round(sq_dist(F.col("__v"), F.col("__cent")), 6).alias(
                    "d2"
                ),
                F.col("centroid_id").alias("cid"),
            ).alias("__dc"),
        )
        .groupBy("__id")
        .agg(F.min("__dc").alias("__dc"))
        .select(
            "__id",
            F.col("__dc.d2").alias("__d2"),
            F.col("__dc.cid").alias("cell"),
        )
    )
    wr = Window.partitionBy("cell").orderBy(
        F.col("__d2").desc(), F.col("__id").asc()
    )
    wc = Window.partitionBy("cell")
    ranked = best.withColumn("__rn", F.row_number().over(wr)).withColumn(
        "__nc", F.count(F.lit(1)).over(wc)
    )
    flag = F.col("__rn") <= F.expr(
        f"({int(flag_ppm)}L * __nc + 999999L) div 1000000L"
    )
    return (
        ranked.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(flag.cast("long")).cast("bigint").alias("n_flagged"),
            F.min(F.when(flag, F.col("__d2"))).alias("cut_d2"),
            F.max("__d2").alias("max_d2"),
        )
        .orderBy("cell")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    query_id_col: str,
    query_vec_col: str,
    query_label_col: str,
    n_centroids: int | None = None,
    nprobe: int = 4,
    k: int = 1,
    centroids: DataFrame | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor
    (query), the ``k`` MOST-similar corpus vectors carrying a DIFFERENT
    label within the anchor's ``nprobe`` IVF cells — the step that turns
    an embedding corpus into contrastive training pairs (easy random
    negatives teach nothing; the hardest in-neighborhood negatives carry
    the gradient — SimCSE/DPR practice). Same probe discipline, shapes
    and determinism as ``ivf_topk`` (broadcast centroids + probe lists,
    corpus never shuffled at search time, ties break on id); the label
    mismatch is a residual filter BEFORE the rank cut, so the k
    survivors are genuinely the hardest negatives, not post-filtered
    positives. NULL-label corpus rows are excluded (unlabeled data
    can't be certified negative). Output: (query_id, negative_id,
    query_label, negative_label, cosine, rank ≤ k).
    """
    if cells is not None and centroids is None:
        raise ValueError(
            "hard_negatives: a prebuilt `cells` index requires the "
            "`centroids` it was built with"
        )
    cent = centroids if centroids is not None else train_centroids(
        corpus, id_col, vec_col, n_centroids
    )
    if cells is None:
        cells = assign_cells(corpus, cent, id_col, vec_col)
    cells = cells.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("negative_id"),
        F.col(vec_col).alias("__cvec"),
        F.col(label_col).alias("negative_label"),
        "__cell",
    )
    qd = queries.filter(F.col(query_label_col).isNotNull()).select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qvec"),
        F.col(query_label_col).alias("query_label"),
    ).crossJoin(F.broadcast(cent))
    pw = Window.partitionBy("query_id").orderBy(
        F.round(sq_dist(F.col("__qvec"), F.col("__cent")), 6),
        F.col("centroid_id"),
    )
    probes = (
        qd.withColumn("__pr", F.row_number().over(pw))
        .filter(F.col("__pr") <= nprobe)
        .select(
            "query_id",
            "__qvec",
            "query_label",
            F.col("centroid_id").alias("__cell"),
        )
        .withColumn("__qnrm", norm(F.col("__qvec")))
    )
    # norms fold once per side row instead of once per probe pair
    # (the r12 knn_graph pattern; bit-identical — see brute_force_topk)
    scored = (
        cells.withColumn("__cnrm", norm(F.col("__cvec")))
        .join(F.broadcast(probes), ["__cell"])
        .filter(F.col("negative_label") != F.col("query_label"))
        .select(
            "query_id",
            "negative_id",
            "query_label",
            "negative_label",
            F.round(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qnrm") * F.col("__cnrm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "negative_id",
            "query_label",
            "negative_label",
            "cosine",
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def ivf_incremental_audit(
    base: DataFrame,
    incoming: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Incremental IVF index maintenance audit: assign an INCOMING
    vector batch to the FROZEN quantizer trained on ``base`` and report,
    per cell, the growth and the quantization-error drift — the numbers
    that decide when a drifting corpus forces a retrain (adding vectors
    to a stale quantizer silently degrades recall; this is the
    OPTIMIZE/ANALYZE companion for the ANN tier). No retrain happens
    here: assignment against broadcast centroids is the only work, so
    the audit is one scan over each side.

    Per cell: n_base, n_new, growth_ppm = 1e6·n_new div n_base (NULL
    for previously-empty cells — new mass where the quantizer has no
    support is itself the strongest retrain signal), mean_d2_base /
    mean_d2_new (quantization error, 6 dp — d² pins to integer
    micro-units before the sum, order-independent) and their drift.
    Cells empty on both sides still report (a dead centroid is also a
    signal). Output ordered by cell.
    """
    cent = centroids if centroids is not None else train_centroids(
        base, id_col, vec_col, n_centroids
    )

    def stats(df: DataFrame, n_name: str, m_name: str) -> DataFrame:
        d = df.select(
            F.col(id_col).alias("__aid"), F.col(vec_col).alias("__avec")
        ).crossJoin(F.broadcast(cent))
        best = (
            d.select(
                "__aid",
                F.struct(
                    F.round(
                        sq_dist(F.col("__avec"), F.col("__cent")), 6
                    ).alias("d2"),
                    F.col("centroid_id").alias("cid"),
                ).alias("__dc"),
            )
            .groupBy("__aid")
            .agg(F.min("__dc").alias("__dc"))
        )
        return best.groupBy(F.col("__dc.cid").alias("cell")).agg(
            F.count(F.lit(1)).cast("bigint").alias(n_name),
            F.sum(
                F.round(F.col("__dc.d2") * 1e6, 0).cast("long")
            ).alias(m_name),
        )
    b = stats(base, "n_base", "__mb")
    i = stats(incoming, "n_new", "__mi")
    mean_b = F.when(
        F.col("n_base") > 0,
        F.round(F.col("__mb").cast("double") / F.col("n_base") / 1e6, 6),
    )
    mean_i = F.when(
        F.col("n_new") > 0,
        F.round(F.col("__mi").cast("double") / F.col("n_new") / 1e6, 6),
    )
    growth = F.when(
        F.col("n_base") > 0,
        F.expr(
            "CAST(1000000 * coalesce(n_new, 0) div n_base AS BIGINT)"
        ),
    )
    return (
        cent.select(F.col("centroid_id").alias("cell"))
        .join(b, "cell", "left")
        .join(i, "cell", "left")
        .select(
            "cell",
            F.coalesce("n_base", F.lit(0)).cast("bigint").alias("n_base"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
            growth.alias("growth_ppm"),
            mean_b.alias("mean_d2_base"),
            mean_i.alias("mean_d2_new"),
            F.round(mean_i - mean_b, 6).alias("d2_drift"),
        )
        .orderBy("cell")
    )


def matryoshka_recall(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    prefix_dims: list[int],
    k: int = 5,
) -> DataFrame:
    """Truncated-dimension retrieval eval (Matryoshka representation
    learning, Kusupati et al. 2022): recall@k of PREFIX-dimension cosine
    search against the full-dimension ranking -- the measurement that
    decides how many dimensions the serving index actually needs (MRL
    embeddings are trained so prefixes remain usable; this audits
    whether that holds on YOUR corpus before shrinking the index 4-8x).

    For each d in ``prefix_dims``: exact top-k over vectors truncated to
    their first d components, intersected with the full-dim top-k
    (ground truth). recall_ppm = 1e6*sum_q |overlap_q| div (n_queries*k),
    integer-exact. One brute pass per prefix (a plan-time loop over a
    handful of dims; each pass is the T6 broadcast shape -- corpus never
    shuffles), hits joined rank-bounded (k*|queries| rows). Output per
    d: (dims, n_queries, hits, recall_ppm), ordered by dims.
    """
    if not prefix_dims:
        raise ValueError("prefix_dims must be non-empty")
    # the full-dim ground truth feeds the denominator aggregate AND one
    # hit join per prefix (len(prefix_dims) + 1 consumers) — without a
    # cut each consumer replans the whole brute pass (r15 static plan:
    # 18 corpus scans for 3 prefixes). The frame is nq·k rows by
    # contract: cut once, every consumer streams off the RDD.
    full = (
        brute_force_topk(
            corpus, queries, id_col, vec_col, query_id_col, query_vec_col,
            k=k,
        )
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    # the denominator is the EVALUATED query count (from the ground
    # truth), never queries-with-hits — a prefix with zero overlap must
    # read recall 0, not divide by zero (ANSI) or silently renormalize
    nq = full.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries")
    )
    parts = []
    for d in sorted(prefix_dims):
        cd = corpus.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        qd = queries.select(
            F.col(query_id_col),
            F.slice(F.col(query_vec_col), 1, d).alias(query_vec_col),
        )
        t = brute_force_topk(
            cd, qd, id_col, vec_col, query_id_col, query_vec_col, k=k
        ).select("query_id", "neighbor_id")
        parts.append(
            t.join(full, ["query_id", "neighbor_id"])
            .agg(
                F.lit(d).cast("int").alias("dims"),
                F.count(F.lit(1)).cast("bigint").alias("hits"),
            )
            .crossJoin(F.broadcast(nq))
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.select(
        "dims",
        "n_queries",
        "hits",
        F.when(
            F.col("n_queries") > 0,
            F.expr(
                f"CAST(1000000 * hits div (n_queries * {k}) AS BIGINT)"
            ),
        ).alias("recall_ppm"),
    ).orderBy("dims")


def centroid_drift(
    old_df: DataFrame,
    new_df: DataFrame,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """Per-label embedding centroid drift between two corpus slices --
    the embedding-space companion of the PSI/KS numeric monitors: when
    a label's mean vector moves, the upstream encoder or the data
    under it changed, and every distance-based consumer (ANN, dedup
    thresholds, classifiers) silently degrades. Per label:
    (n_old, n_new, d2_drift = squared L2 between the slice centroids,
    6 dp).

    Determinism discipline (the emb_kmeans combination): per-dimension
    means accumulate as DECIMAL(27,9) (order-independent), divide once
    and round to 6 dp; the centroid arrays reassemble in dimension
    order, and the final d² evaluates via the same fixed-order
    fold both engines spell identically. Labels present in only one
    slice report their population with NULL drift (no counterpart).
    Shape: one (label, dim) aggregation per slice (map-side combined,
    shuffle = labels × dims), label-sized join.
    """
    def cent(df: DataFrame, n_name: str, c_name: str) -> DataFrame:
        per_dim = (
            df.filter(
                F.col(label_col).isNotNull() & F.col(vec_col).isNotNull()
            )
            .select(
                F.col(label_col).alias("__l"),
                F.posexplode(F.col(vec_col)).alias("__pos", "__val"),
            )
            .groupBy("__l", "__pos")
            .agg(
                F.round(
                    F.sum(
                        F.col("__val").cast("double").cast("decimal(27,9)")
                    ).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("__m"),
                F.count(F.lit(1)).cast("bigint").alias("__n"),
            )
        )
        return per_dim.groupBy("__l").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__m"))),
                lambda st: st["__m"],
            ).alias(c_name),
            F.max("__n").cast("bigint").alias(n_name),
        )

    o = cent(old_df, "n_old", "__co")
    n = cent(new_df, "n_new", "__cn")
    d2 = F.aggregate(
        F.zip_with(
            F.col("__co"), F.col("__cn"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        o.join(n, "__l", "full_outer")
        .select(
            F.col("__l").alias(label_col),
            F.coalesce("n_old", F.lit(0)).cast("bigint").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
            F.when(
                F.col("__co").isNotNull() & F.col("__cn").isNotNull(),
                F.round(d2, 6),
            ).alias("d2_drift"),
        )
        .orderBy(label_col)
    )


def pair_cosine_hist(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    strides: list[int] = (1, 17, 101),
) -> DataFrame:
    """Anisotropy histogram of the embedding space — the distribution
    of cosines between DETERMINISTIC sample pairs. A healthy embedding
    space puts unrelated pairs near 0; post-training collapse (all
    cosines piled high) silently breaks every threshold downstream
    (dedup cutoffs, ANN pruning, hard-negative mining), and this is the
    one-scan monitor that catches it.

    Sampling is id-strided, not random: each vector pairs with the
    vectors ``stride`` ids ahead (one equi-join per stride on
    ``id + stride``, pairs ≈ strides·N) — deterministic across runs and
    engines, no RNG to reconcile, and id-adjacency carries no embedding
    meaning so the sample is unbiased for anisotropy. Cosine pins to
    exact integer micro-units; buckets are 0.1-wide cosine bands cut by
    INTEGER division ((micro + 1e6) div 1e5, top edge clamped into the
    last band) — no float floor at band edges (the engine-exactness
    rounding discipline). Output per band: (bucket 0..19, cos_lo_micro
    = the band's integer lower edge, n_pairs, mean_cos_micro =
    floor-div mean over shifted micros), ordered by bucket.
    """
    strides = list(strides)
    if not strides or any(s <= 0 for s in strides):
        raise ValueError(f"strides must be positive: {strides}")
    # norms fold once per node row instead of once per strided pair
    # (the r12 knn_graph pattern; bit-identical — see brute_force_topk)
    base = df.filter(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).withColumn("__nrm", norm(F.col("__vec")))
    left = base.select(
        "__id",
        "__vec",
        "__nrm",
        F.explode(
            F.array(*[F.lit(int(s)) for s in strides])
        ).alias("__stride"),
    ).withColumn("__pid", F.col("__id") + F.col("__stride"))
    pairs = left.join(
        base.select(
            F.col("__id").alias("__pid"),
            F.col("__vec").alias("__pvec"),
            F.col("__nrm").alias("__pnrm"),
        ),
        "__pid",
    )
    cos_micro = F.round(
        dot(F.col("__vec"), F.col("__pvec"))
        / (F.col("__nrm") * F.col("__pnrm"))
        * 1e6,
        0,
    ).cast("bigint")
    bucket = F.least(
        F.expr("CAST((__cm + 1000000) div 100000 AS INT)"), F.lit(19)
    )
    return (
        pairs.select(cos_micro.alias("__cm"))
        .select(bucket.alias("bucket"), "__cm")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            # mean over the +1e6-SHIFTED micros: cosine micros can be
            # negative, where Spark's div (truncate toward zero) and
            # DuckDB's // (floor) disagree — the shift keeps the
            # dividend non-negative, where both engines agree exactly
            F.expr(
                "CAST(SUM(__cm + 1000000) div COUNT(*) - 1000000"
                " AS BIGINT)"
            ).alias("mean_cos_micro"),
        )
        .withColumn(
            # integer band edge, not a float: 0.1-literal arithmetic
            # types as DECIMAL in DuckDB and double here — the
            # engine-exactness decimal-literal pitfall
            "cos_lo_micro",
            (F.col("bucket").cast("bigint") * 100000 - 1000000).cast(
                "bigint"
            ),
        )
        .select("bucket", "cos_lo_micro", "n_pairs", "mean_cos_micro")
        .orderBy("bucket")
    )


def ivf_recall_frontier(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    n_centroids: int,
    nprobes: list[int] = (1, 2, 4),
    k: int = 5,
) -> DataFrame:
    """The IVF OPERATING CURVE — recall@k at several nprobe settings in
    one query: ann_recall_eval measures one operating point; tuning an
    index needs the frontier (how much recall each extra probed cell
    buys, so the deployment picks the cheapest nprobe meeting its
    floor). Ground truth is exact brute-force top-k; the quantizer
    trains ONCE and every nprobe setting searches the same frozen
    index (checkpoint-cut: centroids and the cell assignment are
    consumed once per setting, and re-planning the Lloyd chain per
    branch would triple the training cost — the dd_cluster_pick
    bounded-frame discipline; cells are row-scaled but 2 columns wide
    and read |nprobes| times).

    Output one row per setting: (nprobe, k, n_pairs, n_hit,
    recall_ppm = 1e6·hits div pairs, integer-exact), nprobe ascending.
    A plan-time loop over a handful of settings — each branch is the
    T8 probe shape, the corpus shuffles once at assignment.
    """
    nprobes = sorted(set(int(p) for p in nprobes))
    if not nprobes or nprobes[0] <= 0:
        raise ValueError(f"nprobes must be positive: {nprobes}")
    cent = train_centroids(
        corpus, id_col, vec_col, n_centroids
    ).localCheckpoint()
    cells = assign_cells(
        corpus, cent, id_col, vec_col
    ).localCheckpoint()
    brute = brute_force_topk(
        corpus, queries, id_col, vec_col, query_id_col, query_vec_col,
        k=k,
    ).select("query_id", "neighbor_id").localCheckpoint()
    parts = []
    for np_ in nprobes:
        ivf = ivf_topk(
            corpus,
            queries,
            id_col,
            vec_col,
            query_id_col,
            query_vec_col,
            nprobe=np_,
            k=k,
            centroids=cent,
            cells=cells,
        ).select(
            "query_id",
            F.col("neighbor_id").alias("__n"),
            F.lit(1).alias("__h"),
        )
        joined = brute.join(
            ivf,
            (brute["query_id"] == ivf["query_id"])
            & (brute["neighbor_id"] == ivf["__n"]),
            "left",
        ).select(F.coalesce(F.col("__h"), F.lit(0)).alias("__hit"))
        parts.append(
            joined.agg(
                F.lit(np_).cast("int").alias("nprobe"),
                F.lit(k).cast("bigint").alias("k"),
                F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                F.coalesce(F.sum("__hit"), F.lit(0))
                .cast("bigint")
                .alias("n_hit"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.select(
        "nprobe",
        "k",
        "n_pairs",
        "n_hit",
        F.when(
            F.col("n_pairs") > 0,
            F.expr("CAST(1000000 * n_hit div n_pairs AS BIGINT)"),
        ).alias("recall_ppm"),
    ).orderBy("nprobe")


def ivf_filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    filter_col: str,
    filter_value,
    n_centroids: int | None = None,
    nprobe: int = 4,
    k: int = 5,
    centroids: DataFrame | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Attribute-FILTERED ANN search: top-k among corpus vectors
    satisfying ``filter_col = filter_value``, served from ONE shared
    IVF index — the vector-database staple (search only docs in
    language X / tenant Y / date range Z) where maintaining a separate
    index per predicate value is a non-starter. This is the
    post-filter-in-cell strategy: the quantizer and cell assignment
    come from the FULL corpus (one index build, any predicate), the
    predicate prunes INSIDE the probed cells before scoring, and the
    rank cut runs after the filter — so the k survivors are genuinely
    the filtered top-k of the probed region, never post-filtered ranks.
    The recall caveat is real and documented: a highly selective filter
    empties some probed cells, so effective recall decays with
    selectivity — raise nprobe for selective predicates (the same
    frontier curve ann_nprobe_frontier measures, conditioned on the
    filter). NULL filter values never match by contract.

    Physical shape is exactly ``ivf_topk``'s (broadcast centroids +
    probe lists, corpus never shuffled at search time); the filter is a
    residual predicate pushed against the cell scan — with a persisted
    bucketed index it prunes at the scan, before any join.
    """
    if cells is not None and centroids is None:
        raise ValueError(
            "ivf_filtered_topk: a prebuilt `cells` index requires the "
            "`centroids` it was built with"
        )
    cent = centroids if centroids is not None else train_centroids(
        corpus, id_col, vec_col, n_centroids
    )
    if cells is None:
        cells = assign_cells(corpus, cent, id_col, vec_col)
    # string-compare both sides: an int predicate against a string
    # column must FILTER, not ANSI-throw on a malformed cast (the
    # degenerate-skew sweep feeds string labels); on a typed column
    # the string render is bijective so the result is identical
    return ivf_topk(
        corpus,
        queries,
        id_col,
        vec_col,
        query_id_col,
        query_vec_col,
        nprobe=nprobe,
        k=k,
        centroids=cent,
        cells=cells.filter(
            F.col(filter_col).cast("string")
            == F.lit(filter_value).cast("string")
        ),
    )


def ivf_cell_balance(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    cell_cap: int,
    n_centroids: int | None = None,
    centroids: DataFrame | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """IVF index balance audit + split plan: per cell, its population,
    exact-ppm share, and — when it exceeds ``cell_cap`` — how many
    sub-cells a split must produce (ceil(n/cap) in integer arithmetic).
    This is the OPTIMIZE advisor for the ANN tier: search cost rides
    sum(|cell|²), so one runaway cell (skewed corpora produce them;
    the incremental audit `ivf_incremental_audit` watches them grow)
    silently owns the latency budget until a rebalance splits it. The
    split plan is the work list that job executes — metadata out,
    nothing row-scale shuffled beyond the (possibly prebuilt) cell
    assignment itself.

    Accepts a prebuilt ``cells`` index (+ its ``centroids``) like
    `ivf_topk` — on a persisted bucketed index the audit is a
    metadata-sized aggregation over the index scan, no assignment at
    all. Output: (cell, n_vecs, share_ppm, oversized, split_into)
    ordered by cell.
    """
    if cells is not None and centroids is None:
        raise ValueError(
            "ivf_cell_balance: a prebuilt `cells` index requires the "
            "`centroids` it was built with"
        )
    cent = centroids if centroids is not None else train_centroids(
        corpus, id_col, vec_col, n_centroids
    )
    if cells is None:
        cells = assign_cells(corpus, cent, id_col, vec_col)
    counts = cells.groupBy(
        F.col("__cell").cast("bigint").alias("cell")
    ).agg(F.count("*").cast("bigint").alias("n_vecs"))
    total = counts.agg(F.sum("n_vecs").cast("bigint").alias("__t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "cell",
            "n_vecs",
            F.expr(
                "CAST(1000000 * n_vecs div __t AS BIGINT)"
            ).alias("share_ppm"),
            (F.col("n_vecs") > F.lit(int(cell_cap))).alias("oversized"),
            F.expr(
                f"CAST(IF(n_vecs > {int(cell_cap)},"
                f" (n_vecs + {int(cell_cap)} - 1) div {int(cell_cap)},"
                " 1) AS BIGINT)"
            ).alias("split_into"),
        )
        .orderBy("cell")
    )


def graph_search_frontier(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    edge_k: int = 5,
    n_centroids: int | None = None,
    nprobe: int = 2,
    entry_n: int = 4,
    beam: int = 8,
    max_hops: int = 2,
    k: int = 5,
) -> DataFrame:
    """Graph-based ANN serving OPERATING CURVE — recall@k after 0..H
    greedy beam-expansion hops over the prebuilt k-NN graph, against
    exact brute-force ground truth: the HNSW-family serving question
    (how many hops over a navigable neighbor graph buy how much recall)
    answered by measurement on the T93 substrate, the way
    ivf_recall_frontier answers it for probe counts.

    Search contract (fully deterministic, so the SQL twin replays it):
    entry points are the ``entry_n`` lowest-id corpus vectors (the
    fixed-entry discipline of HNSW's top layer, minus the stochastic
    layer assignment); per hop, the candidate set grows by the
    out-neighbors of the current top-``beam`` candidates (cosine 6 dp
    desc, id tie-break), and recall@k reads the top-k of the candidate
    set. Self-matches are excluded to match brute ground truth. Corpus
    ids and query ids must each be unique.

    Execution: an incremental beam search over ONE row of bounded state
    per query — query vector and norm, brute-force truth ids, the
    top-max(k, beam) list (cosine desc, id asc), the visited ids and
    the per-hop hit and candidate counts. The top-m of a growing
    candidate set is the top-m of (previous top-m ∪ new candidates), so
    each hop scores only the neighbors it adds and merges them into the
    list (the reuse of the previous top-k in Incremental Based Framework
    for Efficient Top-K Similarity Search, EDBT 2020). One hop is:
    explode the beam ids, left-join the node table (corpus id → its own
    vector and its out-neighbors with their vectors and norms), group by
    query, then score the unvisited neighbors and merge them in SQL
    higher-order functions.

    Physical shape: one lazy cut, on the node table (the corpus-scale
    build: knn_graph plus the vector joins), and one exchange per hop,
    the query grouping. The node-table join carries no broadcast hint:
    a node table too large to broadcast adds the join's id-keyed
    exchange, and when AQE broadcasts a small one the state stays
    hash-partitioned by query, so hops after the first need no
    exchange at all. The lineage is linear — no frame is
    consumed twice — so no per-hop cut is needed. Per-query state is
    bounded by entry_n + hops·beam·edge_k visited ids, INDEPENDENT of
    corpus size. Measured on 4 cores (128 × 64-dim corpus, 32 queries,
    3 hops): 21 Spark jobs per run, build and execution together.

    Output one row per hop count: (hops, k, n_pairs, n_hit,
    recall_ppm, mean_cands = avg distinct candidates scored per query,
    integer div) — recall_ppm is the quality axis, mean_cands the cost
    axis of the curve. An empty query frame yields max_hops + 1 rows of
    zero counts.
    """
    if entry_n <= 0 or beam <= 0 or max_hops < 0:
        raise ValueError(
            f"entry_n/beam must be positive, max_hops >= 0: "
            f"{entry_n}/{beam}/{max_hops}"
        )
    m = max(k, beam)
    edges = knn_graph(
        corpus, id_col, vec_col, k=edge_k, n_centroids=n_centroids,
        nprobe=nprobe,
    )
    # corpus-side norms fold once per vector row, not once per (query x
    # candidate) pair (the r12 knn_graph pattern)
    vecs = corpus.select(
        F.col(id_col).alias("__nid"), F.col(vec_col).alias("__v")
    ).withColumn("__n", norm(F.col("__v")))
    out_nbrs = (
        edges.join(
            vecs.select(
                F.col("__nid").alias("neighbor_id"),
                F.struct(
                    F.col("__nid").alias("id"),
                    F.col("__v").alias("v"),
                    F.col("__n").alias("n"),
                ).alias("__nb"),
            ),
            "neighbor_id",
        )
        .groupBy(F.col(id_col).alias("__nid"))
        .agg(F.collect_list("__nb").alias("__nbrs"))
    )
    # The node table feeds the brute truth, the entry points and every
    # hop's join: the one lazy cut, so the corpus is read and the k-NN
    # graph built once. Nodes without out-edges (exact duplicates that
    # knn_graph collapsed) keep their own vector, with null __nbrs.
    nodes = vecs.join(out_nbrs, "__nid", "left").localCheckpoint(
        eager=False
    )
    truth = (
        brute_force_topk(
            nodes, queries, "__nid", "__v", query_id_col, query_vec_col,
            k=k,
        )
        .groupBy("query_id")
        .agg(F.collect_list("neighbor_id").alias("__truth"))
    )
    entries = (
        nodes.orderBy("__nid")
        .limit(entry_n)
        .agg(
            F.collect_list(
                F.struct(
                    F.col("__nid").alias("id"),
                    F.col("__v").alias("v"),
                    F.col("__n").alias("n"),
                )
            ).alias("__new")
        )
    )
    # truth and entries are query- resp. entry_n-bounded: broadcast, so
    # the query stream is not shuffled before the first hop's grouping.
    # Hop 0 scores the entries (__new) against an empty top list.
    id_t = corpus.schema[id_col].dataType.simpleString()
    state = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("__qv"),
        )
        .withColumn("__qn", norm(F.col("__qv")))
        .join(F.broadcast(truth), "query_id", "left")
        .withColumn("__truth", F.coalesce("__truth", F.array()))
        .crossJoin(F.broadcast(entries))
        .selectExpr(
            "*",
            f"CAST(array() AS array<struct<c:double,id:{id_t}>>) AS __top",
            f"CAST(array() AS array<{id_t}>) AS __vis",
            "CAST(array() AS array<int>) AS __hits",
            "CAST(array() AS array<int>) AS __ncand",
        )
    )
    # cosine exactly as brute_force_topk computes it (same IEEE ops)
    cos = (
        "round(aggregate(zip_with(__qv, x.v, (a, b) -> CAST(a AS DOUBLE)"
        " * CAST(b AS DOUBLE)), 0D, (s, p) -> s + p) / (__qn * x.n), 6)"
    )
    by_rank = (
        "(l, r) -> CASE WHEN l.c > r.c THEN -1 WHEN l.c < r.c THEN 1"
        " WHEN l.id < r.id THEN -1 WHEN l.id > r.id THEN 1 ELSE 0 END"
    )
    carried = ["__qv", "__qn", "__truth", "__top", "__vis", "__hits", "__ncand"]
    for h in range(max_hops + 1):
        if h:
            # gather the out-neighbors of each query's beam
            state = (
                state.selectExpr(
                    "query_id", *carried,
                    "explode_outer(transform("
                    f"slice(__top, 1, {beam}), t -> t.id)) AS __b",
                )
                .join(
                    nodes.select("__nid", "__nbrs"),
                    F.col("__b") == F.col("__nid"),
                    "left",
                )
                .groupBy("query_id")
                .agg(
                    *(F.first(c).alias(c) for c in carried),
                    F.flatten(F.collect_list("__nbrs")).alias("__new"),
                )
            )
        # score the unvisited neighbors only; one reached from several
        # beam nodes scores to the same (c, id) struct, kept once
        state = state.selectExpr(
            "query_id", *carried,
            "array_distinct(transform(filter(__new, x -> x.id != query_id"
            " AND NOT array_contains(__vis, x.id)),"
            f" x -> named_struct('c', {cos}, 'id', x.id))) AS __sc",
        ).selectExpr(
            "query_id", "__qv", "__qn", "__truth",
            f"slice(array_sort(concat(__top, __sc), {by_rank}), 1, {m})"
            " AS __top",
            "concat(__vis, transform(__sc, x -> x.id)) AS __vis",
            "__hits", "__ncand",
        ).selectExpr(
            "query_id", "__qv", "__qn", "__truth", "__top", "__vis",
            "concat(__hits, array(size(array_intersect(__truth,"
            f" transform(slice(__top, 1, {k}), t -> t.id))))) AS __hits",
            "concat(__ncand, array(size(__vis))) AS __ncand",
        )
    # one global aggregate (one row even over zero queries), then one
    # row per hop
    sums = state.agg(
        F.count(F.lit(1)).cast("bigint").alias("__nq"),
        F.coalesce(F.sum(F.size("__truth")), F.lit(0))
        .cast("bigint")
        .alias("n_pairs"),
        *(
            F.coalesce(F.sum(F.col("__hits")[h]), F.lit(0))
            .cast("bigint")
            .alias(f"__hit{h}")
            for h in range(max_hops + 1)
        ),
        *(
            F.coalesce(F.sum(F.col("__ncand")[h]), F.lit(0))
            .cast("bigint")
            .alias(f"__nc{h}")
            for h in range(max_hops + 1)
        ),
    )
    rows = ", ".join(
        f"named_struct('hops', {h}, 'k', CAST({k} AS BIGINT),"
        f" 'n_pairs', n_pairs, 'n_hit', __hit{h},"
        f" 'recall_ppm', CAST(IF(n_pairs > 0,"
        f" 1000000 * __hit{h} div n_pairs, 0) AS BIGINT),"
        f" 'mean_cands', CAST(IF(__nq > 0, __nc{h} div __nq, 0)"
        " AS BIGINT))"
        for h in range(max_hops + 1)
    )
    return sums.selectExpr(f"inline(array({rows}))").orderBy("hops")


def ivf_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    threshold: float,
    n_centroids: int | None = None,
    nprobe: int = 4,
    max_results: int = 100,
    centroids: DataFrame | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """RANGE search over the IVF index — "every neighbor at cosine ≥ τ",
    the similarity-serving mode top-k cannot express (duplicate-cluster
    expansion, radius-bounded retrieval-augmentation, contamination
    blast-radius in embedding space): k returns irrelevant tails for
    isolated queries and truncates dense ones, a threshold answers the
    actual question. Same probe machinery and operating point as
    ``ivf_topk`` (recall bounded by the nprobe/n_centroids tradeoff —
    the MEASURED curve in ann_nprobe_frontier applies verbatim).

    ``max_results`` caps each query's output (ranked cosine desc,
    neighbor tie-break) — a dense query inside a duplicate cluster can
    match an unbounded set, and an uncapped range search is an output-
    volume bomb at corpus scale; the cap makes the per-query result
    bounded by contract, like the WindowGroupLimit serving tiers.
    Output: (query_id, neighbor_id, cosine, rank), rank within the
    thresholded result set. Engine addition; no reference counterpart.
    """
    if not -1.0 <= threshold <= 1.0:
        raise ValueError(f"cosine threshold outside [-1,1]: {threshold}")
    if max_results < 1:
        raise ValueError(f"max_results must be >= 1: {max_results}")
    if cells is not None and centroids is None:
        raise ValueError(
            "ivf_range_search: a prebuilt `cells` index requires the "
            "`centroids` it was built with"
        )
    cent = centroids if centroids is not None else train_centroids(
        corpus, id_col, vec_col, n_centroids
    )
    if cells is None:
        cells = assign_cells(corpus, cent, id_col, vec_col)
    # norms fold once per corpus row / query row instead of once per
    # probe pair (the r12 knn_graph pattern; bit-identical — see
    # brute_force_topk)
    cells = cells.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        "__cell",
    ).withColumn("__cnrm", norm(F.col("__cvec")))
    qd = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qvec"),
    ).crossJoin(F.broadcast(cent))
    pw = Window.partitionBy("query_id").orderBy(
        F.round(sq_dist(F.col("__qvec"), F.col("__cent")), 6),
        F.col("centroid_id"),
    )
    probes = (
        qd.withColumn("__pr", F.row_number().over(pw))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "__qvec", F.col("centroid_id").alias("__cell"))
        .withColumn("__qnrm", norm(F.col("__qvec")))
    )
    scored = (
        cells.join(F.broadcast(probes), ["__cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qnrm") * F.col("__cnrm")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= max_results)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
