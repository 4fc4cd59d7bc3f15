"""Graph operators over an edge DataFrame: link ranking, triangle and
clustering census, communities, neighbourhoods and reachability.

The link rankers are two private kernels behind five public wrappers:

- ``_sentinel_pagerank`` — the fixed-iteration sentinel PageRank
  recurrence over a weighted edge frame (src, dst, __w) with an
  optional teleport seed set — runs ``pagerank`` (distinct edges,
  w = 1, uniform teleport), ``pagerank_weighted`` (link-multiplicity
  weights) and ``personalized_pagerank`` (distinct edges, seed
  teleport);
- ``_hits`` — fixed-iteration un-normalized HITS over (__s, __d, __w)
  — runs ``hits`` (distinct edges, w = 1) and ``hits_weighted``
  (link-multiplicity weights).

The wrappers only frame the input (``_edge_frame``); their SQL twins
(``pagerank_sql``, ``pagerank_weighted_sql``, ``ppr_sql`` and the
catalog's HITS builders) stay independent spellings of the same
recurrences, so oracle parity checks the kernels.

No reference counterpart (the reference has no graph algorithms); engine
addition for link-style analyses a corpus pipeline runs at scale —
ranking crawl hosts by the link graph, weighting documents by citation
structure, prioritizing dedup-cluster exemplars (the candidate-pair
graph from ``dedup.py`` IS an edge list this consumes directly).

PageRank scale design:

- Each iteration is one null-safe equi-join of the rank vector against
  the STATIC augmented contribution graph (keyed on the source node)
  plus one destination-keyed aggregation — the canonical
  2-exchanges-per-iteration shape, and the evolving frame is referenced
  exactly ONCE per round, so the logical plan grows linearly in
  n_iter with no lineage cuts. At cluster scale, pre-bucketing the
  augmented edges by source makes the join exchange metadata-only;
  ranks are always node-count-sized (≪ edges).
- Dangling mass (rank sitting on nodes with no out-edges) rides a
  SENTINEL row of the rank vector: static (dangling → sentinel,
  share 1) edges collect it and static (sentinel → node, share N)
  edges fan it back uniformly — one round lagged, initialized exactly
  (see ``_sentinel_pagerank``'s docstring).
- The node, seed and dangling counts are the only driver-side values
  (one bounded collect at build time).

Determinism (why an iterative float algorithm can hash-match a SQL
oracle): ranks live in integer NANO-UNITS (BIGINT). Every step — the
uniform init, per-edge contribution ``rank div outdeg``, the damping
``(85 · x) div 100``, the dangling redistribution ``dang div N`` — is
floor integer arithmetic, and BIGINT SUM is order-independent, so the
result is bit-identical regardless of partitioning, and the DuckDB
oracle (same unrolled integer recurrence) reproduces it exactly. The
systematic floor bias is bounded by n_iter · (N + E) nano-units of lost
mass — irrelevant at rank scale 1e9 — and buys exact reproducibility,
the property float PageRank famously lacks across partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.operators.dedup import bucket_pairs
from calp_cva_tracking_pipeline_spark.session import cut

RANK_SCALE = 1_000_000_000  # one unit of total rank mass, in nano-units


def _edge_frame(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    names: tuple[str, str],
    weighted: bool,
) -> DataFrame:
    """The rankers' input framing: NULL-endpoint edges dropped (a NULL
    end is a malformed edge, and NULL is the PageRank sentinel key),
    endpoints renamed to ``names``, and an integer weight ``__w`` —
    the link multiplicity of each collapsed (src, dst) pair when
    ``weighted``, else 1 over the DISTINCT edges."""
    s, d = names
    e = edges.filter(
        F.col(src_col).isNotNull() & F.col(dst_col).isNotNull()
    ).select(F.col(src_col).alias(s), F.col(dst_col).alias(d))
    if weighted:
        return e.groupBy(s, d).agg(
            F.count(F.lit(1)).cast("long").alias("__w")
        )
    return e.distinct().withColumn("__w", F.lit(1).cast("long"))


def _sentinel_pagerank(
    e: DataFrame,
    seeds: DataFrame | None,
    n_iter: int,
    damping_pct: int,
) -> DataFrame:
    """The one PageRank kernel behind ``pagerank``, ``pagerank_weighted``
    and ``personalized_pagerank``: the fixed-iteration sentinel
    recurrence over the framed edge set ``e`` = (src, dst, __w). Each
    round an edge passes floor((rank·w) / W_src) of its source's rank,
    W_src = Σ out-weights. ``seeds`` is the one-column (node) teleport
    set; None means uniform teleport — every node is a seed, so no seed
    join runs. Seeds outside the edge set's node universe are ignored
    and duplicate seed ids collapse. Returns (node, rank_nano),
    unordered; all-zero ranks when no seed lies in the graph (which,
    uniformly, means an empty graph).

    SINGLE-REFERENCE round (round 11; supersedes the r10 periodic
    lineage cut): the rank vector carries one SENTINEL row (node =
    NULL) holding the dangling accumulator, and the STATIC contribution
    graph is augmented with (dangling node → sentinel, share 1) and
    (sentinel → each seed, share |S|) edges. Each round is then exactly
    ONE null-safe src-keyed join + ONE dst-keyed aggregate + the
    node-frame left join — the evolving frame is referenced ONCE, so
    the logical plan grows LINEARLY in n_iter with ZERO per-round
    lineage cuts (the r9 plan doubled per round — scans 25 → 55 → 115
    → 235 for n_iter 2 → 5). Only the static frames (edges with
    out-weights, seed set, augmented edges, node set) are cut, once,
    lazily.

    Semantics note: routing dangling mass through the sentinel makes it
    re-enter circulation with a ONE-ROUND LAG (the sentinel receives
    this round's dangling mass while fanning out last round's),
    initialized exactly (s₀ = the init vector's dangling sum), so round
    1 matches the same-round variant bit-for-bit and graphs with no
    dangling nodes match at every round. At termination up to one
    round's dangling mass is in transit in the sentinel (excluded from
    the output). The init vector IS the teleport vector (seeds
    SCALE//|S|, others 0) and the per-round base term lands on seeds
    only.

    Arithmetic: integer nano-units throughout (module contract). The
    per-edge contribution is chosen per row from the data: w = 1 (every
    edge of a distinct edge set, and every sentinel edge) divides in
    BIGINT; a weight above 1 keeps the exact DECIMAL(38,0) product
    (rank ≤ total mass ~1e9 × any integer weight cannot overflow 38
    digits). Both arms agree for w = 1 on the non-negative ranks, and
    truncating ``div`` matches DuckDB's ``//`` there. The BIGINT arm is
    a speed choice: routing every edge through the DECIMAL product
    made gr_pagerank about 70% slower in a probe (3.6 → 6.1 s at sf0.1
    on 4 cores)."""
    wt = e.groupBy("src").agg(F.sum("__w").cast("long").alias("__wt"))
    # ONE materialization of the expensive shuffles (edge collapse +
    # out-weight agg + join): every static frame below derives from
    # this cached RDD, so the build never re-runs the raw edge pipeline
    e_deg = cut(e.join(wt, "src"))
    nodes = (
        e_deg.select(F.col("src").alias("node"))
        .union(e_deg.select(F.col("dst").alias("node")))
        .distinct()
    )
    srcs = e_deg.select("src").distinct()
    if seeds is None:
        sd, flagged, is_seed = nodes, nodes, F.lit(True)
    else:
        sd = cut(seeds.distinct().join(nodes, ["node"]))
        flagged = nodes.join(
            sd.select(F.col("node").alias("__sn")),
            nodes["node"] == F.col("__sn"),
            "left",
        )
        is_seed = F.col("__sn").isNotNull()
    # the bounded driver-side statistics, folded into ONE action
    stats = (
        flagged.join(srcs, nodes["node"] == srcs["src"], "left")
        .agg(
            F.coalesce(F.sum(is_seed.cast("long")), F.lit(0)).alias("m"),
            F.coalesce(
                F.sum((is_seed & F.isnull("src")).cast("long")), F.lit(0)
            ).alias("md"),
        )
        .collect()[0]
    )
    m, m_dang = stats["m"], stats["md"]
    if m == 0:  # empty graph, or no in-graph seed: no teleport mass
        return nodes.select(
            "node", F.lit(0).cast("bigint").alias("rank_nano")
        )
    base = (RANK_SCALE - damping_pct * RANK_SCALE // 100) // m
    init = RANK_SCALE // m
    ntype = nodes.schema["node"].dataType
    null_node = F.lit(None).cast(ntype)

    # static across iterations; cut once so every round's visible plan
    # starts from an RDD scan, not re-expanded edge lineage
    aug = (
        e_deg.select(
            F.col("src").alias("asrc"),
            F.col("dst").alias("adst"),
            F.col("__w").cast("long").alias("__aw"),
            F.col("__wt").cast("long").alias("__awt"),
        )
        .unionByName(
            nodes.join(srcs, nodes["node"] == srcs["src"], "left_anti")
            .select(
                F.col("node").alias("asrc"),
                null_node.alias("adst"),
                F.lit(1).cast("long").alias("__aw"),
                F.lit(1).cast("long").alias("__awt"),
            )
        )
        .unionByName(
            sd.select(
                null_node.alias("asrc"),
                F.col("node").alias("adst"),
                F.lit(1).cast("long").alias("__aw"),
                F.lit(m).cast("long").alias("__awt"),
            )
        )
    )
    aug = cut(aug)
    nodes_aug = cut(
        flagged.select("node", is_seed.alias("__seed")).unionByName(
            e.sparkSession.range(1).select(
                null_node.alias("node"), F.lit(False).alias("__seed")
            )
        )
    )

    ranks = nodes_aug.select(
        "node",
        F.when(F.col("node").isNull(), F.lit(m_dang * init))
        .when(F.col("__seed"), F.lit(init))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank"),
    )
    for _ in range(n_iter):
        contrib = ranks.join(
            aug, ranks["node"].eqNullSafe(aug["asrc"])
        ).select(
            F.col("adst").alias("node"),
            F.expr(
                "CASE WHEN __aw = 1 THEN rank div __awt ELSE CAST(("
                "CAST(rank AS DECIMAL(38,0)) * __aw) div __awt AS BIGINT)"
                " END"
            ).alias("c"),
        )
        g = contrib.groupBy("node").agg(F.sum("c").alias("inflow"))
        ranks = (
            nodes_aug.join(
                g, nodes_aug["node"].eqNullSafe(g["node"]), "left"
            )
            .select(
                nodes_aug["node"].alias("node"),
                F.when(
                    nodes_aug["node"].isNull(),
                    F.coalesce(g["inflow"], F.lit(0)),
                )
                .otherwise(
                    F.when(nodes_aug["__seed"], F.lit(base)).otherwise(
                        F.lit(0)
                    )
                    + F.expr(
                        f"({damping_pct} * coalesce(inflow, 0)) div 100"
                    )
                )
                .cast("long")
                .alias("rank"),
            )
        )
    return ranks.filter(F.col("node").isNotNull()).select(
        "node", F.col("rank").alias("rank_nano")
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank with uniform teleport. Returns (node,
    rank_nano) — integer nano-units per the module contract;
    rank_nano/1e9 is the usual probability-mass rank. Duplicate edges
    collapse (unweighted graph; ``pagerank_weighted`` is the multigraph
    form); edges with a NULL endpoint are dropped; every node appearing
    as source OR destination is ranked, including pure sinks.

    Runs ``_sentinel_pagerank`` (see its docstring) on the distinct
    edges with w = 1: dangling mass rides the NULL-keyed sentinel row
    with a ONE-ROUND LAG, exact at round 1 and on graphs with no
    dangling nodes; ``pagerank_sql`` unrolls the identical recurrence,
    so oracle parity is exact. Plan: one null-safe src-keyed join + one
    dst-keyed aggregate per round, linear in n_iter with zero
    per-round cuts — pinned by
    tests/test_plan_shapes.py::test_pagerank_plan_bounded_in_rounds."""
    e = _edge_frame(edges, src_col, dst_col, ("src", "dst"), weighted=False)
    return _sentinel_pagerank(e, None, n_iter, damping_pct)


def pagerank_weighted(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """WEIGHTED fixed-iteration PageRank — the multigraph form
    ``pagerank``'s duplicate-collapse declares out of its own scope
    (VERDICT r14 ask #7: real link graphs are multigraphs). Parallel
    (src, dst) edges collapse to one edge of integer weight
    w = multiplicity, and each round's contribution is the weighted
    out-share floor((rank·w) / W_src) with W_src = Σ out-weights —
    a page linked five times passes five shares of its rank. With no
    duplicate edges every w = 1 and W = outdeg, so the recurrence
    degenerates to ``pagerank`` BIT-FOR-BIT (property-pinned).

    Same kernel and contract as ``pagerank`` (``_sentinel_pagerank``):
    integer nano-unit state, the sentinel-row dangling accumulator with
    one-round lag, plan linear in n_iter with zero per-round cuts. A
    weight above 1 runs its product in DECIMAL(38,0). Output:
    (node, rank_nano). Oracle: ``pagerank_weighted_sql``.
    """
    e = _edge_frame(edges, src_col, dst_col, ("src", "dst"), weighted=True)
    return _sentinel_pagerank(e, None, n_iter, damping_pct)


def pagerank_weighted_sql(
    edges_cte: str,
    n_iter: int = 3,
    damping_pct: int = 85,
) -> str:
    """DuckDB oracle twin of ``pagerank_weighted``: the identical
    integer recurrence with weighted out-shares, unrolled — weights are
    link multiplicities aggregated from the raw (possibly duplicated)
    ``edges_cte`` rows, and each round's contribution is
    ``(rank·w) // W_src`` in HUGEINT. Dangling mass rides the same
    lagged scalar as ``pagerank_sql``."""
    d = damping_pct
    s = RANK_SCALE
    parts = [
        f"WITH e AS (SELECT src, dst, CAST(COUNT(*) AS HUGEINT) AS w"
        f" FROM ({edges_cte}) raw"
        " WHERE src IS NOT NULL AND dst IS NOT NULL GROUP BY 1, 2)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "deg AS (SELECT src, SUM(w) AS wout FROM e GROUP BY 1)",
        "n AS (SELECT COUNT(*) AS cnt FROM nodes)",
        f"r0 AS (SELECT node, {s} // cnt AS rank FROM nodes CROSS JOIN n)",
        f"s0 AS (SELECT (SELECT COUNT(*) FROM nodes LEFT JOIN deg "
        f"ON nodes.node = deg.src WHERE deg.src IS NULL)"
        f" * ({s} // cnt) AS sv FROM n)",
    ]
    for i in range(1, n_iter + 1):
        p, c = f"r{i - 1}", f"r{i}"
        if i > 1:
            parts.append(
                f"s{i - 1} AS (SELECT COALESCE(SUM(r.rank), 0) AS sv "
                f"FROM r{i - 2} r LEFT JOIN deg ON r.node = deg.src "
                f"WHERE deg.src IS NULL)"
            )
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, "
            f"SUM((CAST(r.rank AS HUGEINT) * e.w) // deg.wout)"
            f" AS inflow "
            f"FROM e JOIN {p} r ON e.src = r.node "
            f"JOIN deg ON deg.src = e.src GROUP BY 1)"
        )
        base_num = s - d * s // 100
        parts.append(
            f"{c} AS (SELECT nodes.node, "
            f"({base_num} // cnt) "
            f"+ ({d} * (COALESCE(c{i}.inflow, 0) + (s{i - 1}.sv // cnt)))"
            f" // 100 AS rank "
            f"FROM nodes CROSS JOIN n CROSS JOIN s{i - 1} "
            f"LEFT JOIN c{i} ON nodes.node = c{i}.node)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node, CAST(rank AS BIGINT) AS rank_nano FROM r{n_iter}"
    )


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact triangle census of the UNDIRECTED graph behind ``edges``
    (direction and duplicates ignored; self-loops dropped). One row:
    n_nodes, n_edges, n_wedges (paths of length 2 = Σ C(deg,2)),
    n_triangles, global_clustering = 3·triangles / wedges (6 dp).

    Scale design — the textbook skew trap handled the textbook way:
    counting via an id-oriented wedge join lets one hub node with degree
    d emit C(d, 2) wedges (a 10⁶-degree hub → 5·10¹¹ rows from one
    key). Instead edges are oriented by the DEGREE total order (lower
    (deg, id) → higher), which bounds every node's OUT-degree by
    O(√E) regardless of hub size [Chiba–Nishizeki / Schank–Wagner
    degree ordering], so the wedge join emits ≤ E·O(√E) rows worst-case
    and hub keys stop being hot. Physical shape: two src-keyed
    equi-joins plus degree aggregation — no cartesian, no Python. The
    orientation is a deterministic total order, so the DuckDB oracle
    reproduces the count exactly.

    r15: the canonical edge list, the degree table and the oriented
    edge list each feed 2-3 downstream consumers; without a lineage cut
    Catalyst re-plans the whole build subtree per consumer (the
    round-15 before-plan held 244 Exchange/Scan nodes and zero
    ReusedExchange — the edge construction ran up to 9x).

    r16 (verdict ask #1): ONE lazy cut, on ``e`` only. The r15 shipping
    of cuts on e AND o AND adj was measured ~1s slower under the
    driver's cold-JVM protocol at both core counts (each cut is a
    materialization barrier that serializes work the replanned plan
    runs on idle cores at sf0.1, plus ~0.4s driver-side planning per
    cut). Guide §2.4 applies to *expensive reused* subtrees only: e is
    the one frame whose replan re-reads parquet, so cutting it bounds
    the scan count (scale requirement), while o and adj replan off the
    e RDD — joins/aggs re-run, parquet never re-read. Cold-JVM
    median-of-5 A/B this session: cuts={e,o,adj} 5.0-5.3s,
    {e} 3.7-4.5s, {} 4.0-4.2s but with 34 duplicate scans — {e} is the
    fastest shape that keeps the plan bounded.
    """
    u, v = "__u", "__v"
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias(u),
            F.greatest(F.col(src_col), F.col(dst_col)).alias(v),
        )
        .filter(F.col(u) != F.col(v))
        .distinct()
    )
    # the one lazy cut; the tested alternatives (cuts on {e, o, adj}
    # and no cut at all) and their timings are in the docstring
    e = cut(e)
    deg = (
        e.select(F.col(u).alias("n"))
        .union(e.select(F.col(v).alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # deg/o/adj are NOT cut (r16): node- or edge-sized frames deriving
    # from the already-cut e — replans cost exchanges/aggs over the e
    # RDD, never a parquet re-read, and each avoided cut removes a
    # cold-run materialization barrier (the r15/r16 A/Bs both read the
    # extra barriers as net losses at sf0.1).
    # orient each edge from the (deg, id)-smaller endpoint to the larger
    o = (
        e.join(deg.withColumnRenamed("n", u).withColumnRenamed("d", "du"), u)
        .join(deg.withColumnRenamed("n", v).withColumnRenamed("d", "dv"), v)
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col(u) < F.col(v))),
                F.struct(
                    F.col(u).alias("s"), F.col(v).alias("t"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col(v).alias("s"), F.col(u).alias("t"),
                )
            )
            .alias("edge")
        )
        .select("edge.s", "edge.t")
    )
    # Close triangles EDGE-centrically (r15, guide §2.3 "shuffle fewer
    # bytes"): every triangle {a,b,c} with orientation a→b, a→c, b→c
    # is witnessed exactly once, at the a→b edge between its two
    # orientation-smallest vertices (c ∈ N⁺(a)∩N⁺(b); the other two
    # edges can't witness it — the would-be common endpoint is only an
    # IN-neighbor of one side). So n_triangles = Σ_edges
    # |N⁺(s) ∩ N⁺(t)|. The previous wedge-join spelling materialized
    # and shuffled Σ outdeg² wedge ROWS (41M at sf0.1 for 1.2M edges)
    # through an exchange + left-semi probe; attaching the two
    # out-adjacency ARRAYS to each edge moves the same multiset of
    # endpoint ids as array payloads on 25-35x fewer rows, and the
    # per-row array_intersect is a native hash-set expression bounded
    # by the same O(√E) degree-orientation guarantee. Both graph-sized
    # joins stay explicitly SHUFFLE_HASH: an adjacency table is NOT a
    # dimension table, and a planner broadcast of a many-MB side would
    # be driver-heap roulette at real edge counts.
    adj = o.groupBy("s").agg(F.collect_list("t").alias("__ts"))
    tri = (
        o.select("s", "t")
        .join(adj.hint("shuffle_hash"), "s")
        .select("t", F.col("__ts").alias("__ss"))
        .join(
            adj.withColumnRenamed("s", "t").hint("shuffle_hash"), "t"
        )
        .select(
            F.size(F.array_intersect("__ss", "__ts")).alias("__c")
        )
        .agg(
            F.coalesce(F.sum("__c"), F.lit(0))
            .cast("long")
            .alias("n_triangles")
        )
    )
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.expr("CAST(sum(d) div 2 AS BIGINT)").alias("n_edges"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
    )
    return (
        stats.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes", "n_edges", "n_wedges", "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    3 * F.col("n_triangles")
                    / F.col("n_wedges").cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("global_clustering"),
        )
    )


def triangle_estimate(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    sample_denom: int = 2,
) -> DataFrame:
    """DOULION sampled triangle estimate [Tsourakakis et al., KDD'09]:
    keep each undirected edge independently with probability
    p = 1/``sample_denom`` and run the exact degree-oriented census on
    the sample; every surviving triangle survived with probability p³,
    so ``est_triangles = sample_triangles · denom³`` is unbiased. Cost
    drops ~p² in wedges (the census bottleneck) — the fast path when
    the exact census's wedge volume is prohibitive; variance shrinks
    with triangle count, so at corpus scale even denom 8–16 is tight.

    The coin is the PORTABLE hash of the canonical edge (md5-based
    ``stable_hash64``), not Bernoulli randomness: the sample — and
    therefore the estimate — is deterministic, partition-independent,
    and bit-reproducible by the SQL twin. Output one row:
    (n_sample_edges, sample_triangles, est_triangles)."""
    from calp_cva_tracking_pipeline_spark.functions.hashing import (
        stable_hash64,
    )

    u = F.least(F.col(src_col), F.col(dst_col))
    v = F.greatest(F.col(src_col), F.col(dst_col))
    coin = stable_hash64(
        F.concat(u.cast("string"), F.lit("|"), v.cast("string"))
    )
    sampled = edges.filter(coin % sample_denom == 0)
    census = triangle_stats(sampled, src_col, dst_col)
    scale = sample_denom ** 3
    return census.select(
        F.col("n_edges").alias("n_sample_edges"),
        F.col("n_triangles").alias("sample_triangles"),
        (F.col("n_triangles") * scale).alias("est_triangles"),
    )


def triangle_estimate_sql(edges_cte: str, sample_denom: int = 2) -> str:
    """DuckDB twin of ``triangle_estimate`` (same portable coin, same
    census, same scale-up)."""
    h60 = (
        "CAST(CAST(('0x' || substring(md5(CAST(least(src, dst) AS VARCHAR)"
        " || '|' || CAST(greatest(src, dst) AS VARCHAR)), 1, 15)) AS"
        " UBIGINT) AS BIGINT)"
    )
    sampled = (
        f"SELECT src, dst FROM ({edges_cte}) all_e "
        f"WHERE {h60} % {sample_denom} = 0"
    )
    inner = triangle_stats_sql(sampled)
    return (
        f"SELECT n_edges AS n_sample_edges, "
        f"n_triangles AS sample_triangles, "
        f"CAST(n_triangles * {sample_denom ** 3} AS BIGINT) "
        f"AS est_triangles FROM ({inner}) census"
    )


def triangle_stats_sql(edges_cte: str) -> str:
    """DuckDB oracle twin of ``triangle_stats`` (same degree
    orientation, same wedge-close join)."""
    return f"""
WITH raw AS ({edges_cte}),
e AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM raw WHERE src <> dst),
deg AS (
  SELECT n, COUNT(*) AS d FROM (
    SELECT u AS n FROM e UNION ALL SELECT v FROM e) x GROUP BY 1),
o AS (
  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS t,
         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
              THEN dv.d ELSE du.d END AS dt
  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM o o1 JOIN o o2 ON o1.s = o2.s
   AND ((o1.dt < o2.dt) OR (o1.dt = o2.dt AND o1.t < o2.t))
  WHERE EXISTS (SELECT 1 FROM o oc WHERE oc.s = o1.t AND oc.t = o2.t)),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d) // 2 AS BIGINT) AS n_edges,
         CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg)
SELECT n_nodes, n_edges, n_wedges, CAST(n_triangles AS BIGINT) AS n_triangles,
       CASE WHEN n_wedges > 0
            THEN ROUND(3 * n_triangles / CAST(n_wedges AS DOUBLE), 6)
            ELSE 0.0 END AS global_clustering
FROM stats CROSS JOIN tri
"""


def pagerank_sql(
    edges_cte: str,
    n_nodes_unknown: bool = True,
    n_iter: int = 3,
    damping_pct: int = 85,
) -> str:
    """DuckDB oracle twin: the same integer recurrence, unrolled — the
    sentinel-accumulator (one-round-lag dangling) formulation the
    operator runs. Round i reads the lagged dangling scalar s{i-1}
    (s0 = the uniform init's dangling sum; s{i} = the dangling sum over
    r{i-1}) instead of the same-round sum, exactly like the sentinel
    row. ``edges_cte`` is a SELECT yielding (src, dst); duplicates
    collapse and NULL-endpoint edges drop here, matching the
    operator."""
    d = damping_pct
    s = RANK_SCALE
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_cte}) raw"
        " WHERE src IS NOT NULL AND dst IS NOT NULL)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1)",
        "n AS (SELECT COUNT(*) AS cnt FROM nodes)",
        f"r0 AS (SELECT node, {s} // cnt AS rank FROM nodes CROSS JOIN n)",
        f"s0 AS (SELECT (SELECT COUNT(*) FROM nodes LEFT JOIN deg "
        f"ON nodes.node = deg.src WHERE deg.src IS NULL)"
        f" * ({s} // cnt) AS sv FROM n)",
    ]
    for i in range(1, n_iter + 1):
        p, c = f"r{i - 1}", f"r{i}"
        if i > 1:
            # the lagged accumulator: dangling sum over the PREVIOUS
            # vector (what the sentinel row holds entering round i)
            parts.append(
                f"s{i - 1} AS (SELECT COALESCE(SUM(r.rank), 0) AS sv "
                f"FROM r{i - 2} r LEFT JOIN deg ON r.node = deg.src "
                f"WHERE deg.src IS NULL)"
            )
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, "
            f"SUM(r.rank // deg.outdeg) AS inflow "
            f"FROM e JOIN {p} r ON e.src = r.node "
            f"JOIN deg ON deg.src = e.src GROUP BY 1)"
        )
        # the damping-complement numerator is a constant; precompute so
        # DuckDB never types the d*s product as INT32 (it overflows)
        base_num = s - d * s // 100
        parts.append(
            f"{c} AS (SELECT nodes.node, "
            f"({base_num} // cnt) "
            f"+ ({d} * (COALESCE(c{i}.inflow, 0) + (s{i - 1}.sv // cnt)))"
            f" // 100 AS rank "
            f"FROM nodes CROSS JOIN n CROSS JOIN s{i - 1} "
            f"LEFT JOIN c{i} ON nodes.node = c{i}.node)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node, CAST(rank AS BIGINT) AS rank_nano FROM r{n_iter}"
    )


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    round_to: int = 6,
) -> DataFrame:
    """Degree assortativity coefficient of the undirected graph (Newman
    2002): the Pearson correlation of endpoint degrees over edges —
    positive when hubs attach to hubs (social cores), negative when hubs
    attach to leaves (hub-and-spoke crawls/infrastructure). One row:
    (n_nodes, n_edges, assortativity).

    Every edge contributes BOTH (deg u, deg v) and (deg v, deg u) — the
    standard symmetrization, which makes Σx = Σy / Σx² = Σy² so the
    correlation needs just four sufficient statistics. Degrees are exact
    integers, the statistics accumulate as DECIMAL(38,0) (order-
    independent, no long overflow at Σd² ≤ 2E·n²), and the final r
    derives in one fixed double expression — the same bit-exactness
    discipline as pf_corr/group_ols. Physical shape: degree aggregation,
    two degree-attach joins on the symmetrized edge list, one global
    aggregate; degree-join skew is the wedge-join story without the
    quadratic expansion (each edge emits exactly two rows). Zero-variance
    degree distributions (regular graphs) return NULL rather than 0/0.
    """
    u, v = "__u", "__v"
    # r15: e feeds four references (deg's union twice, sym's union
    # twice) and an un-cut canonical-edge build re-executed the whole
    # upstream edge construction per reference (executed-plan audit:
    # 8 fact scans, 8.2s at sf0.1). One lazy cut, the triangle_stats
    # discipline; deg stays un-cut (node-sized, behind e's cut).
    e = cut(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias(u),
            F.greatest(F.col(src_col), F.col(dst_col)).alias(v),
        )
        .filter(F.col(u) != F.col(v))
        .distinct()
    )
    deg = (
        e.select(F.col(u).alias("n"))
        .union(e.select(F.col(v).alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    sym = e.select(F.col(u).alias("a"), F.col(v).alias("b")).union(
        e.select(F.col(v).alias("a"), F.col(u).alias("b"))
    )
    xy = (
        sym.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "x"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "y"), "b")
        .select("x", "y")
    )
    # products multiply as decimal(19,0) (exact, no long overflow at
    # hub-degree extremes; DuckDB widens to int128 only above p=18)
    dx = F.col("x").cast("decimal(19,0)")
    dy = F.col("y").cast("decimal(19,0)")
    dec = "decimal(38,0)"
    s = xy.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum((dx * dx).cast(dec)).alias("sxx"),
        F.sum((dx * dy).cast(dec)).alias("sxy"),
    )
    m = F.col("m").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    den = m * sxx - sx * sx
    r = F.when(den > 0, F.round((m * sxy - sx * sx) / den, round_to))
    counts = deg.agg(
        F.count("*").alias("n_nodes"),
        F.expr("CAST(sum(d) div 2 AS BIGINT)").alias("n_edges"),
    )
    return counts.crossJoin(F.broadcast(s)).select(
        "n_nodes", "n_edges", r.alias("assortativity")
    )


def assortativity_sql(edges_cte: str) -> str:
    """DuckDB oracle twin of ``degree_assortativity`` (same
    symmetrization, same decimal sufficient statistics, same fixed
    double expression)."""
    return f"""
WITH raw AS ({edges_cte}),
e AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM raw WHERE src <> dst),
deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
  GROUP BY 1),
sym AS (
  SELECT u AS a, v AS b FROM e
  UNION ALL SELECT v AS a, u AS b FROM e),
xy AS (
  SELECT da.d AS x, db.d AS y
  FROM sym JOIN deg da ON da.n = sym.a JOIN deg db ON db.n = sym.b),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DOUBLE) AS sxx,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
              AS DOUBLE) AS sxy
  FROM xy),
c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d) // 2 AS BIGINT) AS n_edges
  FROM deg)
SELECT n_nodes, n_edges,
       CASE WHEN CAST(m AS DOUBLE) * sxx - sx * sx > 0
            THEN ROUND((CAST(m AS DOUBLE) * sxy - sx * sx)
                       / (CAST(m AS DOUBLE) * sxx - sx * sx), 6)
       END AS assortativity
FROM c CROSS JOIN s
"""


def kcore(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    k: int = 3,
    n_iter: int = 6,
) -> DataFrame:
    """Fixed-iteration k-core peeling (Seidman 1983): the maximal
    subgraph where every node keeps degree ≥ k — the standard robust-
    density filter (a hub with k spokes dies in one peel; a clique of
    k+1 survives every peel), used to pick the load-bearing region of a
    co-occurrence/link graph before expensive per-node work.

    Each of the ``n_iter`` rounds recomputes degrees over the surviving
    edge set and drops nodes under ``k`` — the SIMULTANEOUS-removal
    formulation, whose result is order-independent (unlike sequential
    peeling, which needs a tie order); the fixpoint is the k-core. A
    fixed ``n_iter`` keeps the whole computation one lazy DAG that both
    engines replay identically (the PageRank discipline: fixed rounds
    unroll into SQL CTEs — ``kcore_sql`` is the oracle twin); peeling
    cascades at the data's degree scale converge in a handful of rounds
    (every extra round past convergence is a no-op re-aggregation), and
    an unconverged census is still identical across engines.

    Scale shape per round: one node-keyed degree aggregation (map-side
    combined — degree partials, never raw edges, cross the wire) and
    two left-semi joins against the SURVIVOR NODE SET. The edge list
    canonicalizes once and is cut (``session.cut``), and each round's
    survivor set (node-sized — the ewma-seed discipline: only bounded
    state is ever checkpointed) checkpoints too, so every round filters
    the SAME materialized edges by the latest survivors instead of
    re-deriving a shrinking edge lineage. Survivor sets decrease
    monotonically, so filtering the original edges by the latest set
    equals progressive filtering — same fixpoint, but the physical plan
    is LINEAR in rounds (the first formulation referenced the evolving
    edge frame three times per round: 3^n plan copies, 2916 scans at
    n_iter=6 — found by plan audit in round 9, pinned in
    tests/test_plan_shapes.py). Edges canonicalize (least, greatest) +
    distinct and self-loops drop, so the input may be directed /
    duplicated. Output: (node, degree) of the surviving core, degree
    measured over the final surviving edge set.

    Engine-added; no reference counterpart.
    """
    u, v = "__u", "__v"
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias(u),
            F.greatest(F.col(src_col), F.col(dst_col)).alias(v),
        )
        .filter(F.col(u) != F.col(v))
        .distinct()
    )
    e = cut(e)
    surv = None

    def _restrict(base):
        if surv is None:
            return base
        return base.join(
            surv, F.col(u) == F.col("node"), "left_semi"
        ).join(surv, F.col(v) == F.col("node"), "left_semi")

    for _ in range(n_iter):
        deg = (
            _restrict(e)
            .select(F.explode(F.array(F.col(u), F.col(v))).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        surv = cut(deg.filter(F.col("degree") >= k).select("node"))
    final_deg = (
        _restrict(e)
        .select(F.explode(F.array(F.col(u), F.col(v))).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    return final_deg.orderBy("node")


def kcore_sql(edges_cte: str, k: int = 3, n_iter: int = 6) -> str:
    """DuckDB oracle for ``kcore``: the same fixed peeling unrolled into
    CTE stages (e0 → d1/s1/e1 → … → final degree census).

    Every CTE is ``AS MATERIALIZED``: DuckDB inlines plain CTEs, and
    each stage references its predecessor several times (degree union +
    two restriction joins), so 6 unrolled rounds would re-expand the
    base scan exponentially (~6⁶ parquet opens — found as a
    'Too many open files' failure, not just slowness).
    """
    parts = [
        f"WITH e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,"
        f" greatest(src, dst) AS v FROM ({edges_cte}) WHERE src <> dst)"
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f", d{i} AS MATERIALIZED (SELECT node, COUNT(*) AS c FROM ("
            f"SELECT u AS node FROM e{i-1} UNION ALL"
            f" SELECT v FROM e{i-1}) GROUP BY node)"
        )
        parts.append(
            f", s{i} AS MATERIALIZED"
            f" (SELECT node FROM d{i} WHERE c >= {k})"
        )
        parts.append(
            f", e{i} AS MATERIALIZED (SELECT e.u, e.v FROM e{i-1} e"
            f" JOIN s{i} a ON e.u = a.node"
            f" JOIN s{i} b ON e.v = b.node)"
        )
    parts.append(
        f" SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM ("
        f"SELECT u AS node FROM e{n_iter} UNION ALL"
        f" SELECT v FROM e{n_iter}) GROUP BY node ORDER BY node"
    )
    return "".join(parts)


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 4,
) -> DataFrame:
    """Fixed-iteration synchronous label propagation (Raghavan 2007):
    community detection for the co-occurrence graph tier — every node
    starts as its own label, and each round SIMULTANEOUSLY adopts the
    most frequent label among its neighbours (ties break to the
    smallest label, so every round is a deterministic function of the
    previous labelling — the published algorithm's random tie-break and
    asynchronous order would make cross-engine parity impossible).
    Distinct from ``connected_components`` (which merges everything
    reachable): LPA stops where a node's neighbourhood stops voting for
    the label, cutting weakly-linked regions apart.

    A fixed ``n_iter`` unrolls the rounds into one lazy DAG that both
    engines replay identically (the PageRank/k-core discipline;
    ``label_propagation_sql`` is the oracle twin). Synchronous LPA can
    oscillate on bipartite-ish regions rather than converge — with
    fixed rounds the census is still a deterministic, engine-portable
    labelling, which is the contract here.

    Scale shape per round: one adjacency⋈labels shuffle join on the
    neighbour key and one (node, label) vote aggregation; the argmax
    resolves INSIDE the aggregation as ``max(struct(votes, -label))``
    — map-side combinable, no per-node sort, no window. Adjacency is
    edge-keyed throughout; labels are node-sized. Edges canonicalize
    (least, greatest) + distinct with self-loops dropped, so the input
    may be directed/duplicated. Output: (node, label) for every node
    with at least one edge.

    Engine-added; no reference counterpart.
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("__u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("__v"),
        )
        .filter(F.col("__u") != F.col("__v"))
        .distinct()
    )
    adj = e.select(
        F.col("__u").alias("node"), F.col("__v").alias("nbr")
    ).union(e.select(F.col("__v").alias("node"), F.col("__u").alias("nbr")))
    # the static adjacency is consumed once per round: cut it once so
    # rounds start from a materialized frame instead of n_iter replans
    # of the canonicalize+distinct subtree (the pagerank static-frame
    # discipline; reliable when the context has a checkpoint dir)
    adj = cut(adj)
    labels = adj.select("node").distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(n_iter):
        votes = (
            adj.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("lbl")
                ),
                "nbr",
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        labels = votes.groupBy("node").agg(
            (
                -F.max(F.struct(F.col("__c"), (-F.col("lbl")).alias("__nl")))[
                    "__nl"
                ]
            ).alias("lbl")
        )
    return labels.select(
        "node", F.col("lbl").cast("bigint").alias("label")
    ).orderBy("node")


def label_propagation_sql(edges_cte: str, n_iter: int = 4) -> str:
    """DuckDB oracle for ``label_propagation``: the same fixed rounds
    unrolled into CTE stages, with the argmax written as the obviously-
    correct ROW_NUMBER form (votes DESC, label ASC) — matching the
    Spark side's ``max(struct(votes, -label))`` proves the two argmax
    formulations agree on every node. ``AS MATERIALIZED`` for the same
    reason as ``kcore_sql`` (each stage is referenced downstream; plain
    CTEs re-expand the base scan exponentially)."""
    parts = [
        f"WITH e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,"
        f" greatest(src, dst) AS v FROM ({edges_cte}) WHERE src <> dst)",
        ", adj AS MATERIALIZED (SELECT u AS node, v AS nbr FROM e0"
        " UNION ALL SELECT v, u FROM e0)",
        ", l0 AS MATERIALIZED (SELECT DISTINCT node, node AS lbl FROM adj)",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f", v{i} AS MATERIALIZED (SELECT a.node, l.lbl,"
            f" COUNT(*) AS c FROM adj a"
            f" JOIN l{i-1} l ON a.nbr = l.node GROUP BY a.node, l.lbl)"
        )
        parts.append(
            f", l{i} AS MATERIALIZED (SELECT node, lbl FROM ("
            f"SELECT node, lbl, ROW_NUMBER() OVER (PARTITION BY node"
            f" ORDER BY c DESC, lbl ASC) AS rn FROM v{i}) WHERE rn = 1)"
        )
    parts.append(
        f" SELECT node, CAST(lbl AS BIGINT) AS label FROM l{n_iter}"
        f" ORDER BY node"
    )
    return "".join(parts)


def neighbor_similarity(
    edges: DataFrame,
    min_shared: int = 2,
    threshold: float = 0.2,
    max_neighbors: int | None = None,
) -> DataFrame:
    """Neighborhood-Jaccard node similarity — the structural
    link-prediction primitive (Liben-Nowell & Kleinberg 2003): for every
    node pair sharing ≥ ``min_shared`` neighbors, J = |N(a)∩N(b)| /
    |N(a)∪N(b)|, kept when J ≥ ``threshold``. Pairs connected by an
    edge are scored like any other (the inclusive formulation — callers
    anti-join the edge list when they want MISSING-link candidates
    only).

    Physical shape: undirected edges dedupe once; shared-neighbor
    counts come from the wedge expansion as a CENTER-KEYED SELF-JOIN of
    the adjacency (shuffle-hash — graph-sized, never broadcast), whose
    joined rows partial-aggregate in-stage before the (a, b) pair
    exchange. Volume is Σ deg(w)², the SAME wedge bound the triangle
    census measured linear-in-data at 64× (α=1.05). The self-join is
    safe because the adjacency is lineage-cut (r15): both sides stream
    off one RDD instead of replanning the edge build — and it replaced
    the former per-center collect_list + in-array pair unrolling, whose
    nested higher-order lambdas evaluate INTERPRETED with a
    collection-valued slice per element (r15 interleaved A/B at sf0.1:
    27.9 → 23.9s median on identical output; the residual is the wedge
    exchange volume itself, the operator's documented α≈1.0 contract).
    ``max_neighbors`` drops mega-hub centers (a hub's wedge fan-out is
    quadratic in its degree and its shared-neighbor signal is
    near-zero — the stop-word of graphs), the explicit volume-guard
    pattern of the dedup buckets. Degree attachment is a node-sized
    join; AQE broadcasts when small.

    Integer-exact decisions: the keep predicate is
    shared·10⁶ ≥ tn·(deg_a + deg_b − shared) over 64-bit counts; the
    reported jaccard is one IEEE division rounded to 6 dp.

    Output: (node_a < node_b, shared, jaccard).
    """
    tn = int(round(threshold * 1_000_000))
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("s"),
            F.greatest("src", "dst").alias("d"),
        )
        .distinct()
    )
    # r15: adj feeds deg (referenced three ways below) and the wedge
    # buckets; un-cut, every consumer re-executed the union+distinct
    # and the whole upstream edge build (12 fact scans in the executed
    # plan). One lazy cut; deg stays un-cut behind it (node-sized).
    adj = cut(
        e.select(F.col("s").alias("w"), F.col("d").alias("n"))
        .unionByName(e.select(F.col("d").alias("w"), F.col("s").alias("n")))
        .distinct()
    )
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    centers = adj
    if max_neighbors is not None:
        big = deg.filter(F.col("deg") > max_neighbors).select("w")
        centers = adj.join(big, "w", "left_anti")
    ca = centers.select("w", F.col("n").alias("na"))
    cb = centers.select("w", F.col("n").alias("nb"))
    shared = (
        ca.join(cb.hint("shuffle_hash"), "w")
        .filter(F.col("na") < F.col("nb"))
        .groupBy("na", "nb")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    da = deg.select(F.col("w").alias("na"), F.col("deg").alias("__da"))
    db = deg.select(F.col("w").alias("nb"), F.col("deg").alias("__db"))
    un = F.col("__da") + F.col("__db") - F.col("shared")
    return (
        shared.join(da, "na")
        .join(db, "nb")
        .filter(F.col("shared") * F.lit(1_000_000) >= F.lit(tn) * un)
        .select(
            F.col("na").alias("node_a"),
            F.col("nb").alias("node_b"),
            "shared",
            F.round(F.col("shared").cast("double") / un, 6).alias(
                "jaccard"
            ),
        )
    )


def neighbor_similarity_sql(
    edges_cte: str,
    min_shared: int = 2,
    threshold: float = 0.2,
    max_neighbors: int | None = None,
) -> str:
    """DuckDB oracle twin of ``neighbor_similarity`` (naive wedge
    self-join formulation — parity proves the in-array expansion emits
    identical pair counts)."""
    tn = int(round(threshold * 1_000_000))
    guard = ""
    if max_neighbors is not None:
        guard = f"""
cap AS (SELECT w FROM deg WHERE deg <= {max_neighbors}),
cadj AS (SELECT a.* FROM adj a JOIN cap c ON a.w = c.w),"""
    src = "cadj" if max_neighbors is not None else "adj"
    return f"""
WITH e AS (
  SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS d
  FROM ({edges_cte}) WHERE src <> dst),
adj AS (
  SELECT s AS w, d AS n FROM e UNION SELECT d, s FROM e),
deg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY w),{guard}
wp AS (
  SELECT a.n AS na, b.n AS nb, CAST(COUNT(*) AS BIGINT) AS shared
  FROM {src} a JOIN {src} b ON a.w = b.w AND a.n < b.n
  GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared})
SELECT wp.na AS node_a, wp.nb AS node_b, shared,
       ROUND(CAST(shared AS DOUBLE)
             / (da.deg + db.deg - shared), 6) AS jaccard
FROM wp
JOIN deg da ON wp.na = da.w
JOIN deg db ON wp.nb = db.w
WHERE shared * 1000000 >= {tn} * (da.deg + db.deg - shared)
"""


def bfs_layers(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    n_iter: int = 4,
) -> DataFrame:
    """Multi-source BFS over the UNDIRECTED graph behind ``edges``:
    (node, dist) = fewest hops from ANY node in ``sources``, up to
    ``n_iter`` hops (unreached nodes are omitted — the frontier the
    fixed-iteration budget reached). The reachability/influence-radius
    primitive next to the ranking (pagerank) and cohesion (k-core)
    tiers: seed-set expansion, contamination blast-radius, "within k
    hops of a flagged account".

    Same lineage discipline as ``connected_components``: the symmetric
    edge list is cut ONCE; each round is one edge join + a
    dst-keyed min + a full-outer min-merge with the previous distance
    table, and the (node, dist) state — referenced twice per round —
    is cut per round, so the visible plan is one round deep
    at any ``n_iter``. Distances are monotone under the min-merge, so
    round k holds exactly the <= k-hop closure (induction; the oracle
    unrolls the same recurrence). State is node-sized; the checkpoint
    is the kcore-blessed bounded-state cut, not the row-scaled one the
    pagerank lesson warns about.
    """
    e = (
        edges.select(
            F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
        )
        .union(
            edges.select(
                F.col(dst_col).alias("__s"), F.col(src_col).alias("__d")
            )
        )
        .filter(F.col("__s") != F.col("__d"))
        .distinct()
    )
    e = cut(e)
    dist = sources.select(
        F.col(node_col).alias("node"), F.lit(0).cast("int").alias("dist")
    ).distinct()
    for _ in range(n_iter):
        dist = cut(dist)
        reached = (
            e.join(dist, e["__s"] == dist["node"])
            .groupBy(F.col("__d").alias("node"))
            .agg((F.min("dist") + 1).cast("int").alias("__nd"))
        )
        dist = (
            dist.join(reached, "node", "full")
            .select(
                "node",
                F.least(
                    F.coalesce(F.col("dist"), F.col("__nd")),
                    F.coalesce(F.col("__nd"), F.col("dist")),
                ).alias("dist"),
            )
        )
    return dist.orderBy("node")


def bfs_sql(
    edges_cte: str, sources_cte: str, n_iter: int = 4
) -> str:
    """DuckDB oracle for ``bfs_layers``: the same min-merge recurrence
    unrolled into materialized CTE stages (the kcore_sql discipline —
    each stage references its predecessor twice, so plain CTEs would
    re-expand exponentially)."""
    parts = [
        f"WITH e0 AS MATERIALIZED (SELECT DISTINCT s, d FROM ("
        f"SELECT src AS s, dst AS d FROM ({edges_cte})"
        f" UNION ALL SELECT dst, src FROM ({edges_cte})) t"
        f" WHERE s <> d),"
        f" d0 AS MATERIALIZED (SELECT DISTINCT node,"
        f" CAST(0 AS INTEGER) AS dist FROM ({sources_cte}))"
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f", r{i} AS MATERIALIZED ("
            f"SELECT e.d AS node,"
            f" CAST(MIN(p.dist) + 1 AS INTEGER) AS nd"
            f" FROM e0 e JOIN d{i-1} p ON e.s = p.node GROUP BY e.d)"
        )
        parts.append(
            f", d{i} AS MATERIALIZED ("
            f"SELECT COALESCE(p.node, r.node) AS node,"
            f" CAST(LEAST(COALESCE(p.dist, r.nd),"
            f" COALESCE(r.nd, p.dist)) AS INTEGER) AS dist"
            f" FROM d{i-1} p FULL OUTER JOIN r{i} r ON p.node = r.node)"
        )
    parts.append(
        f" SELECT node, dist FROM d{n_iter} ORDER BY node"
    )
    return "".join(parts)


def aa_weights_nano(max_deg: int) -> list[int]:
    """Adamic-Adar degree weights round(1e9/ln(d)) for d = 1..max_deg
    as integer nano-unit literals, computed ONCE in plan-time Python so
    Spark plans AND SQL oracles embed the SAME numbers — runtime
    ``ROUND(1e9/LN(deg))`` diverged by 1 nano between JVM and DuckDB
    libm on real degrees (caught by sf0.1 parity), and a 1-nano term
    difference crosses 6-dp rounding boundaries after a 14-term sum.
    d = 1 gets weight 0 (a degree-1 center produces no pairs)."""
    import math

    return [0] + [
        int(round(1e9 / math.log(d))) for d in range(2, max_deg + 1)
    ]


def adamic_adar(
    edges: DataFrame,
    min_shared: int = 2,
    min_score_nano: int = 0,
    max_neighbors: int = 64,
    top_k_per_node: int | None = None,
) -> DataFrame:
    """Adamic-Adar link-prediction score: for node pairs sharing
    neighbors, AA(a,b) = sum over shared neighbors w of 1/ln(deg(w)) --
    the degree-weighted refinement of neighborhood Jaccard
    (``neighbor_similarity``): a shared RARE neighbor is strong
    evidence, a shared hub is weak (Adamic & Adar 2003). Pairs with
    fewer than ``min_shared`` shared neighbors or score below
    ``min_score_nano`` drop.

    Physical shape: wedges are ``dedup.bucket_pairs`` on the center,
    whose weight rides as a second bucket key (``deg`` is a function of
    the center) so each wedge row carries its nano-pinned
    contribution; the per-pair sum is then a 64-bit integer
    aggregation, order-independent and engine-exact, and the score
    ships in integer NANO-units (a rounded float would sit on exact
    half boundaries where engine rounding modes disagree). Weights are
    PLAN-TIME literals (``aa_weights_nano`` -- runtime 1e9/ln(deg)
    diverges by 1 nano across engine libms), which is why the
    ``max_neighbors`` hub cap is MANDATORY here: it bounds both the
    quadratic wedge fan-out (the graph stop-word guard) and the
    literal weight table. ``top_k_per_node`` keeps only the k strongest
    candidates per node_a (aa desc, node_b — a total order): on DENSE
    co-occurrence graphs the full pair set is Theta(n^2) BY THE
    SEMANTICS (every pair shares something), and the serving shape of
    link prediction is top-k candidates per node anyway — the cut is
    a WindowGroupLimit, so the quadratic set is ranked per key, never
    globally materialized. Output: (node_a < node_b, shared, aa_nano
    [, aa_rank when cut]).
    """
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("s"),
            F.greatest("src", "dst").alias("d"),
        )
        .distinct()
    )
    # adjacency is referenced by the degree aggregate AND the center
    # join (which itself contains deg -> adj again): un-cut, the edge
    # scan re-expands ~6x in the plan (measured 12 parquet scans at
    # sf0.01) — one lazy cut of the static frame bounds it, the
    # pagerank static-frame discipline
    adj = cut(
        e.select(F.col("s").alias("w"), F.col("d").alias("n"))
        .unionByName(
            e.select(F.col("d").alias("w"), F.col("s").alias("n"))
        )
        .distinct()
    )
    deg = adj.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    centers = adj.join(deg, "w").filter(
        F.col("deg") <= max_neighbors
    )
    wtab = F.array(
        *[F.lit(x).cast("long") for x in aa_weights_nano(max_neighbors)]
    )
    w_nano = F.element_at(wtab, F.col("deg").cast("int"))
    wedges = bucket_pairs(
        centers.select("w", w_nano.alias("__w"), "n"), ["w", "__w"], "n"
    )
    out = (
        wedges.groupBy(
            F.col("n_a").alias("node_a"), F.col("n_b").alias("node_b")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("shared"),
            F.sum("__w").cast("bigint").alias("__aa"),
        )
        .filter(
            (F.col("shared") >= min_shared)
            & (F.col("__aa") >= min_score_nano)
        )
        .select(
            "node_a",
            "node_b",
            "shared",
            # integer nano-units, never a rounded float: 14-term weight
            # sums land on exact .5 micro boundaries where engine
            # rounding modes disagree (caught by sf0.1 parity)
            F.col("__aa").alias("aa_nano"),
        )
    )
    if top_k_per_node is not None:
        from pyspark.sql import Window as _W

        w = _W.partitionBy("node_a").orderBy(
            F.col("aa_nano").desc(), F.col("node_b")
        )
        out = (
            out.withColumn("aa_rank", F.row_number().over(w))
            .filter(F.col("aa_rank") <= top_k_per_node)
        )
    return out.orderBy("node_a", "node_b")


def degree_stats(edges: DataFrame) -> DataFrame:
    """Degree-distribution census of an undirected simple graph — the
    first question asked of any co-occurrence/link graph before running
    the heavier tiers (triangles, communities, link prediction): how
    heavy is the tail, and how many nodes live in each octave. Edges
    arrive directed/duplicated; they normalize to distinct undirected
    pairs first (self-loops dropped), exactly the adamic_adar/
    neighbor-similarity edge contract.

    Buckets are log2 OCTAVES computed INTEGER-exactly as
    ``length(bin(degree))`` = floor(log2 d)+1 — both engines render the
    same binary string, so the bucket cut is bit-exact (a libm
    floor(log2(x)) would re-open the 1-ulp divergence the graph tier
    already banned; the dcg/aa literal-weight lesson). Per bucket:
    node population, min/max degree, total degree mass. Shape: one
    edge dedup exchange, one node-degree aggregation (shuffle = nodes),
    one octave-sized rollup. Output: (bucket, n_nodes, min_degree,
    max_degree, total_degree), ordered by bucket.
    """
    e = (
        edges.filter(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .select(
            F.least(F.col("src"), F.col("dst")).alias("__u"),
            F.greatest(F.col("src"), F.col("dst")).alias("__v"),
        )
        .distinct()
    )
    adj = e.select(F.col("__u").alias("__w")).unionAll(
        e.select(F.col("__v").alias("__w"))
    )
    deg = adj.groupBy("__w").agg(
        F.count(F.lit(1)).cast("bigint").alias("__deg")
    )
    return (
        deg.select(
            F.length(F.bin(F.col("__deg"))).cast("int").alias("bucket"),
            "__deg",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("__deg").cast("bigint").alias("min_degree"),
            F.max("__deg").cast("bigint").alias("max_degree"),
            F.sum("__deg").cast("bigint").alias("total_degree"),
        )
        .orderBy("bucket")
    )


def local_clustering_census(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Local-clustering-coefficient census of the undirected simple
    graph: per node with degree ≥ 2, cc = 2·tri(n) / (deg·(deg−1)),
    published as a 0.1-wide band histogram (band = cc_ppm // 100000,
    0..10) with exact floor-mean cc per band — the node-level texture
    behind ``triangle_stats``' one global number (a clustered-core +
    random-periphery graph and a uniform one can share a global
    coefficient; the census tells them apart). Degree-1 and isolated
    nodes are excluded by contract (C(deg,2)=0 makes cc undefined).

    Scale shape: the SAME degree orientation as ``triangle_stats``
    (out-degree bounded by O(√E) [Chiba–Nishizeki]), closed
    EDGE-centrically (r15, the triangle_stats restructure): each
    oriented edge (s,t) carries both endpoints' out-adjacency arrays
    and every common out-neighbor c ∈ N⁺(s)∩N⁺(t) witnesses one
    triangle {s,t,c} — per-node counts are |∩| credited to s and t
    plus an explode of the intersection itself (3 credits per
    triangle, output-proportional), never the Σ outdeg² wedge-row
    materialization the wedge-join spelling shuffled.
    cc_ppm = 1000000·2·tri // (deg·(deg−1)) in exact int64 (deg is
    bounded by the node count, so 2·10⁶·C(deg,2) fits comfortably), and
    band means are floor divisions — bit-identical in the DuckDB twin
    (``local_clustering_sql``).
    """
    u, v = "__u", "__v"
    e = cut(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias(u),
            F.greatest(F.col(src_col), F.col(dst_col)).alias(v),
        )
        .filter(F.col(u) != F.col(v))
        .distinct()
    )
    deg = (
        e.select(F.col(u).alias("n"))
        .union(e.select(F.col(v).alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    o = cut(
        e.join(deg.withColumnRenamed("n", u).withColumnRenamed("d", "du"), u)
        .join(deg.withColumnRenamed("n", v).withColumnRenamed("d", "dv"), v)
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col(u) < F.col(v))),
                F.struct(
                    F.col(u).alias("s"), F.col(v).alias("t"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col(v).alias("s"), F.col(u).alias("t"),
                )
            )
            .alias("edge")
        )
        .select("edge.s", "edge.t")
    )
    # Same shuffle-hash discipline as triangle_stats: the adjacency
    # table is graph-sized, never a broadcast candidate. Each edge row
    # credits s and t with |N⁺(s)∩N⁺(t)| triangles and each common
    # out-neighbor with one — the same 3 credits per triangle the
    # wedge-join spelling produced by exploding (a,b,c) rows, without
    # ever materializing Σ outdeg² wedges through an exchange.
    adj = cut(
        o.groupBy("s")
        .agg(F.collect_list("t").alias("__ts"))
    )
    inter = (
        o.select("s", "t")
        .join(adj.hint("shuffle_hash"), "s")
        .select("s", "t", F.col("__ts").alias("__ss"))
        .join(
            adj.withColumnRenamed("s", "t").hint("shuffle_hash"), "t"
        )
        .select(
            "s", "t",
            F.array_intersect("__ss", "__ts").alias("__i"),
        )
    )
    # one explode emits every credit row — (s, |∩|), (t, |∩|) and one
    # (c, 1) per common neighbor — so the join chain above is planned
    # exactly once (three union branches would replan it 3x).
    # Empty intersections are dropped AFTER the explode (__c > 0), not
    # by a filter on size(__i) before it: a pre-explode filter on the
    # projected intersect column gets pushed through the projection and
    # re-evaluates array_intersect per edge row (filter + project — the
    # guide §4.4 duplicate-evaluation trap, r15). Equivalence: an empty
    # __i emits only its two zero-credit endpoint structs, which add 0
    # to the per-node sums, and a node whose rows are ALL dropped falls
    # out of tri_per_node — absorbed by the left join + coalesce(t, 0)
    # below. Output is bit-identical either way; post-explode the
    # predicate reads a materialized struct field, never the intersect.
    credits = inter.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("s").alias("n"),
                        F.size("__i").alias("__c"),
                    ),
                    F.struct(
                        F.col("t").alias("n"),
                        F.size("__i").alias("__c"),
                    ),
                ),
                F.transform(
                    "__i",
                    lambda x: F.struct(
                        x.alias("n"), F.lit(1).alias("__c")
                    ),
                ),
            )
        ).alias("cr")
    ).filter(F.col("cr.__c") > 0)
    tri_per_node = credits.groupBy(F.col("cr.n").alias("n")).agg(
        F.sum("cr.__c").alias("t")
    )
    per_node = (
        deg.filter(F.col("d") >= 2)
        .join(tri_per_node, "n", "left")
        .select(
            "n",
            F.expr(
                "CAST(1000000 * 2 * coalesce(t, 0) "
                "div (d * (d - 1)) AS BIGINT)"
            ).alias("cc_ppm"),
        )
    )
    return (
        per_node.groupBy(
            F.expr("CAST(cc_ppm div 100000 AS INT)").alias("band")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.expr(
                "CAST(sum(cc_ppm) div count(*) AS BIGINT)"
            ).alias("mean_cc_ppm"),
        )
        .orderBy("band")
    )


def local_clustering_sql(edges_cte: str) -> str:
    """DuckDB oracle twin of ``local_clustering_census`` (same degree
    orientation, same inner wedge-close join, same floor arithmetic)."""
    return f"""
WITH raw AS ({edges_cte}),
e AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM raw WHERE src <> dst),
deg AS (
  SELECT n, COUNT(*) AS d FROM (
    SELECT u AS n FROM e UNION ALL SELECT v FROM e) x GROUP BY 1),
o AS (
  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS t,
         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
              THEN dv.d ELSE du.d END AS dt
  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
tri AS (
  SELECT o1.a, o1.b, oc.t AS c FROM
    (SELECT s AS a, t AS b, dt AS db FROM o) o1
    JOIN (SELECT s AS a, t AS c, dt AS dc FROM o) o2 ON o1.a = o2.a
    JOIN o oc ON oc.s = o1.b AND oc.t = o2.c
  WHERE (o1.db < o2.dc) OR (o1.db = o2.dc AND o1.b < o2.c)),
tpn AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS t FROM (
    SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri) x GROUP BY 1),
per_node AS (
  SELECT deg.n,
         CAST(1000000 * 2 * COALESCE(tpn.t, 0)
              // (deg.d * (deg.d - 1)) AS BIGINT) AS cc_ppm
  FROM deg LEFT JOIN tpn ON tpn.n = deg.n WHERE deg.d >= 2)
SELECT CAST(cc_ppm // 100000 AS INT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(cc_ppm) // COUNT(*) AS BIGINT) AS mean_cc_ppm
FROM per_node GROUP BY 1 ORDER BY band
"""


def square_census(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_degree: int | None = None,
) -> DataFrame:
    """Exact 4-cycle (square) census — the bipartite-style clustering
    signal triangles cannot see (co-purchase and user-item graphs are
    locally bipartite: triangle-free yet massively 4-cyclic; squares
    are their community texture). Count = Σ_{u<v} C(codeg(u,v), 2) / 2
    over node-pair co-degrees — each square is counted once per
    diagonal pair, and the division is exact because every square
    contributes to exactly two diagonals of the SAME graph (the halving
    is integral only on a true subgraph, which is why ``max_degree``
    prunes hub NODES from the graph before counting, never just wedge
    centers: a centers-only cap would break diagonal parity and the
    closed-form would stop being integral).

    Physical shape: co-degrees count ``dedup.bucket_pairs`` wedges on
    the center (one exchange, wedge volume Σ deg(w)² — measured α≈1
    linear at 64×), then one (u,v)-keyed count and one global sum.
    Output: one row (n_nodes, n_edges, n_codeg_pairs, n_squares).
    """
    # r15: the canonical edge frame feeds the degree screen (twice),
    # the hub anti-joins and the adjacency union (twice) — un-cut, the
    # whole upstream edge build re-executed per reference (20 fact
    # scans in the executed plan, 7.3s at sf0.1). Cut it once, and cut
    # the symmetrized adjacency once below (its two consumers each
    # re-ran the union+distinct exchange).
    e = cut(
        edges.filter(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(F.col(src_col), F.col(dst_col)).alias("s"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("d"),
        )
        .distinct()
    )
    if max_degree is not None:
        adj0 = (
            e.select(F.col("s").alias("w"))
            .unionByName(e.select(F.col("d").alias("w")))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        hubs = adj0.filter(F.col("deg") > max_degree).select("w")
        e = (
            e.join(hubs.withColumnRenamed("w", "s"), "s", "left_anti")
            .join(hubs.withColumnRenamed("w", "d"), "d", "left_anti")
            .select("s", "d")
        )
    # adj deliberately NOT cut: storing a second edge-sized RDD on top
    # of e's checkpoint tipped a 1 GiB-heap session into executor OOM
    # at sf0.1 (r15 measured); its two consumers replan the
    # union+distinct off e's cut instead — one cheap exchange each.
    adj = (
        e.select(F.col("s").alias("w"), F.col("d").alias("n"))
        .unionByName(e.select(F.col("d").alias("w"), F.col("s").alias("n")))
        .distinct()
    )
    codeg = (
        bucket_pairs(adj, ["w"], "n")
        .groupBy("n_a", "n_b")
        .agg(F.count(F.lit(1)).cast("long").alias("cd"))
    )
    sq = codeg.agg(
        F.count(F.when(F.col("cd") >= 2, 1))
        .cast("bigint")
        .alias("n_codeg_pairs"),
        F.expr(
            "CAST(coalesce(sum(cd * (cd - 1) div 2), 0) div 2"
            " AS BIGINT)"
        ).alias("n_squares"),
    )
    stats = adj.groupBy("w").agg(F.count(F.lit(1)).alias("deg")).agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.expr("CAST(sum(deg) div 2 AS BIGINT)").alias("n_edges"),
    )
    return stats.crossJoin(F.broadcast(sq)).select(
        "n_nodes", "n_edges", "n_codeg_pairs", "n_squares"
    )


def square_census_sql(edges_cte: str, max_degree: int | None = None) -> str:
    """DuckDB oracle twin of ``square_census`` (naive wedge self-join
    co-degrees on the same hub-pruned subgraph)."""
    prune = ""
    if max_degree is not None:
        prune = f""",
deg0 AS (
  SELECT n, COUNT(*) AS d FROM (
    SELECT s AS n FROM e0 UNION ALL SELECT d FROM e0) x GROUP BY 1),
hubs AS (SELECT n FROM deg0 WHERE d > {max_degree})"""
    esrc = "e0" if max_degree is None else (
        "(SELECT s, d FROM e0 WHERE s NOT IN (SELECT n FROM hubs)"
        " AND d NOT IN (SELECT n FROM hubs))"
    )
    return f"""
WITH raw AS ({edges_cte}),
e0 AS (
  SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d
  FROM raw WHERE src <> dst){prune},
e AS (SELECT * FROM {esrc}),
adj AS (
  SELECT DISTINCT w, n FROM (
    SELECT s AS w, d AS n FROM e UNION ALL SELECT d, s FROM e) x),
codeg AS (
  SELECT a1.n AS na, a2.n AS nb, COUNT(*) AS cd
  FROM adj a1 JOIN adj a2 ON a1.w = a2.w AND a1.n < a2.n
  GROUP BY 1, 2),
sq AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN cd >= 2 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_codeg_pairs,
         CAST(COALESCE(SUM(cd * (cd - 1) // 2), 0) // 2 AS BIGINT)
             AS n_squares
  FROM codeg),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d) // 2 AS BIGINT) AS n_edges
  FROM (SELECT w, COUNT(*) AS d FROM adj GROUP BY 1))
SELECT n_nodes, n_edges, n_codeg_pairs, n_squares
FROM stats CROSS JOIN sq
"""


def _hits(e: DataFrame, n_iter: int, name: str) -> DataFrame:
    """The one HITS kernel behind ``hits`` and ``hits_weighted``:
    fixed-iteration weighted rounds a ← Σ w·h over in-edges and
    h ← Σ w·a over out-edges on the framed edge set ``e`` =
    (__s, __d, __w). ``name`` labels the overflow error.

    Engine-exactness (the pagerank nano discipline, adapted): rounds
    run UN-normalized over exact integer state carried as
    decimal(38,0) — per-round L1 normalization would reference the
    evolving frame twice per round (the ev_markov_stationary
    exponential-planning trap) and per-round floor rounding would
    compound; unnormalized sums stay exact and ONE final L1
    normalization to integer nano units makes both scores
    bit-identical across engines/partitionings via the unrolled SQL
    recurrence.

    Plan shape: the framed edge set is the static frame (checkpoint
    once); each round is one src-keyed join + dst-keyed aggregate and
    its mirror — the evolving score frames are referenced ONCE per
    round, so the plan is linear in n_iter; the shared 2t-round prefix
    is cut once at the last authority frame. Nodes with no in-edges
    report authority 0 (no out-edges → hub 0); every node of the edge
    set appears. Output: (node, hub_nano, auth_nano), ordered by node.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1: {n_iter}")
    e = cut(e, eager=True)
    nodes = (
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
    )
    # loud overflow guard (one cheap pass over the checkpointed edge
    # frame): unnormalized scores are bounded by
    # n · (W_out_max · W_in_max)^n_iter · 1e9 (weighted degrees; plain
    # degrees on a distinct edge set); past decimal(38,0) / HUGEINT
    # range, ANSI engines throw but a non-ANSI Spark session would
    # return NULL sums that the zero-score reattachment silently maps
    # to 0 — fail loudly here instead.
    deg = (
        e.groupBy("__s")
        .agg(F.sum("__w").alias("__c"))
        .agg(
            F.max("__c").alias("wo"),
            F.count(F.lit(1)).alias("ns"),
        )
        .crossJoin(
            e.groupBy("__d")
            .agg(F.sum("__w").alias("__c"))
            .agg(F.max("__c").alias("wi"))
        )
        .collect()
    )
    deg = deg[0] if deg else None
    if deg is not None and deg["wo"] is not None:
        bound = (
            (deg["wo"] * deg["wi"]) ** n_iter * (10**9) * max(deg["ns"], 1)
        )
        # the guarded quantity is the FINAL normalization multiply
        # (score * 1e9 before the div), not the raw score bound — a
        # bound in [1e29, 1e38) passes the raw check yet overflows
        # `__h * 1000000000`, silently NULLing on non-ANSI Spark
        # (round-13 advisor catch)
        if bound * (10**9) >= 10**38:
            raise ValueError(
                f"{name}(): normalization bound "
                f"n·(W_out·W_in)^t·1e18 ≈ 1e{len(str(bound)) + 8} "
                "exceeds decimal(38,0)/HUGEINT range — lower n_iter or "
                "pre-cap hub degrees (degree cap is the documented "
                "contract for supercritical graphs, as in gr_adamic_adar)"
            )
    one = F.lit(1_000_000_000).cast("decimal(38,0)")
    # w = 1 (every edge of a distinct edge set) skips the DECIMAL
    # multiply: the same value, and multiplying every edge made gr_hits
    # ~4% slower (median of 15 warm runs, sf0.1, 4 cores)
    w_score = (
        F.when(F.col("__w") == 1, F.col("score"))
        .otherwise(F.col("__w") * F.col("score"))
        .cast("decimal(38,0)")
    )
    h = nodes.select("node", one.alias("score"))
    a = None
    for i in range(n_iter):
        a = (
            e.join(h, e["__s"] == h["node"])
            .groupBy(F.col("__d").alias("node"))
            .agg(F.sum(w_score).cast("decimal(38,0)").alias("score"))
        )
        if i == n_iter - 1:
            # cut ONCE at the shared prefix: hub's lineage extends a's
            # by one round, so cutting a here means the two downstream
            # checkpoints (hub, auth) never re-execute the 2t-round
            # prefix twice (round-13 advisor catch — the two consumers
            # otherwise re-ran the whole iteration independently)
            a = cut(a, eager=True)
        h = (
            e.join(a, e["__d"] == a["node"])
            .groupBy(F.col("__s").alias("node"))
            .agg(F.sum(w_score).cast("decimal(38,0)").alias("score"))
        )
    # re-attach zero-score nodes (no out-edges / no in-edges) and take
    # the single final normalization per vector
    hub = nodes.join(
        h.withColumnRenamed("score", "__h"), ["node"], "left"
    ).select(
        "node",
        F.coalesce(F.col("__h"), F.lit(0).cast("decimal(38,0)")).alias(
            "__h"
        ),
    )
    auth = nodes.join(
        a.withColumnRenamed("score", "__a"), ["node"], "left"
    ).select(
        "node",
        F.coalesce(F.col("__a"), F.lit(0).cast("decimal(38,0)")).alias(
            "__a"
        ),
    )
    # node-sized cut before normalization: the total and the division
    # both consume the frame, and re-planning 2·n_iter join rounds per
    # consumer is the markov/kcore lineage trap; the totals then ride a
    # one-row broadcast, never a single-partition global window
    hub = cut(hub, eager=True)
    auth = cut(auth, eager=True)
    hub = hub.crossJoin(
        F.broadcast(
            hub.agg(F.sum("__h").cast("decimal(38,0)").alias("__th"))
        )
    ).select(
        "node",
        F.expr(
            "CAST((__h * 1000000000) div __th AS BIGINT)"
        ).alias("hub_nano"),
    )
    auth = auth.crossJoin(
        F.broadcast(
            auth.agg(F.sum("__a").cast("decimal(38,0)").alias("__ta"))
        )
    ).select(
        "node",
        F.expr(
            "CAST((__a * 1000000000) div __ta AS BIGINT)"
        ).alias("auth_nano"),
    )
    return hub.join(auth, ["node"]).orderBy("node")


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 3,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs & authorities) over a
    DIRECTED edge set — the link-analysis complement of PageRank:
    authorities collect endorsement from good hubs (a ← Σ h over
    in-edges), hubs from pointing at good authorities (h ← Σ a over
    out-edges). On a curation graph (crawl source → document,
    citing → cited) the authority score ranks content worth keeping
    and the hub score ranks feeds worth crawling. Multi-edges collapse
    to DISTINCT edges first (endorsement is a link, not a link count —
    ``hits_weighted`` is the multigraph form).

    Runs ``_hits`` (see its docstring) on the distinct edges with
    w = 1: un-normalized rounds over exact decimal(38,0) integers
    (bounded by (d_max²)^n_iter · 1e9 — 38 digits hold any realistic
    graph at 3 rounds), ONE final L1 normalization to integer nano
    units, and a loud overflow guard that covers that final ×1e9
    multiply. Plan linear in n_iter: one join + one aggregate per
    direction per round, the evolving frames referenced ONCE. Output:
    (node, hub_nano, auth_nano), ordered by node.
    """
    e = _edge_frame(edges, src_col, dst_col, ("__s", "__d"), weighted=False)
    return _hits(e, n_iter, "hits")


def hits_weighted(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 3,
) -> DataFrame:
    """WEIGHTED fixed-iteration HITS — the multigraph form ``hits``'s
    docstring declares out of its own scope: endorsement strength is
    the LINK COUNT (parallel (src, dst) edges collapse to one edge of
    integer weight w = multiplicity), so a feed that links a document
    five times endorses it five times. Rounds are the weighted sums
    a ← Σ w·h over in-edges and h ← Σ w·a over out-edges; with no
    duplicate edges the result equals ``hits`` bit-for-bit.

    Same kernel and contract as ``hits`` (``_hits``): un-normalized
    rounds over exact decimal(38,0) integers, ONE final L1
    normalization to integer nano units, loud overflow guard over
    WEIGHTED-degree products (max Σ_out w · max Σ_in w per round)
    including the final ×1e9 multiply, plan linear in n_iter with the
    shared 2t-round prefix cut once. Output: (node, hub_nano,
    auth_nano), ordered by node.
    """
    e = _edge_frame(edges, src_col, dst_col, ("__s", "__d"), weighted=True)
    return _hits(e, n_iter, "hits_weighted")


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    n_iter: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PERSONALIZED PageRank: teleport mass returns to
    the declared seed set instead of the uniform vector — the
    topic-sensitive ranking a curation pipeline runs to expand from a
    small trusted set ("more pages like these N good sources") or to
    score candidate documents by proximity to a seed corpus, the
    graph-side sibling of embedding hard-negative mining.

    Same sentinel single-reference kernel as ``pagerank``
    (``_sentinel_pagerank``, over the distinct edges with w = 1 — see
    its docstring for the one-round-lag dangling semantics): the static
    graph gains (dangling → sentinel, share 1) and (sentinel → each
    seed, share |S|) edges, the init vector IS the teleport vector
    (seeds SCALE//|S|, others 0), and the per-round base term lands on
    seeds only. Seeds outside the edge set's node universe are ignored
    (documented: a seed with no edges contributes no mass and receives
    only teleport); duplicate seed ids collapse; with no in-graph seed
    every rank is 0. Static frames are cut once (``session.cut``).
    Integer nano arithmetic throughout — ``ppr_sql`` unrolls the
    identical recurrence. Output: (node, rank_nano) over every graph
    node, ordered by node.
    """
    e = _edge_frame(edges, src_col, dst_col, ("src", "dst"), weighted=False)
    sd = seeds.select(F.col(seed_col).alias("node"))
    return _sentinel_pagerank(e, sd, n_iter, damping_pct).orderBy("node")


def ppr_sql(
    edges_cte: str,
    seeds_cte: str,
    n_iter: int = 3,
    damping_pct: int = 85,
) -> str:
    """DuckDB oracle twin of ``personalized_pagerank`` — the identical
    integer recurrence unrolled, seed-teleport form of ``pagerank_sql``
    (sentinel mass re-enters at seeds only, base term on seeds only,
    init = the teleport vector)."""
    d = damping_pct
    s = RANK_SCALE
    base_num = s - d * s // 100
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_cte}) raw"
        " WHERE src IS NOT NULL AND dst IS NOT NULL)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        f"sd AS (SELECT DISTINCT sn.node FROM ({seeds_cte}) sn"
        " JOIN nodes ON nodes.node = sn.node)",
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1)",
        "m AS (SELECT COUNT(*) AS cnt FROM sd)",
        # NULLIF(cnt, 0): vectorized engines evaluate both CASE arms,
        # so a seed set disjoint from the graph (cnt=0, sd empty — the
        # THEN arm is never *selected*) still crashed the bare `// cnt`
        # with division by zero while the native twin returns all-zero
        # ranks (its m==0 early-return). NULL-division + COALESCE
        # mirrors that early-return exactly (round-13 advisor catch).
        f"r0 AS (SELECT nodes.node, CASE WHEN sd.node IS NOT NULL"
        f" THEN COALESCE({s} // NULLIF(cnt, 0), 0) ELSE 0 END AS rank"
        f" FROM nodes CROSS JOIN m LEFT JOIN sd ON sd.node = nodes.node)",
        # s0 = dangling mass of the init vector
        "s0 AS (SELECT COALESCE(SUM(r0.rank), 0) AS sv FROM r0"
        " LEFT JOIN deg ON r0.node = deg.src WHERE deg.src IS NULL)",
    ]
    for i in range(1, n_iter + 1):
        p, c = f"r{i - 1}", f"r{i}"
        if i > 1:
            parts.append(
                f"s{i - 1} AS (SELECT COALESCE(SUM(r.rank), 0) AS sv "
                f"FROM r{i - 2} r LEFT JOIN deg ON r.node = deg.src "
                f"WHERE deg.src IS NULL)"
            )
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, "
            f"SUM(r.rank // deg.outdeg) AS inflow "
            f"FROM e JOIN {p} r ON e.src = r.node "
            f"JOIN deg ON deg.src = e.src GROUP BY 1)"
        )
        parts.append(
            f"{c} AS (SELECT nodes.node, "
            f"(CASE WHEN sd.node IS NOT NULL"
            f" THEN COALESCE({base_num} // NULLIF(cnt, 0), 0)"
            f" ELSE 0 END) "
            f"+ ({d} * (COALESCE(c{i}.inflow, 0)"
            f" + (CASE WHEN sd.node IS NOT NULL"
            f" THEN COALESCE(s{i - 1}.sv // NULLIF(cnt, 0), 0)"
            f" ELSE 0 END)))"
            f" // 100 AS rank "
            f"FROM nodes CROSS JOIN m CROSS JOIN s{i - 1} "
            f"LEFT JOIN sd ON sd.node = nodes.node "
            f"LEFT JOIN c{i} ON nodes.node = c{i}.node)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node, CAST(rank AS BIGINT) AS rank_nano FROM r{n_iter}"
        f" ORDER BY node"
    )


def reciprocity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node edge RECIPROCITY census over a directed graph: of each
    node's distinct out-edges, how many have the reverse edge — the
    mutual-link share that separates conversational/citation-loop
    structure from one-way broadcast structure (in a crawl graph, high
    reciprocity flags link farms; in an interaction graph it measures
    mutuality). Graph-level reciprocity is the ppm-weighted fold of
    this census.

    Shape: distinct directed edges (self-loops and NULL endpoints
    dropped), ONE self-equi-join on the reversed key pair spelled as a
    left-semi probe (no pair materialization), one src-keyed count
    aggregation. All counters integer; the share is floor-ppm. Output:
    (node, out_deg, n_recip, recip_ppm), ordered by node. Engine
    addition; no reference counterpart.
    """
    # r15: e feeds the reversed copy, the left-semi probe and the
    # out-degree aggregation — un-cut, the distinct edge build (and
    # its whole upstream) re-executed 4x (8 fact scans in the executed
    # plan). One lazy cut, the static-frame discipline.
    e = cut(
        edges.select(
            F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
        )
        .filter(
            F.col("__s").isNotNull()
            & F.col("__d").isNotNull()
            & (F.col("__s") != F.col("__d"))
        )
        .distinct()
    )
    rev = e.select(
        F.col("__d").alias("__s"), F.col("__s").alias("__d")
    )
    recip = e.join(rev, ["__s", "__d"], "left_semi").select(
        "__s", F.lit(1).alias("__r")
    )
    return (
        e.groupBy(F.col("__s").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("out_deg"))
        .join(
            recip.groupBy("__s").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_recip")
            ),
            F.col("node") == F.col("__s"),
            "left",
        )
        .select(
            "node",
            "out_deg",
            F.coalesce(F.col("n_recip"), F.lit(0))
            .cast("bigint")
            .alias("n_recip"),
        )
        .select(
            "node",
            "out_deg",
            "n_recip",
            F.expr(
                "CAST((1000000 * n_recip) div out_deg AS BIGINT)"
            ).alias("recip_ppm"),
        )
        .orderBy("node")
    )
