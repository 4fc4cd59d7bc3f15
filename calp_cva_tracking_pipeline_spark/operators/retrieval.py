"""Hybrid retrieval: rank-fusion of heterogeneous retrievers.

The standard RAG-stack composition: a sparse lexical retriever (BM25,
``operators.textops.bm25_topk``) and a dense embedding retriever (cosine
top-k, ``operators.similarity``) each produce a ranked candidate pool; the
pools are fused by Reciprocal Rank Fusion (Cormack et al., SIGIR 2009):

    rrf(d) = Σ_lists 1 / (K + rank_list(d))

RRF is rank-only — it never compares raw scores across retrievers, so the
incommensurable BM25/cosine scales need no calibration, and the fused
ordering is deterministic wherever each input ranking is.

Scale shape: each retriever reduces the corpus to a top-N pool (a
TakeOrderedAndProject — the only corpus-sized work), so fusion itself runs
on ``lists × N`` rows: a union of driver-bounded pools, one tiny groupBy.
At 100 TB the cost is the retrievers (already scale-audited separately);
fusion adds no corpus-sized shuffle.

Determinism note: contributions ``1/(K + rank)`` are exact double ops on
integer ranks, identical across engines; with ≤2 lists the per-doc sum has
at most two addends, so float addition order cannot differ. For wider
fusions pass the contributions through ``F.round`` per-list before summing
or sum in micro-units (see ``textops.lm_quality_score`` for the pattern).
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.session import cut


def with_rank(
    pool: DataFrame,
    id_col: str,
    score_col: str,
    ascending: bool = False,
) -> DataFrame:
    """Attach a dense 1-based ``rank`` to a top-N retriever pool.

    Ordering is (score, id) — a total order, so ranks are stable under
    float jitter provided ``score_col`` is already rounded (both
    ``bm25_topk`` and ``brute_force_topk`` round to 6 dp).

    The window is partition-less BY DESIGN: it runs on the retriever's
    top-N output (driver-bounded, N ≲ 10³), never on corpus-sized data —
    the single-task sort is over N rows regardless of corpus size.
    """
    order = (
        F.col(score_col).asc() if ascending else F.col(score_col).desc()
    )
    w = Window.orderBy(order, F.col(id_col).asc())
    return pool.withColumn("rank", F.row_number().over(w))


def rrf_fuse(
    pools: list[DataFrame],
    id_col: str,
    rrf_k: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Fuse ranked pools into (id, rrf, n_lists), top ``top_k`` by
    (rrf desc, id). Each pool must carry ``id_col`` and an integer
    ``rank`` column (see ``with_rank``).
    """
    if not pools:
        raise ValueError("rrf_fuse: no pools")
    parts = [
        p.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(rrf_k) + F.col("rank"))).alias("__c"),
        )
        for p in pools
    ]
    u = reduce(lambda a, b: a.unionByName(b), parts)
    return (
        u.groupBy(id_col)
        .agg(
            F.round(F.sum("__c"), 6).alias("rrf"),
            F.count("*").alias("n_lists"),
        )
        .orderBy(F.col("rrf").desc(), F.col(id_col))
        .limit(top_k)
    )


def posting_lists(
    tokens: DataFrame,
    token_col: str,
    doc_col: str,
    top_m: int = 5,
) -> DataFrame:
    """Inverted-index construction: token → document frequency + the
    top-``m`` posting list (documents ranked by term frequency desc, doc
    id asc — a total order, so the index build is deterministic). This
    is the data structure the BM25 retriever queries; materializing it
    as a table is the "build the index once, serve many queries" side
    of the lexical stack.

    Two exchanges, both capped:
    1. (token, doc) term frequencies — map-side combined, shuffle
       volume = distinct (token, doc) pairs;
    2. token-keyed window pass computing BOTH the df (count over the
       unordered full-partition frame) and the tf-rank over the SAME
       exchange — no second aggregation or join for df.
    The posting cut keeps ≤ m rows per token into the final collapse,
    so collect_list is bounded at m — a Zipf head token ("the", 10⁸
    docs) contributes m rows, not its df, to the output stage. The full
    (uncut) posting list of a head token is never materialized as an
    array anywhere.
    """
    tf = tokens.groupBy(token_col, doc_col).agg(
        F.count(F.lit(1)).alias("tf")
    )
    wp = Window.partitionBy(token_col)
    w = wp.orderBy(F.desc("tf"), F.asc(doc_col))
    ranked = tf.select(
        token_col,
        doc_col,
        "tf",
        F.count(F.lit(1)).over(wp).alias("df"),
        F.row_number().over(w).alias("__rn"),
    ).filter(F.col("__rn") <= top_m)
    return (
        ranked.groupBy(token_col)
        .agg(
            F.first("df").alias("df"),
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("__rn", F.col(doc_col)))
                ),
                lambda s: s.getField(doc_col),
            ).alias("postings"),
        )
    )


def dcg_weights_nano(k: int) -> dict[int, int]:
    """Rank-discount weights round(1e9/log2(i+1)) as integer nano-units —
    computed once in plan-time Python so Spark plans AND SQL oracles
    embed the SAME literals (no per-engine libm in the hot path)."""
    import math

    return {i: int(round(1e9 / math.log2(i + 1))) for i in range(1, k + 1)}


def retrieval_metrics(
    run: DataFrame,
    relevance: DataFrame,
    group_cols: list[str] | None = None,
    query_col: str = "query_id",
    doc_col: str = "neighbor_id",
    rank_col: str = "rank",
    k: int = 5,
) -> DataFrame:
    """Offline retrieval-quality readout — MRR, nDCG@k and precision@k
    of a ranked ``run`` (query, doc, rank; rank 1-based, ≤ k rows per
    query) against a ``relevance`` table (query, doc[, n_rel]) — the
    eval harness for the ANN/BM25/RRF tier: swap an index, re-run one
    query, compare numbers.

    Determinism: the rank-position discount weights 1/log2(i+1) are
    computed ONCE in plan-time Python and embedded as integer NANO-unit
    literals, so neither engine touches libm; per-query RR (1e9/rank —
    exact), DCG and IDCG are integer sums of those literals; nDCG's one
    division pins back to nano-units; corpus means then aggregate as
    64-bit integer sums — order-independent and engine-exact. Queries
    with NO relevant hit in the run score RR = nDCG = 0 (not dropped:
    dropping them inflates every mean). ``relevance`` is the FULL ground
    truth — one row per relevant (query, doc) — so the IDCG truncation
    min(n_rel, k) derives from its per-query row count; the run defines
    the evaluated query set. Physical shape: run ⋈ relevance on
    (query, doc) — rank-bounded
    volume, k·|queries| — then a query-cardinality aggregate and a
    group-cardinality one. Output: group_cols + (n_queries, mrr, ndcg,
    precision), 6 dp. Engine addition; no reference counterpart.
    """
    gcols = list(group_cols or [])
    w_nano = dcg_weights_nano(k)
    disc = F.create_map(
        *[
            c
            for i, wi in w_nano.items()
            for c in (F.lit(i), F.lit(wi).cast("bigint"))
        ]
    )
    # relevance feeds the hit join AND the per-query IDCG count — the
    # ground-truth table can be an expensive derived frame (e.g. a
    # label self-join of the corpus), and without a cut each consumer
    # replans it (r15 static-plan audit). One lazy cut on
    # the projected pairs; the count derives from the cut RDD (same
    # rows — relevance is one row per relevant (query, doc)).
    rel = cut(relevance.select(
        F.col(query_col).alias("__q"),
        F.col(doc_col).alias("__d"),
        F.lit(1).alias("__rel"),
    ))
    n_rel = rel.groupBy("__q").agg(
        F.count(F.lit(1)).cast("bigint").alias("__nrel")
    )
    r = run.select(
        *gcols,
        F.col(query_col).alias("__q"),
        F.col(doc_col).alias("__d"),
        F.col(rank_col).cast("int").alias("__rk"),
    ).filter(F.col("__rk") <= k)
    joined = r.join(rel, ["__q", "__d"], "left")
    hit = F.col("__rel").isNotNull()
    per_q = joined.groupBy(*gcols, "__q").agg(
        F.coalesce(
            F.max(
                # integer div: a double `/` then cast would TRUNCATE here
                # while DuckDB's double->int cast ROUNDS — `div` is
                # floor-exact on both engines.
                F.when(hit, F.expr("1000000000L div __rk"))
            ),
            F.lit(0),
        ).alias("__rr_nano"),
        F.coalesce(
            F.sum(F.when(hit, disc[F.col("__rk")])), F.lit(0)
        ).cast("bigint").alias("__dcg_nano"),
        F.sum(hit.cast("int")).cast("bigint").alias("__hits"),
    )
    idcg_terms = [
        F.when(
            F.least(F.coalesce(F.col("__nrel"), F.lit(0)), F.lit(k)) >= i,
            F.lit(w_nano[i]).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        for i in range(1, k + 1)
    ]
    idcg = reduce(lambda a, b: a + b, idcg_terms)
    scored = per_q.join(n_rel, "__q", "left").withColumn(
        "__idcg_nano", idcg.cast("bigint")
    )
    ndcg_nano = F.when(
        F.col("__idcg_nano") > 0,
        F.round(
            F.col("__dcg_nano").cast("double")
            / F.col("__idcg_nano").cast("double")
            * F.lit(1e9)
        ).cast("bigint"),
    ).otherwise(F.lit(0))
    final = scored.withColumn("__ndcg_nano", ndcg_nano).groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum("__rr_nano").alias("__s_rr"),
        F.sum("__ndcg_nano").alias("__s_nd"),
        F.sum("__hits").alias("__s_hits"),
    )
    nq = F.col("n_queries").cast("double")
    # n_queries = 0 only on the GLOBAL path over an empty run — guard
    # the divisions or ANSI throws
    has = F.col("n_queries") > 0
    out_cols = [
        *gcols,
        "n_queries",
        F.when(
            has,
            F.round(F.col("__s_rr").cast("double") / nq / F.lit(1e9), 6),
        ).alias("mrr"),
        F.when(
            has,
            F.round(F.col("__s_nd").cast("double") / nq / F.lit(1e9), 6),
        ).alias("ndcg"),
        F.when(
            has,
            F.round(
                F.col("__s_hits").cast("double") / (nq * F.lit(float(k))),
                6,
            ),
        ).alias("precision"),
    ]
    out = final.select(*out_cols)
    return out.orderBy(*gcols) if gcols else out


def snippet_extract(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    window: int = 12,
) -> DataFrame:
    """Best-window snippet per matching document — the result-page
    highlight stage after BM25 ranks (every search surface needs it):
    for each document containing ≥ 1 query term, pick the ``window``-
    token span with the most query-term hits (earliest span wins ties)
    and emit it with its hit count.

    Shape: tokens materialize once per document (the interpreted-HOF
    discipline), positions explode, the per-position forward hit count
    is a ROWS-frame window over the ONE doc-keyed exchange, the argmax
    is a row_number over the same keys, and the winning span re-slices
    from the scan-rooted token projection (a second SCAN of the corpus
    — cheap, pushdown applies — never a re-execution of derived state;
    carrying the token array through the explode would shuffle O(len²)
    bytes per document instead). Matching is case-insensitive exact
    token equality. Output: (id, best_pos 1-based, hits, snippet).
    """
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        # silently matching nothing would hide a caller bug
        raise ValueError("query_terms must be non-empty")
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.split(F.trim(F.col(text_col)), "\\s+").alias("__toks"),
    )
    # Column.isin takes the terms as LITERALS — never interpolated into
    # SQL text, so quotes/metachars in a query term can't break the
    # parse or inject expressions
    pos = toks.select(
        "__id", F.posexplode("__toks").alias("__p", "__tok")
    ).select(
        "__id",
        "__p",
        F.lower(F.col("__tok")).isin(terms).cast("int").alias("__q"),
    )
    wf = (
        Window.partitionBy("__id")
        .orderBy("__p")
        .rowsBetween(Window.currentRow, window - 1)
    )
    scored = pos.withColumn("__hits", F.sum("__q").over(wf))
    wr = Window.partitionBy("__id").orderBy(
        F.col("__hits").desc(), F.col("__p").asc()
    )
    best = (
        scored.withColumn("__rn", F.row_number().over(wr))
        .filter((F.col("__rn") == 1) & (F.col("__hits") >= 1))
        .select("__id", "__p", "__hits")
    )
    return (
        toks.join(best, "__id")
        .select(
            F.col("__id").alias(id_col),
            (F.col("__p") + 1).cast("bigint").alias("best_pos"),
            F.col("__hits").cast("bigint").alias("hits"),
            F.expr(
                f"array_join(slice(__toks, __p + 1, {window}), ' ')"
            ).alias("snippet"),
        )
        .orderBy(id_col)
    )


def mmr_rerank(
    candidates: DataFrame,
    query_col: str,
    id_col: str,
    rel_micro_col: str,
    toks_col: str,
    k: int = 5,
    lambda_pct: int = 70,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): per query, greedily select ``k`` results maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-selected — the
    diversification pass a result page runs over its retrieved pool so
    near-duplicate hits don't crowd out coverage. The greedy argmax is
    inherently sequential in k but the POOL is retrieval-page-sized by
    contract (a rerank of top-N, never the corpus), so each query's
    selection runs as one Arrow-batched group — the dataloader shape:
    corpus-sized work happened upstream in BM25/ANN, this stage touches
    ≤ N rows per query.

    Everything is INTEGER-exact so an unrolled SQL oracle replays the
    selection bit-for-bit: relevance arrives in micro-units
    (``rel_micro_col``), pairwise similarity is token-set Jaccard in
    floor micro-units (1e6·|A∩B| div |A∪B|; empty-set pairs score 0),
    and the MMR objective is ``lambda_pct·rel − (100−lambda_pct)·
    max_sim`` with ties broken on ascending id. Output per query:
    (query, id, rel_micro, mmr_rank 1..k, mmr_score), rank-ordered.
    """
    if not (0 <= lambda_pct <= 100):
        raise ValueError(f"lambda_pct must be in [0, 100]: {lambda_pct}")
    lam, mu = int(lambda_pct), 100 - int(lambda_pct)
    qt = candidates.schema[query_col].dataType.simpleString()
    it = candidates.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{query_col} {qt}, {id_col} {it}, rel_micro bigint, "
        "mmr_rank int, mmr_score bigint"
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        cands = sorted(
            (
                (row_id, int(rel), set(toks) if toks is not None else set())
                for row_id, rel, toks in zip(
                    pdf[id_col], pdf[rel_micro_col], pdf[toks_col]
                )
            ),
            key=lambda c: c[0],
        )
        qval = pdf[query_col].iloc[0]

        def jacc(a: set, b: set) -> int:
            u = len(a | b)
            return (1_000_000 * len(a & b)) // u if u else 0

        selected: list[tuple] = []
        chosen_sets: list[set] = []
        rows = []
        for r in range(1, min(k, len(cands)) + 1):
            best = None
            for cid, rel, s in cands:
                if any(cid == c[0] for c in selected):
                    continue
                ms = max(
                    (jacc(s, cs) for cs in chosen_sets), default=0
                )
                sc = lam * rel - mu * ms
                if best is None or sc > best[2]:
                    best = (cid, rel, sc, s)
            cid, rel, sc, s = best
            selected.append((cid,))
            chosen_sets.append(s)
            rows.append((qval, cid, rel, r, sc))
        return pd.DataFrame(
            rows,
            columns=[query_col, id_col, "rel_micro", "mmr_rank",
                     "mmr_score"],
        )

    # NULL id / rel_micro rows are dropped by contract (sibling-operator
    # discipline, round-12 advisor fix): a NULL relevance inside the
    # Arrow worker would otherwise crash the whole query on int(NaN),
    # and a NULL id has no stable tie-break position. NULL token sets
    # remain legal (they score as empty sets).
    return (
        candidates.filter(
            F.col(id_col).isNotNull() & F.col(rel_micro_col).isNotNull()
        )
        .groupBy(query_col)
        .applyInPandas(pick, out_schema)
        .orderBy(query_col, "mmr_rank")
    )


def query_expansion_terms(
    df: DataFrame,
    id_col: str,
    query_terms: list[str],
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    pool: int = 10,
    top_m: int = 10,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (the RM3-family step,
    integer-portable form): retrieve the BM25 top-``pool`` documents,
    then rank the terms THEY contain by how concentrated-in-the-pool
    vs spread-in-the-corpus each term is -- score_milli =
    1000 * tf_pool div df_corpus, an exact integer (libm-free by
    design: a log-weighted RM3 score would re-open the cross-engine
    1-ulp divergence the Adamic-Adar weights hit). Original query
    terms are excluded (they expand nothing); ties break on the term.

    Scale shape: the BM25 retrieval is the corpus-sized work (already
    the T30 shape); the expansion side tokenizes ONLY the pool docs
    (semi-join on the pool ids), corpus document frequencies come from
    one distinct-(doc, term) aggregation, and the cut is a
    TakeOrderedAndProject. Output: (term, tf_pool, df_corpus,
    score_milli), top ``top_m``.
    """
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        bm25_topk,
    )

    terms = sorted({t.lower() for t in query_terms})
    top = bm25_topk(
        df, id_col, query_terms, text_col=text_col, k1=k1, b=b,
        top_k=pool,
    ).select(F.col(id_col).alias("__pid"))
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), "\\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    pool_tf = (
        toks.join(
            F.broadcast(top), F.col("__id") == F.col("__pid"), "left_semi"
        )
        .filter(~F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf_pool"))
    )
    df_corpus = (
        toks.select("__id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df_corpus"))
    )
    return (
        pool_tf.join(df_corpus, "term")
        .select(
            "term",
            "tf_pool",
            "df_corpus",
            F.expr(
                "CAST(1000 * tf_pool div df_corpus AS BIGINT)"
            ).alias("score_milli"),
        )
        .orderBy(F.col("score_milli").desc(), F.col("term"))
        .limit(top_m)
    )
