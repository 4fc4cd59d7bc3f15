"""Scale-tier queries: the LLM-training-data operators (dedup, similarity
search, text analysis, ML inference, streaming) over documents / embeddings /
events.

Oracle SQL here is *generated from the same Python constants* as the Spark
plans (minhash parameters, LSH planes, keyword lists), so both sides of the
driver's comparison are provably computing the same function.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.catalog.common import (
    SQL_MONEY_AVG,
    SQL_MONEY_SUM,
    T,
)
from calp_cva_tracking_pipeline_spark.functions.hashing import (
    MERSENNE_P,
    minhash_params,
)
from calp_cva_tracking_pipeline_spark.operators.dedup import (
    _pairs,
    dedup_exact,
    embedding_near_dup_candidates,
    minhash_lsh_candidates,
    ngram_jaccard,
    semantic_dedup,
    simhash,
)
from calp_cva_tracking_pipeline_spark.operators.mlstub import classify_flows
from calp_cva_tracking_pipeline_spark.operators.similarity import (
    DEFAULT_CELL_SIZE as _DEFAULT_CELL_SIZE,
    brute_force_topk,
    ivf_topk,
    lsh_topk,
    random_planes,
)
from calp_cva_tracking_pipeline_spark.operators.textops import add_text_features
from calp_cva_tracking_pipeline_spark.session import cut
from calp_cva_tracking_pipeline_spark.streaming.events import (
    sessionize,
    windowed_agg,
)

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect) mirroring functions/hashing.py
# ---------------------------------------------------------------------------

# 60-bit md5-derived stable hash — the SQL twin of stable_hash64().
def _sql_hash60(expr: str) -> str:
    return f"CAST(CAST(('0x' || substring(md5({expr}), 1, 15)) AS UBIGINT) AS BIGINT)"


_TOKS = "string_split_regex(trim(text), '\\s+')"
# k=3 word shingles, distinct — SQL twin of operators.dedup.shingles().
_SHINGLES = f"""
list_distinct(list_transform(
  generate_series(0, greatest(len({_TOKS}) - 3, 0)),
  i -> array_to_string(list_slice({_TOKS}, i + 1, i + 3), ' ')))
"""

NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
MAX_BUCKET_DOCS = 64  # duplicate-skew guard: drop band buckets larger than this
_PARAMS = minhash_params(NUM_HASHES)

_SIG_ELEMS = ",\n    ".join(
    f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {MERSENNE_P}))"
    for a, b in _PARAMS
)

# docs_dedup mirrors operators.dedup.dedup_exact (pre-collapse of exact
# duplicates before signatures — the skew guard); bucket_ok mirrors the
# max_bucket_docs cap.
def _sig_cte_over(src: str) -> str:
    """MinHash banding CTE chain (exact pre-collapse → shingle hashes →
    signatures → capped band buckets → candidate pairs) over an
    arbitrary source relation — lets composed oracles (corpus release
    audit) run the same banding over a GATED sub-corpus."""
    return f"""
docs_dedup AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM {src}) t
  WHERE rn = 1),
tok AS (
  SELECT doc_id, list_transform({_SHINGLES}, s -> {_sql_hash60('s')} % {MERSENNE_P}) AS hs
  FROM docs_dedup),
sigs AS (
  SELECT doc_id, [{_SIG_ELEMS}] AS sig FROM tok),
banded_all AS (
  {" UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, array_to_string(list_slice(sig, {b * ROWS_PER_BAND + 1}, {(b + 1) * ROWS_PER_BAND}), ',') AS key FROM sigs"
    for b in range(BANDS)
  )}),
banded AS (
  SELECT doc_id, band, key FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS bn FROM banded_all) t
  WHERE bn <= {MAX_BUCKET_DOCS}),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
"""


_SIG_CTE = _sig_cte_over("documents")

# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


def dd_exact_hash(spark, sf_dir):
    # Exact dedup: survivor = min doc_id per md5(text).
    d = T(spark, sf_dir, "documents")
    return dedup_exact(d, "text", "doc_id").select("doc_id", "lang", "source")


DD_EXACT_SQL = """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents) t
WHERE rn = 1
"""


def dd_minhash_lsh(spark, sf_dir):
    # MinHash+LSH near-dup pipeline: exact-dup pre-collapse → shingle →
    # minhash → band → bucket-join (capped at MAX_BUCKET_DOCS per bucket,
    # the duplicate-skew guard) → exact n-gram Jaccard verification of each
    # candidate (merged dd_jaccard_verify — the two stages always run
    # together in a real dedup pass).
    d = T(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(
        d,
        "doc_id",
        "text",
        num_hashes=NUM_HASHES,
        bands=BANDS,
        k=3,
        pre_collapse_exact=True,
        max_bucket_docs=MAX_BUCKET_DOCS,
    )
    out = ngram_jaccard(pairs, d, "doc_id", "text", k=3)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


DD_MINHASH_SQL = f"""
WITH {_SIG_CTE},
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM documents),
cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
inter AS (
  SELECT cand.id_a, cand.id_b, COUNT(*) AS i
  FROM cand
  JOIN sh a ON a.doc_id = cand.id_a
  JOIN sh b ON b.doc_id = cand.id_b AND a.s = b.s
  GROUP BY 1, 2)
SELECT cand.id_a, cand.id_b,
       ROUND(COALESCE(i, 0) / (ca.c + cb.c - COALESCE(i, 0)), 6) AS jaccard
FROM cand
JOIN cnt ca ON ca.doc_id = cand.id_a
JOIN cnt cb ON cb.doc_id = cand.id_b
LEFT JOIN inter ON inter.id_a = cand.id_a AND inter.id_b = cand.id_b
"""

SIMHASH_BITS = 16


def dd_simhash(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return simhash(d, "text", bits=SIMHASH_BITS).select(
        "doc_id", F.col("__simhash").alias("simhash")
    )


_SIMHASH_BIT_TERMS = " + ".join(
    f"""CASE WHEN list_sum(list_transform(hs,
         h -> CASE WHEN (h & {1 << i}) > 0 THEN 1 ELSE -1 END)) > 0
       THEN {1 << i} ELSE 0 END"""
    for i in range(SIMHASH_BITS)
)

DD_SIMHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_transform(list_distinct({_TOKS}), w -> {_sql_hash60('w')}) AS hs
  FROM documents)
SELECT doc_id, CAST({_SIMHASH_BIT_TERMS} AS BIGINT) AS simhash
FROM tok
"""

# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

N_QUERIES = 8
TOP_K = 5


def ann_brute_topk(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    return brute_force_topk(
        e, q, "vec_id", "embedding", "vec_id", "embedding", k=TOP_K
    )


ANN_BRUTE_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND(list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
               6) AS cosine
  FROM q CROSS JOIN c WHERE query_id <> neighbor_id)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored) t
WHERE rank <= {TOP_K}
"""

# Embedding dimensionality is a declared schema constant shared by the Spark
# plans AND the SQL oracles — never probed from data at plan time. That the
# testdata embeddings table is in fact 64-wide is pinned by
# tests/test_pipeline_props.py::test_declared_embedding_dim_matches_testdata.
EMB_DIM = 64
# 4 planes x 4 OR-amplified tables. Measured on the synthetic uniform
# embeddings (the WORST case for LSH: no cluster structure, cosine gaps
# between true and near neighbors are tiny) recall@5 vs brute force at
# sf0.01 is ~0.50 with ~n/4 of the corpus scored per query, versus 0.125
# for the previous 6x2 config at ~n/32 — matching the hyperplane-collision
# math (p = (1 - theta/pi)^planes per table, OR across tables). Real
# clustered embeddings sit far above this floor at the same cost.
LSH_PLANES = 4
LSH_TABLES = 4
LSH_SEED = 42


def ann_lsh_topk(spark, sf_dir):
    # Multi-table OR-amplified hyperplane LSH: a neighbor is a candidate if
    # it shares a bucket with the query in ANY of LSH_TABLES independent
    # tables — the production answer to single-table recall cliffs.
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    return lsh_topk(
        e,
        q,
        "vec_id",
        "embedding",
        "vec_id",
        "embedding",
        dim=EMB_DIM,
        k=TOP_K,
        n_planes=LSH_PLANES,
        n_tables=LSH_TABLES,
        seed=LSH_SEED,
    )


def _plane_sql(vec_expr: str, planes: list[list[float]]) -> str:
    terms = []
    for i, plane in enumerate(planes):
        lits = "[" + ",".join(repr(x) for x in plane) + "]::DOUBLE[]"
        terms.append(
            f"CASE WHEN list_dot_product({vec_expr}, {lits}) >= 0"
            f" THEN {1 << i} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


_TABLE_PLANES = [
    random_planes(LSH_PLANES, dim=EMB_DIM, seed=LSH_SEED + 1000 * t)
    for t in range(LSH_TABLES)
]
_BUCKET_COLS_SQL = ",\n         ".join(
    f"{_plane_sql('CAST(embedding AS DOUBLE[])', planes)} AS bucket{t}"
    for t, planes in enumerate(_TABLE_PLANES)
)
_BUCKET_MATCH_SQL = " OR ".join(
    f"c.bucket{t} = q.bucket{t}" for t in range(LSH_TABLES)
)

ANN_LSH_SQL = f"""
WITH c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
         {_BUCKET_COLS_SQL}
  FROM embeddings),
q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
         {_BUCKET_COLS_SQL}
  FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND(list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
               6) AS cosine
  FROM c JOIN q ON ({_BUCKET_MATCH_SQL}) AND query_id <> neighbor_id)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored) t
WHERE rank <= {TOP_K}
"""

# --- IVF ANN: the default scale tier (SCALE.md) -----------------------------
# Centroid init mirrors operators.similarity.train_centroids: the
# n_centroids lowest-id corpus vectors, centroid_id = vec_id (a distributed
# TakeOrderedAndProject on the Spark side — no global sort, no renumbering).
IVF_CENTROIDS = 16
IVF_NPROBE = 4

# similarity.sq_dist rounded to 6 dp, the one d² spelling of the oracles:
# the squared terms fold left from 0.0 in index order, as Spark's
# aggregate(zip_with(...)) does. A NULL element or a length mismatch (which
# list_zip pads with NULL) makes the whole distance NULL on both engines;
# list_sum would skip those terms instead.
_D2 = (
    "ROUND(list_reduce(list_prepend(0.0::DOUBLE, list_transform("
    "list_zip({a}, {b}), x -> (x[1] - x[2]) * (x[1] - x[2]))),"
    " (s, x) -> s + x), 6)"
)


def ann_ivf_topk(spark, sf_dir):
    # IVF cells: corpus binned to nearest coarse centroid (one-time build,
    # persisted bucketed-by-cell at scale); each query probes IVF_NPROBE
    # cells and scores exact cosine only there. Recall vs brute force at
    # this operating point measured 0.925 on the uniform testdata
    # (tests/test_ivf.py pins parity + a recall floor).
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    return ivf_topk(
        e, q, "vec_id", "embedding", "vec_id", "embedding",
        n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE, k=TOP_K,
    )


ANN_IVF_SQL = f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT CAST(vec_id AS BIGINT) AS centroid_id, v AS cv
  FROM c ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
assign AS (
  SELECT vec_id, centroid_id AS cell FROM (
    SELECT a.vec_id, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY {_D2.format(a='a.v', b='cent.cv')}, cent.centroid_id
           ) AS rn
    FROM c a CROSS JOIN cent) t
  WHERE rn = 1),
probes AS (
  SELECT query_id, centroid_id AS cell FROM (
    SELECT q.vec_id AS query_id, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_D2.format(a='q.v', b='cent.cv')}, cent.centroid_id
           ) AS pr
    FROM (SELECT * FROM c WHERE vec_id < {N_QUERIES}) q CROSS JOIN cent) t
  WHERE pr <= {IVF_NPROBE}),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND(list_dot_product(qv.v, av.v) /
               (sqrt(list_dot_product(qv.v, qv.v))
                * sqrt(list_dot_product(av.v, av.v))), 6) AS cosine
  FROM probes p
  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
  JOIN c qv ON qv.vec_id = p.query_id
  JOIN c av ON av.vec_id = a.vec_id)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= {TOP_K}
"""

DID_SPLIT_TS = "2024-01-16"
DID_CUT_BASE = 50.0
DID_CUT_UPLIFT = 30.0


def ev_did(spark, sf_dir):
    """Difference-in-differences readout (operators.funnel.did_audit)
    per event_type: treatment = user_id parity (the derive
    discipline), post = the fixed mid-window date, conversion cut
    LOWERED for the treated-post cell only (a simulated true uplift,
    so did_ppm separates from the ~0 null groups the parity split
    produces). All counters integer, rates floor-ppm, DiD a difference
    of integers — bit-exact cross-engine."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        did_audit,
    )

    e = T(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    treated = F.col("user_id") % 2 == 0
    post = F.col("ts") >= F.lit(DID_SPLIT_TS).cast("timestamp")
    conv = F.col("value") > F.when(
        treated & post, F.lit(DID_CUT_UPLIFT)
    ).otherwise(F.lit(DID_CUT_BASE))
    return did_audit(e, "event_type", treated, post, conv)


EV_DID_SQL = f"""
WITH base AS (
  SELECT event_type AS grp,
         (user_id % 2 = 0) AS t,
         (ts >= TIMESTAMP '{DID_SPLIT_TS} 00:00:00') AS p,
         CASE WHEN value > (CASE WHEN user_id % 2 = 0
                                  AND ts >= TIMESTAMP '{DID_SPLIT_TS} 00:00:00'
                            THEN {DID_CUT_UPLIFT} ELSE {DID_CUT_BASE} END)
              THEN 1 ELSE 0 END AS c
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL),
cells AS (
  SELECT grp,
         CAST(COALESCE(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_tpre,
         CAST(COALESCE(SUM(CASE WHEN t AND NOT p THEN c ELSE 0 END), 0) AS BIGINT) AS k_tpre,
         CAST(COALESCE(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_tpost,
         CAST(COALESCE(SUM(CASE WHEN t AND p THEN c ELSE 0 END), 0) AS BIGINT) AS k_tpost,
         CAST(COALESCE(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cpre,
         CAST(COALESCE(SUM(CASE WHEN NOT t AND NOT p THEN c ELSE 0 END), 0) AS BIGINT) AS k_cpre,
         CAST(COALESCE(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cpost,
         CAST(COALESCE(SUM(CASE WHEN NOT t AND p THEN c ELSE 0 END), 0) AS BIGINT) AS k_cpost
  FROM base GROUP BY grp),
rated AS (
  SELECT *,
         CASE WHEN n_tpre > 0 THEN CAST((1000000 * k_tpre) // n_tpre AS BIGINT) END AS rate_tpre_ppm,
         CASE WHEN n_tpost > 0 THEN CAST((1000000 * k_tpost) // n_tpost AS BIGINT) END AS rate_tpost_ppm,
         CASE WHEN n_cpre > 0 THEN CAST((1000000 * k_cpre) // n_cpre AS BIGINT) END AS rate_cpre_ppm,
         CASE WHEN n_cpost > 0 THEN CAST((1000000 * k_cpost) // n_cpost AS BIGINT) END AS rate_cpost_ppm
  FROM cells)
SELECT grp AS event_type,
       n_tpre, k_tpre, n_tpost, k_tpost,
       n_cpre, k_cpre, n_cpost, k_cpost,
       rate_tpre_ppm, rate_tpost_ppm, rate_cpre_ppm, rate_cpost_ppm,
       CAST((rate_tpost_ppm - rate_tpre_ppm)
            - (rate_cpost_ppm - rate_cpre_ppm) AS BIGINT) AS did_ppm
FROM rated ORDER BY event_type
"""


RANGE_TAU = 0.3
RANGE_MAX_RESULTS = 100


def ann_range_search(spark, sf_dir):
    """Cosine-threshold RANGE search over the IVF index
    (operators.similarity.ivf_range_search): every probed neighbor at
    cosine ≥ τ per query — the serving mode top-k cannot express
    (radius-bounded RAG retrieval, duplicate-cluster expansion), with
    the per-query max_results cap that keeps range output bounded by
    contract. Same index/operating point as ann_ivf_topk."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        ivf_range_search,
    )

    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    return ivf_range_search(
        e, q, "vec_id", "embedding", "vec_id", "embedding",
        threshold=RANGE_TAU,
        n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE,
        max_results=RANGE_MAX_RESULTS,
    )


ANN_RANGE_SQL = f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT CAST(vec_id AS BIGINT) AS centroid_id, v AS cv
  FROM c ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
assign AS (
  SELECT vec_id, centroid_id AS cell FROM (
    SELECT a.vec_id, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY {_D2.format(a='a.v', b='cent.cv')}, cent.centroid_id
           ) AS rn
    FROM c a CROSS JOIN cent) t
  WHERE rn = 1),
probes AS (
  SELECT query_id, centroid_id AS cell FROM (
    SELECT q.vec_id AS query_id, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_D2.format(a='q.v', b='cent.cv')}, cent.centroid_id
           ) AS pr
    FROM (SELECT * FROM c WHERE vec_id < {N_QUERIES}) q CROSS JOIN cent) t
  WHERE pr <= {IVF_NPROBE}),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND(list_dot_product(qv.v, av.v) /
               (sqrt(list_dot_product(qv.v, qv.v))
                * sqrt(list_dot_product(av.v, av.v))), 6) AS cosine
  FROM probes p
  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
  JOIN c qv ON qv.vec_id = p.query_id
  JOIN c av ON av.vec_id = a.vec_id)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored WHERE cosine >= {RANGE_TAU}) t
WHERE rank <= {RANGE_MAX_RESULTS}
"""


# Embedding-cosine near-duplicate candidates (bucketed, threshold-filtered).
NEARDUP_PLANES = 4
NEARDUP_THRESHOLD = 0.1
_NEARDUP_PLANE_LIST = random_planes(NEARDUP_PLANES, dim=EMB_DIM, seed=LSH_SEED)


def dd_embed_neardup(spark, sf_dir):
    # Embedding near-dup: random-hyperplane bucket join + exact cosine
    # threshold within buckets (operators.dedup.embedding_near_dup_candidates).
    e = T(spark, sf_dir, "embeddings")
    out = embedding_near_dup_candidates(
        e,
        "vec_id",
        "embedding",
        dim=EMB_DIM,
        threshold=NEARDUP_THRESHOLD,
        n_planes=NEARDUP_PLANES,
        seed=LSH_SEED,
    )
    return out.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


DD_EMBED_SQL = f"""
WITH uniq AS (
  -- exact pre-collapse mirror: byte-identical vectors -> min-id
  -- representative (operators/dedup.py pre_collapse_exact)
  SELECT MIN(vec_id) AS vec_id, embedding
  FROM embeddings GROUP BY embedding),
v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         {_plane_sql('CAST(embedding AS DOUBLE[])', _NEARDUP_PLANE_LIST)} AS bucket
  FROM uniq),
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(a.vec, b.vec) /
               (sqrt(list_dot_product(a.vec, a.vec)) *
                sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine
  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {NEARDUP_THRESHOLD}
"""

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def tx_features(spark, sf_dir):
    # Full text-analysis feature set + the BPE-ish regex token count
    # (merged tx_bpe_token_count) — one scan-speed projection.
    d = T(spark, sf_dir, "documents")
    return add_text_features(d).select(
        "doc_id",
        "n_tokens",
        "lang_pred",
        "punct_ratio",
        "stopword_ratio",
        "quality",
        "fingerprint",
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(BPE_PATTERN), 0)
        ).alias("bpe_tokens"),
    )


_EN_SW_SQL = "('the','a','of','and','to','in','is')"
_SW_RATIO = (
    f"len(list_filter({_TOKS}, w -> lower(w) IN {_EN_SW_SQL}))"
    f" / greatest(len({_TOKS}), 1)"
)
_PUNCT = "'[!-/:-@\\[-`{-~]'"
_PUNCT_RATIO = (
    f"(length(text) - length(regexp_replace(text, {_PUNCT}, '', 'g')))"
    f" / greatest(length(text), 1)"
)
_NTOK = f"CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS}) END"

TX_FEATURES_SQL = f"""
SELECT doc_id,
  CAST({_NTOK} AS INTEGER) AS n_tokens,
  CASE WHEN {_SW_RATIO} > 0.05 THEN 'en' ELSE 'unk' END AS lang_pred,
  ROUND({_PUNCT_RATIO}, 6) AS punct_ratio,
  ROUND({_SW_RATIO}, 6) AS stopword_ratio,
  ROUND(CAST(
    (CASE WHEN {_NTOK} >= 10 AND {_NTOK} <= 10000 THEN 0.4 ELSE 0.0 END)
    + (CASE WHEN {_PUNCT_RATIO} < 0.1 THEN 0.3 ELSE 0.0 END)
    + (CASE WHEN {_SW_RATIO} > 0.01 THEN 0.3 ELSE 0.0 END) AS DOUBLE), 6)
    AS quality,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
                 list_transform({_TOKS}, w -> {_sql_hash60('w')})),
    (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint,
  CAST(len(regexp_extract_all(lower(text), '{BPE_PATTERN}')) AS INTEGER)
    AS bpe_tokens
FROM documents
"""

# ---------------------------------------------------------------------------
# ML inference stub (M1)
# ---------------------------------------------------------------------------


def m1_classifier_stub(spark, sf_dir):
    # Arrow-batched pandas_udf inference; deterministic stub (mlstub.py)
    # whose function is reproducible in SQL, verifying the UDF plumbing.
    # stub="arrow" pins the pandas_udf path — this query IS the proof that
    # the real model's plumbing (batching, struct return, null handling)
    # works; other callers default to the native-expression stub.
    d = T(spark, sf_dir, "documents")
    return classify_flows(d, "text", stub="arrow").select(
        "doc_id", "predicted_class", F.col("predicted_confidence")
    )


M1_SQL = """
SELECT doc_id,
       CASE WHEN ((length(text) * 2654435761) % 1000) / 1000.0 >= 0.5
            THEN 'Full' ELSE 'Partial' END AS predicted_class,
       ((length(text) * 2654435761) % 1000) / 1000.0 AS predicted_confidence
FROM documents
"""

# ---------------------------------------------------------------------------
# streaming (batch-equivalent logical plans — same functions serve
# readStream inputs; tests/test_streaming.py drives the streaming path)
# ---------------------------------------------------------------------------


def st_windowed_agg(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    out = windowed_agg(e, "1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


ST_WINDOW_SQL = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n_events,
       {SQL_MONEY_SUM('value')} AS total_value
FROM events GROUP BY 1, 2
"""

SESSION_GAP_MIN = 30


def st_sessionize(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    out = sessionize(e, f"{SESSION_GAP_MIN} minutes")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
        "total_value",
    )


ST_SESSION_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL {SESSION_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events),
islands AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events,
       {SQL_MONEY_SUM('value')} AS total_value
FROM islands GROUP BY user_id, sid
"""


# ---------------------------------------------------------------------------
# temporal joins + training-data assembly (catalog entries 51+: past the
# external driver's 50-row correctness gate by design — the local parity
# suite (tests/test_oracle_parity.py) verifies them at every sf instead)
# ---------------------------------------------------------------------------


def tj_asof_join(spark, sf_dir):
    """Keyed as-of join: every event picks up the latest prior per-user
    rate epoch (epochs = sampled events). operators.temporal.asof_join —
    union + single keyed shuffle + running-window resolve, no join node."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        asof_join,
    )

    e = T(spark, sf_dir, "events")
    left = e.select("event_id", "user_id", "ts", "value")
    right = (
        e.filter(F.col("event_id") % 11 == 0)
        .groupBy("user_id", "ts")
        .agg(F.round(F.max(F.col("value") * 2), 6).alias("rate"))
    )
    out = asof_join(
        left, right, keys=["user_id"], left_time="ts", right_time="ts"
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts_matched", "yyyy-MM-dd HH:mm:ss").alias(
            "rate_ts"
        ),
        "rate",
    )


TJ_ASOF_SQL = """
WITH r AS (
  SELECT user_id, ts, ROUND(MAX(value * 2), 6) AS rate
  FROM events WHERE event_id % 11 = 0 GROUP BY user_id, ts)
SELECT l.event_id, l.user_id,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS rate_ts, r.rate
FROM events l ASOF LEFT JOIN r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def tj_asof_nearest(spark, sf_dir):
    """Nearest-direction as-of: each event takes whichever rate epoch is
    closer in time, exact ties backward (operators.temporal.asof_join
    direction='nearest' — both carried states over ONE keyed exchange,
    the second ordering only re-sorts). Oracle = two DuckDB ASOF joins
    (backward + forward) with the same closer-wins pick."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        asof_join,
    )

    e = T(spark, sf_dir, "events")
    left = e.select("event_id", "user_id", "ts", "value")
    right = (
        e.filter(F.col("event_id") % 11 == 0)
        .groupBy("user_id", "ts")
        .agg(F.round(F.max(F.col("value") * 2), 6).alias("rate"))
    )
    out = asof_join(
        left, right, keys=["user_id"], left_time="ts", right_time="ts",
        direction="nearest",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts_matched", "yyyy-MM-dd HH:mm:ss").alias(
            "rate_ts"
        ),
        "rate",
    )


TJ_ASOF_NEAREST_SQL = """
WITH r AS (
  SELECT user_id, ts, ROUND(MAX(value * 2), 6) AS rate
  FROM events WHERE event_id % 11 = 0 GROUP BY user_id, ts),
b AS (
  SELECT l.event_id, l.user_id, l.ts, r.ts AS bt, r.rate AS brate
  FROM events l ASOF LEFT JOIN r
    ON l.user_id = r.user_id AND l.ts >= r.ts),
f AS (
  SELECT l.event_id, r.ts AS ft, r.rate AS frate
  FROM events l ASOF LEFT JOIN r
    ON l.user_id = r.user_id AND l.ts <= r.ts)
SELECT b.event_id, b.user_id,
  strftime(CASE
    WHEN bt IS NOT NULL AND ft IS NOT NULL THEN
      CASE WHEN epoch(b.ts) - epoch(bt) <= epoch(ft) - epoch(b.ts)
           THEN bt ELSE ft END
    WHEN bt IS NOT NULL THEN bt ELSE ft END,
    '%Y-%m-%d %H:%M:%S') AS rate_ts,
  CASE
    WHEN bt IS NOT NULL AND ft IS NOT NULL THEN
      CASE WHEN epoch(b.ts) - epoch(bt) <= epoch(ft) - epoch(b.ts)
           THEN brate ELSE frate END
    WHEN bt IS NOT NULL THEN brate ELSE frate END AS rate
FROM b JOIN f USING (event_id)
"""


def tj_interval_join(spark, sf_dir):
    """Interval containment: tag each event with every fixed window
    containing it (w3 overlaps w2 — multi-match rows appear twice).
    operators.temporal.interval_join, broadcast strategy."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        interval_join,
    )

    e = T(spark, sf_dir, "events")
    points = e.select("event_id", "ts")
    windows = spark.createDataFrame(
        [
            ("w1", "2024-01-01 00:00:00", "2024-04-01 00:00:00"),
            ("w2", "2024-04-01 00:00:00", "2024-07-01 00:00:00"),
            ("w3", "2024-06-15 00:00:00", "2024-09-01 00:00:00"),
        ],
        "win string, start string, end string",
    ).select(
        "win",
        F.col("start").cast("timestamp").alias("start"),
        F.col("end").cast("timestamp").alias("end"),
    )
    out = interval_join(
        points, windows, point_time="ts", start="start", end="end"
    )
    return out.select("event_id", "win")


TJ_INTERVAL_SQL = """
WITH w(win, s, e) AS (VALUES
  ('w1', TIMESTAMP '2024-01-01', TIMESTAMP '2024-04-01'),
  ('w2', TIMESTAMP '2024-04-01', TIMESTAMP '2024-07-01'),
  ('w3', TIMESTAMP '2024-06-15', TIMESTAMP '2024-09-01'))
SELECT ev.event_id, w.win
FROM events ev JOIN w ON w.s <= ev.ts AND ev.ts < w.e
"""


def dd_decontam(spark, sf_dir):
    """Benchmark decontamination hit counts: docs sharing 5-grams with the
    held-out third of the corpus. operators.decontam.contamination_hits —
    benchmark grams broadcast, train side streams a semi join."""
    from calp_cva_tracking_pipeline_spark.operators.decontam import (
        contamination_hits,
    )

    d = T(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 3 != 0)
    bench = d.filter(F.col("doc_id") % 3 == 0).select(
        F.col("text").alias("bench_text")
    )
    # no orderBy: both the driver compare and the parity suite are
    # order-insensitive, and a total sort of the hit set is one more
    # range exchange of pure scheduling floor
    return contamination_hits(
        train, bench, "doc_id", "text", bench_text_col="bench_text", n=5
    )


_DECONTAM_GRAMS = """
SELECT {id_expr} AS id,
       unnest(list_transform(
         generate_series(0, greatest(len(toks) - 5, 0)),
         i -> array_to_string(list_slice(toks, i + 1, i + 5), ' '))) AS g
FROM (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE doc_id % 3 {cmp} 0
)
"""

DD_DECONTAM_SQL = f"""
SELECT id AS doc_id,
       CAST(COUNT(DISTINCT g) AS BIGINT) AS contamination_hits
FROM ({_DECONTAM_GRAMS.format(id_expr="doc_id", cmp="<>")})
WHERE g IN (SELECT g FROM ({_DECONTAM_GRAMS.format(id_expr="doc_id",
                                                   cmp="=")}))
GROUP BY id
"""


def tx_pii_redact(spark, sf_dir):
    """PII scrub pass: deterministic synthetic PII (email / IPv4 / phone
    built from doc_id) is appended to each document, then
    operators.textops.pii_redact replaces it with typed placeholders.
    Returning the placeholder counts + redacted length proves the same
    spans were caught on both engines (chained regexp_replace
    intrinsics — scan speed, no UDF)."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        pii_redact,
    )

    d = T(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(" call +1 (555) 123-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    red = pii_redact(injected)
    return d.select(
        "doc_id",
        F.regexp_count(red, F.lit("<EMAIL>")).alias("n_email"),
        F.regexp_count(red, F.lit("<IP>")).alias("n_ip"),
        F.regexp_count(red, F.lit("<PHONE>")).alias("n_phone"),
        F.length(red).alias("redacted_len"),
    )


# the same lookaround-free patterns run under DuckDB's RE2; 'g' makes
# regexp_replace global like Spark's
TX_PII_SQL = r"""
WITH injected AS (
  SELECT doc_id,
         text || ' contact user' || doc_id ||
         '@example.com from 10.0.0.' || (doc_id % 256) ||
         ' call +1 (555) 123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         AS t
  FROM documents),
red AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\+?\d{1,3}[-. ]?\(?\d{2,4}\)?[-. ]?\d{3,4}[-. ]?\d{3,4}',
           '<PHONE>', 'g') AS t
  FROM injected)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '<EMAIL>')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(t, '<IP>')) AS INT) AS n_ip,
       CAST(len(regexp_extract_all(t, '<PHONE>')) AS INT) AS n_phone,
       CAST(length(t) AS INT) AS redacted_len
FROM red
"""


def tx_repetition(spark, sf_dir):
    """Gopher-style repetition signals: fraction of duplicate lines and
    duplicate word tokens per document (operators.textops
    .repetition_stats — pure array intrinsics)."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        repetition_stats,
    )

    d = T(spark, sf_dir, "documents")
    dup_lines, dup_words = repetition_stats(F.col("text"))
    return d.select(
        "doc_id",
        dup_lines.alias("dup_line_frac"),
        dup_words.alias("dup_word_frac"),
    )


TX_REPETITION_SQL = r"""
WITH t AS (
  SELECT doc_id,
         string_split(text, chr(10)) AS lines,
         string_split_regex(trim(text), '\s+') AS toks
  FROM documents)
SELECT doc_id,
       ROUND(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
             / greatest(len(lines), 1), 6) AS dup_line_frac,
       ROUND(CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
             / greatest(len(toks), 1), 6) AS dup_word_frac
FROM t
"""


CHUNK_MAX = 64
CHUNK_OVERLAP = 16


def tx_chunk(spark, sf_dir):
    """Overlapping token-window chunking for the embedding front end
    (operators.textops.chunk_documents): 64-token windows, 16-token
    overlap, every doc yields >= 1 chunk."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        chunk_documents,
    )

    d = T(spark, sf_dir, "documents")
    return chunk_documents(
        d, "doc_id", max_tokens=CHUNK_MAX, overlap=CHUNK_OVERLAP
    )


_CHUNK_STEP = CHUNK_MAX - CHUNK_OVERLAP
TX_CHUNK_SQL = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents),
c AS (
  SELECT doc_id, toks,
         unnest(generate_series(
           0, greatest((len(toks) - {CHUNK_OVERLAP} - 1)
                       // {_CHUNK_STEP}, 0))) AS cid
  FROM t)
SELECT doc_id,
       CAST(cid AS INT) AS chunk_id,
       CAST(len(list_slice(toks, cid * {_CHUNK_STEP} + 1,
                           cid * {_CHUNK_STEP} + {CHUNK_MAX})) AS INT)
         AS chunk_tokens,
       array_to_string(list_slice(toks, cid * {_CHUNK_STEP} + 1,
                                  cid * {_CHUNK_STEP} + {CHUNK_MAX}), ' ')
         AS chunk_text
FROM c
"""


def rt_rollup_hierarchy(spark, sf_dir):
    """Hypertable-style continuous-aggregate cascade: the DAILY grain
    computed 1min → 1h → 1d (operators.rollup — facts scanned once, each
    coarser grain re-aggregates the finer one). The oracle aggregates the
    raw events DIRECTLY at the daily grain, so a hash match proves the
    cascade is bit-identical to single-shot aggregation — the property
    that makes serving any grain from the rollup store safe."""
    from calp_cva_tracking_pipeline_spark.operators.rollup import (
        rollup_time_hierarchy,
    )

    e = T(spark, sf_dir, "events")
    daily = rollup_time_hierarchy(
        e, grains=("1 minute", "1 hour", "1 day")
    )["1 day"]
    return daily.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "total_value",
        "min_value",
        "max_value",
    )


RT_ROLLUP_SQL = f"""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type, COUNT(*) AS n_events,
       {SQL_MONEY_SUM('value')} AS total_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM events GROUP BY 1, 2
"""


def pk_sequences(spark, sf_dir):
    """Token-budget sequence packing over documents (FFD within hashed
    shards — operators.packing). The assignment is an algorithm, not a
    relation, so no SQL oracle exists; the driver's rows-only check plus
    tests/test_decontam_packing.py's invariants and the oracle-backed
    pk_pack_audit projection below cover it."""
    from calp_cva_tracking_pipeline_spark.operators.packing import (
        pack_sequences,
    )

    d = T(spark, sf_dir, "documents")
    return pack_sequences(d, "doc_id", budget=512, num_shards=16)


PK_AUDIT_BUDGET = 200


def pk_pack_audit(spark, sf_dir):
    """Oracle-checkable PROJECTION of the packing result (round-5 verdict:
    packing failure modes must not hide behind a row count). The FFD
    assignment itself has no SQL formulation, but three properties of ANY
    correct assignment are relations over the same input:

      - no row dropped / invented: one output row per document;
      - token accounting: each doc's n_tokens equals the independently
        recomputed count (whitespace tokens here, whose DuckDB twin is
        exact — the default BPE pre-token pattern is not RE2-expressible);
      - budget discipline: every pack total is <= budget unless the pack
        is an oversized single-doc pack whose total is exactly the doc.

    The Spark side emits the two invariants as booleans computed FROM the
    packed output; the oracle recomputes n_tokens from raw text and pins
    both booleans to true, so a hash match proves them for every row."""
    from calp_cva_tracking_pipeline_spark.functions.text import token_count
    from calp_cva_tracking_pipeline_spark.operators.packing import (
        pack_sequences,
    )

    d = T(spark, sf_dir, "documents").withColumn(
        "n_ws_tokens", token_count(F.col("text"))
    )
    packed = pack_sequences(
        d,
        "doc_id",
        budget=PK_AUDIT_BUDGET,
        token_col="n_ws_tokens",
        num_shards=16,
    )
    return packed.select(
        F.col("id").alias("doc_id"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        (
            (F.col("pack_tokens") <= PK_AUDIT_BUDGET)
            | (F.col("oversized") & (F.col("pack_tokens") == F.col("n_tokens")))
        ).alias("within_budget"),
        (
            F.col("oversized") == (F.col("n_tokens") > PK_AUDIT_BUDGET)
        ).alias("oversized_iff_over"),
    )


PK_AUDIT_SQL = f"""
SELECT doc_id,
       CAST({_NTOK} AS INTEGER) AS n_tokens,
       TRUE AS within_budget,
       TRUE AS oversized_iff_over
FROM documents
"""

# ---------------------------------------------------------------------------
# vocab induction + dataset profiling (round 6 additions)
# ---------------------------------------------------------------------------

VOCAB_TOP_K = 200


def tx_vocab(spark, sf_dir):
    """Corpus token-frequency table (operators.textops.vocab_frequencies):
    the BPE/vocab-induction front end — top-K lowercased whitespace tokens
    by total frequency with document frequency, deterministic
    (tf desc, token asc) cut."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        vocab_frequencies,
    )

    d = T(spark, sf_dir, "documents")
    return vocab_frequencies(d, "doc_id", top_k=VOCAB_TOP_K)


TX_VOCAB_SQL = rf"""
WITH exploded AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents)
SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM exploded
WHERE token <> ''
GROUP BY token
ORDER BY tf DESC, token
LIMIT {VOCAB_TOP_K}
"""


PF_COLS = ["l_discount", "l_extendedprice", "l_quantity"]


def pf_profile(spark, sf_dir):
    """One-scan dataset profile (operators.profiling.profile_columns):
    per-column n / nulls / min / max / decimal-exact mean / exact median,
    long format. The oracle pins the exact-median variant; at full corpus
    scale callers flip exact_median=False for the sketch-based
    approx_percentile with the identical plan shape."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        profile_columns,
    )

    li = T(spark, sf_dir, "lineitem")
    return profile_columns(li, PF_COLS)


def _pf_col_sql(c: str) -> str:
    return f"""
SELECT '{c}' AS col_name,
       COUNT({c}) AS n,
       COUNT(*) - COUNT({c}) AS n_null,
       ROUND(CAST(MIN({c}) AS DOUBLE), 6) AS min,
       ROUND(CAST(MAX({c}) AS DOUBLE), 6) AS max,
       ROUND({SQL_MONEY_AVG(c)}, 6) AS mean,
       ROUND(CAST(quantile_cont({c}, 0.5) AS DOUBLE), 6) AS p50
FROM lineitem"""


PF_PROFILE_SQL = (
    "\nUNION ALL\n".join(_pf_col_sql(c) for c in PF_COLS)
    + "\nORDER BY col_name\n"
)


PF_PCTS = [0.25, 0.5, 0.9, 0.99]


def pf_percentiles(spark, sf_dir):
    """Arbitrary exact percentiles at one histogram's price
    (operators.profiling.exact_percentiles): p25/p50/p90/p99 for the
    three profiled lineitem measures — the latency-style tail-statistics
    report, two-phase (bucket prefix sums + target-bucket-only sorting)
    so no task ever sorts a row-sized histogram."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        exact_percentiles,
    )

    li = T(spark, sf_dir, "lineitem")
    return exact_percentiles(li, PF_COLS, PF_PCTS)


def _pf_pct_sql(c: str, p: float) -> str:
    # CAST the p literal: DuckDB types bare 0.25 as DECIMAL, and the
    # driver's value comparison is type-sensitive (round-6 find — the
    # local parity suite normalizes Decimal→float and masked this;
    # drive_entry.py reproduces the driver's stricter behavior)
    return (
        f"SELECT '{c}' AS col_name, CAST({p} AS DOUBLE) AS p, "
        f"ROUND(CAST(quantile_cont({c}, {p}) AS DOUBLE), 6) AS value "
        f"FROM lineitem WHERE {c} IS NOT NULL"
    )


PF_PERCENTILES_SQL = (
    "\nUNION ALL\n".join(
        _pf_pct_sql(c, p) for c in PF_COLS for p in PF_PCTS
    )
    + "\nORDER BY col_name, p\n"
)


def emb_dim_stats(spark, sf_dir):
    """Per-dimension embedding health stats (operators.linalg.dim_stats):
    the pre-ANN sanity pass — a dead (std≈0) or exploding dimension flags
    a bad encoder run before index build. posexplode → groupBy(dim): d
    groups total, map-side combined."""
    from calp_cva_tracking_pipeline_spark.operators.linalg import dim_stats

    e = T(spark, sf_dir, "embeddings")
    return dim_stats(e, "embedding")


EMB_DIM_STATS_SQL = """
WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
idx AS (
  SELECT vec, unnest(generate_series(1, len(vec))) AS i FROM v)
SELECT CAST(i - 1 AS INT) AS dim,
       COUNT(*) AS n,
       ROUND(AVG(vec[i]), 6) AS mean,
       ROUND(SQRT(AVG(vec[i] * vec[i]) - AVG(vec[i]) * AVG(vec[i])), 6)
         AS std,
       ROUND(MIN(vec[i]), 6) AS min,
       ROUND(MAX(vec[i]), 6) AS max
FROM idx
GROUP BY i
ORDER BY dim
"""


# recipe over the testdata's source tags: keep all of src0, three
# quarters of src1, a quarter of src2, drop the rest (default 0.0)
MIXTURE_FRACTIONS = {"src0": 1.0, "src1": 0.75, "src2": 0.25}
MIXTURE_SEED = 7


def mx_mixture(spark, sf_dir):
    """Deterministic data-mixture sampling (operators.sampling.
    mixture_sample): per-source keep fractions as a pure hash function of
    (doc_id, seed), so the training recipe is reproducible under any
    partitioning AND oracle-verifiable row-for-row — the md5-derived
    bucket has an exact DuckDB twin. Sources outside the recipe drop."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        mixture_sample,
    )

    d = T(spark, sf_dir, "documents")
    out = mixture_sample(
        d, "source", MIXTURE_FRACTIONS, "doc_id", seed=MIXTURE_SEED
    )
    return out.select("doc_id", "source", "lang")


_MX_CASE = " ".join(
    f"WHEN source = '{k}' THEN {int(f * 1_000_000)}"
    for k, f in MIXTURE_FRACTIONS.items()
)

MX_MIXTURE_SQL = f"""
SELECT doc_id, source, lang
FROM documents
WHERE {_sql_hash60(f"(CAST(doc_id AS VARCHAR) || ':{MIXTURE_SEED}')")}
      % 1000000
      < (CASE {_MX_CASE} ELSE 0 END)
"""


MAX_HAMMING = 2
# The PAIR query uses a WIDER signature than dd_simhash's compact 16-bit
# fingerprint: hamming-block bucketing over b bits puts ~n/2^(b/(d+1))
# docs in a bucket, and 16 bits over the sf0.1 corpus (5·10⁴ docs) is
# collision-dense enough that the pair set itself goes quadratic (the
# sf0.1 parity sweep OOM'd collecting it — round-6 find). 32 bits keeps
# ~10-bit blocks → bucket populations in the tens at sf0.1 → sparse,
# genuinely-near pairs at every test SF, and the oracle's bit-term SQL
# stays tractable.
SIMHASH_PAIR_BITS = 32
_SH_NBLOCKS = MAX_HAMMING + 1
_SH_SIZES = [
    SIMHASH_PAIR_BITS // _SH_NBLOCKS
    + (1 if i < SIMHASH_PAIR_BITS % _SH_NBLOCKS else 0)
    for i in range(_SH_NBLOCKS)
]
_SH_OFFS = [sum(_SH_SIZES[:i]) for i in range(_SH_NBLOCKS)]


def dd_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via hamming-block bucketing
    (operators.dedup.simhash_candidates): pigeonhole-exact recall within
    MAX_HAMMING, verification by bit_count(xor) — no token re-scan."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        simhash_candidates,
    )

    d = T(spark, sf_dir, "documents")
    return simhash_candidates(
        d, "doc_id", "text", bits=SIMHASH_PAIR_BITS, max_hamming=MAX_HAMMING
    )


_SH_PAIR_BIT_TERMS = " + ".join(
    f"""CASE WHEN list_sum(list_transform(hs,
         h -> CASE WHEN (h & {1 << i}) > 0 THEN 1 ELSE -1 END)) > 0
       THEN {1 << i} ELSE 0 END"""
    for i in range(SIMHASH_PAIR_BITS)
)

_SH_BLOCKS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, sim, {i} AS blk, "
    f"(sim >> {_SH_OFFS[i]}) & {(1 << _SH_SIZES[i]) - 1} AS val FROM s"
    for i in range(_SH_NBLOCKS)
)

DD_SIMHASH_PAIRS_SQL = f"""
WITH docs_d AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents) t
  WHERE rn = 1),
tok AS (
  SELECT doc_id,
         list_transform(list_distinct({_TOKS}), w -> {_sql_hash60('w')}) AS hs
  FROM docs_d),
s AS (SELECT doc_id, CAST({_SH_PAIR_BIT_TERMS} AS BIGINT) AS sim FROM tok),
blocks AS ({_SH_BLOCKS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sim AS sa, b.sim AS sb
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {MAX_HAMMING}
"""


BM25_QUERY = ["spark", "stream", "vector", "data"]
BM25_TOP_K = 10
BM25_K1, BM25_B = 1.2, 0.75


def rt_bm25_topk(spark, sf_dir):
    """Lexical BM25 retrieval (operators.textops.bm25_topk): the sparse
    half of the RAG stack next to the ANN tier. Deterministic cross-
    engine cut: ordering on (6-dp-rounded score, doc_id)."""
    from calp_cva_tracking_pipeline_spark.operators.textops import bm25_topk

    d = T(spark, sf_dir, "documents")
    return bm25_topk(
        d, "doc_id", BM25_QUERY, k1=BM25_K1, b=BM25_B, top_k=BM25_TOP_K
    )


_BM25_TERMS = ", ".join(f"'{t}'" for t in sorted(set(BM25_QUERY)))

# Shared CTE chain ending in `scored` (doc_id, 6-dp BM25 score) — used by
# RT_BM25_SQL and by the hybrid-fusion oracle below, so both verify the
# SAME scoring function.
_BM25_SCORED_CTES = rf"""toks AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
    FROM documents) u
  WHERE t <> ''),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
qt AS (SELECT * FROM toks WHERE term IN ({_BM25_TERMS})),
df_t AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM qt GROUP BY term),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM qt GROUP BY 1, 2),
scored AS (
  SELECT tf.doc_id,
         ROUND(SUM(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * tf * ({BM25_K1} + 1)
           / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
         ), 6) AS score
  FROM tf
  JOIN df_t USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id)"""

RT_BM25_SQL = f"""
WITH {_BM25_SCORED_CTES}
SELECT doc_id, score FROM scored
ORDER BY score DESC, doc_id
LIMIT {BM25_TOP_K}
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval: RRF fusion of the BM25 pool and a dense cosine pool
# ---------------------------------------------------------------------------

HYBRID_POOL = 25  # per-retriever candidate pool size
HYBRID_TOP_K = 10
HYBRID_QUERY_ID = 0  # embeddings.vec_id whose vector is the dense query
RRF_K = 60  # the canonical RRF constant (Cormack et al. 2009)


def rt_hybrid_rrf(spark, sf_dir):
    """Hybrid RAG retrieval (operators.retrieval.rrf_fuse): BM25 top-25
    pool + dense cosine top-25 pool for one query, fused by Reciprocal
    Rank Fusion. Rank-only fusion needs no score calibration; with two
    lists the per-doc double sum has ≤2 addends, so it is order-exact
    cross-engine. Fusion runs on 2×25 rows — the corpus-sized work is
    entirely inside the two (separately scale-audited) retrievers."""
    from calp_cva_tracking_pipeline_spark.operators.retrieval import (
        rrf_fuse,
        with_rank,
    )
    from calp_cva_tracking_pipeline_spark.operators.textops import bm25_topk

    d = T(spark, sf_dir, "documents")
    e = T(spark, sf_dir, "embeddings")
    sparse = with_rank(
        bm25_topk(
            d, "doc_id", BM25_QUERY, k1=BM25_K1, b=BM25_B,
            top_k=HYBRID_POOL,
        ),
        "doc_id",
        "score",
    ).select("doc_id", "rank")
    q = e.filter(F.col("vec_id") == HYBRID_QUERY_ID)
    dense = brute_force_topk(
        e, q, "vec_id", "embedding", "vec_id", "embedding", k=HYBRID_POOL
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse(
        [sparse, dense], "doc_id", rrf_k=RRF_K, top_k=HYBRID_TOP_K
    )


RT_HYBRID_SQL = f"""
WITH {_BM25_SCORED_CTES},
bm AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id, CAST(ROW_NUMBER() OVER (
      ORDER BY score DESC, doc_id) AS INTEGER) AS rank
    FROM scored) t
  WHERE rank <= {HYBRID_POOL}),
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       WHERE vec_id = {HYBRID_QUERY_ID}),
dn0 AS (
  SELECT vec_id AS doc_id,
         ROUND(list_dot_product(v, cv) /
               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))),
               6) AS cosine
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings) c
  CROSS JOIN qv
  WHERE vec_id <> {HYBRID_QUERY_ID}),
dn AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id, CAST(ROW_NUMBER() OVER (
      ORDER BY cosine DESC, doc_id) AS INTEGER) AS rank
    FROM dn0) t
  WHERE rank <= {HYBRID_POOL}),
u AS (
  SELECT doc_id, CAST(1.0 AS DOUBLE) / ({RRF_K} + rank) AS c FROM bm
  UNION ALL
  SELECT doc_id, CAST(1.0 AS DOUBLE) / ({RRF_K} + rank) AS c FROM dn)
SELECT doc_id, ROUND(SUM(c), 6) AS rrf, COUNT(*) AS n_lists
FROM u GROUP BY doc_id
ORDER BY rrf DESC, doc_id
LIMIT {HYBRID_TOP_K}
"""


# ---------------------------------------------------------------------------
# Heavy hitters: Misra-Gries candidate sketch + exact verify
# ---------------------------------------------------------------------------

HH_THRESHOLD = 0.01  # report tokens carrying >= 1% of the token stream


def pf_heavy_hitters(spark, sf_dir):
    """Exact heavy-hitter tokens (operators.sketch.heavy_hitters): per-
    partition Misra-Gries candidates (bounded memory, no vocab-sized
    shuffle) then exact verify of candidates only — output identical to
    the plain GROUP BY/HAVING oracle by the MG superset guarantee. The
    testdata's ~30 head tokens each carry ~3% of the stream, so the 1%
    cut is non-trivially exercised at every SF."""
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from calp_cva_tracking_pipeline_spark.operators.sketch import (
        heavy_hitters,
    )

    d = T(spark, sf_dir, "documents")
    toks = (
        spread_small_input(d)
        .select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("token")
        )
        .filter(F.col("token") != "")
    )
    return heavy_hitters(toks, "token", HH_THRESHOLD)


PF_HH_SQL = rf"""
WITH toks AS (
  SELECT t AS token FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
    FROM documents) u
  WHERE t <> ''),
tot AS (SELECT COUNT(*) AS n FROM toks)
SELECT token, cnt, ROUND(CAST(cnt AS DOUBLE) / n, 6) AS frac
FROM (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token) c
CROSS JOIN tot
WHERE CAST(cnt AS DOUBLE) >= CAST({HH_THRESHOLD} AS DOUBLE) * n
"""


# ---------------------------------------------------------------------------
# Bigram-LM quality scoring (perplexity-proxy gate)
# ---------------------------------------------------------------------------

LM_ALPHA = 0.1


def tx_lm_score(spark, sf_dir):
    """Corpus-trained bigram-LM mean negative log-likelihood per document
    (operators.textops.lm_quality_score) — the CCNet/Gopher perplexity-
    proxy quality gate. Per-bigram nll rounds to 6 dp then sums as
    integer micro-nats, so per-doc aggregation is order-exact
    cross-engine; only the final mean divides back to double."""
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        lm_quality_score,
    )

    d = spread_small_input(T(spark, sf_dir, "documents"))
    return lm_quality_score(d, "doc_id", alpha=LM_ALPHA)


TX_LM_SQL = rf"""
WITH tl AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
uni AS (SELECT unnest(toks) AS w FROM tl),
vocab AS (SELECT COUNT(DISTINCT w) AS V FROM uni),
bi AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len(toks) - 1),
           i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS p
  FROM tl WHERE len(toks) >= 2),
fl AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bi),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM fl GROUP BY 1, 2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM fl GROUP BY 1),
scored AS (
  SELECT doc_id,
         CAST(ROUND(ROUND(
           -ln((c2 + CAST({LM_ALPHA} AS DOUBLE))
               / (c1 + CAST({LM_ALPHA} AS DOUBLE) * V)), 6)
           * 1000000, 0) AS BIGINT) AS micro
  FROM fl JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(CAST(SUM(micro) AS BIGINT)
             / (COUNT(*) * CAST(1000000 AS DOUBLE)), 6) AS avg_nll
FROM scored GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Oracle-verifiable stratified sampling (portable-hash sample_per_key)
# ---------------------------------------------------------------------------

STRATA_N = 30  # per-language cap
STRATA_SEED = 42


def mx_strata_sample(spark, sf_dir):
    """Deterministic per-language document sample (operators.sampling.
    sample_per_key, portable=True): at most STRATA_N docs per lang chosen
    by the md5-derived stable_hash64 over key|id|seed — the corpus-
    balancing cap, verified ROW-FOR-ROW by the oracle because the draw
    hash has an exact SQL twin. One keyed exchange, O(1) state per group
    (running rank), any key-group size streams."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        sample_per_key,
    )

    d = T(spark, sf_dir, "documents")
    return sample_per_key(
        d, "lang", STRATA_N, seed=STRATA_SEED, id_col="doc_id",
        portable=True,
    ).select("doc_id", "lang", "source")


_STRATA_H = _sql_hash60(
    f"lang || '|' || CAST(doc_id AS VARCHAR) || '|' || '{STRATA_SEED}'"
)

MX_STRATA_SQL = f"""
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {_STRATA_H}, CAST(doc_id AS VARCHAR)) AS rn
  FROM documents) t
WHERE rn <= {STRATA_N}
"""


# ---------------------------------------------------------------------------
# Exact duplicated-passage detection (Lee et al. exact-substring signal)
# ---------------------------------------------------------------------------

PASSAGE_W = 8  # span length in tokens
PASSAGE_CAP = 16  # spans shared by more docs = boilerplate, dropped


def dd_passage_overlap(spark, sf_dir):
    """Document pairs sharing >=1 exact 8-token span with the count of
    distinct shared spans (operators.dedup.passage_overlap_pairs).
    Span hashes use the md5-derived stable_hash64 on BOTH engines, so
    parity is hash-exact rather than probabilistic."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        passage_overlap_pairs,
    )
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )

    d = spread_small_input(T(spark, sf_dir, "documents"))
    return passage_overlap_pairs(
        d, "doc_id", window=PASSAGE_W,
        max_docs_per_window=PASSAGE_CAP,
    )


_PASSAGE_H = _sql_hash60(
    f"array_to_string(list_slice(toks, i, i + {PASSAGE_W} - 1), ' ')"
)

# CTE chain ending in `pairs` (id_a < id_b, one row per shared span) —
# used by DD_PASSAGE_SQL and by the component-resolution oracle below.
_PASSAGE_PAIR_CTES = rf"""tl AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents),
sp AS (
  SELECT DISTINCT doc_id, {_PASSAGE_H} AS h
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {PASSAGE_W} + 1)) AS i
        FROM tl WHERE len(toks) >= {PASSAGE_W}) t),
bc AS (
  SELECT h FROM (SELECT h, COUNT(*) AS c FROM sp GROUP BY h) g
  WHERE c BETWEEN 2 AND {PASSAGE_CAP}),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sp a JOIN sp b USING (h)
  WHERE a.doc_id < b.doc_id AND h IN (SELECT h FROM bc))"""

DD_PASSAGE_SQL = f"""
WITH {_PASSAGE_PAIR_CTES}
SELECT id_a, id_b, COUNT(*) AS n_shared
FROM pairs GROUP BY 1, 2
"""


def dd_containment(spark, sf_dir):
    """Asymmetric passage containment (operators.dedup.
    passage_containment): shared-span count normalized by EACH side's
    distinct spans — the quote / subset-document signal symmetric
    similarity misses (short-in-long pairs score ~1 on the short side,
    ~0 on Jaccard)."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        passage_containment,
    )
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )

    d = spread_small_input(T(spark, sf_dir, "documents"))
    return passage_containment(
        d, "doc_id", window=PASSAGE_W, max_docs_per_window=PASSAGE_CAP
    )


DD_CONTAINMENT_SQL = f"""
WITH {_PASSAGE_PAIR_CTES},
agg AS (SELECT id_a, id_b, COUNT(*) AS n_shared FROM pairs GROUP BY 1, 2),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sp GROUP BY doc_id)
SELECT a.id_a, a.id_b, a.n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / ca.n, 6) AS containment_a,
       ROUND(CAST(n_shared AS DOUBLE) / cb.n, 6) AS containment_b
FROM agg a
JOIN cnt ca ON ca.doc_id = a.id_a
JOIN cnt cb ON cb.doc_id = a.id_b
"""


def dd_components(spark, sf_dir):
    """Duplicate-cluster resolution (operators.dedup.connected_components)
    over the passage-overlap pair graph: (node, component) with component
    = min reachable doc_id — the transitive-closure survivor labeling
    (A~B~C keeps exactly A even though A and C never paired). The Spark
    side iterates min-label propagation over the candidate-sized pair set
    (one label-table shuffle per round, O(component diameter) rounds);
    the oracle is the same fixpoint as a recursive CTE — upgrading the
    iterative operator from pytest-only to oracle-verified."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        connected_components,
    )

    edges = dd_passage_overlap(spark, sf_dir).select("id_a", "id_b")
    return connected_components(edges)


DD_COMPONENTS_SQL = f"""
WITH RECURSIVE {_PASSAGE_PAIR_CTES},
dedup_pairs AS (SELECT DISTINCT id_a, id_b FROM pairs),
edges(src, dst) AS (
  SELECT id_a, id_b FROM dedup_pairs
  UNION SELECT id_b, id_a FROM dedup_pairs),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node)
SELECT node, MIN(comp) AS component FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# Temperature mixture reweighting
# ---------------------------------------------------------------------------

MIX_TAU = 0.5


def mx_temperature(spark, sf_dir):
    """Per-source temperature-resampling weights (operators.sampling.
    temperature_weights, τ=0.5 — the XLM-R/mT5 mixture-flattening
    standard): head sources downweight, tail sources upweight. pow()
    output rounds to 9 dp and sums as integer parts-per-billion, so the
    normalization is order-exact cross-engine."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        temperature_weights,
    )

    d = T(spark, sf_dir, "documents")
    return temperature_weights(d, "source", tau=MIX_TAU)


MX_TEMP_SQL = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS N FROM counts),
t AS (
  SELECT source, n_docs,
         CAST(n_docs AS DOUBLE) / N AS p,
         CAST(ROUND(ROUND(
           pow(CAST(n_docs AS DOUBLE) / N, {MIX_TAU}), 9)
           * 1000000000, 0) AS BIGINT) AS t_ppb
  FROM counts CROSS JOIN tot),
den AS (SELECT CAST(SUM(t_ppb) AS BIGINT) AS D FROM t)
SELECT source, n_docs,
       ROUND(p, 6) AS share,
       ROUND(CAST(t_ppb AS DOUBLE) / D, 6) AS temp_share,
       ROUND((CAST(t_ppb AS DOUBLE) / D) / p, 6) AS sample_weight
FROM t CROSS JOIN den
"""


# ---------------------------------------------------------------------------
# Length-bucketed batching: quantile boundaries -> per-doc bucket
# ---------------------------------------------------------------------------

LEN_BUCKET_PS = [0.25, 0.5, 0.75]


def pk_length_buckets(spark, sf_dir):
    """Per-document length-bucket assignment for padding-efficient
    batching: bucket boundaries are EXACT corpus quartiles of the token
    count (operators.profiling.exact_percentiles — the two-phase
    histogram, no row-sized single-task sort), and each doc lands in
    bucket = #boundaries strictly below its length (0..3). Batching
    within a bucket bounds padding waste to the bucket's length spread —
    the standard seq-len grouping in front of ``pack_sequences``. Two
    corpus passes (boundary estimation, then assignment against the
    broadcast 1-row boundary table) — the canonical exact two-pass
    shape; ties sit in the lower bucket on both engines via strict >."""
    from calp_cva_tracking_pipeline_spark.functions.text import token_count
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        exact_percentiles,
    )

    d = spread_small_input(T(spark, sf_dir, "documents"))
    lens = d.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    qs = exact_percentiles(lens, ["n_tokens"], LEN_BUCKET_PS)
    b = qs.agg(
        *[
            F.min(F.when(F.col("p") == p, F.col("value"))).alias(
                f"__q{i}"
            )
            for i, p in enumerate(LEN_BUCKET_PS)
        ]
    )
    bucket = sum(
        (F.col("n_tokens") > F.col(f"__q{i}")).cast("int")
        for i in range(len(LEN_BUCKET_PS))
    )
    return lens.crossJoin(F.broadcast(b)).select(
        "doc_id", "n_tokens", bucket.alias("bucket")
    )


_LB_QS = ", ".join(
    f"ROUND(CAST(quantile_cont(CAST(n_tokens AS DOUBLE), {p}) AS DOUBLE), 6)"
    f" AS q{i}"
    for i, p in enumerate(LEN_BUCKET_PS)
)
_LB_SUM = " + ".join(
    f"CAST(n_tokens > q{i} AS INTEGER)" for i in range(len(LEN_BUCKET_PS))
)

PK_LENBUCKET_SQL = rf"""
WITH lens AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
  FROM documents),
q AS (SELECT {_LB_QS} FROM lens)
SELECT doc_id, n_tokens, CAST({_LB_SUM} AS INTEGER) AS bucket
FROM lens CROSS JOIN q
"""


# ---------------------------------------------------------------------------
# Product-quantization ANN (ADC over codes)
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_K = 16  # centroids per subspace codebook
_PQ_SUB = EMB_DIM // PQ_M


def ann_pq_topk(spark, sf_dir):
    """PQ/ADC approximate search (operators.similarity.pq_topk): vectors
    compress to PQ_M codebook codes; queries score code rows through a
    broadcast exact-distance lookup table. Codebooks use the
    deterministic lowest-id init (same contract as IVF; Lloyd refinement
    is the offline quality path). Per-subspace distances round to 6 dp
    and sum as integer micro-units — order-exact cross-engine."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        pq_topk,
    )

    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    return pq_topk(
        e, q, "vec_id", "embedding", "vec_id", "embedding",
        m=PQ_M, k_codebook=PQ_K, k=TOP_K, dim=EMB_DIM,
    )


ANN_PQ_SQL = f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cb0 AS (SELECT CAST(vec_id AS BIGINT) AS centroid_id, v
        FROM c ORDER BY vec_id LIMIT {PQ_K}),
mm AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
cb AS (SELECT m, centroid_id,
              list_slice(v, m * {_PQ_SUB} + 1, m * {_PQ_SUB} + {_PQ_SUB})
                AS cbv
       FROM cb0 CROSS JOIN mm),
sv AS (SELECT vec_id, m,
              list_slice(v, m * {_PQ_SUB} + 1, m * {_PQ_SUB} + {_PQ_SUB})
                AS sub
       FROM c CROSS JOIN mm),
codes AS (
  SELECT vec_id, m, centroid_id AS code FROM (
    SELECT sv.vec_id, sv.m, cb.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.m
             ORDER BY {_D2.format(a='sv.sub', b='cb.cbv')}, cb.centroid_id) AS rn
    FROM sv JOIN cb ON cb.m = sv.m) t
  WHERE rn = 1),
lut AS (
  SELECT q.vec_id AS query_id, q.m, cb.centroid_id AS code,
         {_D2.format(a='q.sub', b='cb.cbv')} AS d2m
  FROM (SELECT * FROM sv WHERE vec_id < {N_QUERIES}) q
  JOIN cb ON cb.m = q.m),
scored AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id,
         ROUND(CAST(SUM(CAST(ROUND(d2m * 1000000, 0) AS BIGINT)) AS BIGINT)
               / CAST(1000000 AS DOUBLE), 6) AS adist
  FROM codes cd
  JOIN lut l ON l.m = cd.m AND l.code = cd.code
  WHERE cd.vec_id <> l.query_id
  GROUP BY 1, 2)
SELECT query_id, neighbor_id, adist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= {TOP_K}
"""


IVFPQ_NPROBE = 4


def ann_ivfpq_topk(spark, sf_dir):
    """IVF×PQ composed search (operators.similarity.ivf_pq_topk): coarse
    cells prune to nprobe probed cells, PQ/ADC scores the survivors in
    the compressed domain — the Jégou et al. billion-scale shape, with
    BOTH quantizers on the deterministic lowest-id init so the whole
    composition is oracle-verified."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        ivf_pq_topk,
    )

    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    return ivf_pq_topk(
        e, q, "vec_id", "embedding", "vec_id", "embedding",
        n_centroids=IVF_CENTROIDS, nprobe=IVFPQ_NPROBE,
        m=PQ_M, k_codebook=PQ_K, k=TOP_K, dim=EMB_DIM,
    )


ANN_IVFPQ_SQL = f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cb0 AS (SELECT CAST(vec_id AS BIGINT) AS centroid_id, v
        FROM c ORDER BY vec_id LIMIT {PQ_K}),
mm AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
cb AS (SELECT m, centroid_id,
              list_slice(v, m * {_PQ_SUB} + 1, m * {_PQ_SUB} + {_PQ_SUB})
                AS cbv
       FROM cb0 CROSS JOIN mm),
sv AS (SELECT vec_id, m,
              list_slice(v, m * {_PQ_SUB} + 1, m * {_PQ_SUB} + {_PQ_SUB})
                AS sub
       FROM c CROSS JOIN mm),
codes AS (
  SELECT vec_id, m, centroid_id AS code FROM (
    SELECT sv.vec_id, sv.m, cb.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.m
             ORDER BY {_D2.format(a='sv.sub', b='cb.cbv')}, cb.centroid_id) AS rn
    FROM sv JOIN cb ON cb.m = sv.m) t
  WHERE rn = 1),
cent AS (
  SELECT CAST(vec_id AS BIGINT) AS centroid_id, v AS cv
  FROM c ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
assign AS (
  SELECT vec_id, centroid_id AS cell FROM (
    SELECT a.vec_id, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY {_D2.format(a='a.v', b='cent.cv')}, cent.centroid_id
           ) AS rn
    FROM c a CROSS JOIN cent) t
  WHERE rn = 1),
probes AS (
  SELECT query_id, centroid_id AS cell FROM (
    SELECT q.vec_id AS query_id, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_D2.format(a='q.v', b='cent.cv')}, cent.centroid_id
           ) AS pr
    FROM (SELECT * FROM c WHERE vec_id < {N_QUERIES}) q CROSS JOIN cent) t
  WHERE pr <= {IVFPQ_NPROBE}),
lut AS (
  SELECT q.vec_id AS query_id, q.m, cb.centroid_id AS code,
         {_D2.format(a='q.sub', b='cb.cbv')} AS d2m
  FROM (SELECT * FROM sv WHERE vec_id < {N_QUERIES}) q
  JOIN cb ON cb.m = q.m),
scored AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id,
         ROUND(CAST(SUM(CAST(ROUND(d2m * 1000000, 0) AS BIGINT)) AS BIGINT)
               / CAST(1000000 AS DOUBLE), 6) AS adist
  FROM codes cd
  JOIN assign a ON a.vec_id = cd.vec_id
  JOIN probes p ON p.cell = a.cell
  JOIN lut l ON l.query_id = p.query_id
            AND l.m = cd.m AND l.code = cd.code
  WHERE cd.vec_id <> l.query_id
  GROUP BY 1, 2)
SELECT query_id, neighbor_id, adist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (continuous-aggregate refresh)
# ---------------------------------------------------------------------------


def rt_rollup_incr(spark, sf_dir):
    """Continuous-aggregate maintenance (operators.rollup.
    rollup_incremental): history events (event_id % 10 < 8) build the
    daily store, the remaining batch folds in via the touched-window
    semi/anti merge — and the oracle is the DIRECT daily rollup over ALL
    events, so the bit-exact maintained-store ≡ full-recompute law is
    what the driver checks."""
    from calp_cva_tracking_pipeline_spark.operators.rollup import (
        rollup_incremental,
        rollup_time_hierarchy,
    )

    e = T(spark, sf_dir, "events")
    hist = e.filter(F.col("event_id") % 10 < 8)
    batch = e.filter(F.col("event_id") % 10 >= 8)
    store = rollup_time_hierarchy(
        hist, grains=("1 day",), keys=("event_type",)
    )["1 day"]
    out = rollup_incremental(
        store, batch, grain="1 day", keys=("event_type",)
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "total_value",
        "min_value",
        "max_value",
    )


RT_ROLLUP_INCR_SQL = f"""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type, COUNT(*) AS n_events,
       {SQL_MONEY_SUM('value')} AS total_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# One-pass curation gate verdict
# ---------------------------------------------------------------------------


def tx_quality_gate(spark, sf_dir):
    """C4/Gopher-style keep/drop verdict with reasons (operators.textops.
    quality_gate): one scan-speed projection; the ordered CASE chain
    makes reason counts stable as thresholds move, so the reason
    histogram doubles as the curation report."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        quality_gate,
    )

    d = T(spark, sf_dir, "documents")
    g = quality_gate(F.col("text"))
    return d.select(
        "doc_id", g["keep"].alias("keep"), g["reason"].alias("reason")
    )


TX_GATE_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         {_NTOK} AS n_tok,
         {_PUNCT_RATIO} AS punct,
         {_SW_RATIO} AS sw,
         string_split(text, chr(10)) AS lines,
         {_TOKS} AS toks
  FROM documents),
v AS (
  SELECT doc_id,
         CASE
           WHEN n_tok < 10 THEN 'short'
           WHEN n_tok > 10000 THEN 'long'
           WHEN punct >= 0.1 THEN 'punct'
           WHEN sw <= 0.01 THEN 'stopword'
           WHEN ROUND(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                      / greatest(len(lines), 1), 6) >= 0.3
             OR ROUND(CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
                      / greatest(len(toks), 1), 6) >= 0.3 THEN 'repetition'
           ELSE 'ok'
         END AS reason
  FROM t)
SELECT doc_id, reason = 'ok' AS keep, reason FROM v
"""


# ---------------------------------------------------------------------------
# Trending top-k per window (the dashboard/feed query)
# ---------------------------------------------------------------------------

TREND_TOP_K = 3


def rt_trending(spark, sf_dir):
    """Top-K event types per hour by volume → (hour, event_type,
    n_events, rank): the trending-feed / ops-dashboard query. One
    map-side-combined aggregation to hour×type cardinality, then a
    per-hour rank window — Spark's WindowGroupLimit pushes the K-cut
    below the exchange, so only K·partitions rows shuffle for the rank.
    Ordering (count desc, type) is total; ties deterministic."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_format(
            F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00"
        ).alias("hour"),
        "event_type",
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("hour").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        hourly.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TREND_TOP_K)
        .select("hour", "event_type", "n_events", "rank")
    )


RT_TRENDING_SQL = f"""
WITH hourly AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2)
SELECT hour, event_type, n_events, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY hour ORDER BY n_events DESC, event_type) AS rank
  FROM hourly) t
WHERE rank <= {TREND_TOP_K}
"""


# ---------------------------------------------------------------------------
# One-pass exact correlation matrix (sufficient statistics)
# ---------------------------------------------------------------------------

CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def pf_corr(spark, sf_dir):
    """Pairwise Pearson correlations over lineitem's money-grade columns
    in ONE scan → (col_x, col_y, corr, n): every sufficient statistic
    (Σx, Σx², Σxy) accumulates as EXACT decimal (the money discipline —
    2-dp inputs, 4-dp products), so the sums are order-independent and
    the final corr formula is a fixed chain of double ops on identical
    inputs cross-engine. The d²-sufficient-statistic shape of
    operators.linalg covariance, specialized to the relational profile
    report; a naive corr() over doubles would be partial-sum-order
    nondeterministic AND need one pass per pair."""
    from calp_cva_tracking_pipeline_spark.functions.numeric import (
        money_sum,
        product_sum,
    )

    li = T(spark, sf_dir, "lineitem")
    aggs = [F.count("*").cast("double").alias("n")]
    for c in CORR_COLS:
        aggs.append(money_sum(c).alias(f"s_{c}"))
        aggs.append(
            product_sum(F.col(c) * F.col(c)).alias(f"ss_{c}")
        )
    pairs = [
        (a, b)
        for i, a in enumerate(CORR_COLS)
        for b in CORR_COLS[i + 1:]
    ]
    for a, b in pairs:
        aggs.append(
            product_sum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}")
        )
    stats = li.agg(*aggs)

    def corr(a: str, b: str):
        n = F.col("n")
        num = n * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        den = F.sqrt(
            (n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
            * (n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
        )
        return F.round(num / den, 6)

    rows = []
    for a, b in pairs:
        rows.append(
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                corr(a, b).alias("corr"),
                F.col("n").cast("long").alias("n"),
            )
        )
    return stats.select(
        F.explode(F.array(*rows)).alias("__r")
    ).select("__r.col_x", "__r.col_y", "__r.corr", "__r.n")


def _corr_sql(a: str, b: str) -> str:
    n = "CAST(COUNT(*) AS DOUBLE)"
    s = lambda c: f"CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE)"
    ss = lambda c: f"CAST(SUM(CAST({c} * {c} AS DECIMAL(27,6))) AS DOUBLE)"
    sp = f"CAST(SUM(CAST({a} * {b} AS DECIMAL(27,6))) AS DOUBLE)"
    return (
        f"SELECT '{a}' AS col_x, '{b}' AS col_y, "
        f"ROUND(({n} * {sp} - {s(a)} * {s(b)}) / "
        f"sqrt(({n} * {ss(a)} - {s(a)} * {s(a)})"
        f" * ({n} * {ss(b)} - {s(b)} * {s(b)})), 6) AS corr, "
        f"CAST(COUNT(*) AS BIGINT) AS n FROM lineitem"
    )


PF_CORR_SQL = "\nUNION ALL\n".join(
    _corr_sql(a, b)
    for i, a in enumerate(CORR_COLS)
    for b in CORR_COLS[i + 1:]
)


PQ_SHORTLIST = 25


def ann_pq_rerank(spark, sf_dir):
    """Two-stage PQ retrieval (operators.similarity.pq_rerank_topk):
    compressed-domain ADC shortlist, exact-cosine rerank of the
    shortlist only — exact-quality ranking at O(shortlist) vector
    fetches per query."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        pq_rerank_topk,
    )

    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    return pq_rerank_topk(
        e, q, "vec_id", "embedding", "vec_id", "embedding",
        m=PQ_M, k_codebook=PQ_K, shortlist=PQ_SHORTLIST, k=TOP_K,
        dim=EMB_DIM,
    )


ANN_PQ_RERANK_SQL = f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cb0 AS (SELECT CAST(vec_id AS BIGINT) AS centroid_id, v
        FROM c ORDER BY vec_id LIMIT {PQ_K}),
mm AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
cb AS (SELECT m, centroid_id,
              list_slice(v, m * {_PQ_SUB} + 1, m * {_PQ_SUB} + {_PQ_SUB})
                AS cbv
       FROM cb0 CROSS JOIN mm),
sv AS (SELECT vec_id, m,
              list_slice(v, m * {_PQ_SUB} + 1, m * {_PQ_SUB} + {_PQ_SUB})
                AS sub
       FROM c CROSS JOIN mm),
codes AS (
  SELECT vec_id, m, centroid_id AS code FROM (
    SELECT sv.vec_id, sv.m, cb.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.m
             ORDER BY {_D2.format(a='sv.sub', b='cb.cbv')}, cb.centroid_id) AS rn
    FROM sv JOIN cb ON cb.m = sv.m) t
  WHERE rn = 1),
lut AS (
  SELECT q.vec_id AS query_id, q.m, cb.centroid_id AS code,
         {_D2.format(a='q.sub', b='cb.cbv')} AS d2m
  FROM (SELECT * FROM sv WHERE vec_id < {N_QUERIES}) q
  JOIN cb ON cb.m = q.m),
adc AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id,
         ROUND(CAST(SUM(CAST(ROUND(d2m * 1000000, 0) AS BIGINT)) AS BIGINT)
               / CAST(1000000 AS DOUBLE), 6) AS adist
  FROM codes cd
  JOIN lut l ON l.m = cd.m AND l.code = cd.code
  WHERE cd.vec_id <> l.query_id
  GROUP BY 1, 2),
pool AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
    FROM adc) t
  WHERE rn <= {PQ_SHORTLIST}),
rescored AS (
  SELECT p.query_id, p.neighbor_id,
         ROUND(list_dot_product(qv.v, cv.v) /
               (sqrt(list_dot_product(qv.v, qv.v))
                * sqrt(list_dot_product(cv.v, cv.v))), 6) AS cosine
  FROM pool p
  JOIN c qv ON qv.vec_id = p.query_id
  JOIN c cv ON cv.vec_id = p.neighbor_id)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rescored) t
WHERE rank <= {TOP_K}
"""


def tx_entropy(spark, sf_dir):
    """Per-document Shannon character entropy (operators.textops.
    char_entropy) — the compression-proxy quality signal; both tails
    (uniform-byte garbage, single-char spam) are drop candidates.
    Integer nano-nat sums keep the per-doc aggregation order-exact."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        char_entropy,
    )

    d = T(spark, sf_dir, "documents")
    return char_entropy(d, "doc_id")


TX_ENTROPY_SQL = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
counts AS (
  SELECT doc_id, c, COUNT(*) AS cnt FROM ch GROUP BY 1, 2),
terms AS (
  SELECT doc_id, cnt,
         CAST(ROUND(ROUND(
           -(CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY doc_id))
           * ln(CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY doc_id)),
           9) * 1000000000, 0) AS BIGINT) AS nano
  FROM counts)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_chars,
       ROUND(CAST(SUM(nano) AS BIGINT) / CAST(1000000000 AS DOUBLE), 6)
         AS entropy
FROM terms GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Distribution drift: Population Stability Index between slices
# ---------------------------------------------------------------------------


def pf_psi(spark, sf_dir):
    """PSI drift monitor (operators.profiling.population_stability):
    odd- vs even-orderkey slices of lineitem's money-grade columns —
    statistically identical slices, so psi ≈ 0 is itself the assertion.
    Per-bucket terms sum as integer nano-units; empty buckets floor at
    1e-6 before the log."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        population_stability,
    )

    li = T(spark, sf_dir, "lineitem")
    return population_stability(
        li, CORR_COLS, F.col("l_orderkey") % 2
    )


_PSI_UNION = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS col_name, CAST({c} AS DOUBLE) AS val,"
    f" CAST(l_orderkey % 2 AS INTEGER) AS slice FROM lineitem"
    for c in CORR_COLS
)

PF_PSI_SQL = f"""
WITH long AS (
  SELECT * FROM ({_PSI_UNION}) u WHERE val IS NOT NULL),
rng AS (SELECT col_name, MIN(val) AS lo, MAX(val) AS hi
        FROM long GROUP BY 1),
b AS (
  SELECT col_name, slice,
         CASE WHEN hi - lo <= 0 THEN 0
              ELSE least(CAST(floor((val - lo) / (hi - lo) * 10)
                         AS INTEGER), 9) END AS bucket
  FROM long JOIN rng USING (col_name)),
counts AS (SELECT col_name, bucket, slice, COUNT(*) AS cnt
           FROM b GROUP BY 1, 2, 3),
fr AS (
  SELECT col_name, bucket, slice, cnt,
         CAST(cnt AS DOUBLE)
           / SUM(cnt) OVER (PARTITION BY col_name, slice) AS frac
  FROM counts),
pb AS (
  SELECT col_name, bucket,
         greatest(COALESCE(MAX(CASE WHEN slice = 0 THEN frac END),
                           CAST(0.0 AS DOUBLE)),
                  CAST(1e-06 AS DOUBLE)) AS p,
         greatest(COALESCE(MAX(CASE WHEN slice = 1 THEN frac END),
                           CAST(0.0 AS DOUBLE)),
                  CAST(1e-06 AS DOUBLE)) AS q,
         COALESCE(SUM(CASE WHEN slice = 0 THEN cnt END), 0) AS na,
         COALESCE(SUM(CASE WHEN slice = 1 THEN cnt END), 0) AS nb
  FROM fr GROUP BY 1, 2)
SELECT col_name,
       ROUND(CAST(SUM(CAST(ROUND(ROUND((p - q) * ln(p / q), 9)
                           * 1000000000, 0) AS BIGINT)) AS BIGINT)
             / CAST(1000000000 AS DOUBLE), 6) AS psi,
       CAST(SUM(na) AS BIGINT) AS n_base,
       CAST(SUM(nb) AS BIGINT) AS n_cur
FROM pb GROUP BY 1
"""


def pf_profile_by(spark, sf_dir):
    """Per-source data cards over documents (operators.profiling.
    profile_columns_by): chars + token count per source — the per-slice
    quality sheet next to pf_profile's global one. One group-cardinality
    aggregation; the unpivot runs on aggregated rows only."""
    from calp_cva_tracking_pipeline_spark.functions.text import token_count
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        profile_columns_by,
    )

    d = spread_small_input(T(spark, sf_dir, "documents")).select(
        "source",
        F.col("n_chars"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    return profile_columns_by(d, "source", ["n_chars", "n_tokens"])


def _pf_by_stats(col: str) -> str:
    return (
        f"CAST(COUNT({col}) AS BIGINT) AS n,"
        f" CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_null,"
        f" ROUND(CAST(MIN({col}) AS DOUBLE), 6) AS min,"
        f" ROUND(CAST(MAX({col}) AS DOUBLE), 6) AS max,"
        f" ROUND({SQL_MONEY_AVG(col)}, 6) AS mean,"
        f" ROUND(CAST(quantile_cont(CAST({col} AS DOUBLE), 0.5)"
        f" AS DOUBLE), 6) AS median"
    )


PF_PROFILE_BY_SQL = f"""
WITH d AS (
  SELECT source, n_chars, {_NTOK} AS n_tokens FROM documents)
SELECT * FROM (
  SELECT source, 'n_chars' AS col_name, {_pf_by_stats('n_chars')}
  FROM d GROUP BY source
  UNION ALL
  SELECT source, 'n_tokens' AS col_name, {_pf_by_stats('n_tokens')}
  FROM d GROUP BY source) u
ORDER BY source, col_name
"""


# Hot keys for the salted-join demonstration: literal orderkeys (the
# diagnostics pipeline — key_skew_report → heavy_hitters — picks these in
# production; literals keep the oracle free of a second statistics query).
SALT_HOT_KEYS = [1, 7, 32, 69]
SALT_N = 8


def jx_salted_join(spark, sf_dir):
    """Skew-safe salted equi-join (operators.joins.salted_join) of
    lineitem×orders on orderkey, aggregated per order status. The oracle
    is the PLAIN join — proving the salt is a pure partitioning
    transformation: same matched pairs, same sums, any hot-key row mass
    notwithstanding."""
    from calp_cva_tracking_pipeline_spark.functions.numeric import money_sum
    from calp_cva_tracking_pipeline_spark.operators.joins import salted_join

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_quantity"
    )
    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderstatus"
    )
    j = salted_join(
        li, o, ["okey"], salt_buckets=SALT_N, hot_keys=SALT_HOT_KEYS
    )
    return (
        j.groupBy("o_orderstatus")
        .agg(
            money_sum("l_quantity").alias("sum_qty"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("o_orderstatus")
    )


JX_SALTED_SQL = f"""
SELECT o_orderstatus,
       {SQL_MONEY_SUM('l_quantity')} AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1
"""


def pf_key_skew(spark, sf_dir):
    """Key-skew audit of orders.o_custkey (operators.profiling.
    key_skew_report) — the one-row report behind broadcast/salt/AQE
    decisions: heaviest key's share, Shannon entropy of the key
    distribution, and its exponential (effective "as-if-uniform" key
    count). Per-key entropy terms sum as integer nano-nats."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        key_skew_report,
    )

    return key_skew_report(T(spark, sf_dir, "orders"), "o_custkey")


PF_KEY_SKEW_SQL = """
WITH counts AS (
  SELECT o_custkey AS k, COUNT(*) AS cnt FROM orders GROUP BY 1),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS kt FROM counts),
ent AS (
  SELECT ROUND(CAST(SUM(CAST(ROUND(ROUND(
             -(cnt / CAST(n AS DOUBLE)) * ln(cnt / CAST(n AS DOUBLE)), 9)
             * 1000000000, 0) AS BIGINT)) AS BIGINT)
         / CAST(1000000000 AS DOUBLE), 6) AS e,
         MAX(n) AS n, CAST(MAX(kt) AS BIGINT) AS kt,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt
  FROM counts CROSS JOIN tot)
SELECT n AS n_rows, kt AS n_keys, max_cnt AS max_count,
       ROUND(CAST(max_cnt AS DOUBLE) / CAST(n AS DOUBLE), 6) AS max_share,
       e AS entropy_nats, ROUND(exp(e), 6) AS effective_keys
FROM ent
"""


# --- Curriculum ordering (training-recipe layout) ---------------------------
_CURR_QUALITY = (
    f"ROUND(CAST("
    f"(CASE WHEN {_NTOK} >= 10 AND {_NTOK} <= 10000 THEN 0.4 ELSE 0.0 END)"
    f" + (CASE WHEN {_PUNCT_RATIO} < 0.1 THEN 0.3 ELSE 0.0 END)"
    f" + (CASE WHEN {_SW_RATIO} > 0.01 THEN 0.3 ELSE 0.0 END)"
    f" AS DOUBLE), 6)"
)
CURRICULUM_BANDS = 4
CURRICULUM_SEED = 42


def mx_curriculum(spark, sf_dir):
    """Curriculum sort keys over documents (operators.sampling.
    curriculum_order): band = exact quality-score quartile (0 = lowest
    quality), draw = portable seeded hash — ordering by (band desc,
    draw, doc_id) is the high-quality-first curriculum with a
    deterministic within-band shuffle. Sort keys, not a global rank: a
    rank column is a single-partition window; orderBy on the keys is a
    range exchange."""
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        curriculum_order,
    )
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        quality_score,
    )

    d = spread_small_input(T(spark, sf_dir, "documents"))
    lens = d.select("doc_id", quality_score(F.col("text")).alias("difficulty"))
    return curriculum_order(
        lens, "doc_id", "difficulty",
        n_bands=CURRICULUM_BANDS, seed=CURRICULUM_SEED,
    )


_CURR_QS = ", ".join(
    f"ROUND(CAST(quantile_cont(difficulty, {i / CURRICULUM_BANDS}) AS DOUBLE),"
    f" 6) AS q{i - 1}"
    for i in range(1, CURRICULUM_BANDS)
)
_CURR_BAND = " + ".join(
    f"CAST(difficulty > q{i} AS INTEGER)"
    for i in range(CURRICULUM_BANDS - 1)
)

MX_CURRICULUM_SQL = f"""
WITH lens AS (
  SELECT doc_id, {_CURR_QUALITY} AS difficulty FROM documents),
q AS (SELECT {_CURR_QS} FROM lens)
SELECT doc_id, difficulty, CAST({_CURR_BAND} AS INTEGER) AS band,
       {_sql_hash60(f"CAST(doc_id AS VARCHAR) || ':{CURRICULUM_SEED}'")} AS draw
FROM lens CROSS JOIN q
"""


def pf_ks(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov drift between the same odd-
    vs even-orderkey slices as pf_psi (operators.profiling.ks_drift) —
    the bucket-free companion statistic: PSI's fixed buckets can hide a
    sub-bucket shift, KS is the sup-gap of the empirical CDFs. CDF gaps
    compare as exact integers (|cumA·nB − cumB·nA|), one division at the
    end, so the statistic is bit-stable cross-engine."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        ks_drift,
    )

    li = T(spark, sf_dir, "lineitem")
    return ks_drift(li, CORR_COLS, F.col("l_orderkey") % 2)


# Oracle uses the naive one-window-per-column CDF (semantically identical
# to the engine's two-phase bucketed decomposition — that split is a plan
# shape, not a semantics change; same relationship as pf_percentiles'
# quantile_cont oracle).
PF_KS_SQL = f"""
WITH long AS (
  SELECT * FROM ({_PSI_UNION}) u WHERE val IS NOT NULL),
hist AS (
  SELECT col_name, val,
         SUM(CASE WHEN slice = 0 THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN slice = 1 THEN 1 ELSE 0 END) AS cb
  FROM long GROUP BY 1, 2),
cum AS (
  SELECT col_name,
         SUM(ca) OVER (PARTITION BY col_name ORDER BY val) AS cuma,
         SUM(cb) OVER (PARTITION BY col_name ORDER BY val) AS cumb,
         SUM(ca) OVER (PARTITION BY col_name) AS na,
         SUM(cb) OVER (PARTITION BY col_name) AS nb
  FROM hist)
SELECT col_name,
       CASE WHEN MAX(na) > 0 AND MAX(nb) > 0 THEN
         ROUND(CAST(MAX(abs(CAST(cuma AS HUGEINT) * nb
                            - CAST(cumb AS HUGEINT) * na)) AS DOUBLE)
               / (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)), 6)
       END AS ks,
       CAST(MAX(na) AS BIGINT) AS n_base,
       CAST(MAX(nb) AS BIGINT) AS n_cur
FROM cum GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Gap filling + LOCF (time_bucket_gapfill idiom)
# ---------------------------------------------------------------------------

GAPFILL_MIN_VALUE = 180  # sparse slice: high-value events only


def rt_gapfill(spark, sf_dir):
    """Dense hourly grid with last-observation-carried-forward
    (operators.rollup.gap_fill_locf) over the sparse high-value event
    series — the hypertable time_bucket_gapfill + locf idiom: every
    key×slot row exists, imputed rows flagged. Carried values are
    copied, not recomputed, so parity is exact by construction."""
    from calp_cva_tracking_pipeline_spark.operators.rollup import (
        gap_fill_locf,
        rollup_time_hierarchy,
    )

    e = T(spark, sf_dir, "events").filter(
        F.col("value") > GAPFILL_MIN_VALUE
    )
    hourly = rollup_time_hierarchy(
        e, grains=("1 hour",), keys=("event_type",)
    )["1 hour"]
    out = gap_fill_locf(
        hourly,
        keys=("event_type",),
        ts_col="window_start",
        value_cols=("n_events", "total_value"),
        grain="1 hour",
    )
    return out.select(
        "event_type",
        F.date_format("window_start", "yyyy-MM-dd HH:00").alias("slot"),
        "filled",
        "n_events",
        "total_value",
    )


RT_GAPFILL_SQL = f"""
WITH obs AS (
  SELECT event_type, date_trunc('hour', ts) AS slot,
         COUNT(*) AS n_events,
         {SQL_MONEY_SUM('value')} AS total_value
  FROM events WHERE value > {GAPFILL_MIN_VALUE}
  GROUP BY 1, 2),
rng AS (SELECT event_type, MIN(slot) AS lo, MAX(slot) AS hi
        FROM obs GROUP BY 1),
grid AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS slot
  FROM rng),
j AS (
  SELECT g.event_type, g.slot,
         o.slot IS NULL AS filled, o.n_events, o.total_value
  FROM grid g
  LEFT JOIN obs o ON o.event_type = g.event_type AND o.slot = g.slot)
SELECT event_type,
       strftime(slot, '%Y-%m-%d %H:00') AS slot,
       filled,
       last_value(n_events IGNORE NULLS) OVER w AS n_events,
       last_value(total_value IGNORE NULLS) OVER w AS total_value
FROM j
WINDOW w AS (PARTITION BY event_type ORDER BY slot
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


INCR_SPLIT_ID = 250  # docs below = "already-ingested corpus", rest = new batch


def dd_incremental(spark, sf_dir):
    """Incremental exact dedup (operators.dedup.dedup_incremental): the
    new batch dedups intra-batch (min-id survivor) then anti-joins the
    historical corpus's DIGEST STORE — history itself is never rescanned,
    so each ingest costs O(batch), the property that makes continuous
    100 TB ingestion affordable."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        content_digest_store,
        dedup_incremental,
    )

    d = T(spark, sf_dir, "documents")
    history = content_digest_store(
        d.filter(F.col("doc_id") < INCR_SPLIT_ID), "text"
    )
    new_batch = d.filter(F.col("doc_id") >= INCR_SPLIT_ID)
    out = dedup_incremental(new_batch, history, "text", "doc_id")
    return out.select("doc_id", "lang", "source")


def dd_neardup_incr(spark, sf_dir):
    """Incremental NEAR-dup candidates (operators.dedup.neardup_incremental):
    the new batch's MinHash band rows probe the historical corpus's
    persisted LSH band store (lsh_band_store) — O(batch) signature work
    per ingest, history contributes index rows only. Output: candidate
    pairs split into vs-history and intra-batch."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        dedup_exact,
        lsh_band_store,
        neardup_incremental,
    )

    d = T(spark, sf_dir, "documents")
    hist = dedup_exact(
        d.filter(F.col("doc_id") < INCR_SPLIT_ID), "text", "doc_id"
    )
    store = lsh_band_store(hist, "doc_id", "text", NUM_HASHES, BANDS, 3)
    batch = d.filter(F.col("doc_id") >= INCR_SPLIT_ID)
    return neardup_incremental(
        batch, store, "doc_id", "text", NUM_HASHES, BANDS, 3
    )


def _banded_cte(tag: str, where: str) -> str:
    """Signature + banding CTE chain for a doc_id-filtered slice —
    mirrors dedup_exact → minhash_signatures → _band_rows."""
    bands_sql = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, array_to_string(list_slice(sig, "
        f"{b * ROWS_PER_BAND + 1}, {(b + 1) * ROWS_PER_BAND}), ',') AS key "
        f"FROM {tag}_sigs"
        for b in range(BANDS)
    )
    return f"""
{tag}_dedup AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents WHERE {where}) t
  WHERE rn = 1),
{tag}_tok AS (
  SELECT doc_id,
         list_transform({_SHINGLES}, s -> {_sql_hash60('s')} % {MERSENNE_P})
           AS hs
  FROM {tag}_dedup),
{tag}_sigs AS (SELECT doc_id, [{_SIG_ELEMS}] AS sig FROM {tag}_tok),
{tag}_banded AS ({bands_sql})"""


DD_NEARDUP_INCR_SQL = f"""
WITH {_banded_cte('hist', f'doc_id < {INCR_SPLIT_ID}')},
{_banded_cte('new', f'doc_id >= {INCR_SPLIT_ID}')},
cross_pairs AS (
  SELECT DISTINCT n.doc_id AS id_a, h.doc_id AS id_b
  FROM new_banded n JOIN hist_banded h
    ON n.band = h.band AND n.key = h.key),
intra_pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM new_banded a JOIN new_banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT id_a, id_b, TRUE AS vs_history FROM cross_pairs
UNION ALL
SELECT id_a, id_b, FALSE AS vs_history FROM intra_pairs
"""


# NOT EXISTS (not NOT IN): a null digest must survive like Spark's
# left_anti (null matches nothing), while NOT IN's null comparison would
# drop the row.
DD_INCREMENTAL_SQL = f"""
WITH hist AS (
  SELECT DISTINCT md5(text) AS digest FROM documents
  WHERE doc_id < {INCR_SPLIT_ID} AND text IS NOT NULL),
batch AS (
  SELECT doc_id, lang, source, md5(text) AS d FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents WHERE doc_id >= {INCR_SPLIT_ID}) t
  WHERE rn = 1)
SELECT doc_id, lang, source FROM batch
WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.digest = batch.d)
"""


# --- SemDeDup: cluster-based semantic dedup (Abbas et al. 2023) -------------
# Clusters via the SAME deterministic quantizer as the IVF tier (iters=0,
# lowest-id init — the cent CTE below is byte-identical to ANN_IVF_SQL's), so
# a corpus with a persisted IVF index dedups without re-clustering. Threshold
# is deliberately low for the uniform-random testdata (real embedding spaces
# cluster; uniform 64-d cosines concentrate near 0 ± 1/8, so 0.2 ≈ the
# paper's "close within cluster" percentile here).
SEM_THRESHOLD = 0.2


def dd_semantic(spark, sf_dir):
    # SemDeDup verdict per distinct vector: cell id + keep/drop under the
    # min-id EXISTS rule (operators.dedup.semantic_dedup docstring).
    # n_centroids=None → auto K = ceil(N/128) (similarity.
    # auto_n_centroids all-pairs regime): constant rows-per-cell keeps
    # the within-cell pair volume LINEAR in corpus size — a fixed cell
    # count measured 20× time at 8× corpus (SCALE.md); the oracle's cent
    # CTE derives the same K from the same count.
    e = T(spark, sf_dir, "embeddings")
    return semantic_dedup(
        e, "vec_id", "embedding", n_centroids=None,
        threshold=SEM_THRESHOLD,
    )


# cent LIMIT = ceil(count/DEFAULT_CELL_SIZE), integer-exact — must mirror
# similarity.auto_n_centroids(corpus, DEFAULT_CELL_SIZE) verbatim
_AUTO_K_CENT = (
    f"(SELECT CAST((COUNT(*) + {_DEFAULT_CELL_SIZE - 1}) "
    f"// {_DEFAULT_CELL_SIZE} AS BIGINT) FROM embeddings)"
)

DD_SEMANTIC_SQL = f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT CAST(vec_id AS BIGINT) AS centroid_id, v AS cv
  FROM c ORDER BY vec_id LIMIT {_AUTO_K_CENT}),
uniq AS (
  -- exact pre-collapse mirror (min-id representative per distinct vector)
  SELECT MIN(vec_id) AS vec_id, embedding FROM embeddings GROUP BY embedding),
u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM uniq),
assign AS (
  SELECT vec_id, centroid_id AS cell, v FROM (
    SELECT a.vec_id, cent.centroid_id, a.v,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY {_D2.format(a='a.v', b='cent.cv')}, cent.centroid_id
           ) AS rn
    FROM u a CROSS JOIN cent) t
  WHERE rn = 1),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 6) >= {SEM_THRESHOLD})
SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       (d.vec_id IS NULL) AS keep
FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
"""


KNN_K = 5
KNN_NPROBE = 2


def emb_knn_graph(spark, sf_dir):
    """Approximate k-NN graph over the embedding corpus (operators.
    similarity.knn_graph, nprobe=2): cosine top-k per representative
    vector over pairs sharing any of each node's 2 nearest cells —
    nprobe=2 deterministically recovers cell-boundary neighbors the
    pure within-cell regime misses; comparisons stay sum(|cell|²)-scale
    exactly like SemDeDup. The substrate for semantic clustering
    (components), centrality sampling (PageRank) and redundancy
    scoring."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        knn_graph,
    )

    e = T(spark, sf_dir, "embeddings")
    # n_centroids=None → auto K = ceil(N/128) — same all-pairs scale
    # rationale and oracle mirror as dd_semantic above.
    return knn_graph(
        e,
        "vec_id",
        "embedding",
        k=KNN_K,
        n_centroids=None,
        nprobe=KNN_NPROBE,
    )


# shared CTE body: the T93 k-NN graph construction (quantizer seeds →
# nprobe-cell assignment → within-cell pairs → rank cut) — consumed by
# EMB_KNN_SQL and by the graph-search frontier's oracle (ann_graph_frontier)
_KNN_CTE_BODY = f"""
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT CAST(vec_id AS BIGINT) AS centroid_id, v AS cv
  FROM c ORDER BY vec_id LIMIT {_AUTO_K_CENT}),
uniq AS (
  SELECT MIN(vec_id) AS vec_id, embedding FROM embeddings GROUP BY embedding),
u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM uniq),
assign AS (
  -- each node meets its {KNN_NPROBE} nearest cells' populations
  SELECT vec_id, centroid_id AS cell, v FROM (
    SELECT a.vec_id, cent.centroid_id, a.v,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY {_D2.format(a='a.v', b='cent.cv')}, cent.centroid_id
           ) AS rn
    FROM u a CROSS JOIN cent) t
  WHERE rn <= {KNN_NPROBE}),
pairs AS (
  -- DISTINCT: a pair sharing both probed cells appears once per cell
  -- with the identical sim
  SELECT DISTINCT a.vec_id AS id, b.vec_id AS neighbor_id,
         ROUND(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
  FROM assign a JOIN assign b
    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
ranked AS (
  SELECT id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM pairs)
"""

EMB_KNN_SQL = f"""
WITH {_KNN_CTE_BODY}
SELECT id AS vec_id, neighbor_id, sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {KNN_K}
"""


# --- twelfth-wave additions: association mining, quota curation,
# fixed-bin histogram, behavioral segmentation ---


PMI_MIN_COUNT = 5
PMI_TOP_K = 50


def tx_collocations(spark, sf_dir):
    """Top-50 PMI bigram collocations (operators.textops.
    pmi_collocations): association mining over exact integer counts, one
    ln() rounded to 6dp (the lm_score libm discipline), min-count floor
    against singleton bias, total (pmi desc, w1, w2) order."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        pmi_collocations,
    )

    d = T(spark, sf_dir, "documents")
    return pmi_collocations(
        d, "text", min_count=PMI_MIN_COUNT, top_k=PMI_TOP_K
    )


TX_COLLOCATIONS_SQL = rf"""
WITH fl AS (
  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
  FROM (SELECT unnest(tk) AS w FROM fl) GROUP BY 1),
tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS T FROM uni),
bi AS (
  SELECT tk[g] AS w1, tk[g + 1] AS w2
  FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS g
        FROM fl WHERE len(tk) >= 2)),
c2all AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
  FROM bi GROUP BY 1, 2),
c2t AS (SELECT * FROM c2all WHERE c2 >= {PMI_MIN_COUNT}),
btot AS (SELECT CAST(SUM(c2) AS BIGINT) AS B FROM c2all)
SELECT c.w1, c.w2, c.c2 AS n,
       ROUND(ln(CAST(c.c2 AS DOUBLE) * CAST(T AS DOUBLE) * CAST(T AS DOUBLE)
                / (CAST(B AS DOUBLE) * CAST(a.c1 AS DOUBLE)
                   * CAST(b.c1 AS DOUBLE))), 6) AS pmi
FROM c2t c
JOIN uni a ON a.w = c.w1
JOIN uni b ON b.w = c.w2
CROSS JOIN tot CROSS JOIN btot
ORDER BY pmi DESC, c.w1, c.w2
LIMIT {PMI_TOP_K}
"""


QUOTA_PER_SOURCE = 10


def mx_domain_quota(spark, sf_dir):
    """Per-source quota curation (operators.sampling.quota_cap): keep
    the 10 best documents per source by (n_chars desc, doc_id asc) —
    the C4-style no-domain-dominates cap; the rank predicate executes
    as WindowGroupLimit so a mega-source ships its cap per upstream
    partition, never its population."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        quota_cap,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return quota_cap(
        d,
        "source",
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        QUOTA_PER_SOURCE,
    )


MX_QUOTA_SQL = f"""
SELECT doc_id, source, n_chars, CAST(rn AS INT) AS rank
FROM (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents)
WHERE rn <= {QUOTA_PER_SOURCE}
"""


HIST_LO, HIST_HI, HIST_BINS = 0.0, 1000.0, 20


def pf_histogram(spark, sf_dir):
    """Fixed-edge equi-width histogram of event values (operators.
    profiling.fixed_histogram): one map-side-combined aggregation at 20
    output rows, no driver coordination (the zero-round-trip sibling of
    the exact-percentile kernel); out-of-range mass clamps to the edge
    bins so every non-null row is counted."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        fixed_histogram,
    )

    e = T(spark, sf_dir, "events")
    return fixed_histogram(e, "value", HIST_LO, HIST_HI, HIST_BINS)


_HIST_W = (HIST_HI - HIST_LO) / HIST_BINS

PF_HISTOGRAM_SQL = f"""
WITH b AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((CAST(value AS DOUBLE) - {HIST_LO})
                                   / {_HIST_W}) AS INT), 0),
               {HIST_BINS - 1}) AS bin
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE)))
SELECT bin,
       -- CAST: DuckDB types bare numeric literals DECIMAL
       ROUND(CAST({HIST_LO} + bin * {_HIST_W} AS DOUBLE), 6) AS bin_lo,
       ROUND(CAST({HIST_LO} + (bin + 1) * {_HIST_W} AS DOUBLE), 6)
         AS bin_hi,
       CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY 1 ORDER BY 1
"""


RFM_R_DAYS = (7, 30, 90)
RFM_F_COUNTS = (3, 10, 30)
RFM_M_VALUES = (100.0, 1000.0, 10000.0)


def ev_rfm(spark, sf_dir):
    """Recency/Frequency/Monetary segmentation per user (operators.
    funnel.rfm_segments): recency anchors on the corpus max timestamp
    (one-row broadcast — replayable, no wall clock), one user
    aggregation with the decimal money discipline, caller-fixed
    ascending band cutoffs."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        rfm_segments,
    )

    e = T(spark, sf_dir, "events")
    return rfm_segments(
        e,
        user_col="user_id",
        ts_col="ts",
        value_col="value",
        r_days=RFM_R_DAYS,
        f_counts=RFM_F_COUNTS,
        m_values=RFM_M_VALUES,
    )


EV_RFM_SQL = f"""
WITH anchor AS (SELECT MAX(ts) AS a FROM events),
pu AS (
  SELECT user_id, MAX(ts) AS last_ts,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
           AS monetary
  FROM events GROUP BY 1),
r AS (
  SELECT user_id, frequency, monetary,
         CAST(FLOOR(CAST(epoch_us(a) - epoch_us(last_ts) AS DOUBLE)
                    / 86400000000.0) AS INT) AS recency_days
  FROM pu CROSS JOIN anchor)
SELECT user_id, recency_days, frequency, monetary,
       1 + CAST(recency_days <= {RFM_R_DAYS[2]} AS INT)
         + CAST(recency_days <= {RFM_R_DAYS[1]} AS INT)
         + CAST(recency_days <= {RFM_R_DAYS[0]} AS INT) AS r_band,
       1 + CAST(frequency >= {RFM_F_COUNTS[0]} AS INT)
         + CAST(frequency >= {RFM_F_COUNTS[1]} AS INT)
         + CAST(frequency >= {RFM_F_COUNTS[2]} AS INT) AS f_band,
       1 + CAST(monetary >= {RFM_M_VALUES[0]} AS INT)
         + CAST(monetary >= {RFM_M_VALUES[1]} AS INT)
         + CAST(monetary >= {RFM_M_VALUES[2]} AS INT) AS m_band
FROM r
"""


SLIDING_DAYS = 7


def ev_sliding_distinct(spark, sf_dir):
    """Trailing-7-day distinct active users per day (operators.sketch.
    sliding_distinct): per-day HLL register tables merged across the
    window by bucket-wise MAX over a dense day×512 grid — register-scale
    state forever, one scan, versus a naive per-window count_distinct
    that re-reads every row window_days times."""
    from calp_cva_tracking_pipeline_spark.operators.sketch import (
        sliding_distinct,
    )

    e = T(spark, sf_dir, "events")
    return sliding_distinct(
        e, ts_col="ts", key_col="user_id", window_days=SLIDING_DAYS
    )


def _ev_sliding_distinct_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.sketch import (
        HLL_M,
        _HLL_NUM,
        _HLL_RHO_MAX,
    )

    w = _HLL_RHO_MAX
    h60 = (
        "CAST(CAST(('0x' || substring(md5(val), 1, 15)) AS UBIGINT) "
        "AS BIGINT)"
    )
    return f"""
WITH src AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(user_id AS VARCHAR) AS val
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
hashed AS (SELECT d, {h60} AS h FROM src),
regs AS (
  SELECT d, h % {HLL_M} AS bucket,
         MAX(CASE WHEN h // {HLL_M} = 0 THEN {w}
             ELSE {w} - length(bin(h // {HLL_M})) END) AS m
  FROM hashed GROUP BY 1, 2),
bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM regs),
days AS (SELECT unnest(generate_series(lo, hi)) AS d FROM bounds),
buckets AS (
  SELECT CAST(unnest(generate_series(0, {HLL_M - 1})) AS BIGINT)
    AS bucket),
merged AS (
  SELECT dy.d, b.bucket, MAX(r.m) AS mm
  FROM days dy CROSS JOIN buckets b
  LEFT JOIN regs r ON r.bucket = b.bucket
                  AND r.d BETWEEN dy.d - {SLIDING_DAYS - 1} AND dy.d
  GROUP BY 1, 2),
folded AS (
  SELECT d,
         CAST(SUM(CAST(pow(2, {w} - COALESCE(mm, 0)) AS BIGINT))
              AS BIGINT) AS total,
         CAST(SUM(CASE WHEN mm IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS zeros
  FROM merged GROUP BY 1)
SELECT DATE '1970-01-01' + CAST(d AS INT) AS day,
       ROUND(CASE WHEN {_HLL_NUM!r} / total <= 2.5 * {HLL_M}
                       AND zeros > 0
                  THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / zeros)
                  ELSE {_HLL_NUM!r} / total END, 6) AS approx_distinct
FROM folded
ORDER BY day
"""


EV_SLIDING_DISTINCT_SQL = _ev_sliding_distinct_sql()


KMEANS_K = 8
KMEANS_ITERS = 2


def emb_kmeans(spark, sf_dir):
    """Two Lloyd iterations of distributed k-means over the embedding
    corpus (operators.similarity.train_centroids iters=2), long format
    (centroid_id, dim, mean): each refinement's per-dimension means
    accumulate as DECIMAL and round to 6dp before becoming the next
    centroid coordinate, so the WHOLE iteration chain is bit-exact and
    the oracle unrolls it as two assignment+mean CTE rounds — the
    PageRank/EWMA reproducibility discipline applied to the canonical
    float-iterative ML algorithm."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        train_centroids,
    )

    e = T(spark, sf_dir, "embeddings")
    cent = train_centroids(
        e, "vec_id", "embedding", KMEANS_K, iters=KMEANS_ITERS
    )
    return cent.select(
        "centroid_id",
        F.posexplode(F.col("__cent")).alias("dim", "mean_v"),
    ).select(
        "centroid_id", "dim", F.round(F.col("mean_v"), 6).alias("mean_v")
    )


def _emb_kmeans_sql() -> str:
    def assign(cent: str, out: str) -> str:
        return f"""
{out} AS (
  SELECT vec_id, cid AS cell, v FROM (
    SELECT x.vec_id, {cent}.cid, x.v,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
             ORDER BY {_D2.format(a='x.v', b=f'{cent}.cv')}, {cent}.cid
           ) AS rn
    FROM c x CROSS JOIN {cent}) t
  WHERE rn = 1)"""

    def refine(prev_cent: str, assign_t: str, mean_t: str, out: str) -> str:
        return f"""
{mean_t} AS (
  SELECT cell, d,
         ROUND(CAST(SUM(CAST(v[d] AS DECIMAL(27,9))) AS DOUBLE)
               / COUNT(*), 6) AS mean
  FROM (SELECT cell, v, unnest(generate_series(1, len(v))) AS d
        FROM {assign_t})
  GROUP BY 1, 2),
{out} AS (
  SELECT p.cid, COALESCE(n.nv, p.cv) AS cv
  FROM {prev_cent} p LEFT JOIN
    (SELECT cell, list(mean ORDER BY d) AS nv FROM {mean_t} GROUP BY 1) n
    ON n.cell = p.cid)"""

    return f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent0 AS (
  SELECT CAST(vec_id AS BIGINT) AS cid, v AS cv
  FROM c ORDER BY vec_id LIMIT {KMEANS_K}),
{assign('cent0', 'a1')},
{refine('cent0', 'a1', 'm1', 'cent1')},
{assign('cent1', 'a2')},
{refine('cent1', 'a2', 'm2', 'cent2')}
SELECT cid AS centroid_id, CAST(i - 1 AS INT) AS dim,
       ROUND(cv[i], 6) AS mean_v
FROM (SELECT cid, cv, unnest(generate_series(1, len(cv))) AS i FROM cent2)
"""


EMB_KMEANS_SQL = _emb_kmeans_sql()


# --- thirteenth wave: semi-structured (JSON) column operators ---


def ev_json_stats(spark, sf_dir):
    """Per-type profile of the promoted props.k JSON field (operators.
    semistruct.json_field_stats): get_json_object + try_cast at scan
    speed (ANSI-safe — garbage rows become NULLs and surface in the
    n − n_parsed gap, never an error), one map-side-combined
    aggregation, decimal-exact mean."""
    from calp_cva_tracking_pipeline_spark.operators.semistruct import (
        json_field_stats,
    )

    e = T(spark, sf_dir, "events")
    return json_field_stats(
        e, "props", "$.k", ["event_type"], "double"
    ).orderBy("event_type")


EV_JSON_STATS_SQL = f"""
WITH v AS (
  SELECT event_type,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)
         END AS v
  FROM events)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(v) AS BIGINT) AS n_parsed,
       MIN(v) AS min_v, MAX(v) AS max_v,
       {SQL_MONEY_AVG('v')} AS mean_v
FROM v GROUP BY 1 ORDER BY 1
"""


def ev_json_schema(spark, sf_dir):
    """Top-level key inventory of the props JSON column (operators.
    semistruct.json_key_inventory): the schema-inference pass that runs
    before any field promotion — (key, n, coverage) off one explode +
    key-cardinality aggregation and a one-row broadcast total."""
    from calp_cva_tracking_pipeline_spark.operators.semistruct import (
        json_key_inventory,
    )

    e = T(spark, sf_dir, "events")
    return json_key_inventory(e, "props")


EV_JSON_SCHEMA_SQL = """
WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM events),
k AS (
  SELECT unnest(json_keys(props)) AS key
  FROM events WHERE props IS NOT NULL AND json_valid(props))
SELECT key, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(COUNT(*) AS DOUBLE) / tot, 6) AS coverage
FROM k CROSS JOIN t
GROUP BY key, tot ORDER BY key
"""


# --- CDC / incremental maintenance (operators/cdc.py) -----------------------

def cdc_scd2(spark, sf_dir):
    """SCD2 dimension build from the orders changelog (operators.cdc.
    scd2_history): per customer, consecutive orders with the same
    (status, priority) collapse into one effective-dated version row,
    ``[effective_from, effective_to)`` half-open with a null end for the
    current version. Window-only — the changelog shuffles ONCE on the
    entity key; change rows are lag-detected and filtered in place, so
    the lead/row_number pass reuses the same distribution (single
    hashpartitioning exchange, pinned in tests/test_plan_shapes.py)."""
    from calp_cva_tracking_pipeline_spark.operators.cdc import scd2_history

    return scd2_history(
        T(spark, sf_dir, "orders"),
        keys=["o_custkey"],
        ts_col="o_orderdate",
        attr_cols=["o_orderstatus", "o_orderpriority"],
        tiebreak_cols=["o_orderkey"],
    )


CDC_SCD2_SQL = """
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, o_orderpriority, o_orderdate, o_orderkey,
         (ROW_NUMBER() OVER w = 1
          OR o_orderstatus IS DISTINCT FROM LAG(o_orderstatus) OVER w
          OR o_orderpriority IS DISTINCT FROM LAG(o_orderpriority) OVER w
         ) AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
ver AS (
  SELECT o_custkey, o_orderstatus, o_orderpriority,
         o_orderdate AS effective_from,
         LEAD(o_orderdate) OVER w2 AS effective_to,
         CAST(ROW_NUMBER() OVER w2 AS INTEGER) AS version
  FROM ordered WHERE chg
  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
SELECT *, (effective_to IS NULL) AS is_current FROM ver
"""


CDC_SPLIT = 2  # even orderkeys are the changeset, odd ones the base


def cdc_upsert(spark, sf_dir):
    """Latest-wins MERGE of a changeset into a snapshot (operators.cdc.
    apply_changeset — the batch/foreachBatch body of a CDC sink). Base =
    each customer's latest odd-orderkey order; changeset = the even-
    orderkey orders, where a change row with status 'F' acts as a
    DELETE. Union + one keyed window, never a base×changes join — a
    100 TB base with a 1 GB changeset shuffles each side once."""
    from calp_cva_tracking_pipeline_spark.operators.aggregate import (
        latest_row_per_group,
    )
    from calp_cva_tracking_pipeline_spark.operators.cdc import (
        apply_changeset,
    )

    o = T(spark, sf_dir, "orders")
    base = latest_row_per_group(
        o.filter(F.col("o_orderkey") % CDC_SPLIT == 1),
        ["o_custkey"], "o_orderdate", ["o_orderkey"],
    )
    changes = o.filter(F.col("o_orderkey") % CDC_SPLIT == 0).withColumn(
        "is_deleted", F.col("o_orderstatus") == F.lit("F")
    )
    return apply_changeset(
        base, changes,
        keys=["o_custkey"],
        ts_col="o_orderdate",
        tiebreak_cols=["o_orderkey"],
        delete_col="is_deleted",
    )


_CDC_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority"
)

CDC_UPSERT_SQL = f"""
WITH base AS (
  SELECT {_CDC_COLS} FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey) AS rn
    FROM orders WHERE o_orderkey % {CDC_SPLIT} = 1) t
  WHERE rn = 1),
merged AS (
  SELECT {_CDC_COLS}, del,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate DESC, o_orderkey DESC, src DESC) AS rn
  FROM (
    SELECT {_CDC_COLS}, FALSE AS del, 0 AS src FROM base
    UNION ALL
    SELECT {_CDC_COLS}, (o_orderstatus = 'F') AS del, 1 AS src
    FROM orders WHERE o_orderkey % {CDC_SPLIT} = 0) u)
SELECT {_CDC_COLS} FROM merged WHERE rn = 1 AND NOT del
"""


# --- Z-order layout (operators/layout.py) -----------------------------------

ZORDER_BUCKETS = 64  # 8×8 grid over the two normalized key dimensions


def lx_zorder(spark, sf_dir):
    """Z-order layout analysis of lineitem on (l_partkey, l_suppkey)
    (operators.layout.zorder_layout): Morton-interleave the range-
    normalized keys, grid-cell by the top z bits, report each cell's row
    count and per-dimension key envelope — exactly the parquet footer
    min/max a scan would prune on under this layout. With 64 cells each
    envelope spans ~1/8 of BOTH key ranges (vs all of one range under a
    single-column sort); the write path is operators.layout.
    write_zordered, footer-stat effect measured in tests/test_layout.py
    and SCALE.md. Bit arithmetic is pure Catalyst (no UDF) and the
    oracle recomputes z bit-for-bit."""
    from calp_cva_tracking_pipeline_spark.operators.layout import (
        zorder_layout,
    )

    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        zorder_layout(li, "l_partkey", "l_suppkey", ZORDER_BUCKETS)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_partkey").alias("part_lo"),
            F.max("l_partkey").alias("part_hi"),
            F.min("l_suppkey").alias("supp_lo"),
            F.max("l_suppkey").alias("supp_hi"),
        )
    )


def _lx_zorder_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.layout import zvalue_sql

    shift = 32 - int(math.log2(ZORDER_BUCKETS))
    pa = ("CASE WHEN pmax > pmin THEN "
          "((CAST(l_partkey AS BIGINT) - pmin) * 65535) // (pmax - pmin) "
          "ELSE CAST(0 AS BIGINT) END")
    sb = ("CASE WHEN smax > smin THEN "
          "((CAST(l_suppkey AS BIGINT) - smin) * 65535) // (smax - smin) "
          "ELSE CAST(0 AS BIGINT) END")
    return f"""
WITH b AS (
  SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
         MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
  FROM lineitem),
z AS (
  SELECT l_partkey, l_suppkey,
         {zvalue_sql(f'({pa})', f'({sb})')} AS zv
  FROM lineitem CROSS JOIN b)
SELECT (zv >> {shift}) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(l_partkey) AS part_lo, MAX(l_partkey) AS part_hi,
       MIN(l_suppkey) AS supp_lo, MAX(l_suppkey) AS supp_hi
FROM z GROUP BY 1
"""


LX_ZORDER_SQL = _lx_zorder_sql()


# --- Event behavioral analytics (operators/funnel.py) -----------------------

FUNNEL_STEPS = ["view", "click", "purchase"]


def ev_funnel(spark, sf_dir):
    """Ordered funnel conversion over events (operators.funnel.
    funnel_steps): per user, the earliest view, the earliest click
    STRICTLY AFTER that view, the earliest purchase strictly after that
    click, and the completed-step count. One user-keyed exchange; each
    step is an unordered-frame window over the SAME distribution (no
    sorts at all) and the per-user collapse rides it exchange-free —
    pinned in tests/test_plan_shapes.py."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        funnel_steps,
    )

    return funnel_steps(
        T(spark, sf_dir, "events"), "user_id", "ts", "event_type",
        FUNNEL_STEPS,
    )


EV_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, ts, event_type,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t_view
  FROM events),
s2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
              OVER (PARTITION BY user_id) AS t_click
  FROM s1),
s3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts
                END) OVER (PARTITION BY user_id) AS t_purchase
  FROM s2)
SELECT user_id, MIN(t_view) AS t_view, MIN(t_click) AS t_click,
       MIN(t_purchase) AS t_purchase,
       (CAST(MIN(t_view) IS NOT NULL AS INTEGER)
        + CAST(MIN(t_click) IS NOT NULL AS INTEGER)
        + CAST(MIN(t_purchase) IS NOT NULL AS INTEGER)) AS steps_completed
FROM s3 GROUP BY user_id
"""


def ev_transitions(spark, sf_dir):
    """First-order Markov transition matrix of the event stream
    (operators.funnel.transition_matrix): per-user adjacent event-type
    pairs, counted and row-normalized. One user-keyed exchange; the
    normalization runs at type-pair cardinality (≤ 25 rows here)."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        transition_matrix,
    )

    return transition_matrix(
        T(spark, sf_dir, "events"), "user_id", "ts", "event_type",
        tiebreak_cols=["event_id"],
    )


EV_TRANSITIONS_SQL = """
WITH pairs AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events),
counted AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, n_transitions,
       ROUND(n_transitions / CAST(SUM(n_transitions)
             OVER (PARTITION BY from_type) AS DOUBLE), 6) AS prob
FROM counted
"""


RETENTION_WEEK_SECONDS = 7 * 24 * 3600


def ev_retention(spark, sf_dir):
    """Cohort retention matrix over events (operators.funnel.
    cohort_retention): cohort = day of the user's first event, week
    offset = cohort-RELATIVE integer weeks since that first event (exact
    epoch math — no calendar-truncation artifacts), distinct users per
    (cohort_day, week_offset) cell. One user-keyed window exchange plus
    the output-sized count-distinct aggregation."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        cohort_retention,
    )

    return cohort_retention(
        T(spark, sf_dir, "events"), "user_id", "ts",
        week_seconds=RETENTION_WEEK_SECONDS,
    )


EV_RETENTION_SQL = f"""
WITH f AS (
  SELECT user_id, ts,
         MIN(ts) OVER (PARTITION BY user_id) AS first_ts
  FROM events)
SELECT CAST(first_ts AS DATE) AS cohort_day,
       ((CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(first_ts)) AS BIGINT))
        // {RETENTION_WEEK_SECONDS}) AS week_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM f GROUP BY 1, 2
"""


def rt_cube(spark, sf_dir):
    """One-pass cross-dimensional subtotals via CUBE on lineitem
    (returnflag × linestatus), decimal-exact money sums, grouping_id
    disambiguating subtotal rows from genuine-null groups. Physical
    cost: Spark plans CUBE as Expand ×2^d BEFORE the partial aggregate —
    row amplification the rt_rollup_hierarchy cascade avoids for
    hierarchical grains. CUBE is the right tool ONLY for low-cardinality
    cross-dimensional subtotals in one pass (here 4 grouping sets over
    ≤ 6 base groups); at 100 TB prefer the cascade for anything
    hierarchy-shaped. The tradeoff is the point of this entry."""
    from calp_cva_tracking_pipeline_spark.functions.numeric import money_sum

    li = T(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            money_sum("l_quantity").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_price"),
            F.count("*").alias("n_rows"),
        )
        .select(
            "l_returnflag", "l_linestatus", "gid",
            "sum_qty", "sum_price", "n_rows",
        )
    )


RT_CUBE_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       {SQL_MONEY_SUM('l_quantity')} AS sum_qty,
       {SQL_MONEY_SUM('l_extendedprice')} AS sum_price,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
"""


# --- Graph: fixed-iteration PageRank (operators/graph.py) -------------------

PR_PART_OFFSET = 1_000_000  # part node ids live above supplier ids
PR_ITERS = 3


def _supplier_part_digraph(spark, sf_dir):
    """The directed supplier↔part graph the link-analysis queries share,
    derived from lineitem: supplier→part edges from even orderkeys,
    part→supplier from odd — cycles plus genuine dangling nodes, and
    (supplier, part) pairs repeat across orders, so the raw edge list
    is a multigraph. Columns (src, dst); part ids are shifted by
    PR_PART_OFFSET above the supplier ids."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    fwd = li.filter(F.col("l_orderkey") % 2 == 0).select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + PR_PART_OFFSET).alias("dst"),
    )
    bwd = li.filter(F.col("l_orderkey") % 2 == 1).select(
        (F.col("l_partkey") + PR_PART_OFFSET).alias("src"),
        F.col("l_suppkey").alias("dst"),
    )
    return fwd.unionByName(bwd)


def gr_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank (operators.graph.pagerank) over the
    supplier↔part graph derived from lineitem: supplier→part edges from
    even orderkeys, part→supplier from odd — cycles plus genuine
    dangling nodes. Integer nano-unit arithmetic makes the iterative
    result bit-identical across partitionings AND reproducible by the
    unrolled SQL recurrence (operators.graph.pagerank_sql): 2 exchanges
    per iteration (src-keyed join + dst-keyed aggregate), dangling mass
    riding the sentinel accumulator row — the rank vector is referenced
    once per round, so the plan is linear in n_iter with zero cuts."""
    from calp_cva_tracking_pipeline_spark.operators.graph import pagerank

    return pagerank(
        _supplier_part_digraph(spark, sf_dir), n_iter=PR_ITERS
    )


def _gr_pagerank_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        pagerank_sql,
    )

    edges = (
        f"SELECT l_suppkey AS src, l_partkey + {PR_PART_OFFSET} AS dst "
        f"FROM lineitem WHERE l_orderkey % 2 = 0 "
        f"UNION ALL "
        f"SELECT l_partkey + {PR_PART_OFFSET} AS src, l_suppkey AS dst "
        f"FROM lineitem WHERE l_orderkey % 2 = 1"
    )
    return pagerank_sql(edges, n_iter=PR_ITERS)


GR_PAGERANK_SQL = _gr_pagerank_sql()


# --- HLL approximate distinct (operators/sketch.py) -------------------------

HLL_COLS = ["l_partkey", "l_suppkey", "l_orderkey", "l_returnflag"]


def pf_approx_distinct(spark, sf_dir):
    """Deterministic-HLL distinct estimates next to the exact counts —
    the self-audit view of operators.sketch.hll_sketch/hll_estimate
    (Flajolet et al. 2007 over the md5 stable hash, 512 registers,
    ~4.6% rsd). One unpivot scan feeds the register table; a second
    feeds the exact counts (audit-only — production uses the sketch
    precisely to NOT pay the exact count-distinct exchange; the
    register table is ≤512 rows/col, mergeable by bucket-wise MAX).
    l_returnflag (3 distinct) exercises the linear-counting small-range
    branch; the key columns exercise the raw-estimate branch."""
    from calp_cva_tracking_pipeline_spark.operators.sketch import (
        hll_estimate,
        hll_sketch,
    )

    li = T(spark, sf_dir, "lineitem")
    est = hll_estimate(hll_sketch(li, HLL_COLS))
    long = li.select(
        *[F.col(c).cast("string").alias(c) for c in HLL_COLS]
    ).unpivot([], HLL_COLS, "col_name", "val")
    exact = long.filter(F.col("val").isNotNull()).groupBy("col_name").agg(
        F.countDistinct("val").alias("exact_distinct")
    )
    return est.join(exact, "col_name").select(
        "col_name",
        "exact_distinct",
        "approx_distinct",
        F.round(
            100
            * F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err_pct"),
    )


def _pf_approx_distinct_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.sketch import hll_sql

    unions = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS val "
        f"FROM lineitem WHERE {c} IS NOT NULL"
        for c in HLL_COLS
    )
    return f"""
WITH est AS ({hll_sql('lineitem', HLL_COLS)}),
exact AS (
  SELECT col_name, CAST(COUNT(DISTINCT val) AS BIGINT) AS exact_distinct
  FROM ({unions}) long GROUP BY 1)
SELECT est.col_name, exact_distinct, approx_distinct,
       ROUND(100 * abs(approx_distinct - exact_distinct)
             / exact_distinct, 6) AS rel_err_pct
FROM est JOIN exact ON est.col_name = exact.col_name
"""


PF_APPROX_DISTINCT_SQL = _pf_approx_distinct_sql()


def _co_edges(spark, sf_dir):
    """Part co-occurrence edge list — one (src < dst) row per
    (order, unordered part pair), the shared input of the whole graph
    tier. r15 (guide §2.4 "remove shuffles outright"): built as ONE
    groupBy(l_orderkey) with map-side-partial collect_set plus the
    in-array pair expansion ``dedup._pairs`` (per-order fan-out bounded
    by lines-per-order) instead of
    distinct + self-join — the old shape exchanged the distinct
    (orderkey, partkey) frame once for the dedup and twice more for
    the join, planning the projection subtree twice. Interleaved A/B
    through triangle_stats at sf0.1: 3.62s -> 3.04s median; census
    bit-identical at sf0.01 and sf0.1 (the per-order pair multiset is
    unchanged, so multiplicity consumers like gr_communities see the
    same edges too). An order repeats a part (57 / 55 / 65 repeated
    (order, part) rows at sf0.001 / 0.01 / 0.1), which is why this site
    keeps its ``collect_set`` instead of calling ``bucket_pairs``."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("__ps"))
        .select(F.explode(_pairs("__ps", "l_partkey")).alias("p"))
        .select(
            F.col("p.l_partkey_a").alias("src"),
            F.col("p.l_partkey_b").alias("dst"),
        )
    )


def gr_triangles(spark, sf_dir):
    """Exact triangle census (operators.graph.triangle_stats) of the
    part co-occurrence graph — parts are adjacent when some order
    contains both (per-order fan-out is bounded by lines-per-order, so
    the pair expansion is safe). Degree-ORIENTED wedge counting bounds
    every join key's fan-out by O(√E) regardless of hub degree — the
    skew-proof formulation; orientation is a deterministic total order
    so the DuckDB oracle reproduces the census exactly."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        triangle_stats,
    )

    edges = _co_edges(spark, sf_dir)
    return triangle_stats(edges)


def _gr_triangles_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        triangle_stats_sql,
    )

    edges = (
        "SELECT a.l_partkey AS src, b.l_partkey AS dst "
        "FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a "
        "JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
    )
    return triangle_stats_sql(edges)


GR_TRIANGLES_SQL = _gr_triangles_sql()


TFIDF_K = 3


def tx_keywords(spark, sf_dir):
    """Per-document top-3 smoothed-TF-IDF keywords (operators.textops.
    tfidf_keywords) — unsupervised document tagging. Same tokenizer as
    tx_vocab; the tf×idf join shuffles on token (vocabulary rows, never
    text; deliberately not a broadcast — web-scale vocabs are GBs),
    corpus size enters as a broadcast singleton, per-doc cut is a
    window over (doc, token) rows."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        tfidf_keywords,
    )

    return tfidf_keywords(
        T(spark, sf_dir, "documents"), "doc_id", k=TFIDF_K
    )


TX_KEYWORDS_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE token <> '' GROUP BY 1, 2),
dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS dft FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS nd FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         ROUND(tf.tf * (ln((nd + 1) / CAST(dft + 1 AS DOUBLE)) + 1), 6)
           AS score
  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY score DESC, token) AS rn
  FROM scored)
SELECT doc_id, token, tf, score, CAST(rn AS INTEGER) AS rank
FROM ranked WHERE rn <= {TFIDF_K}
"""


WS_K = 200
WS_SEED = 7


def mx_weighted_sample(spark, sf_dir):
    """Efraimidis–Spirakis weighted sample without replacement
    (operators.sampling.weighted_sample): 200 documents drawn with
    probability proportional to quality score (+0.05 floor so no doc is
    excluded outright). One scan + TakeOrderedAndProject — no global
    sort; the portable-hash draw makes the sample deterministic and
    bit-reproducible by the oracle."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        weighted_sample,
    )
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        quality_score,
    )

    d = T(spark, sf_dir, "documents").select(
        "doc_id", (quality_score(F.col("text")) + F.lit(0.05)).alias("w")
    )
    return weighted_sample(d, "doc_id", "w", k=WS_K, seed=WS_SEED)


MX_WEIGHTED_SAMPLE_SQL = f"""
WITH weighted AS (
  SELECT doc_id,
         ROUND({_CURR_QUALITY} + 0.05, 9) AS weight,
         ROUND(ln(({_sql_hash60(f"CAST(doc_id AS VARCHAR) || '#{WS_SEED}'")}
                   + 1) / CAST({1 << 60} AS DOUBLE))
               / ({_CURR_QUALITY} + 0.05), 9) AS draw_key
  FROM documents)
SELECT doc_id, weight, draw_key FROM weighted
ORDER BY draw_key DESC, doc_id LIMIT {WS_K}
"""


TRI_SAMPLE_DENOM = 4  # DOULION keep-probability 1/4 → wedge work /16


def gr_triangles_est(spark, sf_dir):
    """DOULION sampled triangle estimate (operators.graph.
    triangle_estimate, Tsourakakis et al. KDD'09) over the same part
    co-occurrence graph as gr_triangles: each edge survives a PORTABLE
    md5 coin with p=1/4, the exact degree-oriented census runs on the
    sample, and sample_triangles·4³ is the unbiased estimate — wedge
    work drops ×16 while the measured error vs the exact census is
    0.4-1.5% at sf0.01-0.1. Deterministic coin ⇒ bit-reproducible by
    the SQL twin; the fast path when gr_triangles' wedge volume is
    prohibitive."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        triangle_estimate,
    )

    edges = _co_edges(spark, sf_dir)
    return triangle_estimate(edges, sample_denom=TRI_SAMPLE_DENOM)


def _gr_triangles_est_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        triangle_estimate_sql,
    )

    edges = (
        "SELECT a.l_partkey AS src, b.l_partkey AS dst "
        "FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a "
        "JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
    )
    return triangle_estimate_sql(edges, sample_denom=TRI_SAMPLE_DENOM)


GR_TRIANGLES_EST_SQL = _gr_triangles_est_sql()


# --- seventh wave: windowed time analytics, robust stats, sketches, linkage ---


def tj_rolling_window(spark, sf_dir):
    """Trailing 7-day RANGE-frame aggregates per user over the events
    stream (operators.temporal.rolling_time_window): every event row
    annotated with its user's event count and decimal-exact value sum
    over [ts − 7d, ts]. Tie-safe by the RANGE frame itself; one keyed
    exchange + per-key sort, sliding-frame state only."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        rolling_time_window,
    )

    e = T(spark, sf_dir, "events")
    out = rolling_time_window(
        e,
        keys=["user_id"],
        ts_col="ts",
        aggs={
            "n_7d": F.count(F.lit(1)),
            "__sum_dec": F.sum(F.col("value").cast("decimal(18,2)")),
        },
        window_spec="7 days",
    )
    return out.select(
        "user_id",
        "event_id",
        "n_7d",
        F.col("__sum_dec").cast("double").alias("sum_7d"),
    )


TJ_ROLLING_SQL = """
SELECT user_id, event_id,
       COUNT(*) OVER w AS n_7d,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_7d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
"""


def rt_ohlc(spark, sf_dir):
    """Hourly open/high/low/close candles of event value per event type
    (operators.rollup.ohlc_downsample): single hash aggregation, open/
    close resolved by struct min/max with the event id as total
    tie-break — values copied, never recomputed, so parity is exact."""
    from calp_cva_tracking_pipeline_spark.operators.rollup import (
        ohlc_downsample,
    )

    e = T(spark, sf_dir, "events")
    out = ohlc_downsample(
        e,
        keys=("event_type",),
        ts_col="ts",
        value_col="value",
        tiebreak_col="event_id",
        grain="1 hour",
    )
    return out.select(
        "event_type",
        F.date_format("bucket_start", "yyyy-MM-dd HH:00").alias("bucket"),
        "open_v",
        "high_v",
        "low_v",
        "close_v",
        "n_rows",
    )


RT_OHLC_SQL = """
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS bucket,
       -- FILTER mirrors the operator's NULL policy: open/close come from
       -- the earliest/latest NON-NULL-value row, same as high/low
       first(value ORDER BY ts, event_id)
         FILTER (WHERE value IS NOT NULL) AS open_v,
       MAX(value) AS high_v,
       MIN(value) AS low_v,
       last(value ORDER BY ts, event_id)
         FILTER (WHERE value IS NOT NULL) AS close_v,
       COUNT(*) AS n_rows
FROM events
GROUP BY 1, 2
"""


def ev_attribution(spark, sf_dir):
    """First- and last-touch attribution of purchases to click/view
    touches within a trailing 7-day window (operators.funnel.
    touch_attribution): zero joins — one user-keyed exchange, both
    attribution ends off one RANGE frame via null-skipping struct
    min/max."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        touch_attribution,
    )

    e = T(spark, sf_dir, "events")
    return touch_attribution(
        e,
        user_col="user_id",
        ts_col="ts",
        type_col="event_type",
        id_col="event_id",
        touch_types=("click", "view"),
        conversion_type="purchase",
        window_spec="7 days",
    )


EV_ATTRIBUTION_SQL = """
WITH attributed AS (
  SELECT user_id, ts, event_type, event_id,
         MIN(CASE WHEN event_type IN ('click', 'view')
             THEN {'ts': ts, 'id': event_id, 't': event_type} END)
           OVER w AS first_t,
         MAX(CASE WHEN event_type IN ('click', 'view')
             THEN {'ts': ts, 'id': event_id, 't': event_type} END)
           OVER w AS last_t
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW))
SELECT event_id AS conversion_id, user_id, ts AS conv_ts,
       first_t.t AS first_touch_type, first_t.ts AS first_touch_ts,
       last_t.t AS last_touch_type, last_t.ts AS last_touch_ts
FROM attributed WHERE event_type = 'purchase'
"""


OUTLIER_Z = 3.5


def pf_outliers(spark, sf_dir):
    """Median/MAD modified-z outlier detection on event values
    (operators.profiling.robust_outliers): both robust statistics via
    the two-phase exact-percentile kernel, embedded as literals so the
    flagging pass is one linear scan."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        robust_outliers,
    )

    e = T(spark, sf_dir, "events")
    return robust_outliers(
        e, value_col="value", id_cols=["event_id"], z_threshold=OUTLIER_Z
    )


PF_OUTLIERS_SQL = f"""
WITH med AS (SELECT ROUND(quantile_cont(value, 0.5), 6) AS m FROM events),
mad AS (SELECT ROUND(quantile_cont(ABS(value - m), 0.5), 6) AS d
        FROM events, med)
SELECT event_id, value,
       ROUND(0.6745 * (value - m) / d, 6) AS robust_z
FROM events, med, mad
WHERE d > 0 AND ABS(ROUND(0.6745 * (value - m) / d, 6)) > {OUTLIER_Z}
"""


def pf_regression(spark, sf_dir):
    """Per-returnflag OLS of extendedprice on quantity (operators.
    profiling.group_ols): closed-form normal-equations fit from six
    decimal-exact sufficient statistics — one map-side-combined hash
    aggregation; slope/intercept/r² derived in a fixed double expression
    order the oracle mirrors literally."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        group_ols,
    )

    li = T(spark, sf_dir, "lineitem")
    return group_ols(
        li,
        group_cols=["l_returnflag"],
        x_col="l_quantity",
        y_col="l_extendedprice",
    )


PF_REGRESSION_SQL = """
WITH sums AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         -- terms are exact decimal(37,12) products of once-rounded 6dp
         -- inputs — an 18,6 × 19,6 pairing in BOTH engines (Spark keeps
         -- p1+p2+1=38 lossless; DuckDB needs one operand >18 to widen its
         -- internal int to 128 bits), mirroring profiling.group_ols
         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,6))
              AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
              AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,6))
                     * CAST(l_extendedprice AS DECIMAL(19,6))
              AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,6))
                     * CAST(l_quantity AS DECIMAL(19,6))
              AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
                     * CAST(l_extendedprice AS DECIMAL(19,6))
              AS DECIMAL(38,6))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY 1),
fit AS (
  SELECT l_returnflag, n,
         CASE WHEN n >= 2 AND CAST(n AS DOUBLE) * sxx - sx * sx > 0
              THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n AS DOUBLE) * sxx - sx * sx) END AS slope,
         CAST(n AS DOUBLE) * sxy - sx * sy AS num,
         CAST(n AS DOUBLE) * sxx - sx * sx AS den_x,
         CAST(n AS DOUBLE) * syy - sy * sy AS den_y,
         sx, sy
  FROM sums)
SELECT l_returnflag, n,
       ROUND(slope, 6) AS slope,
       ROUND((sy - slope * sx) / CAST(n AS DOUBLE), 6) AS intercept,
       ROUND(CASE WHEN n >= 2 AND den_x > 0 AND den_y > 0
                  THEN (num / den_x) * num / den_y END, 6) AS r2
FROM fit
"""


def pf_cms(spark, sf_dir):
    """Count-Min sketch of the corpus token frequency distribution
    (operators.sketch.cms_sketch/cms_estimate): 3×16 counter matrix off
    one map-side-combined aggregation, point-estimates for every
    distinct token joined against exact counts — est ≥ exact always
    (one-sided CMS error), both sides recomputable from the salted md5
    hash family."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import word_tokens
    from calp_cva_tracking_pipeline_spark.operators.sketch import (
        cms_estimate,
        cms_sketch,
    )

    d = T(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(word_tokens(F.col("text"))).alias("token")
    )
    # r16 (guide §2.3/§2.4): aggregate the corpus to (token, exact_n)
    # ONCE — sketch, probe list and exact side previously each replanned
    # the tokenize+explode (3 corpus passes; groupBy frames never fire
    # exchange reuse) and the sketch fanned RAW token rows ×depth
    # through its exchange. Sketching the count table (weight_col) is
    # bit-identical (bucket sums are additive), the fan-out moves to
    # vocab-sized rows, and the lazy cut bounds the whole query to one
    # corpus pass.
    tok_counts = cut(
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    sk = cms_sketch(tok_counts, "token", weight_col="exact_n")
    est = cms_estimate(sk, tok_counts.select("token"), "token")
    return (
        tok_counts.join(est, "token")
        .select(
            "token",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy("token")
    )


def _pf_cms_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.sketch import cms_sql

    toks = f"(SELECT unnest({_TOKS}) AS tok FROM documents) t"
    return cms_sql(toks, "tok")


def mx_group_split(spark, sf_dir):
    """Leakage-safe train/val/test split of the event stream by USER
    (operators.sampling.group_split): assignment is a pure portable-hash
    function of the user id, so no user's events straddle splits —
    verified here by per-split user/event counts (the disjointness
    invariant is pinned in tests/test_sampling_bucketing.py)."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        group_split,
    )

    e = T(spark, sf_dir, "events")
    out = group_split(
        e, "user_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return (
        out.groupBy("split")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("split")
    )


MX_GROUP_SPLIT_SQL = """
WITH assigned AS (
  SELECT user_id,
         CASE WHEN CAST(CAST(('0x' || substring(
                  md5(CAST(user_id AS VARCHAR) || ':42'), 1, 15))
                  AS UBIGINT) AS BIGINT) % 1000000 < 800000 THEN 'train'
              WHEN CAST(CAST(('0x' || substring(
                  md5(CAST(user_id AS VARCHAR) || ':42'), 1, 15))
                  AS UBIGINT) AS BIGINT) % 1000000 < 900000 THEN 'val'
              ELSE 'test' END AS split
  FROM events)
SELECT split, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM assigned GROUP BY 1 ORDER BY 1
"""


JW_THRESHOLD = 0.8
# Every first-char block in the testdata holds exactly 8 distinct names,
# so a cap of 6 FIRES on all of them — the skew guard (hot blocks re-key
# on a 2-char prefix) is exercised and oracle-checked on every driver
# run, not just claimed for adversarial corpora.
JW_MAX_BLOCK = 6


def jx_jaro_join(spark, sf_dir):
    """Blocked Jaro–Winkler similarity self-join over distinct part
    names (operators.joins.jaro_winkler_join): first-character blocking
    with the O(B²) skew guard live (blocks over JW_MAX_BLOCK distinct
    names deterministically re-block on one more prefix char — the
    LSH-max_bucket_docs pattern), Arrow-batched pandas-UDF kernel per
    candidate pair, fuzz-verified bit-compatible with DuckDB's
    jaro_winkler_similarity."""
    from calp_cva_tracking_pipeline_spark.operators.joins import (
        jaro_winkler_join,
    )

    p = T(spark, sf_dir, "part")
    return jaro_winkler_join(
        p,
        p,
        "p_name",
        "p_name",
        threshold=JW_THRESHOLD,
        max_block_names=JW_MAX_BLOCK,
    )


JX_JARO_SQL = f"""
WITH names AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL),
cnt AS (
  SELECT substring(p_name, 1, 1) AS blk, COUNT(*) AS n
  FROM names GROUP BY 1),
keyed AS (
  -- the operator's skew guard, replayed: blocks over the cap re-key on
  -- a 2-char prefix
  SELECT p_name,
         CASE WHEN n > {JW_MAX_BLOCK} THEN substring(p_name, 1, 2)
              ELSE substring(p_name, 1, 1) END AS blk
  FROM names JOIN cnt ON substring(p_name, 1, 1) = cnt.blk)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
FROM keyed a
JOIN keyed b ON a.blk = b.blk AND a.p_name < b.p_name
WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6)
      >= {JW_THRESHOLD}
"""


PF_CMS_SQL = _pf_cms_sql()


# --- eighth wave: recurrences, telemetry anomalies, index build, privacy ---


def ts_ewma(spark, sf_dir):
    """Per-user EWMA (α=1/4) over event values via the bit-exact
    integer-floor recurrence (operators.temporal.ewma_smooth):
    applyInPandas per user with one-integer state; the DuckDB oracle
    replays the identical recurrence as a recursive CTE, so every
    smoothed point is value-checked — the reproducibility contract
    float EWMA cannot give."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        ewma_smooth,
    )

    e = T(spark, sf_dir, "events")
    return ewma_smooth(
        e,
        keys=["user_id"],
        ts_col="ts",
        value_col="value",
        tiebreak_col="event_id",
        alpha_num=1,
        alpha_den=4,
    )


TS_EWMA_SQL = """
WITH RECURSIVE seq AS (
  SELECT user_id, event_id,
         CAST(ROUND(value * 1000000) AS BIGINT) AS x6,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
ew AS (
  SELECT user_id, event_id, rn, x6 AS s FROM seq WHERE rn = 1
  UNION ALL
  -- FLOOR division, spelled out: DuckDB's // truncates toward zero while
  -- the Python kernel's // floors, so a negative, non-divisible numerator
  -- would diverge by one unit. Subtracting the always-non-negative
  -- ((n % 4) + 4) % 4 makes the numerator exactly divisible, after which
  -- // is floor for every sign.
  SELECT q.user_id, q.event_id, q.rn,
         (q.x6 + 3 * e.s - (((q.x6 + 3 * e.s) % 4) + 4) % 4) // 4
  FROM seq q JOIN ew e ON q.user_id = e.user_id AND q.rn = e.rn + 1)
SELECT user_id, event_id, CAST(s AS DOUBLE) / 1000000 AS ewma FROM ew
"""


def ev_anomaly(spark, sf_dir):
    """Trailing 7-day per-user z-score anomaly flags (operators.
    temporal.rolling_anomaly): integer cent-unit window sums make the
    sufficient statistics order-independent; mean/var/z derive in one
    fixed IEEE expression both engines evaluate identically."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        rolling_anomaly,
    )

    e = T(spark, sf_dir, "events")
    return rolling_anomaly(
        e,
        keys=["user_id"],
        ts_col="ts",
        value_col="value",
        id_col="event_id",
        window_spec="7 days",
        z_threshold=3.0,
        min_points=10,
    )


EV_ANOMALY_SQL = """
WITH enc AS (
  SELECT user_id, event_id, ts, value,
         CAST(ROUND(value * 100) AS BIGINT) AS x
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL),
st AS (
  SELECT user_id, event_id, ts, value, x,
         COUNT(*) OVER w AS n,
         CAST(SUM(x) OVER w AS BIGINT) AS s1,
         CAST(SUM(x * x) OVER w AS BIGINT) AS s2
  FROM enc
  WINDOW w AS (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)),
z AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN n >= 10
                   AND (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) > 0
              THEN ROUND(
                (CAST(x AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                / sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))), 6)
              END AS z
  FROM st)
SELECT user_id, event_id, ts, value, z FROM z WHERE ABS(z) > 3
"""


POSTINGS_M = 5


def rt_posting_lists(spark, sf_dir):
    """Inverted-index build over the corpus (operators.retrieval.
    posting_lists): token → document frequency + top-5 posting list by
    (tf desc, doc id) — df and the rank cut ride ONE token-keyed
    exchange; head tokens contribute m rows, never their whole posting
    list, to the collapse."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import word_tokens
    from calp_cva_tracking_pipeline_spark.operators.retrieval import (
        posting_lists,
    )

    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(word_tokens(F.col("text"))).alias("token")
    )
    return posting_lists(toks, "token", "doc_id", top_m=POSTINGS_M).orderBy(
        "token"
    )


RT_POSTING_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
tf AS (SELECT token, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2)
SELECT token, COUNT(*) AS df,
       (list(doc_id ORDER BY tf DESC, doc_id))[1:{POSTINGS_M}] AS postings
FROM tf GROUP BY token ORDER BY token
"""


def emb_quantize(spark, sf_dir):
    """Symmetric per-dimension int8 quantization of the embedding
    corpus (operators.linalg.quantize_int8): max-|x| scales from one
    d-row aggregation embedded as literals, then a pure scan-side
    transform — emitted long-form (vec_id, dim, q) for value-level
    oracle comparison."""
    from calp_cva_tracking_pipeline_spark.operators.linalg import (
        quantize_int8,
    )

    e = T(spark, sf_dir, "embeddings")
    q = quantize_int8(e, "embedding", "vec_id")
    return q.select(
        "vec_id", F.posexplode("qvec").alias("d", "q")
    ).select("vec_id", "d", "q")


EMB_QUANTIZE_SQL = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
idx AS (
  SELECT vec_id, vec, unnest(generate_series(1, len(vec))) AS i FROM v),
scales AS (SELECT i, MAX(ABS(vec[i])) AS s FROM idx GROUP BY i)
SELECT x.vec_id, CAST(x.i - 1 AS INT) AS d,
       CASE WHEN s.s > 0
            THEN CAST(ROUND(127.0 * x.vec[x.i] / s.s) AS INT)
            ELSE 0 END AS q
FROM idx x JOIN scales s ON s.i = x.i
"""


KANON_K = 6


def pf_kanon(spark, sf_dir):
    """k-anonymity audit of the customer table's quasi-identifiers
    (operators.profiling.k_anonymity): every (nation, market segment)
    equivalence class with its population and a risky flag below k=6 —
    the privacy gate next to tx_pii_redact; one map-side-combined
    aggregation at QI-class cardinality."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        k_anonymity,
    )

    c = T(spark, sf_dir, "customer")
    return k_anonymity(
        c, ["c_nationkey", "c_mktsegment"], k=KANON_K
    ).orderBy("c_nationkey", "c_mktsegment")


PF_KANON_SQL = f"""
SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
       COUNT(*) < {KANON_K} AS risky
FROM customer GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- ninth wave: sequence mining, novelty attribution, categorical
# association, cluster survivorship ---


PATHS_MAX_LEN = 8
PATHS_TOP_K = 20


def ev_paths(spark, sf_dir):
    """Top-20 daily behavioral paths (operators.funnel.session_paths):
    first-8 event types per (user, day) in (ts, event_id) order, joined
    with '>', frequency-ranked. The length cap runs as a row_number
    predicate the optimizer executes as WindowGroupLimit, so a runaway
    session contributes 8 rows to the collapse, never its history; the
    collapse rides the window's exchange."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        session_paths,
    )

    e = T(spark, sf_dir, "events")
    return session_paths(
        e,
        user_col="user_id",
        ts_col="ts",
        type_col="event_type",
        id_col="event_id",
        grain="DAY",
        max_len=PATHS_MAX_LEN,
        top_k=PATHS_TOP_K,
    )


EV_PATHS_SQL = f"""
WITH ranked AS (
  SELECT user_id, date_trunc('day', ts) AS sess, event_type,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts, event_id) AS rn
  FROM events),
paths AS (
  SELECT user_id, sess,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= {PATHS_MAX_LEN} GROUP BY 1, 2)
SELECT path, COUNT(*) AS n_sessions
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path
LIMIT {PATHS_TOP_K}
"""


def tx_novelty(spark, sf_dir):
    """Per-document first-occurrence 3-gram novelty (operators.textops.
    ngram_novelty): the fraction of a doc's distinct shingles whose
    corpus-min doc_id is this doc — the freshness signal between exact
    and near dedup. Shingle-keyed MIN with map-side combine + one
    deliberately-non-broadcast shingle join (TF-IDF's reasoning)."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        ngram_novelty,
    )

    d = T(spark, sf_dir, "documents")
    return ngram_novelty(d, "doc_id", "text", k=3)


TX_NOVELTY_SQL = f"""
WITH pairs AS (
  SELECT doc_id, unnest({_SHINGLES}) AS s FROM documents),
firsts AS (SELECT s, MIN(doc_id) AS first_doc FROM pairs GROUP BY 1)
SELECT p.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       ROUND(CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS novel_frac
FROM pairs p JOIN firsts f ON p.s = f.s
GROUP BY 1
"""


def pf_chi2(spark, sf_dir):
    """Chi-square independence audit of event mix vs weekday
    (operators.profiling.chi2_independence): one contingency
    aggregation, margins broadcast back over cells, per-cell statistic
    in the expanded integer form (obs·N − rt·ct)²/(N·rt·ct), summed as
    micro-units. Spark dayofweek is 1-based Sunday; minus 1 equals
    DuckDB's dayofweek."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        chi2_independence,
    )

    e = T(spark, sf_dir, "events").select(
        "event_type", (F.dayofweek("ts") - 1).alias("dow")
    )
    return chi2_independence(e, "event_type", "dow")


PF_CHI2_SQL = """
WITH src AS (
  SELECT event_type AS a, CAST(dayofweek(ts) AS INT) AS b FROM events),
cells AS (SELECT a, b, COUNT(*) AS o FROM src GROUP BY 1, 2),
ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
               COUNT(DISTINCT {'v': a}) AS ka,
               COUNT(DISTINCT {'v': b}) AS kb
        FROM cells),
contrib AS (
  SELECT CAST(ROUND(ROUND(
           CAST(o * n - rt * ct AS DOUBLE)
             * CAST(o * n - rt * ct AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE)
                * CAST(ct AS DOUBLE)), 6) * 1e6, 0) AS BIGINT) AS c,
         n, (ka - 1) * (kb - 1) AS dof
  FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot)
SELECT n, dof, ROUND(CAST(SUM(c) AS BIGINT) / 1e6, 6) AS chi2
FROM contrib GROUP BY 1, 2
"""


def dd_cluster_pick(spark, sf_dir):
    """Canonical-survivor selection over near-dup clusters (operators.
    dedup.cluster_representatives over connected_components of the
    passage-overlap pair graph): every clustered doc labeled with its
    cluster's best member by (n_chars desc, doc_id asc) — the decision
    step that turns component labels into keep/drop verdicts. The
    component table is candidate-sized; the pick is one component-keyed
    row_number."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        cluster_representatives,
        connected_components,
    )

    edges = dd_passage_overlap(spark, sf_dir).select("id_a", "id_b")
    comp = connected_components(edges)
    docs = T(spark, sf_dir, "documents")
    return cluster_representatives(comp, docs, "doc_id", "n_chars")


DD_CLUSTER_PICK_SQL = f"""
WITH RECURSIVE {_PASSAGE_PAIR_CTES},
dedup_pairs AS (SELECT DISTINCT id_a, id_b FROM pairs),
edges(src, dst) AS (
  SELECT id_a, id_b FROM dedup_pairs
  UNION SELECT id_b, id_a FROM dedup_pairs),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
comp AS (SELECT node, MIN(comp) AS component FROM reach GROUP BY node),
scored AS (
  SELECT c.node, c.component, d.n_chars,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, c.node ASC) AS rn
  FROM comp c JOIN documents d ON d.doc_id = c.node),
reps AS (SELECT component, node AS rep_id FROM scored WHERE rn = 1)
SELECT c.node, c.component, r.rep_id, c.node = r.rep_id AS keep
FROM comp c JOIN reps r USING (component)
"""


# --- tenth wave: graph mixing, forensic digit audit, label centroids ---


_GR_EDGES_SQL = (
    "SELECT a.l_partkey AS src, b.l_partkey AS dst "
    "FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a "
    "JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b "
    "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
)


def gr_assortativity(spark, sf_dir):
    """Degree assortativity of the part co-occurrence graph (operators.
    graph.degree_assortativity): Pearson correlation of endpoint degrees
    over symmetrized edges from four DECIMAL-exact sufficient statistics
    — do hub parts co-occur with hub parts? Completes the graph tier's
    mixing-structure axis next to PageRank (importance) and triangles
    (closure)."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        degree_assortativity,
    )

    edges = _co_edges(spark, sf_dir)
    return degree_assortativity(edges)


def _gr_assortativity_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        assortativity_sql,
    )

    return assortativity_sql(_GR_EDGES_SQL)


GR_ASSORT_SQL = _gr_assortativity_sql()


def pf_benford(spark, sf_dir):
    """Benford first-digit audit of order totals (operators.profiling.
    benford_audit): digit = first char of the integer cent string (no
    libm, bit-portable bucketing), 9-row map-side-combined aggregation,
    expected log10(1+1/d) frequencies embedded as Python-computed
    literals in BOTH engines."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        benford_audit,
    )

    o = T(spark, sf_dir, "orders")
    return benford_audit(o, "o_totalprice")


def _pf_benford_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        BENFORD_EXPECTED,
    )

    exp_list = ", ".join(str(x) for x in BENFORD_EXPECTED)
    return f"""
WITH cents AS (
  SELECT CAST(ABS(ROUND(o_totalprice * 100)) AS BIGINT) AS c FROM orders),
digits AS (
  SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
  FROM cents WHERE c > 0),
counts AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
SELECT digit, n,
       ROUND(CAST(n AS DOUBLE) / t, 6) AS frac,
       -- CAST: DuckDB types bare list literals DECIMAL, Spark lit() DOUBLE
       CAST([{exp_list}][digit] AS DOUBLE) AS expected,
       ROUND(ROUND(CAST(n AS DOUBLE) / t, 6)
             - CAST([{exp_list}][digit] AS DOUBLE), 6) AS dev
FROM counts CROSS JOIN tot
ORDER BY digit
"""


PF_BENFORD_SQL = _pf_benford_sql()


def emb_label_centroids(spark, sf_dir):
    """Per-label embedding centroids, long format (operators.linalg.
    label_centroids): posexplode → groupBy(label, dim), |labels|·d
    output rows, full map-side combine — the class-level companion to
    emb_dim_stats (collapsed/drifting centroids flag encoder or label
    problems; the table doubles as a nearest-centroid baseline)."""
    from calp_cva_tracking_pipeline_spark.operators.linalg import (
        label_centroids,
    )

    e = T(spark, sf_dir, "embeddings")
    return label_centroids(e, "embedding", "label")


EMB_CENTROIDS_SQL = """
WITH v AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
  WHERE embedding IS NOT NULL),
idx AS (
  SELECT label, vec, unnest(generate_series(1, len(vec))) AS i FROM v)
SELECT label, CAST(i - 1 AS INT) AS dim,
       COUNT(*) AS n,
       ROUND(AVG(vec[i]), 6) AS mean
FROM idx
GROUP BY 1, 2
ORDER BY label, dim
"""


RESAMPLE_STEP_US = 3600 * 1_000_000


def tj_resample(spark, sf_dir):
    """Hourly linear-interpolation resampling of event values per type
    (operators.rollup.resample_interpolate): union-window formulation —
    one key exchange, forward+backward carry windows, zero joins (the
    tj_asof_nearest plan family); grid instants coinciding with an
    observation copy it byte-for-byte (exact=true), interior instants
    interpolate in one fixed double expression."""
    from calp_cva_tracking_pipeline_spark.operators.rollup import (
        resample_interpolate,
    )

    e = T(spark, sf_dir, "events")
    return resample_interpolate(
        e,
        keys=("event_type",),
        ts_col="ts",
        value_col="value",
        tiebreak_col="event_id",
        grain="1 hour",
    )


TJ_RESAMPLE_SQL = f"""
WITH obs AS (
  SELECT event_type, epoch_us(ts) AS t, max_by(value, event_id) AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2),
rngs AS (SELECT event_type, MIN(t) AS lo, MAX(t) AS hi FROM obs GROUP BY 1),
-- true ceil/floor over SIGNED epoch micros (// truncates toward zero,
-- which is wrong for pre-1970 timestamps) — mirrors the Spark CASE fix
bnds AS (
  SELECT event_type,
         (CASE WHEN lo % {RESAMPLE_STEP_US} > 0
               THEN (lo // {RESAMPLE_STEP_US}) + 1
               ELSE lo // {RESAMPLE_STEP_US} END)
           * {RESAMPLE_STEP_US} AS glo,
         (CASE WHEN hi % {RESAMPLE_STEP_US} < 0
               THEN (hi // {RESAMPLE_STEP_US}) - 1
               ELSE hi // {RESAMPLE_STEP_US} END)
           * {RESAMPLE_STEP_US} AS ghi
  FROM rngs),
grid AS (
  SELECT event_type,
         unnest(generate_series(glo, ghi, {RESAMPLE_STEP_US})) AS t
  FROM bnds WHERE glo <= ghi),
u AS (
  SELECT event_type, t, 0 AS side, v, t AS ot FROM obs
  UNION ALL
  SELECT event_type, t, 1 AS side, NULL AS v, NULL AS ot FROM grid),
c AS (
  SELECT event_type, t, side,
         last_value(v IGNORE NULLS) OVER w1 AS pv,
         last_value(ot IGNORE NULLS) OVER w1 AS pt,
         last_value(v IGNORE NULLS) OVER w2 AS nv,
         last_value(ot IGNORE NULLS) OVER w2 AS nt
  FROM u
  WINDOW w1 AS (PARTITION BY event_type ORDER BY t ASC, side ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w2 AS (PARTITION BY event_type ORDER BY t DESC, side ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_type, make_timestamp(t) AS ts,
       CASE WHEN t = pt THEN pv
            ELSE ROUND(pv + (nv - pv)
                       * (CAST(t - pt AS DOUBLE)
                          / CAST(nt - pt AS DOUBLE)), 6) END AS value,
       t = pt AS exact
FROM c
WHERE side = 1 AND pv IS NOT NULL AND nv IS NOT NULL
"""


# --- fourteenth-wave additions (round 8): exact set-similarity join,
# k-core robust-density census ---


JACC_T = 0.5  # exact Jaccard threshold (bimodal corpus: near-dups >> 0.5)
JACC_TN = round(JACC_T * 1_000_000)


def dd_jaccard_join(spark, sf_dir):
    """Exact prefix-filtered set-similarity self-join (operators.dedup.
    jaccard_join): EVERY document pair with 3-shingle Jaccard ≥ 0.5,
    zero false negatives — the deterministic complement to the
    MinHash-LSH tier. Integer-exact decisions (|∩|·10⁶ ≥ tn·|∪|), so
    the oracle is the BRUTE-FORCE threshold join: matching it proves the
    AllPairs prefix filter dropped no qualifying pair."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        jaccard_join,
    )

    d = T(spark, sf_dir, "documents")
    return jaccard_join(d, "doc_id", "text", threshold=JACC_T, k=3)


DD_JACCARD_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, s
  FROM (SELECT doc_id, unnest({_SHINGLES}) AS s FROM documents)),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
j AS (
  SELECT id_a, id_b, i, ca.n + cb.n - i AS u
  FROM inter
  JOIN cnt ca ON ca.doc_id = id_a
  JOIN cnt cb ON cb.doc_id = id_b)
SELECT id_a, id_b, ROUND(CAST(i AS DOUBLE) / u, 6) AS jaccard
FROM j WHERE i * 1000000 >= {JACC_TN} * u
"""


# part-graph degrees run ~40-220 (median ~115): k=60 peels a real but
# strict subset at every SF (sf0.001: 200→196 nodes; sf0.01: 2000→1996;
# sf0.1: 20000→19941 — non-empty, non-total, cascade exercised), where
# k≥80 empties the sf0.001 core and k≥100 empties every SF
KCORE_K = 60
KCORE_ITERS = 6


def gr_kcore(spark, sf_dir):
    """Fixed-iteration 60-core of the part co-occurrence graph
    (operators.graph.kcore): simultaneous peeling, six unrolled rounds,
    (node, degree) census of the surviving core — the robust-density
    filter next to triangles (closure) and PageRank (importance). Same
    edge derivation as gr_triangles."""
    from calp_cva_tracking_pipeline_spark.operators.graph import kcore

    edges = _co_edges(spark, sf_dir)
    return kcore(edges, k=KCORE_K, n_iter=KCORE_ITERS)


def _gr_kcore_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.graph import kcore_sql

    edges = (
        "SELECT a.l_partkey AS src, b.l_partkey AS dst "
        "FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a "
        "JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
    )
    return kcore_sql(edges, k=KCORE_K, n_iter=KCORE_ITERS)


GR_KCORE_SQL = _gr_kcore_sql()


def cdc_snapshot_diff(spark, sf_dir):
    """Row-level delta between two snapshot versions (operators.cdc.
    snapshot_diff): old = orders with orderkey %4 != 0, new = orders
    with orderkey %5 != 0 and deterministic edits (+100 totalprice at
    %7, priority rewrite at %11) — classifies each key insert / delete /
    update with the name-sorted changed-column list, dropping unchanged
    keys in the same full-outer pass so output is delta-sized."""
    from calp_cva_tracking_pipeline_spark.operators.cdc import snapshot_diff

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    old = o.filter(F.col("o_orderkey") % 4 != 0)
    new = o.filter(F.col("o_orderkey") % 5 != 0).withColumns(
        {
            "o_totalprice": F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 100
            ).otherwise(F.col("o_totalprice")),
            "o_orderpriority": F.when(
                F.col("o_orderkey") % 11 == 0, F.lit("9-DIFFED")
            ).otherwise(F.col("o_orderpriority")),
        }
    )
    return snapshot_diff(old, new, ["o_orderkey"])


CDC_DIFF_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 4 <> 0),
n AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 11 = 0 THEN '9-DIFFED'
              ELSE o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 5 <> 0),
j AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         o.o_orderkey IS NOT NULL AS in_old,
         n.o_orderkey IS NOT NULL AS in_new,
         list_sort(list_filter([
           CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                THEN 'o_orderpriority' END,
           CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                THEN 'o_orderstatus' END,
           CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                THEN 'o_totalprice' END],
           x -> x IS NOT NULL)) AS ch
  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
SELECT o_orderkey,
       CASE WHEN NOT in_old THEN 'insert'
            WHEN NOT in_new THEN 'delete'
            ELSE 'update' END AS change_type,
       CASE WHEN in_old AND in_new THEN array_to_string(ch, ',')
            ELSE '' END AS changed_cols
FROM j
WHERE (NOT in_old) OR (NOT in_new) OR len(ch) > 0
"""


DQ_DOMAIN = ("O", "F", "P")
DQ_PRICE_CAP = 400_000.0


def pf_dq_checks(spark, sf_dir):
    """Declarative data-quality gate over orders (operators.profiling.
    dq_checks): five rules — three expected-clean (positive price,
    non-null date, status domain), one expected-dirty (price under the
    400k cap), one uniqueness (orderkey) — all evaluated in ONE
    map-side-combined scan; output is the per-rule violation ledger."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        dq_checks,
    )

    o = T(spark, sf_dir, "orders")
    return dq_checks(
        o,
        rules=[
            ("totalprice_positive", F.col("o_totalprice") <= 0),
            ("orderdate_not_null", F.col("o_orderdate").isNull()),
            ("status_in_domain", ~F.col("o_orderstatus").isin(*DQ_DOMAIN)),
            (
                "totalprice_under_cap",
                F.col("o_totalprice") >= DQ_PRICE_CAP,
            ),
        ],
        unique_cols=["o_orderkey"],
    )


_DQ_DOMAIN_SQL = ", ".join(f"'{s}'" for s in DQ_DOMAIN)

PF_DQ_SQL = f"""
WITH a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(COALESCE(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0)
      AS BIGINT) AS v_pos,
    CAST(COALESCE(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END), 0)
      AS BIGINT) AS v_null,
    CAST(COALESCE(SUM(CASE WHEN o_orderstatus NOT IN ({_DQ_DOMAIN_SQL})
             THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_dom,
    CAST(COALESCE(SUM(CASE WHEN o_totalprice >= {DQ_PRICE_CAP}
             THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_cap,
    CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT)
      AS v_uniq
  FROM orders)
SELECT rule, n AS n_rows, v AS n_violations,
       ROUND(CASE WHEN n > 0 THEN CAST(v AS DOUBLE) / n ELSE 0.0 END, 6)
         AS violation_rate
FROM (
  SELECT 'o_orderkey_unique' AS rule, n, v_uniq AS v FROM a
  UNION ALL SELECT 'orderdate_not_null', n, v_null FROM a
  UNION ALL SELECT 'status_in_domain', n, v_dom FROM a
  UNION ALL SELECT 'totalprice_positive', n, v_pos FROM a
  UNION ALL SELECT 'totalprice_under_cap', n, v_cap FROM a)
ORDER BY rule
"""


# --- sixteenth-wave additions (round 8): CUSUM drift, market-basket
# rules, FK orphan audit, label-propagation communities ---


CUSUM_TARGET = 50.0  # events.value mean ~49.6 — drift measured from here
CUSUM_SLACK = 5.0
CUSUM_H = 200.0


def ts_cusum(spark, sf_dir):
    """Two-sided CUSUM drift statistics per user (operators.temporal.
    cusum_detect): the serial-looking max(0, ...) recurrence evaluated
    via its prefix-sum/running-min CLOSED FORM — two stacked windows
    over ONE keyed exchange, no pandas kernel (contrast ts_ewma, whose
    recurrence has no closed form). Integer micro-unit arithmetic end
    to end; the oracle replays the same two-level window."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        cusum_detect,
    )

    e = T(spark, sf_dir, "events")
    return cusum_detect(
        e,
        keys=["user_id"],
        ts_col="ts",
        value_col="value",
        tiebreak_col="event_id",
        target=CUSUM_TARGET,
        slack=CUSUM_SLACK,
        threshold=CUSUM_H,
    )


_CU_T = round(CUSUM_TARGET * 1_000_000)
_CU_K = round(CUSUM_SLACK * 1_000_000)
_CU_H = round(CUSUM_H * 1_000_000)

TS_CUSUM_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, ts,
         CAST(ROUND(value * 1000000) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
p AS (
  SELECT user_id, event_id, ts,
         CAST(SUM(x - {_CU_T} - {_CU_K}) OVER w AS BIGINT) AS pp,
         CAST(SUM({_CU_T} - x - {_CU_K}) OVER w AS BIGINT) AS pn
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING))
SELECT user_id, event_id, ts,
       CAST(pp - LEAST(0, MIN(pp) OVER w) AS DOUBLE) / 1000000
         AS cusum_pos,
       CAST(pn - LEAST(0, MIN(pn) OVER w) AS DOUBLE) / 1000000
         AS cusum_neg,
       pp - LEAST(0, MIN(pp) OVER w) > {_CU_H} AS alarm_pos,
       pn - LEAST(0, MIN(pn) OVER w) > {_CU_H} AS alarm_neg
FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING)
"""


ITEM_MIN = 5  # item frequency floor (a-priori prefilter)
PAIR_MIN = 3  # pair co-occurrence floor
MAX_BASKET = 1000  # volume guard, mirrored in BOTH engines (advisor r8)


def ev_itemsets(spark, sf_dir):
    """Pairwise association rules over order baskets (operators.assoc.
    association_rules): which parts co-purchase, with support /
    confidence / lift from exact integer counts. The Spark side forms
    pairs WITHOUT a self-join (sorted collect_list + JVM pair
    unrolling); the oracle is the naive within-basket self-join, so
    parity proves the two formulations emit identical rule sets."""
    from calp_cva_tracking_pipeline_spark.operators.assoc import (
        association_rules,
    )

    li = T(spark, sf_dir, "lineitem")
    return association_rules(
        li,
        basket_col="l_orderkey",
        item_col="l_partkey",
        min_item_count=ITEM_MIN,
        min_pair_count=PAIR_MIN,
        max_basket=MAX_BASKET,
    )


EV_ITEMSETS_SQL = f"""
WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
            FROM lineitem),
nb AS (SELECT COUNT(DISTINCT b) AS n FROM bi),
itemn AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS cnt FROM bi
          GROUP BY i HAVING COUNT(*) >= {ITEM_MIN}),
kept0 AS (SELECT bi.b, bi.i FROM bi JOIN itemn ON bi.i = itemn.i),
kept AS (
  SELECT b, i FROM kept0
  WHERE b IN (SELECT b FROM kept0 GROUP BY b
              HAVING COUNT(*) <= {MAX_BASKET})),
pairs AS (
  SELECT a.i AS ia, c.i AS ic, CAST(COUNT(*) AS BIGINT) AS pair_n
  FROM kept a JOIN kept c ON a.b = c.b AND a.i < c.i
  GROUP BY 1, 2 HAVING COUNT(*) >= {PAIR_MIN}),
bothdir AS (
  SELECT ia AS a, ic AS c, pair_n FROM pairs
  UNION ALL SELECT ic, ia, pair_n FROM pairs)
SELECT bd.a AS antecedent, bd.c AS consequent, pair_n,
       ROUND(CAST(pair_n AS DOUBLE) / nb.n, 6) AS support,
       ROUND(CAST(pair_n AS DOUBLE) / an.cnt, 6) AS confidence,
       ROUND(CAST(pair_n AS DOUBLE) * nb.n / (an.cnt * ac.cnt), 6)
         AS lift
FROM bothdir bd
CROSS JOIN nb
JOIN itemn an ON bd.a = an.i
JOIN itemn ac ON bd.c = ac.i
"""


def pf_ref_integrity(spark, sf_dir):
    """FK orphan audit ledger (operators.profiling.ref_integrity):
    four declared FKs — two against DELIBERATELY restricted parents
    (orders missing every %3 key, customers missing every %5 key,
    simulating a partial dimension load) so the orphan columns carry
    real mass, and two clean (lineitem→part, customer→nation). Join
    volume is key-cardinality-bounded on every FK."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        ref_integrity,
    )

    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    p = T(spark, sf_dir, "part")
    n = T(spark, sf_dir, "nation")
    return ref_integrity(
        [
            (
                "lineitem_orders",
                li,
                "l_orderkey",
                o.filter(F.col("o_orderkey") % 3 != 0),
                "o_orderkey",
            ),
            ("lineitem_part", li, "l_partkey", p, "p_partkey"),
            (
                "orders_customer",
                o,
                "o_custkey",
                c.filter(F.col("c_custkey") % 5 != 0),
                "c_custkey",
            ),
            ("customer_nation", c, "c_nationkey", n, "n_nationkey"),
        ]
    )


def _ref_fk_sql(name, child, ck, parent_sql):
    return f"""
  SELECT '{name}' AS fk,
    CAST(SUM(m) AS BIGINT) AS child_rows,
    CAST(COALESCE(SUM(CASE WHEN a.k IS NULL THEN m END), 0) AS BIGINT)
      AS null_key_rows,
    CAST(COUNT(CASE WHEN a.k IS NOT NULL THEN 1 END) AS BIGINT)
      AS distinct_keys,
    CAST(COUNT(CASE WHEN a.k IS NOT NULL AND p.k IS NULL THEN 1 END)
      AS BIGINT) AS orphan_keys,
    CAST(COALESCE(SUM(CASE WHEN a.k IS NOT NULL AND p.k IS NULL
                           THEN m END), 0) AS BIGINT) AS orphan_rows
  FROM (SELECT {ck} AS k, COUNT(*) AS m FROM {child} GROUP BY 1) a
  LEFT JOIN (SELECT DISTINCT k FROM ({parent_sql})
             WHERE k IS NOT NULL) p ON a.k = p.k"""


PF_REF_SQL = f"""
WITH ledger AS (
{_ref_fk_sql("lineitem_orders", "lineitem", "l_orderkey",
             "SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 3 <> 0")}
  UNION ALL
{_ref_fk_sql("lineitem_part", "lineitem", "l_partkey",
             "SELECT p_partkey AS k FROM part")}
  UNION ALL
{_ref_fk_sql("orders_customer", "orders", "o_custkey",
             "SELECT c_custkey AS k FROM customer WHERE c_custkey % 5 <> 0")}
  UNION ALL
{_ref_fk_sql("customer_nation", "customer", "c_nationkey",
             "SELECT n_nationkey AS k FROM nation")})
SELECT fk, child_rows, null_key_rows, distinct_keys, orphan_keys,
       orphan_rows,
       ROUND(CASE WHEN child_rows > 0
                  THEN CAST(orphan_rows AS DOUBLE) / child_rows
                  ELSE 0.0 END, 6) AS orphan_rate
FROM ledger ORDER BY fk
"""


LPA_EDGE_MIN = 2  # co-occurrence floor — sparsifies the part graph
LPA_ITERS = 4


def gr_communities(spark, sf_dir):
    """Fixed-round label-propagation communities (operators.graph.
    label_propagation) over the part co-occurrence graph, sparsified to
    pairs co-purchased in ≥2 orders — the community census next to
    components (reachability), k-core (density) and PageRank
    (importance). Deterministic smallest-label tie-break; argmax runs
    inside the vote aggregation (max(struct)) while the oracle uses
    ROW_NUMBER — parity proves the formulations agree node-for-node."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        label_propagation,
    )

    edges = (
        _co_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= LPA_EDGE_MIN)
        .select("src", "dst")
    )
    return label_propagation(edges, n_iter=LPA_ITERS)


def _gr_comm_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        label_propagation_sql,
    )

    edges = (
        "SELECT src, dst FROM ("
        "SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS c "
        "FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a "
        "JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
        f"GROUP BY 1, 2) WHERE c >= {LPA_EDGE_MIN}"
    )
    return label_propagation_sql(edges, n_iter=LPA_ITERS)


GR_COMM_SQL = _gr_comm_sql()


# --- seventeenth-wave additions (round 9): perceptual-hash image
# near-dup — the multimodal pillar's first ANALYSIS operator over the
# real stdlib codecs (VERDICT r8 ask #2) ---


PHASH_W = PHASH_H = 16  # synthesized image dims (8×8 hash grid → 2×2 boxes)
PHASH_MAXH = 3  # pigeonhole-exact recall with 4 bands of 16 bits
PHASH_LIGHT_FLIPS = 2  # rank-1 docs: near-dup of the group base image
PHASH_HEAVY_FLIPS = 24  # rank-2 docs: far from the base image


def mm_phash_neardup(spark, sf_dir):
    """Perceptual-hash (aHash) image near-duplicate pairs
    (operators.phash.image_phash_pairs) over a deterministic BMP corpus
    derived from documents: every 3 consecutive doc_ids share a hash-
    generated 16×16 base image — rank 1 flips 2 pixels (near-dup), rank
    2 flips 24 (far). Pixel values come from engine-portable md5
    expressions, the payloads are REAL 24-bpp BMPs
    (operators.bmp_stdlib.encode_bmp), and the hash pipeline runs the
    REAL stdlib decode (decode_bmp → integer ITU-R 601 luma → integer
    box sums); the oracle recomputes the pixel formula directly in SQL
    and replays bit/band/hamming math — parity proves the encode→decode
    roundtrip is pixel-identity AND the aHash kernel is integer-exact.
    Candidate pairing is hamming-block bucketed (pigeonhole-exact within
    MAXH), never all-pairs."""
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from calp_cva_tracking_pipeline_spark.operators.phash import (
        image_phash_pairs,
        synthesize_and_cell_sums,
    )

    d = spread_small_input(T(spark, sf_dir, "documents").select("doc_id"))
    base = d.select(
        "doc_id",
        F.expr("doc_id DIV 3").alias("grp"),
        F.expr("doc_id % 3").alias("rnk"),
    )
    h60 = (
        "CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"
    )
    vb = h60.format(
        s="concat('px|', CAST(grp AS STRING), '|',"
        " CAST(p % {w} AS STRING), '|', CAST(p DIV {w} AS STRING))".format(
            w=PHASH_W
        )
    )
    npx = PHASH_W * PHASH_H
    # Perturbation = a CONTIGUOUS flipped band (a scratch) starting at
    # a (grp, rnk)-derived offset: membership is O(1) modular
    # arithmetic per pixel. (First draft hashed individual flip
    # positions into an array and tested array_contains per pixel —
    # 256×24 interpreted scans/doc, and Spark's projection collapse
    # re-inlines any "materialized" array back into the lambda, so the
    # membership list CANNOT be hoisted; measured 4× slower. Higher-
    # order-function lambdas run interpreted — keep per-element work
    # arithmetic, never collection-valued.)
    inflip = (
        f"rnk > 0 AND ((p - ((grp * 37 + rnk * 101) % {npx}) + {npx})"
        f" % {npx}) < IF(rnk = 1, {PHASH_LIGHT_FLIPS}, {PHASH_HEAVY_FLIPS})"
    )
    synth = base.select(
        "doc_id",
        F.expr(
            f"""transform(sequence(0, {npx - 1}), p ->
                  CAST(IF({inflip},
                       255 - ({vb}) % 256,
                       ({vb}) % 256) AS INT))"""
        ).alias("px"),
    )
    # r16 (guide §4): encode + decode run FUSED in one Python stage —
    # the chained synthesize→cell_sums spelling held two live Python
    # workers per task (the r15 driver's 32-core 0.46x anti-scaling);
    # the real BMP encode→decode roundtrip is unchanged byte-for-byte.
    cells = synthesize_and_cell_sums(
        synth, "doc_id", "px", PHASH_W, PHASH_H, grid=8
    )
    return image_phash_pairs(
        None, "doc_id", "payload", grid=8, max_hamming=PHASH_MAXH,
        cells=cells,
    )


_PH_VB = (
    f"CAST(CAST(('0x' || substring(md5('px|' || CAST(grp AS VARCHAR) || '|'"
    f" || CAST(p % {PHASH_W} AS VARCHAR) || '|'"
    f" || CAST(p // {PHASH_W} AS VARCHAR)), 1, 15)) AS UBIGINT)"
    f" AS BIGINT) % 256"
)
_PH_NPX = PHASH_W * PHASH_H
_PH_INFLIP = (
    f"rnk > 0 AND ((p - ((grp * 37 + rnk * 101) % {_PH_NPX}) + {_PH_NPX})"
    f" % {_PH_NPX}) < (CASE WHEN rnk = 1 THEN {PHASH_LIGHT_FLIPS}"
    f" ELSE {PHASH_HEAVY_FLIPS} END)"
)

MM_PHASH_SQL = f"""
WITH p256 AS (SELECT unnest(generate_series(0, {PHASH_W * PHASH_H - 1})) AS p),
docs0 AS (
  SELECT doc_id, doc_id // 3 AS grp, doc_id % 3 AS rnk
  FROM documents),
px AS (
  SELECT doc_id, p,
         CASE WHEN {_PH_INFLIP}
              THEN 255 - ({_PH_VB}) ELSE ({_PH_VB}) END AS v
  FROM docs0 CROSS JOIN p256),
cells AS (
  SELECT doc_id, (p // {PHASH_W} // 2) * 8 + (p % {PHASH_W}) // 2 AS cell,
         CAST(SUM(v) AS BIGINT) AS cs
  FROM px GROUP BY 1, 2),
tot AS (SELECT doc_id, CAST(SUM(cs) AS BIGINT) AS total
        FROM cells GROUP BY 1),
bits AS (
  SELECT c.doc_id, cell, CASE WHEN cs * 64 > total THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN tot t ON c.doc_id = t.doc_id),
bands AS (
  SELECT doc_id, cell // 16 AS blk,
         CAST(SUM(bit * (1 << (cell % 16))) AS BIGINT) AS val
  FROM bits GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id),
ham AS (
  SELECT c.id_a, c.id_b,
         CAST(SUM(bit_count(xor(x.val, y.val))) AS INT) AS hamming
  FROM cand c
  JOIN bands x ON x.doc_id = c.id_a
  JOIN bands y ON y.doc_id = c.id_b AND y.blk = x.blk
  GROUP BY 1, 2)
SELECT id_a, id_b, hamming FROM ham WHERE hamming <= {PHASH_MAXH}
"""


def pf_null_patterns(spark, sf_dir):
    """Missing-data pattern census (operators.profiling.null_patterns)
    on a deterministically-holed orders projection (the shipped testdata
    carries no nulls, so nullability derives from modular rules — the
    same noisy-input device as c5): which column COMBINATIONS go null
    together, one scan, ≤2³-row exchange."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        null_patterns,
    )

    o = T(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 3 != 0, F.col("o_totalprice")).alias(
            "price"
        ),
        F.when(F.col("o_orderkey") % 5 != 0, F.col("o_orderdate")).alias(
            "odate"
        ),
        F.when(F.col("o_orderkey") % 15 != 0, F.col("o_orderstatus")).alias(
            "status"
        ),
    )
    return null_patterns(o, ["price", "odate", "status"])


PF_NULLPAT_SQL = """
WITH holed AS (
  SELECT CASE WHEN o_orderkey % 3 <> 0 THEN o_totalprice END AS price,
         CASE WHEN o_orderkey % 5 <> 0 THEN o_orderdate END AS odate,
         CASE WHEN o_orderkey % 15 <> 0 THEN o_orderstatus END AS status
  FROM orders),
m AS (
  SELECT (CASE WHEN price IS NULL THEN 1 ELSE 0 END)
       + (CASE WHEN odate IS NULL THEN 2 ELSE 0 END)
       + (CASE WHEN status IS NULL THEN 4 ELSE 0 END) AS msk
  FROM holed),
g AS (SELECT msk, CAST(COUNT(*) AS BIGINT) AS n_rows FROM m GROUP BY msk),
t AS (SELECT SUM(n_rows) AS total FROM g)
SELECT (CASE WHEN msk & 1 > 0 THEN '1' ELSE '0' END)
    || (CASE WHEN msk & 2 > 0 THEN '1' ELSE '0' END)
    || (CASE WHEN msk & 4 > 0 THEN '1' ELSE '0' END) AS pattern,
       n_rows,
       ROUND(CAST(n_rows AS DOUBLE) / total, 6) AS pct
FROM g CROSS JOIN t
ORDER BY n_rows DESC, pattern
"""


TAIL_XMIN = 200000.0
TAIL_MIN_N = 10


def pf_tail_index(spark, sf_dir):
    """Per-priority Hill tail-exponent estimate of order spend
    (operators.profiling.tail_index): α = 1 + n/Σln(x/xmin) with each
    log-ratio pinned to integer micro-units BEFORE the sum (the a10
    libm discipline), so the keyed aggregation is order-independent and
    engine-exact; one scan, group-cardinality output."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        tail_index,
    )

    o = T(spark, sf_dir, "orders")
    return tail_index(
        o,
        ["o_orderpriority"],
        "o_totalprice",
        xmin=TAIL_XMIN,
        min_tail=TAIL_MIN_N,
    )


PF_TAIL_SQL = f"""
WITH enc AS (
  SELECT o_orderpriority,
         CAST(ROUND(ln(CAST(o_totalprice AS DOUBLE)
                       / CAST({TAIL_XMIN} AS DOUBLE))
                    * 1000000) AS BIGINT) AS l
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_totalprice > {TAIL_XMIN}),
agg AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_tail,
         CAST(SUM(l) AS BIGINT) AS s
  FROM enc GROUP BY o_orderpriority)
SELECT o_orderpriority, n_tail,
       CASE WHEN n_tail >= {TAIL_MIN_N} AND s > 0 THEN
         ROUND(1.0 + CAST(n_tail AS DOUBLE) * 1000000.0
               / CAST(s AS DOUBLE), 6)
       END AS alpha
FROM agg
ORDER BY o_orderpriority
"""


def tj_interval_union(spark, sf_dir):
    """Per-user busy-time union (operators.temporal.
    interval_union_length): events become [ts, ts + value minutes)
    intervals; overlapping spans merge in the two-window sweep (running
    max of previous ends marks disjoint runs) so covered micros never
    double-count — all integer arithmetic over ONE user-keyed
    exchange."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        interval_union_length,
    )

    e = T(spark, sf_dir, "events").filter(F.col("value") > 0)
    enc = e.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("s_us"),
        (
            F.unix_micros(F.col("ts"))
            + F.round(F.col("value") * 60000000.0).cast("long")
        ).alias("e_us"),
    )
    return interval_union_length(enc, ["user_id"], "s_us", "e_us")


TJ_IVU_SQL = """
WITH enc AS (
  SELECT user_id,
         CAST(epoch_us(ts) AS BIGINT) AS s,
         CAST(epoch_us(ts) AS BIGINT)
           + CAST(ROUND(value * 60000000.0) AS BIGINT) AS e
  FROM events
  WHERE value > 0 AND ts IS NOT NULL AND user_id IS NOT NULL),
flt AS (SELECT * FROM enc WHERE e > s),
marked AS (
  SELECT user_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              IS NULL
           OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS newrun
  FROM flt),
runs0 AS (
  SELECT user_id, s, e,
         SUM(newrun) OVER (PARTITION BY user_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM marked),
runs AS (
  SELECT user_id, run, COUNT(*) AS cnt,
         MIN(s) AS rs, MAX(e) AS re
  FROM runs0 GROUP BY 1, 2)
SELECT user_id,
       CAST(SUM(cnt) AS BIGINT) AS n_intervals,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(SUM(re - rs) AS BIGINT) AS covered
FROM runs GROUP BY user_id
ORDER BY user_id
"""


ILV_SOURCES = [f"src{i}" for i in range(20)]


def mx_interleave(spark, sf_dir):
    """Deterministic round-robin training order across document sources
    (operators.sampling.interleave_sources): position = within-source
    portable-hash rank · |lanes| + lane — unique interleaved positions
    from ONE source-keyed window, NO global sort (position is a pure
    function of lane and rank). Output projected to (doc_id, source,
    position)."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        interleave_sources,
    )

    d = T(spark, sf_dir, "documents")
    return interleave_sources(d, "source", "doc_id", ILV_SOURCES).select(
        "doc_id", "source", "position"
    )


_ILV_LANES = " ".join(
    f"WHEN '{s}' THEN {i}" for i, s in enumerate(ILV_SOURCES)
)

MX_ILV_SQL = f"""
WITH lanes AS (
  SELECT doc_id, source,
         CASE source {_ILV_LANES} END AS lane,
         CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS UBIGINT) AS BIGINT) AS h
  FROM documents),
ranked AS (
  SELECT doc_id, source, lane,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
  FROM lanes WHERE lane IS NOT NULL)
SELECT doc_id, source,
       CAST((rn - 1) * {len(ILV_SOURCES)} + lane AS BIGINT) AS position
FROM ranked
"""


def ev_gaps(spark, sf_dir):
    """Per-user inter-arrival statistics + Goh–Barabási burstiness
    (operators.funnel.interarrival_stats): one lag over the keyed
    window, integer-second gaps (documented resolution — micros would
    overflow Σg² on one month-long gap), 64-bit moment sums, fixed
    double expression order for mean/std/CV/B."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        interarrival_stats,
    )

    return interarrival_stats(
        T(spark, sf_dir, "events"),
        "user_id",
        "ts",
        tiebreak_cols=["event_id"],
        min_events=3,
    )


EV_GAPS_SQL = """
WITH e AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS t, event_id
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
g0 AS (
  SELECT user_id,
         t - LAG(t, 1) OVER (PARTITION BY user_id
                             ORDER BY t, event_id) AS gus
  FROM e),
g AS (
  SELECT user_id,
         CAST((gus - (gus % 1000000)) / 1000000 AS BIGINT) AS gap
  FROM g0 WHERE gus IS NOT NULL),
agg AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(gap) AS BIGINT) AS s1,
         CAST(SUM(gap * gap) AS BIGINT) AS s2
  FROM g GROUP BY user_id),
d AS (
  SELECT user_id, n,
         CAST(n AS DOUBLE) AS nd,
         CAST(s1 AS DOUBLE) AS s1d,
         CAST(s2 AS DOUBLE) AS s2d
  FROM agg),
st AS (
  SELECT user_id, n, s1d / nd AS mean_s,
         sqrt(GREATEST(CASE WHEN n > 1
              THEN (nd * s2d - s1d * s1d) / (nd * (nd - 1))
              ELSE 0.0 END, 0.0)) AS std_s
  FROM d)
SELECT user_id, n AS n_gaps,
       CASE WHEN n >= 2 THEN ROUND(mean_s, 6) END AS mean_gap_s,
       CASE WHEN n >= 2 THEN ROUND(std_s, 6) END AS std_gap_s,
       CASE WHEN n >= 2 THEN ROUND(
         CASE WHEN mean_s > 0 THEN std_s / mean_s ELSE 0.0 END, 6)
       END AS cv,
       CASE WHEN n >= 2 THEN ROUND(
         CASE WHEN std_s + mean_s > 0
              THEN (std_s - mean_s) / (std_s + mean_s)
              ELSE 0.0 END, 6)
       END AS burstiness
FROM st
ORDER BY user_id
"""


def tx_sentences(spark, sf_dir):
    """Per-document sentence-structure profile (operators.textops.
    sentence_stats) over a deterministically punctuated text (the
    synthetic corpus carries no terminators, so ' a '/' the ' become
    sentence breaks — the same derived-input device as c5): segment
    count, mean and max sentence token length, all JVM-side on one
    exploded-array projection."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        sentence_stats,
    )

    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), " (a|the) ", ". "
        ).alias("ptext"),
    )
    return sentence_stats(d, "doc_id", "ptext")


TX_SENTENCES_SQL = r"""
WITH seg AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(
           regexp_replace(COALESCE(text, ''), ' (a|the) ', '. ', 'g'),
           '[.!?]+\s*'), s -> trim(s)), s -> s <> '') AS segs
  FROM documents),
tok AS (
  SELECT doc_id,
         list_transform(segs, s -> len(list_filter(
           string_split_regex(s, '\s+'), t -> t <> ''))) AS ns
  FROM seg)
SELECT doc_id,
       CAST(len(ns) AS BIGINT) AS n_sentences,
       CASE WHEN len(ns) > 0 THEN
         ROUND(CAST(list_sum(ns) AS DOUBLE) / CAST(len(ns) AS DOUBLE), 6)
       END AS mean_sentence_tokens,
       CASE WHEN len(ns) > 0 THEN CAST(list_max(ns) AS BIGINT)
       END AS max_sentence_tokens
FROM tok
"""


FRESH_AS_OF = "2024-02-01 00:00:00"
FRESH_MAX_LAG_S = 26 * 3600


def pf_freshness(spark, sf_dir):
    """Per-segment data-freshness SLA audit (operators.profiling.
    freshness_audit): last arrival, integer-second lag vs an EXPLICIT
    as-of instant (never now() — audits replay bit-for-bit) and the
    stale flag. One scan, group-cardinality exchange."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        freshness_audit,
    )

    e = T(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("segment"), "ts"
    )
    return freshness_audit(
        e, ["segment"], "ts", FRESH_AS_OF, FRESH_MAX_LAG_S
    )


PF_FRESH_SQL = f"""
WITH agg AS (
  SELECT user_id % 10 AS segment,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         MAX(ts) AS last_ts
  FROM events GROUP BY 1),
lagd AS (
  SELECT segment, n_rows, last_ts,
         CAST(epoch_us(CAST('{FRESH_AS_OF}' AS TIMESTAMP))
              - epoch_us(last_ts) AS BIGINT) AS lag_us
  FROM agg)
SELECT segment, n_rows, last_ts,
       CAST((lag_us - (lag_us % 1000000)) / 1000000 AS BIGINT) AS lag_s,
       COALESCE(
         CAST((lag_us - (lag_us % 1000000)) / 1000000 AS BIGINT)
           > {FRESH_MAX_LAG_S}, TRUE) AS stale
FROM lagd
ORDER BY segment
"""


ACF_LAG = 1
ACF_MIN_PAIRS = 10


def ts_autocorr(spark, sf_dir):
    """Per-user lag-1 autocorrelation of event values (operators.
    temporal.autocorrelation): persistence/periodicity check beside the
    CUSUM drift tier — one keyed lag window, 64-bit integer sufficient
    statistics, fixed double expression order."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        autocorrelation,
    )

    return autocorrelation(
        T(spark, sf_dir, "events"),
        ["user_id"],
        "ts",
        "value",
        "event_id",
        lag=ACF_LAG,
        min_pairs=ACF_MIN_PAIRS,
    )


TS_ACF_SQL = f"""
WITH enc AS (
  SELECT user_id, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
lagd AS (
  SELECT user_id, x,
         LAG(x, {ACF_LAG}) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS xl
  FROM enc),
agg AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(x * x) AS BIGINT) AS q,
         CAST(COALESCE(SUM(CASE WHEN xl IS NOT NULL THEN 1 ELSE 0 END), 0)
           AS BIGINT) AS m,
         CAST(SUM(CASE WHEN xl IS NOT NULL THEN x * xl END) AS BIGINT)
           AS c,
         CAST(SUM(CASE WHEN xl IS NOT NULL THEN x END) AS BIGINT) AS sa,
         CAST(SUM(CASE WHEN xl IS NOT NULL THEN xl END) AS BIGINT) AS sb
  FROM lagd GROUP BY user_id),
d AS (
  SELECT user_id, n, m,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         CAST(q AS DOUBLE) AS qd,
         CAST(c AS DOUBLE) AS cd,
         CAST(sa AS DOUBLE) AS sad,
         CAST(sb AS DOUBLE) AS sbd,
         CAST(n AS DOUBLE) AS nd,
         CAST(m AS DOUBLE) AS md
  FROM agg)
SELECT user_id, n, CAST({ACF_LAG} AS INT) AS lag,
       CASE WHEN m >= {ACF_MIN_PAIRS}
                 AND qd - nd * mean * mean > 0
         THEN ROUND((cd - mean * sad - mean * sbd + md * mean * mean)
                    / (qd - nd * mean * mean), 6)
       END AS acf
FROM d
ORDER BY user_id
"""


AB_CONTROL = "1-URGENT"
AB_MIN_N = 10


def pf_ab_test(spark, sf_dir):
    """Experiment readout (operators.profiling.ab_test_summary): order
    priorities as variants vs the '1-URGENT' control — whole-unit
    integer moments in ONE variant-cardinality aggregate (cent-scaling
    would overflow Σx² two orders sooner), Welch z + 95% significance
    in a fixed double expression order."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        ab_test_summary,
    )

    o = T(spark, sf_dir, "orders")
    return ab_test_summary(
        o, "o_orderpriority", "o_totalprice", control=AB_CONTROL,
        min_n=AB_MIN_N,
    )


PF_AB_SQL = f"""
WITH enc AS (
  SELECT o_orderpriority AS variant,
         CAST(ROUND(CAST(o_totalprice AS DOUBLE)) AS BIGINT) AS x
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
agg AS (
  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2
  FROM enc GROUP BY variant),
st AS (
  SELECT variant, n,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         CASE WHEN n > 1 THEN
           (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
         ELSE 0.0 END AS v
  FROM agg),
c AS (SELECT n AS nc, m AS mc, v AS vc FROM st
      WHERE variant = '{AB_CONTROL}')
SELECT variant, n, ROUND(m, 6) AS mean,
       CASE WHEN variant <> '{AB_CONTROL}' AND n >= {AB_MIN_N}
                 AND nc >= {AB_MIN_N} AND (v / n + vc / nc) > 0
         THEN ROUND((m - mc) / sqrt(v / n + vc / nc), 6) END AS z,
       CASE WHEN variant <> '{AB_CONTROL}' AND n >= {AB_MIN_N}
                 AND nc >= {AB_MIN_N} AND (v / n + vc / nc) > 0
         THEN abs((m - mc) / sqrt(v / n + vc / nc)) > 1.959964
       END AS significant
FROM st CROSS JOIN c
ORDER BY variant
"""


_CODE_SNIPPET = "def f(x):\n    return x + 1\nimport os\n"


def tx_code_detect(spark, sf_dir):
    """Code-vs-prose routing (operators.textops.code_detect) over a
    corpus where every 7th document carries an injected code preamble
    (the synthetic text is pure prose — same derived-input device as
    tx_sentences): symbol ratio, indented lines and keyword hits as
    scan-speed JVM expressions, combined into the is_code route flag."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        code_detect,
    )

    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(_CODE_SNIPPET), F.coalesce("text", F.lit(""))),
        )
        .otherwise(F.coalesce("text", F.lit("")))
        .alias("ptext"),
    )
    return code_detect(d, "doc_id", "ptext")


_CODE_SNIPPET_SQL = (
    "'def f(x):' || chr(10) || '    return x + 1' || chr(10)"
    " || 'import os' || chr(10)"
)
_CODE_KW_ALT = "|".join(
    ["def", "class", "return", "import", "void", "int", "function",
     "var", "const", "if", "else", "for", "while"]
)

TX_CODE_SQL = rf"""
WITH p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN {_CODE_SNIPPET_SQL} || COALESCE(text, '')
              ELSE COALESCE(text, '') END AS t
  FROM documents),
f AS (
  SELECT doc_id,
         LENGTH(t) AS nc,
         LENGTH(t) - LENGTH(regexp_replace(t, '[{{}}();=<>\[\]]', '', 'g'))
           AS nsym,
         len(list_filter(string_split(t, chr(10)),
             ln -> regexp_matches(ln, '^(  +|\t)'))) AS indent,
         len(list_filter(string_split_regex(lower(t), '\s+'),
             w -> regexp_matches(w, '^({_CODE_KW_ALT})$'))) AS hits
  FROM p),
r AS (
  SELECT doc_id,
         CASE WHEN nc > 0
              THEN ROUND(CAST(nsym AS DOUBLE) / CAST(nc AS DOUBLE), 6)
              ELSE 0.0 END AS symbol_ratio,
         CAST(indent AS BIGINT) AS indent_lines,
         CAST(hits AS BIGINT) AS keyword_hits
  FROM f)
SELECT doc_id, symbol_ratio, indent_lines, keyword_hits,
       (symbol_ratio > 0.05
        OR (keyword_hits >= 2 AND indent_lines >= 1)) AS is_code
FROM r
"""


NSIM_MIN_SHARED = 3
NSIM_THRESHOLD = 0.08  # co-purchase unions are wide; yields rows at all SFs


def gr_neighbor_sim(spark, sf_dir):
    """Neighborhood-Jaccard link prediction on the part co-occurrence
    graph (operators.graph.neighbor_similarity): node pairs sharing ≥ 3
    neighbors with J ≥ 0.3 — wedge expansion via per-center collect +
    in-array unrolling (one exchange, the triangle-census volume bound),
    integer-exact keep predicate; oracle = the naive wedge self-join."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        neighbor_similarity,
    )

    edges = _co_edges(spark, sf_dir)
    return neighbor_similarity(
        edges, min_shared=NSIM_MIN_SHARED, threshold=NSIM_THRESHOLD
    )


def _gr_nsim_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        neighbor_similarity_sql,
    )

    edges = (
        "SELECT a.l_partkey AS src, b.l_partkey AS dst "
        "FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a "
        "JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
    )
    return neighbor_similarity_sql(
        edges, min_shared=NSIM_MIN_SHARED, threshold=NSIM_THRESHOLD
    )


GR_NSIM_SQL = _gr_nsim_sql()


AFP_NS = 256  # synthesized samples per clip
AFP_BINS = 8
AFP_LIGHT_FLIPS = 2
AFP_HEAVY_FLIPS = 64


def mm_audio_dedup(spark, sf_dir):
    """Energy-profile audio exact-dup clusters (operators.phash.
    audio_fingerprint_groups) over a deterministic WAV corpus derived
    from documents: every 3 consecutive doc_ids share a hash-generated
    256-sample 16-bit clip — rank 1 replaces 2 samples (fingerprint
    robust), rank 2 replaces 64 (profile shifts). Sample values come
    from engine-portable md5 expressions, payloads are REAL RIFF PCM
    (operators.wav_stdlib.encode_wav), the pipeline runs the REAL
    stdlib decode, and the oracle recomputes the sample formula + the
    integer energy/threshold/fingerprint math in SQL — parity proves
    the WAV encode→decode roundtrip is sample-identity. No pair
    expansion: one decode pass + one fingerprint-keyed aggregation."""
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from calp_cva_tracking_pipeline_spark.operators.phash import (
        audio_fingerprint_groups,
        synthesize_wav_payloads,
    )

    d = spread_small_input(T(spark, sf_dir, "documents").select("doc_id"))
    base = d.select(
        "doc_id",
        F.expr("doc_id DIV 3").alias("grp"),
        F.expr("doc_id % 3").alias("rnk"),
    )
    h60 = "CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"
    sb = h60.format(
        s="concat('au|', CAST(grp AS STRING), '|', CAST(p AS STRING))"
    )
    sv = h60.format(
        s="concat('av|', CAST(grp AS STRING), '|',"
        " CAST(rnk AS STRING), '|', CAST(p AS STRING))"
    )
    # contiguous replaced range (a dropout), O(1) arithmetic membership
    # per sample — see mm_phash_neardup on why a hashed-position ARRAY
    # in the lambda is 4× slower (interpreted HOFs + projection collapse)
    inflip = (
        f"rnk > 0 AND ((p - ((grp * 37 + rnk * 101) % {AFP_NS})"
        f" + {AFP_NS}) % {AFP_NS})"
        f" < IF(rnk = 1, {AFP_LIGHT_FLIPS}, {AFP_HEAVY_FLIPS})"
    )
    synth = base.select(
        "doc_id",
        F.expr(
            f"""transform(sequence(0, {AFP_NS - 1}), p ->
                  CAST(IF({inflip},
                       ({sv}) % 65536 - 32768,
                       ({sb}) % 65536 - 32768) AS INT))"""
        ).alias("smp"),
    )
    clips = synthesize_wav_payloads(synth, "doc_id", "smp")
    return audio_fingerprint_groups(
        clips, "doc_id", "payload", bins=AFP_BINS, min_group=2
    )


def _afp_h60(s: str) -> str:
    return (
        "CAST(CAST(('0x' || substring(md5(" + s + "), 1, 15))"
        " AS UBIGINT) AS BIGINT)"
    )


_AFP_SB = _afp_h60(
    "'au|' || CAST(grp AS VARCHAR) || '|' || CAST(p AS VARCHAR)"
)
_AFP_SV = _afp_h60(
    "'av|' || CAST(grp AS VARCHAR) || '|' || CAST(rnk AS VARCHAR)"
    " || '|' || CAST(p AS VARCHAR)"
)
_AFP_INFLIP = (
    f"rnk > 0 AND ((p - ((grp * 37 + rnk * 101) % {AFP_NS})"
    f" + {AFP_NS}) % {AFP_NS})"
    f" < (CASE WHEN rnk = 1 THEN {AFP_LIGHT_FLIPS}"
    f" ELSE {AFP_HEAVY_FLIPS} END)"
)

MM_AUDIO_SQL = f"""
WITH pos AS (SELECT unnest(generate_series(0, {AFP_NS - 1})) AS p),
docs0 AS (
  SELECT doc_id, doc_id // 3 AS grp, doc_id % 3 AS rnk
  FROM documents),
smp AS (
  SELECT doc_id, p,
         CASE WHEN {_AFP_INFLIP}
              THEN ({_AFP_SV}) % 65536 - 32768
              ELSE ({_AFP_SB}) % 65536 - 32768 END AS s
  FROM docs0 CROSS JOIN pos),
bins AS (
  SELECT doc_id, p // {AFP_NS // AFP_BINS} AS b,
         CAST(SUM(s * s) AS BIGINT) AS e
  FROM smp GROUP BY 1, 2),
tot AS (SELECT doc_id, CAST(SUM(e) AS BIGINT) AS total
        FROM bins GROUP BY 1),
fp AS (
  SELECT b.doc_id,
         CAST(SUM(CASE WHEN e * {AFP_BINS} > total
                  THEN (1 << b) ELSE 0 END) AS BIGINT) AS fingerprint
  FROM bins b JOIN tot t ON b.doc_id = t.doc_id
  GROUP BY b.doc_id)
SELECT fingerprint,
       CAST(COUNT(*) AS BIGINT) AS n_media,
       MIN(doc_id) AS rep_media
FROM fp GROUP BY fingerprint
HAVING COUNT(*) >= 2
ORDER BY fingerprint
"""


# --- Multimodal quality screens (round 10): per-media stats over the
# SAME deterministic corpora as the dedup ops, thresholds shared with
# the oracles --------------------------------------------------------------

IMG_DARK_MAX = 31
IMG_BRIGHT_MIN = 224
AU_SILENCE_ABS = 327
AU_CLIP_ABS = 32704
AU_RATE = 8000


def mm_image_stats(spark, sf_dir):
    """Per-image luma quality screen (operators.phash.image_pixel_stats)
    over the SAME deterministic BMP corpus as mm_phash_neardup (grp/rnk
    perturbed md5-pixel images, REAL bmp encode → REAL stdlib decode).
    The Python stage emits one bounded integer stat vector per image;
    mean/contrast/ratios are JVM float projections over those exact
    integers, and the oracle recomputes the pixel formula + the same
    aggregation in SQL — parity re-proves the encode→decode roundtrip
    AND the stat math together."""
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from calp_cva_tracking_pipeline_spark.operators.phash import (
        image_pixel_stats,
        synthesize_bmp_payloads,
    )

    d = spread_small_input(T(spark, sf_dir, "documents").select("doc_id"))
    base = d.select(
        "doc_id",
        F.expr("doc_id DIV 3").alias("grp"),
        F.expr("doc_id % 3").alias("rnk"),
    )
    h60 = "CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"
    vb = h60.format(
        s="concat('px|', CAST(grp AS STRING), '|',"
        " CAST(p % {w} AS STRING), '|', CAST(p DIV {w} AS STRING))".format(
            w=PHASH_W
        )
    )
    npx = PHASH_W * PHASH_H
    inflip = (
        f"rnk > 0 AND ((p - ((grp * 37 + rnk * 101) % {npx}) + {npx})"
        f" % {npx}) < IF(rnk = 1, {PHASH_LIGHT_FLIPS}, {PHASH_HEAVY_FLIPS})"
    )
    synth = base.select(
        "doc_id",
        F.expr(
            f"""transform(sequence(0, {npx - 1}), p ->
                  CAST(IF({inflip},
                       255 - ({vb}) % 256,
                       ({vb}) % 256) AS INT))"""
        ).alias("px"),
    )
    imgs = synthesize_bmp_payloads(synth, "doc_id", "px", PHASH_W, PHASH_H)
    return image_pixel_stats(
        imgs, "doc_id", "payload",
        dark_max=IMG_DARK_MAX, bright_min=IMG_BRIGHT_MIN,
    ).orderBy("media_id")


MM_IMG_STATS_SQL = f"""
WITH p256 AS (SELECT unnest(generate_series(0, {PHASH_W * PHASH_H - 1})) AS p),
docs0 AS (
  SELECT doc_id, doc_id // 3 AS grp, doc_id % 3 AS rnk
  FROM documents),
px AS (
  SELECT doc_id, p,
         CASE WHEN {_PH_INFLIP}
              THEN 255 - ({_PH_VB}) ELSE ({_PH_VB}) END AS v
  FROM docs0 CROSS JOIN p256),
st AS (
  SELECT doc_id, COUNT(*) AS n,
         SUM(v) AS s, SUM(v * v) AS ss,
         MIN(v) AS mn, MAX(v) AS mx,
         SUM(CASE WHEN v <= {IMG_DARK_MAX} THEN 1 ELSE 0 END) AS dark,
         SUM(CASE WHEN v >= {IMG_BRIGHT_MIN} THEN 1 ELSE 0 END) AS bright
  FROM px GROUP BY doc_id)
SELECT doc_id AS media_id,
       CAST(n AS BIGINT) AS n_px,
       ROUND(CAST(s AS DOUBLE) / n, 6) AS mean_luma,
       ROUND(SQRT(GREATEST(
           CAST(ss AS DOUBLE) / n
           - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
           0.0)), 6) AS contrast,
       ROUND(CAST(dark AS DOUBLE) / n, 6) AS dark_ratio,
       ROUND(CAST(bright AS DOUBLE) / n, 6) AS bright_ratio,
       CAST(mn AS BIGINT) AS luma_min,
       CAST(mx AS BIGINT) AS luma_max
FROM st ORDER BY media_id
"""


def mm_audio_stats(spark, sf_dir):
    """Per-clip sample quality screen (operators.phash.
    audio_sample_stats) over the SAME deterministic WAV corpus as
    mm_audio_dedup (grp/rnk dropout-perturbed md5 samples, REAL RIFF
    encode → REAL stdlib decode): duration, rms, peak, silence and
    clipping ratios — the dead-air/clipped-recording curation screen.
    Integer stat vector per clip from the one Python decode pass; the
    oracle recomputes the sample formula + the aggregation in SQL."""
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from calp_cva_tracking_pipeline_spark.operators.phash import (
        audio_sample_stats,
        synthesize_wav_payloads,
    )

    d = spread_small_input(T(spark, sf_dir, "documents").select("doc_id"))
    base = d.select(
        "doc_id",
        F.expr("doc_id DIV 3").alias("grp"),
        F.expr("doc_id % 3").alias("rnk"),
    )
    h60 = "CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"
    sb = h60.format(
        s="concat('au|', CAST(grp AS STRING), '|', CAST(p AS STRING))"
    )
    sv = h60.format(
        s="concat('av|', CAST(grp AS STRING), '|',"
        " CAST(rnk AS STRING), '|', CAST(p AS STRING))"
    )
    inflip = (
        f"rnk > 0 AND ((p - ((grp * 37 + rnk * 101) % {AFP_NS})"
        f" + {AFP_NS}) % {AFP_NS})"
        f" < IF(rnk = 1, {AFP_LIGHT_FLIPS}, {AFP_HEAVY_FLIPS})"
    )
    synth = base.select(
        "doc_id",
        F.expr(
            f"""transform(sequence(0, {AFP_NS - 1}), p ->
                  CAST(IF({inflip},
                       ({sv}) % 65536 - 32768,
                       ({sb}) % 65536 - 32768) AS INT))"""
        ).alias("smp"),
    )
    clips = synthesize_wav_payloads(synth, "doc_id", "smp", rate=AU_RATE)
    return audio_sample_stats(
        clips, "doc_id", "payload",
        silence_abs=AU_SILENCE_ABS, clip_abs=AU_CLIP_ABS, rate=AU_RATE,
    ).orderBy("media_id")


MM_AUDIO_STATS_SQL = f"""
WITH pos AS (SELECT unnest(generate_series(0, {AFP_NS - 1})) AS p),
docs0 AS (
  SELECT doc_id, doc_id // 3 AS grp, doc_id % 3 AS rnk
  FROM documents),
smp AS (
  SELECT doc_id, p,
         CASE WHEN {_AFP_INFLIP}
              THEN ({_AFP_SV}) % 65536 - 32768
              ELSE ({_AFP_SB}) % 65536 - 32768 END AS s
  FROM docs0 CROSS JOIN pos),
st AS (
  SELECT doc_id, COUNT(*) AS n,
         SUM(CAST(s AS BIGINT) * s) AS ss,
         MAX(ABS(s)) AS pk,
         SUM(CASE WHEN ABS(s) <= {AU_SILENCE_ABS} THEN 1 ELSE 0 END)
             AS sil,
         SUM(CASE WHEN ABS(s) >= {AU_CLIP_ABS} THEN 1 ELSE 0 END) AS cl
  FROM smp GROUP BY doc_id)
SELECT doc_id AS media_id,
       CAST(n AS BIGINT) AS n_samples,
       ROUND(CAST(n AS DOUBLE) / {float(AU_RATE)}, 6) AS duration_s,
       ROUND(SQRT(CAST(ss AS DOUBLE) / n), 6) AS rms,
       CAST(pk AS BIGINT) AS peak,
       ROUND(CAST(sil AS DOUBLE) / n, 6) AS silence_ratio,
       ROUND(CAST(cl AS DOUBLE) / n, 6) AS clip_ratio
FROM st ORDER BY media_id
"""


# --- Span-level boilerplate audit (round 10) -------------------------------

BOILER_K = 8
BOILER_MIN_DOCS = 2


def tx_boilerplate_spans(spark, sf_dir):
    """C4-style boilerplate audit (operators.textops.boilerplate_spans):
    non-overlapping 8-token spans hashed to md5, GLOBAL document
    frequency window-attached over the one exploded span exchange (no
    self-join; chrome is shared across sites, so df is corpus-wide),
    spans in >= 2 docs flagged; one row per source with
    instance/distinct/affected counters and the boilerplate mass
    ratio."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        boilerplate_spans,
    )

    return boilerplate_spans(
        T(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        "source",
        k=BOILER_K,
        min_docs=BOILER_MIN_DOCS,
    )


TX_BOILER_SQL = rf"""
WITH tl AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE text IS NOT NULL),
sp AS (
  SELECT doc_id, source,
         md5(array_to_string(
             toks[i * {BOILER_K} + 1 : i * {BOILER_K} + {BOILER_K}],
             ' ')) AS sp
  FROM (SELECT doc_id, source, toks,
               unnest(generate_series(
                   0, CAST(len(toks) // {BOILER_K} AS INT) - 1)) AS i
        FROM tl WHERE len(toks) >= {BOILER_K}) t),
pds AS (
  SELECT source, sp, doc_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM sp GROUP BY source, sp, doc_id),
flagged AS (
  SELECT *,
         COUNT(*) OVER (PARTITION BY sp) AS ndocs,
         ROW_NUMBER() OVER (PARTITION BY source, sp
                            ORDER BY doc_id) AS rn
  FROM pds),
agg AS (
  SELECT source,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(SUM(c) AS BIGINT) AS n_span_instances,
         CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_distinct_spans,
         CAST(SUM(CASE WHEN rn = 1 AND ndocs >= {BOILER_MIN_DOCS}
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_spans,
         CAST(SUM(CASE WHEN ndocs >= {BOILER_MIN_DOCS} THEN c ELSE 0 END)
             AS BIGINT) AS boiler_instances,
         CAST(COUNT(DISTINCT CASE WHEN ndocs >= {BOILER_MIN_DOCS}
                  THEN doc_id END) AS BIGINT) AS affected_docs
  FROM flagged GROUP BY source)
SELECT source, n_docs, n_span_instances, n_distinct_spans,
       n_boiler_spans, boiler_instances, affected_docs,
       CASE WHEN n_span_instances > 0 THEN ROUND(
           CAST(boiler_instances AS DOUBLE)
           / CAST(n_span_instances AS DOUBLE), 6) END AS boiler_ratio
FROM agg ORDER BY source
"""


# --- Pairwise categorical mutual information (round 10) --------------------

MI_COLS = ["l_returnflag", "l_linestatus", "ship_year"]


def pf_mutual_info(spark, sf_dir):
    """Pairwise categorical MI/NMI (operators.profiling.
    mutual_info_pairs) over lineitem's flag/status/ship-year columns —
    the value-dependence screen next to pf_null_phi's missingness one.
    One explode pass, pair × value-grid cells, nano-nat pinned terms."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        mutual_info_pairs,
    )

    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.year(F.col("l_shipdate")).cast("string").alias("ship_year"),
    )
    return mutual_info_pairs(li, MI_COLS)


def _pf_mi_sql() -> str:
    pairs = []
    names = MI_COLS
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            pairs.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
                f" CAST({a} AS VARCHAR) AS va, CAST({b} AS VARCHAR) AS vb"
                f" FROM li WHERE {a} IS NOT NULL AND {b} IS NOT NULL"
            )
    stacked = " UNION ALL ".join(pairs)
    return f"""
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(year(l_shipdate) AS VARCHAR) AS ship_year
  FROM lineitem),
cells AS (
  SELECT col_a, col_b, va, vb, CAST(COUNT(*) AS BIGINT) AS c
  FROM ({stacked}) GROUP BY col_a, col_b, va, vb),
t AS (
  SELECT *,
         SUM(c) OVER (PARTITION BY col_a, col_b) AS n,
         SUM(c) OVER (PARTITION BY col_a, col_b, va) AS na,
         SUM(c) OVER (PARTITION BY col_a, col_b, vb) AS nb,
         ROW_NUMBER() OVER (PARTITION BY col_a, col_b, va
                            ORDER BY vb) AS rna,
         ROW_NUMBER() OVER (PARTITION BY col_a, col_b, vb
                            ORDER BY va) AS rnb
  FROM cells),
agg AS (
  SELECT col_a, col_b,
         CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(ROUND(
             (CAST(c AS DOUBLE) / n)
             * LN(CAST(n AS DOUBLE) * c / (CAST(na AS DOUBLE) * nb)),
             9) * 1e9, 0) AS BIGINT)) AS BIGINT) AS mi_n,
         CAST(SUM(CASE WHEN rna = 1 THEN CAST(ROUND(ROUND(
             (CAST(na AS DOUBLE) / n) * LN(CAST(na AS DOUBLE) / n)
             * -1.0, 9) * 1e9, 0) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS ha_n,
         CAST(SUM(CASE WHEN rnb = 1 THEN CAST(ROUND(ROUND(
             (CAST(nb AS DOUBLE) / n) * LN(CAST(nb AS DOUBLE) / n)
             * -1.0, 9) * 1e9, 0) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS hb_n
  FROM t GROUP BY col_a, col_b)
SELECT col_a, col_b, n,
       ROUND(CAST(GREATEST(mi_n, 0) AS DOUBLE) / 1e9, 6) AS mi_nats,
       CASE WHEN ha_n > 0 AND hb_n > 0 THEN ROUND(
           CAST(GREATEST(mi_n, 0) AS DOUBLE)
           / SQRT(CAST(ha_n AS DOUBLE) * CAST(hb_n AS DOUBLE)), 6)
       END AS nmi
FROM agg ORDER BY col_a, col_b
"""


PF_MI_SQL = _pf_mi_sql()


# --- Deterministic shard shuffle (round 10) --------------------------------

SHARD_N = 16
SHARD_SEED = 7


def mx_shard_shuffle(spark, sf_dir):
    """Deterministic training-export shuffle (operators.sampling.
    shard_shuffle): portable-hash shard assignment + within-shard
    position over documents — one draw projection + the one shard-keyed
    exchange the physical shard write needs anyway."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        shard_shuffle,
    )

    return shard_shuffle(
        T(spark, sf_dir, "documents").select("doc_id"),
        "doc_id",
        n_shards=SHARD_N,
        seed=SHARD_SEED,
    )


MX_SHARD_SQL = f"""
WITH drawn AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substring(md5(
             CAST(doc_id AS VARCHAR) || ':{SHARD_SEED}'), 1, 15))
             AS UBIGINT) AS BIGINT) AS h
  FROM documents)
SELECT doc_id,
       CAST(h % {SHARD_N} AS INTEGER) AS shard,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY h % {SHARD_N} ORDER BY h, doc_id) - 1
           AS BIGINT) AS pos
FROM drawn
"""


# --- Purged temporal split (round 10) --------------------------------------

TSPLIT_LO = 700000
TSPLIT_HI = 850000
TSPLIT_EMBARGO_S = 86400


def mx_time_split(spark, sf_dir):
    """Purged temporal train/val/test audit (operators.sampling.
    time_split) over the events stream: exact ppm-quantile cut instants
    (two-phase histogram, driver-bounded), a 1-day embargo horizon
    after each cut to the audit bucket, per-split row counts and time
    ranges."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        time_split,
    )

    return time_split(
        T(spark, sf_dir, "events"),
        "ts",
        boundaries_ppm=(TSPLIT_LO, TSPLIT_HI),
        embargo_s=TSPLIT_EMBARGO_S,
    )


MX_TSPLIT_SQL = f"""
WITH m AS (
  SELECT CAST(epoch_us(ts) AS DOUBLE) AS t, ts FROM events
  WHERE ts IS NOT NULL),
cuts AS (
  SELECT ROUND(CAST(quantile_cont(t, {TSPLIT_LO / 1e6}) AS DOUBLE), 6)
             AS c1,
         ROUND(CAST(quantile_cont(t, {TSPLIT_HI / 1e6}) AS DOUBLE), 6)
             AS c2
  FROM m),
assigned AS (
  SELECT CASE WHEN t <= c1 THEN 'train'
              WHEN t <= c1 + {TSPLIT_EMBARGO_S}.0 * 1e6 THEN 'embargo'
              WHEN t <= c2 THEN 'val'
              WHEN t <= c2 + {TSPLIT_EMBARGO_S}.0 * 1e6 THEN 'embargo'
              ELSE 'test' END AS split,
         ts
  FROM m CROSS JOIN cuts)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(ts) AS min_ts, MAX(ts) AS max_ts
FROM assigned GROUP BY split ORDER BY split
"""


# --- Round-10 wave 29: ANOVA, snippets, dedup weights -----------------------

SNIPPET_WINDOW = 12


def pf_anova(spark, sf_dir):
    """One-way ANOVA across order priorities (operators.profiling.
    anova_oneway): does the priority grouping explain price/quantity
    variance at all — the k-group gate before pf_ab_test's pairwise
    Welch drill-down. Whole-unit integer moments, per-group between-sum
    terms re-pinned to integers before the k-bounded sum."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        anova_oneway,
    )

    o = T(spark, sf_dir, "orders")
    return anova_oneway(o, "o_orderpriority", ["o_totalprice"])


PF_ANOVA_SQL = """
WITH long AS (
  SELECT CAST(o_orderpriority AS VARCHAR) AS g,
         CAST(ROUND(CAST(o_totalprice AS DOUBLE), 0) AS BIGINT) AS x
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
moments AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2
  FROM long GROUP BY g),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(s1) AS BIGINT) AS S1,
         CAST(SUM(s2) AS BIGINT) AS S2,
         CAST(SUM(CAST(ROUND(
             CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
             / CAST(n AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS B
  FROM moments)
SELECT 'o_totalprice' AS col_name, k, n,
       CASE WHEN k > 1 AND CAST(n AS DOUBLE) > CAST(k AS DOUBLE)
                 AND (CAST(S2 AS DOUBLE)
                      - CAST(S1 AS DOUBLE) * CAST(S1 AS DOUBLE)
                        / CAST(n AS DOUBLE))
                     - (CAST(B AS DOUBLE)
                        - CAST(S1 AS DOUBLE) * CAST(S1 AS DOUBLE)
                          / CAST(n AS DOUBLE)) > 0
       THEN ROUND(
           ((CAST(B AS DOUBLE)
             - CAST(S1 AS DOUBLE) * CAST(S1 AS DOUBLE)
               / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1))
           / (((CAST(S2 AS DOUBLE)
                - CAST(S1 AS DOUBLE) * CAST(S1 AS DOUBLE)
                  / CAST(n AS DOUBLE))
               - (CAST(B AS DOUBLE)
                  - CAST(S1 AS DOUBLE) * CAST(S1 AS DOUBLE)
                    / CAST(n AS DOUBLE)))
              / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6)
       END AS f_stat,
       CASE WHEN CAST(S2 AS DOUBLE)
                 - CAST(S1 AS DOUBLE) * CAST(S1 AS DOUBLE)
                   / CAST(n AS DOUBLE) > 0
       THEN ROUND(
           (CAST(B AS DOUBLE)
            - CAST(S1 AS DOUBLE) * CAST(S1 AS DOUBLE)
              / CAST(n AS DOUBLE))
           / (CAST(S2 AS DOUBLE)
              - CAST(S1 AS DOUBLE) * CAST(S1 AS DOUBLE)
                / CAST(n AS DOUBLE)), 6)
       END AS eta_sq,
       ROUND(CAST(B AS DOUBLE)
             - CAST(S1 AS DOUBLE) * CAST(S1 AS DOUBLE)
               / CAST(n AS DOUBLE), 6) AS ss_between,
       ROUND((CAST(S2 AS DOUBLE)
              - CAST(S1 AS DOUBLE) * CAST(S1 AS DOUBLE)
                / CAST(n AS DOUBLE))
             - (CAST(B AS DOUBLE)
                - CAST(S1 AS DOUBLE) * CAST(S1 AS DOUBLE)
                  / CAST(n AS DOUBLE)), 6) AS ss_within
FROM agg ORDER BY col_name
"""


def rt_snippet_extract(spark, sf_dir):
    """Best-window snippet per matching document (operators.retrieval.
    snippet_extract) for the BM25 demo query — the result-page
    highlight stage: rolling query-hit count over the one doc-keyed
    exchange, earliest-max argmax, span re-sliced from the scan-rooted
    token projection."""
    from calp_cva_tracking_pipeline_spark.operators.retrieval import (
        snippet_extract,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return snippet_extract(
        d, "doc_id", "text", BM25_QUERY, window=SNIPPET_WINDOW
    )


RT_SNIPPET_SQL = rf"""
WITH tl AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE text IS NOT NULL),
pos AS (
  SELECT doc_id, i - 1 AS p,
         CASE WHEN lower(toks[i]) IN ({_BM25_TERMS}) THEN 1 ELSE 0 END
             AS q
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks))) AS i
        FROM tl) t),
scored AS (
  SELECT doc_id, p,
         SUM(q) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW
                      AND {SNIPPET_WINDOW - 1} FOLLOWING) AS hits
  FROM pos),
best AS (
  SELECT doc_id, p, hits FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY hits DESC, p ASC) AS rn
    FROM scored) s
  WHERE rn = 1 AND hits >= 1)
SELECT t.doc_id,
       CAST(b.p + 1 AS BIGINT) AS best_pos,
       CAST(b.hits AS BIGINT) AS hits,
       array_to_string(
           t.toks[b.p + 1 : b.p + {SNIPPET_WINDOW}], ' ') AS snippet
FROM tl t JOIN best b ON t.doc_id = b.doc_id
ORDER BY t.doc_id
"""


def mx_dedup_weights(spark, sf_dir):
    """Duplication-aware sampling weights (operators.dedup.
    dedup_weights): weight_ppm = 1e6 / exact-dup family size per
    document — the count-once soft alternative to dropping duplicates;
    one md5-keyed window over one digest exchange."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        dedup_weights,
    )

    return dedup_weights(
        T(spark, sf_dir, "documents"), "doc_id", "text"
    ).orderBy("doc_id")


MX_DEDUP_W_SQL = """
WITH fam AS (
  SELECT doc_id,
         CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT)
             AS family_size
  FROM documents WHERE text IS NOT NULL)
SELECT doc_id, family_size,
       CAST(ROUND(1e6 / CAST(family_size AS DOUBLE), 0) AS BIGINT)
           AS weight_ppm
FROM fam ORDER BY doc_id
"""


# --- ANN recall eval (round 10): the documented IVF recall tradeoff as a
# driver-gated measured number, not a docstring claim ------------------------


def ann_recall_eval(spark, sf_dir):
    """Recall@k of the IVF index against exact brute force at the
    catalog operating point (nprobe={np}, {nc} centroids, k={k}) — the
    'measure, don't guess' readout for the ANN tier: both retrievers
    run their production paths, ground truth is the exact ranking, and
    the one-row answer is the number SCALE.md's recall discussion
    cites. Left join on (query, neighbor) over two k·|Q|-bounded
    result sets — the eval costs nothing next to the searches."""
    brute = ann_brute_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    ivf = ann_ivf_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("__n"), F.lit(1).alias("__h")
    )
    joined = brute.join(
        ivf,
        (brute["query_id"] == ivf["query_id"])
        & (brute["neighbor_id"] == ivf["__n"]),
        "left",
    ).select(F.coalesce(F.col("__h"), F.lit(0)).alias("__hit"))
    return joined.agg(
        F.lit(TOP_K).cast("bigint").alias("k"),
        F.lit(IVF_NPROBE).cast("bigint").alias("nprobe"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.coalesce(F.sum("__hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.round(
                F.coalesce(F.sum("__hit"), F.lit(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ),
        ).alias("recall_at_k"),
    )


ann_recall_eval.__doc__ = ann_recall_eval.__doc__.format(
    np=IVF_NPROBE, nc=IVF_CENTROIDS, k=TOP_K
)


ANN_RECALL_SQL = f"""
WITH b AS ({ANN_BRUTE_SQL}),
v AS ({ANN_IVF_SQL}),
h AS (
  SELECT CASE WHEN v.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM b LEFT JOIN v
    ON b.query_id = v.query_id AND b.neighbor_id = v.neighbor_id)
SELECT CAST({TOP_K} AS BIGINT) AS k,
       CAST({IVF_NPROBE} AS BIGINT) AS nprobe,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_hit,
       CASE WHEN COUNT(*) > 0 THEN ROUND(
           CAST(COALESCE(SUM(hit), 0) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE), 6) END AS recall_at_k
FROM h
"""


# --- Round-10 wave 30: embedding outlier screen + token budget fill --------

OUTLIER_FLAG_PPM = 50000  # per-cell top 5% by distance
TOKBUDGET = 3000  # tokens per source


def emb_outlier_screen(spark, sf_dir):
    """Embedding-space curation screen (operators.similarity.
    embedding_outliers): squared distance to the assigned IVF-quantizer
    centroid, per-cell top-5%% ceil-rank flagged as out-of-manifold;
    per-cell counts + the cut/max distances. Same lowest-id quantizer
    as the ANN tier, so a persisted index screens without
    re-clustering."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        embedding_outliers,
    )

    return embedding_outliers(
        T(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        n_centroids=IVF_CENTROIDS,
        flag_ppm=OUTLIER_FLAG_PPM,
    )


EMB_OUTLIER_SQL = f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT CAST(vec_id AS BIGINT) AS centroid_id, v AS cv
  FROM c ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
assign AS (
  SELECT vec_id, centroid_id AS cell, d2 FROM (
    SELECT a.vec_id, cent.centroid_id,
           ROUND({_D2.format(a='a.v', b='cent.cv')}, 6) AS d2,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY {_D2.format(a='a.v', b='cent.cv')},
                      cent.centroid_id) AS rn
    FROM c a CROSS JOIN cent) t
  WHERE rn = 1),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY cell
                            ORDER BY d2 DESC, vec_id ASC) AS rnk,
         COUNT(*) OVER (PARTITION BY cell) AS nc
  FROM assign)
SELECT cell,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN rnk <= ({OUTLIER_FLAG_PPM} * nc + 999999)
                // 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       MIN(CASE WHEN rnk <= ({OUTLIER_FLAG_PPM} * nc + 999999) // 1000000
           THEN d2 END) AS cut_d2,
       MAX(d2) AS max_d2
FROM ranked GROUP BY cell ORDER BY cell
"""


def mx_token_budget(spark, sf_dir):
    """Budgeted quota fill (operators.sampling.token_budget_select):
    per source, keep the (n_chars desc, doc_id) prefix of documents
    whose cumulative whitespace-token count fits the {b}-token budget —
    which documents supply each domain's token quota."""
    from calp_cva_tracking_pipeline_spark.functions.text import (
        token_count,
    )
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        token_budget_select,
    )

    d = T(spark, sf_dir, "documents")
    return token_budget_select(
        d.filter(F.col("text").isNotNull()),
        "doc_id",
        "source",
        token_count(F.col("text")),
        F.col("n_chars"),
        budget=TOKBUDGET,
    )


mx_token_budget.__doc__ = mx_token_budget.__doc__.format(b=TOKBUDGET)


MX_TOKBUDGET_SQL = rf"""
WITH base AS (
  SELECT doc_id, source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS tok,
         n_chars
  FROM documents
  WHERE text IS NOT NULL AND source IS NOT NULL),
cum AS (
  SELECT *,
         SUM(tok) OVER (PARTITION BY source
                        ORDER BY n_chars DESC, doc_id ASC
                        ROWS UNBOUNDED PRECEDING) AS c
  FROM base)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN c <= {TOKBUDGET} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       CAST(SUM(tok) AS BIGINT) AS tokens_total,
       CAST(COALESCE(SUM(CASE WHEN c <= {TOKBUDGET} THEN tok END), 0)
           AS BIGINT) AS tokens_kept,
       CAST(ROUND(CAST(COALESCE(
           SUM(CASE WHEN c <= {TOKBUDGET} THEN tok END), 0) AS DOUBLE)
           * 1e6 / {float(TOKBUDGET)}, 0) AS BIGINT) AS fill_ppm
FROM cum GROUP BY source ORDER BY source
"""


# --- Round-10 wave 31: normalized dedup + multi-source BFS ------------------

NORM_VARIANT_OFFSET = 1_000_000  # synthetic variant ids live above docs
BFS_SOURCES_MAX = 20  # suppliers with suppkey < this seed the BFS
BFS_ITERS = 3


def dd_norm_exact(spark, sf_dir):
    """Normalized-exact duplicate families (operators.dedup.
    dedup_normalized) over the documents corpus AUGMENTED with
    deterministic re-encoded copies (every 5th doc gains an UPPERCASED,
    punctuation-suffixed variant — the same derive-from-testdata
    discipline as the multimodal corpora, since the raw corpus carries
    no case/punct variants at sf0.01): families with
    n_exact_distinct > 1 are exactly the duplicate mass byte-exact
    dedup misses. One digest groupBy, no pair expansion."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        dedup_normalized,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    variants = d.filter(
        (F.col("doc_id") % 5 == 0) & F.col("text").isNotNull()
    ).select(
        (F.col("doc_id") + NORM_VARIANT_OFFSET).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
    )
    return dedup_normalized(d.unionByName(variants), "doc_id", "text")


_NORM_EXPR = (
    r"md5(regexp_replace(trim(regexp_replace(regexp_replace("
    r"lower(text), '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')),"
    r" '\s+', ' ', 'g'))"
)

DD_NORM_SQL = rf"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {NORM_VARIANT_OFFSET}, upper(text) || ' !!'
  FROM documents WHERE doc_id % 5 = 0 AND text IS NOT NULL),
base AS (
  SELECT doc_id, {_NORM_EXPR} AS norm_hash, md5(text) AS raw
  FROM aug WHERE text IS NOT NULL)
SELECT norm_hash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS rep_id,
       CAST(COUNT(DISTINCT raw) AS BIGINT) AS n_exact_distinct
FROM base GROUP BY norm_hash
HAVING COUNT(*) >= 2
ORDER BY norm_hash
"""


def gr_bfs(spark, sf_dir):
    """Multi-source BFS layers (operators.graph.bfs_layers) over the
    supplier↔part co-purchase graph, seeded from the lowest-keyed
    suppliers: (node, dist <= 3) — the seed-set expansion / blast-radius
    primitive next to the ranking and cohesion tiers. Node-sized state
    checkpoints per round (the kcore bounded-state discipline), so the
    plan is one round deep at any n_iter."""
    from calp_cva_tracking_pipeline_spark.operators.graph import bfs_layers

    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + PR_PART_OFFSET).alias("dst"),
    )
    sources = li.filter(F.col("l_suppkey") < BFS_SOURCES_MAX).select(
        F.col("l_suppkey").alias("node")
    )
    return bfs_layers(edges, sources, n_iter=BFS_ITERS)


def _gr_bfs_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.graph import bfs_sql

    edges = (
        f"SELECT l_suppkey AS src,"
        f" l_partkey + {PR_PART_OFFSET} AS dst FROM lineitem"
    )
    sources = (
        f"SELECT l_suppkey AS node FROM lineitem"
        f" WHERE l_suppkey < {BFS_SOURCES_MAX}"
    )
    return bfs_sql(edges, sources, n_iter=BFS_ITERS)


GR_BFS_SQL = _gr_bfs_sql()


# --- Round-10 wave 32: classifier eval metrics as a gated row ---------------


def ml_class_metrics(spark, sf_dir):
    """Per-class precision/recall/F1 of the language-ID heuristic
    against the corpus gold labels (operators.sampling.
    classification_metrics — the reference trainer's metric block,
    SURVEY §2.11 M2, as a cluster job): ONE scan, ONE shuffle via the
    actual/predicted unpivot. Floats round to 6 dp in this projection
    (the operator returns raw doubles for composition)."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        classification_metrics,
    )
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        lang_id_heuristic,
    )

    d = T(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", F.lit("en"))
        .otherwise(F.lit("unk"))
        .alias("gold"),
        lang_id_heuristic(F.col("text")).alias("pred"),
    )
    m = classification_metrics(d, "gold", "pred")
    return m.select(
        "label",
        F.col("support").cast("bigint").alias("support"),
        F.col("predicted").cast("bigint").alias("predicted"),
        F.col("tp").cast("bigint").alias("tp"),
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    ).orderBy("label")


ML_METRICS_SQL = f"""
WITH lab AS (
  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'unk' END AS gold,
         CASE WHEN {_SW_RATIO} > 0.05 THEN 'en' ELSE 'unk' END AS pred
  FROM documents),
rec AS (
  SELECT gold AS class, 'a' AS role, (pred = gold) AS match FROM lab
  UNION ALL
  SELECT pred, 'p', FALSE FROM lab),
agg AS (
  SELECT class AS label,
         CAST(COUNT(CASE WHEN role = 'a' THEN 1 END) AS BIGINT)
             AS support,
         CAST(COUNT(CASE WHEN role = 'p' THEN 1 END) AS BIGINT)
             AS predicted,
         CAST(COUNT(CASE WHEN role = 'a' AND match THEN 1 END)
             AS BIGINT) AS tp
  FROM rec GROUP BY class),
pr AS (
  SELECT *,
         CASE WHEN predicted > 0
              THEN CAST(tp AS DOUBLE) / predicted END AS p,
         CASE WHEN support > 0
              THEN CAST(tp AS DOUBLE) / support END AS r
  FROM agg)
SELECT label, support, predicted, tp,
       ROUND(p, 6) AS precision, ROUND(r, 6) AS recall,
       CASE WHEN p IS NOT NULL AND r IS NOT NULL AND p + r > 0
            THEN ROUND(2 * p * r / (p + r), 6) END AS f1
FROM pr ORDER BY label
"""


# --- Round-10 wave 33: spatial radius join ----------------------------------

GEO_RADIUS_KM = 500.0
GEO_MAX_LAT = 60.0


def _geo_coords(df, id_col: str, tag: str):
    """Deterministic lat/lon in the ±60° band from engine-portable md5
    expressions (the derive-from-testdata discipline — the star schema
    carries no coordinates)."""
    h60 = "CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"
    hlat = h60.format(
        s=f"concat('{tag}lat|', CAST({id_col} AS STRING))"
    )
    hlon = h60.format(
        s=f"concat('{tag}lon|', CAST({id_col} AS STRING))"
    )
    return df.select(
        F.col(id_col),
        F.expr(f"({hlat} % 120000000) / 1e6 - 60").alias("lat"),
        F.expr(f"({hlon} % 360000000) / 1e6 - 180").alias("lon"),
    )


def gx_radius_join(spark, sf_dir):
    """Grid-bucketed spatial radius join (operators.geo.radius_join):
    every (supplier, customer) pair within 500 km over deterministic
    md5-derived coordinates — the 2-D sibling of tj_range_join's bin
    trick: one cell-keyed equi-join (probes explode ×9 to the 3×3 cell
    neighborhood), haversine as a residual filter, never a cross
    join."""
    from calp_cva_tracking_pipeline_spark.operators.geo import radius_join

    pts = _geo_coords(
        T(spark, sf_dir, "customer").select("c_custkey"), "c_custkey", "c"
    )
    prb = _geo_coords(
        T(spark, sf_dir, "supplier").select("s_suppkey"), "s_suppkey", "s"
    )
    return radius_join(
        pts,
        prb,
        radius_km=GEO_RADIUS_KM,
        point_cols=("c_custkey", "lat", "lon"),
        probe_cols=("s_suppkey", "lat", "lon"),
        max_abs_lat=GEO_MAX_LAT,
    )


def _gx_radius_sql() -> str:
    import math as _m

    lat_cell = GEO_RADIUS_KM / 111.32
    lon_cell = GEO_RADIUS_KM / (111.32 * _m.cos(_m.radians(GEO_MAX_LAT)))
    h60 = (
        "CAST(CAST(('0x' || substring(md5({s}), 1, 15)) AS UBIGINT)"
        " AS BIGINT)"
    )
    clat = h60.format(s="'clat|' || CAST(c_custkey AS VARCHAR)")
    clon = h60.format(s="'clon|' || CAST(c_custkey AS VARCHAR)")
    slat = h60.format(s="'slat|' || CAST(s_suppkey AS VARCHAR)")
    slon = h60.format(s="'slon|' || CAST(s_suppkey AS VARCHAR)")
    hav = (
        "ROUND(2.0 * 6371.0088 * ASIN(SQRT("
        "SIN(RADIANS(p.lat - q.lat) / 2) * SIN(RADIANS(p.lat - q.lat) / 2)"
        " + COS(RADIANS(q.lat)) * COS(RADIANS(p.lat))"
        " * SIN(RADIANS(p.lon - q.lon) / 2)"
        " * SIN(RADIANS(p.lon - q.lon) / 2))), 6)"
    )
    return f"""
WITH pts AS (
  SELECT c_custkey,
         ({clat} % 120000000) / 1e6 - 60 AS lat,
         ({clon} % 360000000) / 1e6 - 180 AS lon
  FROM customer),
prb AS (
  SELECT s_suppkey,
         ({slat} % 120000000) / 1e6 - 60 AS lat,
         ({slon} % 360000000) / 1e6 - 180 AS lon
  FROM supplier),
p AS (SELECT *, CAST(FLOOR(lat / {lat_cell!r}) AS BIGINT) AS cy,
             CAST(FLOOR(lon / {lon_cell!r}) AS BIGINT) AS cx
      FROM pts WHERE ABS(lat) <= {GEO_MAX_LAT}),
q AS (SELECT s_suppkey, lat, lon,
             CAST(FLOOR(lat / {lat_cell!r}) AS BIGINT) + dy AS cy,
             CAST(FLOOR(lc / {lon_cell!r}) AS BIGINT) + dx AS cx
      FROM prb, unnest([-1, 0, 1]) AS t1(dy),
                unnest([-1, 0, 1]) AS t2(dx),
                unnest([lon,
                        CASE WHEN lon > 180 - CAST({2.0 * lon_cell!r}
                                                   AS DOUBLE)
                             THEN lon - 360 END,
                        CASE WHEN lon < -180 + CAST({2.0 * lon_cell!r}
                                                    AS DOUBLE)
                             THEN lon + 360 END]) AS t3(lc)
      WHERE ABS(lat) <= {GEO_MAX_LAT} AND lc IS NOT NULL)
SELECT q.s_suppkey AS probe_id, p.c_custkey AS point_id,
       {hav} AS dist_km
FROM q JOIN p USING (cy, cx)
WHERE {hav} <= {GEO_RADIUS_KM!r}
ORDER BY probe_id, point_id
"""


GX_RADIUS_SQL = _gx_radius_sql()


def gx_nearest(spark, sf_dir):
    """Bounded-radius nearest neighbor per supplier (operators.geo.
    nearest_point): the spatial as-of join — one probe-keyed argmin
    window over the radius join's candidate set; suppliers with no
    customer within 500 km are omitted by contract."""
    from calp_cva_tracking_pipeline_spark.operators.geo import (
        nearest_point,
    )

    pts = _geo_coords(
        T(spark, sf_dir, "customer").select("c_custkey"), "c_custkey", "c"
    )
    prb = _geo_coords(
        T(spark, sf_dir, "supplier").select("s_suppkey"), "s_suppkey", "s"
    )
    return nearest_point(
        pts,
        prb,
        radius_km=GEO_RADIUS_KM,
        point_cols=("c_custkey", "lat", "lon"),
        probe_cols=("s_suppkey", "lat", "lon"),
        max_abs_lat=GEO_MAX_LAT,
    )


GX_NEAREST_SQL = f"""
WITH cand AS ({GX_RADIUS_SQL})
SELECT probe_id, point_id, dist_km FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                               ORDER BY dist_km ASC, point_id ASC) AS rn
  FROM cand) t
WHERE rn = 1 ORDER BY probe_id
"""

GX_KNN_K = 3


def gx_knn_join(spark, sf_dir):
    """Spatial k-NN join (operators.geo.knn_points): the 3 nearest
    customers per supplier within the 500 km service radius —
    nearest_point generalized past its argmin (dispatch candidates,
    k-redundant assignment); same grid-cell radius join, one
    probe-keyed rank cut, sparse neighborhoods return < k rows by
    contract."""
    from calp_cva_tracking_pipeline_spark.operators.geo import knn_points

    pts = _geo_coords(
        T(spark, sf_dir, "customer").select("c_custkey"), "c_custkey", "c"
    )
    prb = _geo_coords(
        T(spark, sf_dir, "supplier").select("s_suppkey"), "s_suppkey", "s"
    )
    return knn_points(
        pts,
        prb,
        radius_km=GEO_RADIUS_KM,
        k=GX_KNN_K,
        point_cols=("c_custkey", "lat", "lon"),
        probe_cols=("s_suppkey", "lat", "lon"),
        max_abs_lat=GEO_MAX_LAT,
    )


GX_KNN_SQL = f"""
WITH cand AS ({GX_RADIUS_SQL})
SELECT probe_id, point_id, dist_km, CAST(rn AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                               ORDER BY dist_km ASC, point_id ASC) AS rn
  FROM cand) t
WHERE rn <= {GX_KNN_K} ORDER BY probe_id, rank
"""


# --- Round-10 capstone: the one-row dataset card -----------------------------

CARD_SHORT_TOKENS = 20


def pf_dataset_card(spark, sf_dir):
    """One-row dataset card (operators.profiling.dataset_card): corpus
    size, token mass, exact-dup ppm, language entropy, shortness — the
    release summary a consumer reads before any per-column drill-down.
    Two bounded stages; language entropy nano-pinned."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        dataset_card,
    )

    return dataset_card(
        T(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        "lang",
        "source",
        short_tokens=CARD_SHORT_TOKENS,
    )


PF_CARD2_SQL = rf"""
WITH base AS (
  SELECT doc_id, text, lang, source,
         CASE WHEN text IS NULL THEN NULL
              WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS tok
  FROM documents),
main AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(COALESCE(SUM(tok), 0) AS BIGINT) AS total_tokens,
         CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS total_chars,
         CAST(COUNT(text) AS BIGINT) AS n_text,
         CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dig,
         CAST(COALESCE(SUM(CASE WHEN tok < {CARD_SHORT_TOKENS}
             THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_short
  FROM base),
lc AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM base
  WHERE lang IS NOT NULL GROUP BY lang),
ent AS (
  SELECT CAST(COALESCE(SUM(CAST(ROUND(ROUND(
             (CAST(c AS DOUBLE) / t) * LN(CAST(c AS DOUBLE) / t)
             * -1.0, 9) * 1e9, 0) AS BIGINT)), 0) AS BIGINT) AS e
  FROM (SELECT c, SUM(c) OVER () AS t FROM lc))
SELECT n_docs, n_sources, n_langs, total_tokens, total_chars,
       CASE WHEN n_text > 0 THEN CAST(ROUND(
           (1.0 - CAST(n_dig AS DOUBLE) / CAST(n_text AS DOUBLE)) * 1e6,
           0) AS BIGINT) END AS exact_dup_ppm,
       ROUND(CAST(e AS DOUBLE) / 1e9, 6) AS lang_entropy_nats,
       CASE WHEN n_text > 0 THEN ROUND(
           CAST(total_tokens AS DOUBLE) / CAST(n_text AS DOUBLE), 6)
       END AS mean_doc_tokens,
       CASE WHEN n_text > 0 THEN CAST(ROUND(
           CAST(n_short AS DOUBLE) * 1e6 / CAST(n_text AS DOUBLE), 0)
           AS BIGINT) END AS short_doc_ppm
FROM main CROSS JOIN ent
"""


# --- Round-10 video tier: FRSQ scene cuts -----------------------------------

VSEQ_W = VSEQ_H = 8
VSEQ_FRAMES = 8
VSEQ_CUT_MILLI = 20000  # 20 luma levels — a hard cut


def mm_scene_cuts(spark, sf_dir):
    """Scene-cut detection over REAL frame-sequence containers
    (operators.videoseq.scene_cuts): every document becomes an 8-frame
    FRSQ video of REAL BMP frames with two md5-derived scenes — scene 1
    is ~128 luma brighter, the cut frame is (doc_id·13) % 6 + 1, and
    per-frame jitter stays an order of magnitude under the threshold —
    so each video carries exactly one hard cut for the pipeline to
    find. The oracle recomputes the frame pixels and the integer
    milli-luma lag in SQL: parity proves container encode → parse →
    per-frame decode is pixel-identity AND the temporal math matches.
    Decode is the only Python stage (one mapInPandas pass emitting one
    integer stat row per frame)."""
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from calp_cva_tracking_pipeline_spark.operators.videoseq import (
        scene_cuts,
        synthesize_frsq_payloads,
    )

    d = spread_small_input(T(spark, sf_dir, "documents").select("doc_id"))
    npx = VSEQ_W * VSEQ_H
    h60 = "CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"
    scene = "IF(f >= (doc_id * 13) % 6 + 1, 1, 0)"
    vs = h60.format(
        s="concat('vf|', CAST(doc_id AS STRING), '|',"
        f" CAST({scene} AS STRING),"
        " '|', CAST(p AS STRING))"
    )
    vj = h60.format(
        s="concat('vj|', CAST(doc_id AS STRING), '|', CAST(f AS STRING),"
        " '|', CAST(p AS STRING))"
    )
    pixel = (
        f"CAST(({vs}) % 112 + 128 * ({scene}) + ({vj}) % 16 AS INT)"
    )
    synth = d.select(
        "doc_id",
        F.expr(
            f"""transform(sequence(0, {VSEQ_FRAMES - 1}), f ->
                  transform(sequence(0, {npx - 1}), p -> {pixel}))"""
        ).alias("frames"),
    )
    vids = synthesize_frsq_payloads(
        synth, "doc_id", "frames", VSEQ_W, VSEQ_H
    )
    return scene_cuts(
        vids, "doc_id", "payload", threshold_milli=VSEQ_CUT_MILLI
    )


MM_SCENE_SQL = f"""
WITH fr AS (SELECT unnest(generate_series(0, {VSEQ_FRAMES - 1})) AS f),
px AS (SELECT unnest(generate_series(0, {VSEQ_W * VSEQ_H - 1})) AS p),
cells AS (
  SELECT doc_id, f, p,
         CASE WHEN f >= (doc_id * 13) % 6 + 1 THEN 1 ELSE 0 END AS s
  FROM documents CROSS JOIN fr CROSS JOIN px),
vals AS (
  SELECT doc_id, f,
         CAST(CAST(('0x' || substring(md5('vf|' ||
             CAST(doc_id AS VARCHAR) || '|' || CAST(s AS VARCHAR) ||
             '|' || CAST(p AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)
             % 112
         + 128 * s
         + CAST(CAST(('0x' || substring(md5('vj|' ||
             CAST(doc_id AS VARCHAR) || '|' || CAST(f AS VARCHAR) ||
             '|' || CAST(p AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)
             % 16 AS v
  FROM cells),
means AS (
  SELECT doc_id AS media_id, f AS frame_idx,
         (1000 * CAST(SUM(v) AS BIGINT)) // {VSEQ_W * VSEQ_H}
             AS mean_milli
  FROM vals GROUP BY doc_id, f),
lagged AS (
  SELECT *, LAG(mean_milli) OVER (PARTITION BY media_id
                                  ORDER BY frame_idx) AS prev_mean_milli
  FROM means)
SELECT media_id, frame_idx, prev_mean_milli, mean_milli
FROM lagged
WHERE prev_mean_milli IS NOT NULL
  AND ABS(mean_milli - prev_mean_milli) >= {VSEQ_CUT_MILLI}
ORDER BY media_id, frame_idx
"""


# --- Round-10 wave 35: lexical diversity + behavioral entropy rate ---------


def tx_ttr(spark, sf_dir):
    """Per-source lexical diversity (operators.textops.
    lexical_diversity): type-token ratio + hapax share — the
    repetitiveness readout templated/synthetic text fails first. One
    tokenize pass, type-level exchange, group readout."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        lexical_diversity,
    )

    return lexical_diversity(
        T(spark, sf_dir, "documents"), "text", "source"
    )


TX_TTR_SQL = rf"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+'))
             AS tok
  FROM documents WHERE text IS NOT NULL),
per_type AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE tok <> '' GROUP BY source, tok),
agg AS (
  SELECT source,
         CAST(SUM(tf) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS hapax_types
  FROM per_type GROUP BY source)
SELECT source, n_tokens, n_types,
       CASE WHEN n_tokens > 0 THEN ROUND(
           CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
       END AS ttr,
       hapax_types,
       CASE WHEN n_types > 0 THEN ROUND(
           CAST(hapax_types AS DOUBLE) / CAST(n_types AS DOUBLE), 6)
       END AS hapax_ratio
FROM agg ORDER BY source
"""


def ev_markov_entropy(spark, sf_dir):
    """Per-state transition entropy of the behavioral Markov chain
    (one row per from_type: out-degree, transitions, entropy_nats 6dp
    nano-pinned) — how PREDICTABLE each state's next step is (a
    near-zero-entropy state is a deterministic funnel edge; a max-
    entropy state is noise). Rides the ev_transitions bigram exchange:
    one user-keyed lead window, one (from, to) count, entropy terms
    pinned per cell before the from-keyed sum."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        transition_matrix,
    )

    from pyspark.sql import Window

    t = transition_matrix(
        T(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "event_type",
        tiebreak_cols=["event_id"],
    )
    w = Window.partitionBy("from_type")
    frac = F.col("n_transitions").cast("double") / F.sum(
        "n_transitions"
    ).over(w).cast("double")
    ent_nano = F.round(
        F.round(frac * F.log(frac) * F.lit(-1.0), 9) * 1e9, 0
    ).cast("long")
    return (
        t.select("from_type", "n_transitions", ent_nano.alias("__e"))
        .groupBy("from_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("out_degree"),
            F.sum("n_transitions").cast("bigint").alias("n_transitions"),
            F.round(
                F.coalesce(F.sum("__e"), F.lit(0)).cast("double") / 1e9,
                6,
            ).alias("entropy_nats"),
        )
        .orderBy("from_type")
    )


EV_MARKOV_ENT_SQL = """
WITH pairs AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events),
counted AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
t AS (
  SELECT from_type, n,
         CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type)
             AS frac
  FROM counted)
SELECT from_type,
       CAST(COUNT(*) AS BIGINT) AS out_degree,
       CAST(SUM(n) AS BIGINT) AS n_transitions,
       ROUND(CAST(COALESCE(SUM(CAST(ROUND(ROUND(
           frac * LN(frac) * -1.0, 9) * 1e9, 0) AS BIGINT)), 0)
           AS DOUBLE) / 1e9, 6) AS entropy_nats
FROM t GROUP BY from_type ORDER BY from_type
"""


# --- Round-10 wave 35b: spatial clustering (operators compose) --------------


GEO_CLUSTER_KM = 80.0


def gx_spatial_clusters(spark, sf_dir):
    """Proximity clusters: connected components over the 80 km radius
    pairs — DBSCAN-without-the-density-gate, and the cross-family
    composition proof (geo pair generation → dedup's min-label
    propagation, unchanged): venue/site records within mutual reach
    collapse to one cluster id. Output (node, component = min customer
    id reachable through the proximity graph), clustered customers
    only."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        connected_components,
    )

    from calp_cva_tracking_pipeline_spark.operators.geo import radius_join

    pts = _geo_coords(
        T(spark, sf_dir, "customer").select("c_custkey"), "c_custkey", "c"
    )
    # customer↔customer proximity pairs: the radius join with the same
    # scan-rooted frame on both sides (cheap re-scan, not derived-state
    # re-execution), each undirected pair kept once. The cluster radius
    # is deliberately SUBCRITICAL for the corpus density (~0.7 expected
    # neighbors per disc at sf0.1): continuum percolation above ~4.5
    # neighbors fuses the whole band into one giant component whose
    # diameter exceeds any fixed-iteration label-propagation budget —
    # cluster radii must sit below the percolation threshold or the
    # right tool is a grid pre-partition, not min-label propagation.
    pairs = radius_join(
        pts,
        pts,
        radius_km=GEO_CLUSTER_KM,
        point_cols=("c_custkey", "lat", "lon"),
        probe_cols=("c_custkey", "lat", "lon"),
        max_abs_lat=GEO_MAX_LAT,
    ).filter(F.col("probe_id") < F.col("point_id"))
    return connected_components(
        pairs, src_col="probe_id", dst_col="point_id"
    ).orderBy("node")


def _gx_clusters_sql() -> str:
    import math as _m

    lat_cell = GEO_CLUSTER_KM / 111.32
    lon_cell = GEO_CLUSTER_KM / (111.32 * _m.cos(_m.radians(GEO_MAX_LAT)))
    h60 = (
        "CAST(CAST(('0x' || substring(md5({s}), 1, 15)) AS UBIGINT)"
        " AS BIGINT)"
    )
    clat = h60.format(s="'clat|' || CAST(c_custkey AS VARCHAR)")
    clon = h60.format(s="'clon|' || CAST(c_custkey AS VARCHAR)")
    hav = (
        "ROUND(2.0 * 6371.0088 * ASIN(SQRT("
        "SIN(RADIANS(p.lat - q.lat) / 2) * SIN(RADIANS(p.lat - q.lat) / 2)"
        " + COS(RADIANS(q.lat)) * COS(RADIANS(p.lat))"
        " * SIN(RADIANS(p.lon - q.lon) / 2)"
        " * SIN(RADIANS(p.lon - q.lon) / 2))), 6)"
    )
    return f"""
WITH RECURSIVE pts AS (
  SELECT c_custkey,
         ({clat} % 120000000) / 1e6 - 60 AS lat,
         ({clon} % 360000000) / 1e6 - 180 AS lon
  FROM customer),
p AS (SELECT *, CAST(FLOOR(lat / {lat_cell!r}) AS BIGINT) AS cy,
             CAST(FLOOR(lon / {lon_cell!r}) AS BIGINT) AS cx
      FROM pts WHERE ABS(lat) <= {GEO_MAX_LAT}),
q AS (SELECT c_custkey, lat, lon,
             CAST(FLOOR(lat / {lat_cell!r}) AS BIGINT) + dy AS cy,
             CAST(FLOOR(lc / {lon_cell!r}) AS BIGINT) + dx AS cx
      FROM pts, unnest([-1, 0, 1]) AS t1(dy),
                unnest([-1, 0, 1]) AS t2(dx),
                unnest([lon,
                        CASE WHEN lon > 180 - CAST({2.0 * lon_cell!r}
                                                   AS DOUBLE)
                             THEN lon - 360 END,
                        CASE WHEN lon < -180 + CAST({2.0 * lon_cell!r}
                                                    AS DOUBLE)
                             THEN lon + 360 END]) AS t3(lc)
      WHERE ABS(lat) <= {GEO_MAX_LAT} AND lc IS NOT NULL),
pairs AS (
  SELECT DISTINCT q.c_custkey AS id_a, p.c_custkey AS id_b
  FROM q JOIN p USING (cy, cx)
  WHERE q.c_custkey < p.c_custkey AND {hav} <= {GEO_CLUSTER_KM!r}),
edges(src, dst) AS (
  SELECT id_a, id_b FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node)
SELECT node, MIN(comp) AS component FROM reach GROUP BY node
ORDER BY node
"""


GX_CLUSTERS_SQL = _gx_clusters_sql()


# --- Round-10 wave 35c: epoch plan -------------------------------------------

EPOCH_BUDGET = 200_000
EPOCH_MAX_MILLI = 3000  # at most 3 passes over any source
# deliberately skewed mixture with one absent source: src0 oversubscribed
# (forces the cap + a shortfall), the rest of the mass spread evenly
EPOCH_WEIGHTS = {"src0": 0.4, **{f"src{i}": 0.6 / 18 for i in range(1, 19)}}


def mx_epoch_plan(spark, sf_dir):
    """Per-source epoch plan (operators.sampling.epoch_plan) for a
    200k-token mixture: epochs = budget·weight / source_tokens in
    integer milli-passes, capped at 3 passes (the repeated-epochs
    memorization ceiling) with the unfilled shortfall surfaced; src19
    is deliberately absent from the weights (reported at zero target)
    and src0 deliberately oversubscribed (exercises cap + shortfall)."""
    from calp_cva_tracking_pipeline_spark.functions.text import (
        token_count,
    )
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        epoch_plan,
    )

    return epoch_plan(
        T(spark, sf_dir, "documents").filter(F.col("text").isNotNull()),
        "source",
        token_count(F.col("text")),
        weights=EPOCH_WEIGHTS,
        budget_tokens=EPOCH_BUDGET,
        max_epochs_milli=EPOCH_MAX_MILLI,
    )


def _mx_epoch_sql() -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN {float(v)!r}"
        for k, v in sorted(EPOCH_WEIGHTS.items())
    )
    return rf"""
WITH agg AS (
  SELECT source,
         CAST(COALESCE(SUM(CASE WHEN trim(text) = '' THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END), 0)
             AS BIGINT) AS source_tokens
  FROM documents
  WHERE text IS NOT NULL AND source IS NOT NULL
  GROUP BY source),
t AS (
  SELECT source, source_tokens,
         CAST(ROUND(CAST((CASE source {cases} ELSE 0.0 END) AS DOUBLE)
             * {EPOCH_BUDGET}, 0) AS BIGINT) AS target_tokens
  FROM agg),
e AS (
  SELECT *,
         LEAST(CASE WHEN source_tokens > 0
                    THEN CAST(FLOOR(CAST(target_tokens AS DOUBLE) * 1000
                         / source_tokens) AS BIGINT)
                    ELSE 0 END,
               {EPOCH_MAX_MILLI}) AS epochs_milli
  FROM t)
SELECT source, source_tokens, target_tokens, epochs_milli,
       (epochs_milli = {EPOCH_MAX_MILLI}) AS capped,
       CAST(GREATEST(target_tokens
            - (epochs_milli * source_tokens) // 1000, 0) AS BIGINT)
           AS shortfall_tokens
FROM e ORDER BY source
"""


MX_EPOCH_SQL = _mx_epoch_sql()


# --- Round-10 video frame dedup ----------------------------------------------


def mm_frame_dedup(spark, sf_dir):
    """Cross-video duplicate-frame groups (operators.videoseq.
    frame_dedup_groups) — shared intros/idents are the video tier's
    boilerplate: every 3 consecutive doc_ids share two md5-derived
    scenes (pixels keyed by grp = doc_id DIV 3, NO per-frame jitter)
    but cut at rank-shifted frames, so the same frames recur across a
    group's videos without whole-video identity. The digest is a
    DECODE-level identity (md5 of the comma-joined luma values), so
    the oracle recomputes it from the pixel formula in SQL — parity
    proves parse → per-frame decode pixel identity a second way."""
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from calp_cva_tracking_pipeline_spark.operators.videoseq import (
        frame_dedup_groups,
        synthesize_frsq_payloads,
    )

    d = spread_small_input(T(spark, sf_dir, "documents").select("doc_id"))
    npx = VSEQ_W * VSEQ_H
    h60 = "CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"
    scene = (
        "IF(f >= ((doc_id DIV 3) * 13 + (doc_id % 3) * 7) % 6 + 1, 1, 0)"
    )
    vg = h60.format(
        s="concat('vg|', CAST(doc_id DIV 3 AS STRING), '|',"
        f" CAST({scene} AS STRING),"
        " '|', CAST(p AS STRING))"
    )
    synth = d.select(
        "doc_id",
        F.expr(
            f"""transform(sequence(0, {VSEQ_FRAMES - 1}), f ->
                  transform(sequence(0, {npx - 1}), p ->
                    CAST(({vg}) % 256 AS INT)))"""
        ).alias("frames"),
    )
    vids = synthesize_frsq_payloads(
        synth, "doc_id", "frames", VSEQ_W, VSEQ_H
    )
    return frame_dedup_groups(vids, "doc_id", "payload", min_group=2)


MM_FRAME_DEDUP_SQL = f"""
WITH fr AS (SELECT unnest(generate_series(0, {VSEQ_FRAMES - 1})) AS f),
px AS (SELECT unnest(generate_series(0, {VSEQ_W * VSEQ_H - 1})) AS p),
cells AS (
  SELECT doc_id, f, p,
         CASE WHEN f >= ((doc_id // 3) * 13 + (doc_id % 3) * 7) % 6 + 1
              THEN 1 ELSE 0 END AS s
  FROM documents CROSS JOIN fr CROSS JOIN px),
vals AS (
  SELECT doc_id, f, p,
         CAST(CAST(('0x' || substring(md5('vg|' ||
             CAST(doc_id // 3 AS VARCHAR) || '|' ||
             CAST(s AS VARCHAR) || '|' || CAST(p AS VARCHAR)), 1, 15))
             AS UBIGINT) AS BIGINT) % 256 AS v
  FROM cells),
digs AS (
  SELECT doc_id AS m, f,
         md5('{VSEQ_W}x{VSEQ_H}:'
             || string_agg(CAST(v AS VARCHAR), ',' ORDER BY p)) AS digest
  FROM vals GROUP BY doc_id, f),
grp AS (
  SELECT digest AS frame_digest,
         CAST(COUNT(*) AS BIGINT) AS n_frames,
         CAST(COUNT(DISTINCT m) AS BIGINT) AS n_videos,
         MIN(m) AS rep_media
  FROM digs GROUP BY digest HAVING COUNT(*) >= 2)
SELECT g.frame_digest, g.n_frames, g.n_videos, g.rep_media,
       MIN(d.f) AS rep_frame
FROM grp g JOIN digs d
  ON d.digest = g.frame_digest AND d.m = g.rep_media
GROUP BY g.frame_digest, g.n_frames, g.n_videos, g.rep_media
ORDER BY g.frame_digest
"""


MOTIF_N = 3
MOTIF_MIN_SUPPORT = 5
MOTIF_TOP_K = 20


def ev_motifs(spark, sf_dir):
    """Frequent length-3 behavioral motifs (operators.funnel.
    sequence_motifs): the n-gram extension of the ev_transitions bigram
    matrix — trigrams form with two stacked leads over ONE user-keyed
    exchange (no self-joins), count map-side-combined at ≤|types|³
    cardinality, deterministic (count DESC, motif) top-K cut."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        sequence_motifs,
    )

    return sequence_motifs(
        T(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "event_type",
        tiebreak_cols=["event_id"],
        n=MOTIF_N,
        min_support=MOTIF_MIN_SUPPORT,
        top_k=MOTIF_TOP_K,
    )


EV_MOTIFS_SQL = f"""
WITH e AS (
  SELECT user_id, ts, event_id, event_type FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IS NOT NULL),
g AS (
  SELECT user_id,
         event_type AS s0,
         LEAD(event_type, 1) OVER w AS s1,
         LEAD(event_type, 2) OVER w AS s2
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
m AS (
  SELECT user_id, s0 || '>' || s1 || '>' || s2 AS motif
  FROM g WHERE s0 IS NOT NULL AND s1 IS NOT NULL AND s2 IS NOT NULL)
SELECT motif,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM m GROUP BY motif
HAVING COUNT(*) >= {MOTIF_MIN_SUPPORT}
ORDER BY n_occurrences DESC, motif ASC
LIMIT {MOTIF_TOP_K}
"""


def pf_gini(spark, sf_dir):
    """Per-segment Gini concentration of order spend (operators.
    profiling.gini_by_group): exact sorted-rank identity over integer
    cent units — one keyed exchange + per-key sort, rank-tie-invariant
    by algebra (tied values contribute the same coefficient sum under
    any rank assignment), final division the only float (6 dp)."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        gini_by_group,
    )

    o = T(spark, sf_dir, "orders")
    return gini_by_group(
        o, ["o_orderpriority"], "o_totalprice", cents=100
    )


PF_GINI_SQL = """
WITH enc AS (
  SELECT o_orderpriority,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0),
ranked AS (
  SELECT o_orderpriority, x,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY x) AS i
  FROM enc),
agg AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(i * x) AS BIGINT) AS sr
  FROM ranked GROUP BY o_orderpriority)
SELECT o_orderpriority, n,
       CASE WHEN s1 > 0 THEN
         ROUND(CAST(2 * sr - (n + 1) * s1 AS DOUBLE)
               / CAST(n * s1 AS DOUBLE), 6)
       END AS gini
FROM agg
ORDER BY o_orderpriority
"""


WINNOW_K = 5  # tokens per gram
WINNOW_W = 4  # grams per winnowing window (guarantee t = W + K - 1 = 8)
WINNOW_CAP = 16  # fingerprints shared by more docs = boilerplate, dropped


def dd_winnow(spark, sf_dir):
    """Winnowed-fingerprint overlap pairs (operators.dedup.
    winnow_overlap_pairs, Schleimer et al. SIGMOD 2003): sampled k-gram
    fingerprints — each window of W gram hashes keeps only its min —
    with shared-run detection guaranteed at >= W+K-1 tokens. The same
    guarantee length as dd_passage_overlap's all-spans index at ~2/(W+1)
    of its fingerprint volume. md5-derived hashes on BOTH engines, so
    parity is hash-exact."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        winnow_overlap_pairs,
    )
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )

    d = spread_small_input(T(spark, sf_dir, "documents"))
    return winnow_overlap_pairs(
        d,
        "doc_id",
        k=WINNOW_K,
        window=WINNOW_W,
        max_docs_per_fp=WINNOW_CAP,
    )


_WINNOW_H = _sql_hash60(
    f"array_to_string(list_slice(toks, i, i + {WINNOW_K} - 1), ' ')"
)

DD_WINNOW_SQL = rf"""
WITH tl AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents),
g AS (
  SELECT doc_id, len(toks) - {WINNOW_K} + 1 AS ng, i, {_WINNOW_H} AS h
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {WINNOW_K} + 1)) AS i
        FROM tl WHERE len(toks) >= {WINNOW_K}) t),
fps AS (
  SELECT DISTINCT doc_id, m AS fp FROM (
    SELECT doc_id, ng, i,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW
                        AND {WINNOW_W} - 1 FOLLOWING) AS m
    FROM g) s
  WHERE i <= greatest(1, ng - {WINNOW_W} + 1)),
cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nfp
        FROM fps GROUP BY doc_id),
bc AS (SELECT fp FROM (SELECT fp, COUNT(*) AS c FROM fps GROUP BY fp) b
       WHERE c BETWEEN 2 AND {WINNOW_CAP}),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fps a JOIN fps b USING (fp)
  WHERE a.doc_id < b.doc_id AND fp IN (SELECT fp FROM bc)),
agg AS (SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM pairs GROUP BY 1, 2)
SELECT id_a, id_b, ca.nfp AS n_fp_a, cb.nfp AS n_fp_b, n_shared,
       ROUND(CAST(n_shared AS DOUBLE)
             / CAST(least(ca.nfp, cb.nfp) AS DOUBLE), 6) AS overlap
FROM agg
JOIN cnt ca ON ca.doc_id = id_a
JOIN cnt cb ON cb.doc_id = id_b
"""


def pf_kappa(spark, sf_dir):
    """Cohen's kappa inter-annotator agreement per source (operators.
    profiling.annotator_agreement): gold = the declared lang collapsed
    to en/unk, pred = the stopword-heuristic language ID — the label-QA
    gate before trusting heuristic annotations. One contingency-table
    groupBy (exchange bounded by label cardinality), marginal join,
    fixed double expression order."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        annotator_agreement,
    )
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        lang_id_heuristic,
    )

    d = T(spark, sf_dir, "documents").select(
        "source",
        F.when(F.col("lang") == "en", F.lit("en"))
        .otherwise(F.lit("unk"))
        .alias("gold"),
        lang_id_heuristic(F.col("text")).alias("pred"),
    )
    return annotator_agreement(d, "gold", "pred", ["source"])


PF_KAPPA_SQL = f"""
WITH lab AS (
  SELECT source,
         CASE WHEN lang = 'en' THEN 'en' ELSE 'unk' END AS a,
         CASE WHEN {_SW_RATIO} > 0.05 THEN 'en' ELSE 'unk' END AS b
  FROM documents WHERE source IS NOT NULL),
cont AS (
  SELECT source, a, b, CAST(COUNT(*) AS BIGINT) AS c
  FROM lab GROUP BY 1, 2, 3),
ma AS (SELECT source, a AS lab, CAST(SUM(c) AS BIGINT) AS m
       FROM cont GROUP BY 1, 2),
mb AS (SELECT source, b AS lab, CAST(SUM(c) AS BIGINT) AS m
       FROM cont GROUP BY 1, 2),
pen AS (
  SELECT source,
         SUM(CAST(ma.m AS DOUBLE) * CAST(mb.m AS DOUBLE)) AS pe_num
  FROM ma JOIN mb USING (source, lab) GROUP BY source),
tot AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS agree
  FROM cont GROUP BY source),
d AS (
  SELECT source, n,
         CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         COALESCE(pe_num, 0.0)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
  FROM tot LEFT JOIN pen USING (source))
SELECT source, n, ROUND(po, 6) AS po, ROUND(pe, 6) AS pe,
       CASE WHEN pe < 1.0 THEN ROUND((po - pe) / (1.0 - pe), 6)
       END AS kappa
FROM d
ORDER BY source
"""


KM_CHURN_S = 43_200  # churned if last event > 12h before the as-of instant
KM_BUCKET_S = 86_400  # survival-curve granularity: days


def ev_survival(spark, sf_dir):
    """Kaplan-Meier user-lifetime survival curve with right censoring
    (operators.funnel.kaplan_meier): product-limit estimate over day-
    bucketed activity spans, churn = 12h-silent at the corpus as-of
    instant. One user-keyed aggregation; the windows run on the bucket-
    cardinality curve table. exp(sum(ln)) product, 6 dp."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        kaplan_meier,
    )

    return kaplan_meier(
        T(spark, sf_dir, "events"),
        "user_id",
        "ts",
        churn_seconds=KM_CHURN_S,
        bucket_seconds=KM_BUCKET_S,
    )


_KM_B_US = KM_BUCKET_S * 1_000_000

EV_SURVIVAL_SQL = f"""
WITH per AS (
  SELECT user_id, epoch_us(min(ts)) AS f, epoch_us(max(ts)) AS l
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
aso AS (SELECT max(l) AS as_of FROM per),
lifed AS (
  SELECT CAST(((l - f) - (l - f) % {_KM_B_US}) / {_KM_B_US} AS BIGINT)
           * {KM_BUCKET_S} AS t_s,
         (as_of - l) > {KM_CHURN_S * 1_000_000} AS churned
  FROM per, aso),
times AS (
  SELECT t_s,
         CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
           AS n_churned,
         CAST(SUM(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT)
           AS n_censored
  FROM lifed GROUP BY 1),
staged AS (
  SELECT t_s, n_churned, n_censored,
         CAST(SUM(n_churned + n_censored) OVER ()
              - COALESCE(SUM(n_churned + n_censored) OVER (
                  ORDER BY t_s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
  FROM times),
fct AS (
  SELECT *, CAST(1.0 AS DOUBLE)
            - CAST(n_churned AS DOUBLE) / CAST(n_risk AS DOUBLE)
            AS factor
  FROM staged),
curve AS (
  SELECT t_s, n_risk, n_churned, n_censored,
         ROUND(CASE WHEN MIN(factor) OVER (
                 ORDER BY t_s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
         ELSE exp(SUM(ln(factor)) OVER (
                 ORDER BY t_s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         END, 6) AS survival
  FROM fct)
SELECT t_s, n_risk, n_churned, n_censored, survival
FROM curve WHERE n_churned > 0
ORDER BY t_s
"""


def tx_jsd(spark, sf_dir):
    """Jensen-Shannon divergence of each source's token distribution vs
    the rest of the corpus (operators.textops.corpus_js_divergence):
    the open-vocabulary composition-drift audit beside the numeric
    PSI/KS tier. One explode pass, group×vocab-bounded exchanges,
    nano-unit-pinned per-token terms, closed-form absent-token mass."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        corpus_js_divergence,
    )

    return corpus_js_divergence(
        T(spark, sf_dir, "documents"), "source", "text"
    )


_JSD_LN2 = "0.6931471805599453"

TX_JSD_SQL = rf"""
WITH toks AS (
  SELECT source AS g,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
cnt AS (
  SELECT g, t, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
gcnt AS (SELECT t, CAST(SUM(c) AS BIGINT) AS gt FROM cnt GROUP BY t),
perg AS (SELECT g, CAST(SUM(c) AS BIGINT) AS tg FROM cnt GROUP BY g),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tt FROM cnt),
terms AS (
  SELECT cnt.g, cnt.c, gcnt.gt, perg.tg, tot.tt,
         CAST(cnt.c AS DOUBLE) AS cd,
         CAST(gcnt.gt - cnt.c AS DOUBLE) AS rd,
         CAST(perg.tg AS DOUBLE) AS tsd,
         CAST(tot.tt - perg.tg AS DOUBLE) AS rtd
  FROM cnt JOIN gcnt USING (t) JOIN perg USING (g), tot),
pinned AS (
  SELECT g, gt, c, tg, tt,
         CAST(ROUND((CASE WHEN rtd > 0 THEN
             (cd / tsd) * ln(2.0 * cd * rtd / (cd * rtd + rd * tsd))
             + (CASE WHEN rd > 0 THEN
                 (rd / rtd) * ln(2.0 * rd * tsd / (cd * rtd + rd * tsd))
                ELSE 0.0 END)
           ELSE 0.0 END) * 1e9) AS BIGINT) AS pin
  FROM terms),
agg AS (
  SELECT g, CAST(MAX(tg) AS BIGINT) AS n_tokens,
         CAST(MAX(tt - tg) AS BIGINT) AS n_rest_tokens,
         CAST(SUM(pin) AS BIGINT) AS s1,
         CAST(SUM(gt - c) AS BIGINT) AS rcov
  FROM pinned GROUP BY g)
SELECT g AS source, n_tokens, n_rest_tokens,
       CASE WHEN n_rest_tokens > 0 THEN
         ROUND((CAST(s1 AS DOUBLE) / 1e9
                + {_JSD_LN2} * (CAST(n_rest_tokens - rcov AS DOUBLE)
                                / CAST(n_rest_tokens AS DOUBLE))) / 2.0, 6)
       END AS jsd
FROM agg
ORDER BY source
"""


def ts_seasonal(spark, sf_dir):
    """Hour-of-day seasonality strength per event type (operators.
    temporal.seasonal_strength): day-mean detrend, hourly effects on the
    detrended series, F_s = max(0, 1 − Var(resid)/Var(detrended)) —
    centi-unit-pinned integer moments, engine-exact."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        seasonal_strength,
    )

    return seasonal_strength(
        T(spark, sf_dir, "events"), ["event_type"], "ts", "value"
    )


TS_SEASONAL_SQL = """
WITH enc AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         EXTRACT(hour FROM ts) AS hr,
         CAST(ROUND(value) AS BIGINT) AS x
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
    AND event_type IS NOT NULL),
dm AS (
  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(SUM(x) AS BIGINT) AS sd
  FROM enc GROUP BY 1, 2),
detr AS (
  SELECT e.event_type, hr,
         CAST(ROUND((CAST(x AS DOUBLE)
                     - CAST(sd AS DOUBLE) / CAST(nd AS DOUBLE))
                    * 100.0) AS BIGINT) AS dc
  FROM enc e JOIN dm USING (event_type, day)),
he AS (
  SELECT event_type, hr,
         CAST(ROUND(CAST(SUM(dc) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS hc
  FROM detr GROUP BY 1, 2),
resid AS (
  SELECT d.event_type, dc, dc - hc AS rc
  FROM detr d JOIN he USING (event_type, hr)),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dc) AS BIGINT) AS s1d,
         CAST(SUM(dc * dc) AS BIGINT) AS s2d,
         CAST(SUM(rc) AS BIGINT) AS s1r,
         CAST(SUM(rc * rc) AS BIGINT) AS s2r
  FROM resid GROUP BY 1),
vars_ AS (
  SELECT event_type, n,
         (CAST(n AS DOUBLE) * CAST(s2d AS DOUBLE)
          - CAST(s1d AS DOUBLE) * CAST(s1d AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS vd,
         (CAST(n AS DOUBLE) * CAST(s2r AS DOUBLE)
          - CAST(s1r AS DOUBLE) * CAST(s1r AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS vr
  FROM agg)
SELECT event_type, n,
       ROUND(vd / 1e4, 6) AS var_detrended,
       ROUND(vr / 1e4, 6) AS var_resid,
       CASE WHEN n >= 24 AND vd > 0 THEN
         ROUND(greatest(CAST(0.0 AS DOUBLE),
                        CAST(1.0 AS DOUBLE) - vr / vd), 6)
       END AS strength
FROM vars_
ORDER BY event_type
"""


def pf_winsorize(spark, sf_dir):
    """Winsorized robust stats per order priority (operators.profiling.
    winsorized_stats): exact order-statistic cuts at ceil(p·n) ranks in
    pure integer arithmetic, cents-pinned values, clip-then-average —
    the transform complement of the MAD outlier FLAG tier."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        winsorized_stats,
    )

    return winsorized_stats(
        T(spark, sf_dir, "orders"), ["o_orderpriority"], "o_totalprice"
    )


PF_WINSOR_SQL = """
WITH enc AS (
  SELECT o_orderpriority AS g,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x
  FROM orders WHERE o_totalprice IS NOT NULL),
ranked AS (
  SELECT g, x,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM enc),
cuts AS (
  SELECT g, CAST(MAX(n) AS BIGINT) AS n,
         MAX(CASE WHEN rn = greatest(1, (10000 * n + 999999) // 1000000)
             THEN x END) AS lo,
         MAX(CASE WHEN rn = greatest(1, (990000 * n + 999999) // 1000000)
             THEN x END) AS hi,
         CAST(SUM(x) AS BIGINT) AS s_raw
  FROM ranked GROUP BY g),
cl AS (
  SELECT r.g, c.n, c.lo, c.hi, c.s_raw,
         least(greatest(x, lo), hi) AS cx,
         CASE WHEN x < lo OR x > hi THEN 1 ELSE 0 END AS clip
  FROM ranked r JOIN cuts c USING (g)),
agg AS (
  SELECT g, MAX(n) AS n, MAX(lo) AS lo, MAX(hi) AS hi,
         MAX(s_raw) AS s_raw,
         CAST(SUM(cx) AS BIGINT) AS s_win,
         CAST(SUM(clip) AS BIGINT) AS n_clipped
  FROM cl GROUP BY g)
SELECT g AS o_orderpriority, n,
       ROUND(CAST(lo AS DOUBLE) / 100.0, 6) AS lo,
       ROUND(CAST(hi AS DOUBLE) / 100.0, 6) AS hi,
       ROUND(CAST(s_raw AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6)
         AS mean_raw,
       ROUND(CAST(s_win AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6)
         AS mean_winsorized,
       n_clipped
FROM agg
ORDER BY o_orderpriority
"""


EVAL_N_QUERIES = 64
EVAL_K = 5


def rt_eval_metrics(spark, sf_dir):
    """MRR / nDCG@5 / precision@5 of the brute-force cosine retriever
    per query label (operators.retrieval.retrieval_metrics): relevance
    = same-label membership — the offline eval harness for the ANN
    tier. Rank-discount weights are plan-time integer literals shared
    with the oracle; per-query metrics pin to nano-units before the
    corpus means."""
    from calp_cva_tracking_pipeline_spark.operators.retrieval import (
        retrieval_metrics,
    )
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        brute_force_topk,
    )

    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < EVAL_N_QUERIES)
    run = brute_force_topk(
        e, q, "vec_id", "embedding", "vec_id", "embedding", k=EVAL_K
    )
    qlab = q.select(
        F.col("vec_id").alias("query_id"), F.col("label")
    )
    run_g = run.join(F.broadcast(qlab), "query_id")
    relevance = qlab.join(
        e.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("__nl"),
        ),
        F.col("label") == F.col("__nl"),
    ).filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id"
    )
    return retrieval_metrics(
        run_g, relevance, ["label"], k=EVAL_K
    )


def _eval_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.retrieval import (
        dcg_weights_nano,
    )

    w = dcg_weights_nano(EVAL_K)
    disc = " ".join(
        f"WHEN rank = {i} THEN {wi}" for i, wi in w.items()
    )
    idcg = " + ".join(
        f"(CASE WHEN least(COALESCE(nrel, 0), {EVAL_K}) >= {i} "
        f"THEN CAST({wi} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i, wi in w.items()
    )
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, label,
         CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {EVAL_N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, label AS nlabel,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, q.label, neighbor_id, nlabel,
         ROUND(list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv))
                * sqrt(list_dot_product(cv, cv))), 6) AS cosine
  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
run AS (
  SELECT query_id, label, nlabel, rank FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored) t
  WHERE rank <= {EVAL_K}),
nrelt AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS nrel
  FROM q JOIN c ON q.label = c.nlabel AND q.query_id <> c.neighbor_id
  GROUP BY 1),
perq AS (
  SELECT label, query_id,
         COALESCE(MAX(CASE WHEN nlabel = label
                      THEN 1000000000 // rank END), 0) AS rr,
         COALESCE(SUM(CASE WHEN nlabel = label
                      THEN (CASE {disc} END) ELSE 0 END), 0) AS dcg,
         CAST(SUM(CASE WHEN nlabel = label THEN 1 ELSE 0 END) AS BIGINT)
           AS hits
  FROM run GROUP BY 1, 2),
scoredq AS (
  SELECT label, perq.query_id, rr, hits,
         CASE WHEN ({idcg}) > 0 THEN
           CAST(ROUND(CAST(dcg AS DOUBLE) / CAST(({idcg}) AS DOUBLE)
                      * 1e9) AS BIGINT)
         ELSE 0 END AS ndcg
  FROM perq LEFT JOIN nrelt ON perq.query_id = nrelt.query_id),
agg AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_queries,
         CAST(SUM(rr) AS BIGINT) AS s_rr,
         CAST(SUM(ndcg) AS BIGINT) AS s_nd,
         CAST(SUM(hits) AS BIGINT) AS s_hits
  FROM scoredq GROUP BY label)
SELECT label, n_queries,
       ROUND(CAST(s_rr AS DOUBLE) / CAST(n_queries AS DOUBLE) / 1e9, 6)
         AS mrr,
       ROUND(CAST(s_nd AS DOUBLE) / CAST(n_queries AS DOUBLE) / 1e9, 6)
         AS ndcg,
       ROUND(CAST(s_hits AS DOUBLE)
             / (CAST(n_queries AS DOUBLE) * {float(EVAL_K)}), 6)
         AS precision
FROM agg
ORDER BY label
"""


RT_EVAL_SQL = _eval_sql()


BOOT_B = 32
BOOT_Z = 1.959964


def pf_bootstrap(spark, sf_dir):
    """Hash-Poisson bootstrap CI for the mean order value per priority
    (operators.profiling.bootstrap_mean_ci): deterministic replica
    weights from stable_hash64 against plan-time Poisson(1) inverse-CDF
    thresholds — error bars in ONE scan + ONE group-cardinality
    exchange, no row explosion, no RNG state."""
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        bootstrap_mean_ci,
    )

    # the testdata parquet is single-row-group → 1 scan partition; the
    # per-row replica fan-out is CPU-heavy, so spread to full
    # parallelism (structural no-op at scale — see spread_small_input)
    return bootstrap_mean_ci(
        spread_small_input(T(spark, sf_dir, "orders")),
        ["o_orderpriority"],
        "o_orderkey",
        "o_totalprice",
        n_replicas=BOOT_B,
        z=BOOT_Z,
    )


def _bootstrap_sql() -> str:
    from calp_cva_tracking_pipeline_spark.functions.hashing import (
        MERSENNE_P,
        minhash_params,
    )
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        BOOT_FAMILY_SEED,
        poisson1_thresholds_mod_p,
    )

    ths = poisson1_thresholds_mod_p()
    params = minhash_params(BOOT_B, seed=BOOT_FAMILY_SEED)

    # ONE md5 per row (native twin: stable_hash_mod_p + the (a,b)
    # family fan-out — round-13 verdict perf ask); h0 < p and a,b < p
    # keep every product in BIGINT range
    _key = "CAST(o_orderkey AS VARCHAR) || '|boot'"
    h0 = f"({_sql_hash60(_key)} % {MERSENNE_P})"

    hash_cols = [f"{h0} AS h0"]
    agg_cols = []
    for b, (pa, pb) in enumerate(params):
        hb = f"(({pa} * h0 + {pb}) % {MERSENNE_P})"
        # chained CASE mirrors the native early-exit spelling exactly
        arms = " ".join(
            f"WHEN {hb} < {t} THEN {k}" for k, t in enumerate(ths)
        )
        terms = f"(CASE {arms} ELSE {len(ths)} END)"
        agg_cols.append(
            f"CAST(SUM(CAST({terms} AS BIGINT) * x) AS BIGINT) AS swx{b},"
            f" CAST(SUM(CAST({terms} AS BIGINT)) AS BIGINT) AS sw{b}"
        )
    m_exprs = []
    zero_checks = []
    for b in range(BOOT_B):
        m_exprs.append(
            f"CASE WHEN sw{b} > 0 THEN CAST(ROUND(CAST(swx{b} AS DOUBLE)"
            f" / CAST(sw{b} AS DOUBLE) * 1e6) AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END AS m{b}"
        )
        zero_checks.append(f"sw{b} <= 0")
    s1 = " + ".join(
        f"CAST(m{b} AS DOUBLE)" if b == 0 else f"CAST(m{b} AS DOUBLE)"
        for b in range(BOOT_B)
    )
    s2 = " + ".join(
        f"CAST(m{b} AS DOUBLE) * CAST(m{b} AS DOUBLE)"
        for b in range(BOOT_B)
    )
    any_zero = " OR ".join(zero_checks)
    bD = float(BOOT_B)
    return f"""
WITH enc AS (
  SELECT o_orderpriority AS g, o_orderkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
         {", ".join(hash_cols)}
  FROM orders WHERE o_totalprice IS NOT NULL),
agg AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
         {", ".join(agg_cols)}
  FROM enc GROUP BY g),
means AS (
  SELECT g, n, sx, ({any_zero}) AS bad, {", ".join(m_exprs)}
  FROM agg),
stats AS (
  SELECT g, n, sx, bad,
         ({s1}) AS s1, ({s2}) AS s2
  FROM means),
fin AS (
  SELECT g, n, bad,
         (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0 AS mean_u,
         sqrt(({bD} * s2 - s1 * s1) / ({bD} * ({bD} - 1.0))) / 1e8
           AS se_u
  FROM stats)
SELECT g AS o_orderpriority, n,
       ROUND(mean_u, 6) AS mean,
       CASE WHEN NOT bad THEN ROUND(se_u, 6) END AS se_boot,
       CASE WHEN NOT bad THEN ROUND(mean_u - {BOOT_Z} * se_u, 6) END
         AS ci_lo,
       CASE WHEN NOT bad THEN ROUND(mean_u + {BOOT_Z} * se_u, 6) END
         AS ci_hi
FROM fin
ORDER BY o_orderpriority
"""


PF_BOOT_SQL = _bootstrap_sql()


OOV_VOCAB = 256


def tx_oov(spark, sf_dir):
    """Per-source OOV rate vs the corpus' own top-256 vocabulary
    (operators.textops.oov_rate): deterministic (count desc, token asc)
    vocab cut, broadcast back over the reused count lineage — the
    tokenizer-coverage audit beside the JSD drift readout."""
    from calp_cva_tracking_pipeline_spark.operators.textops import oov_rate

    return oov_rate(
        T(spark, sf_dir, "documents"), "source", "text",
        vocab_size=OOV_VOCAB,
    )


TX_OOV_SQL = rf"""
WITH toks AS (
  SELECT source AS g,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
cnt AS (
  SELECT g, t, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
gcnt AS (SELECT t, CAST(SUM(c) AS BIGINT) AS gt FROM cnt GROUP BY t),
vocab AS (
  SELECT t, 1 AS iv FROM (
    SELECT t, ROW_NUMBER() OVER (ORDER BY gt DESC, t ASC) AS rn
    FROM gcnt) r
  WHERE rn <= {OOV_VOCAB}),
agg AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN iv IS NULL THEN c ELSE 0 END) AS BIGINT)
           AS n_oov_tokens,
         CAST(SUM(CASE WHEN iv IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_distinct_oov
  FROM cnt LEFT JOIN vocab USING (t) GROUP BY g)
SELECT g AS source, n_tokens, n_oov_tokens,
       CASE WHEN n_tokens > 0 THEN
         ROUND(CAST(n_oov_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
       END AS oov_rate,
       n_distinct_oov
FROM agg
ORDER BY source
"""


def emb_confusion(spark, sf_dir):
    """Nearest-centroid label confusion over the embeddings table
    (operators.linalg.centroid_confusion): 6-dp centroids, sequential
    sq_dist fold, (distance, label) argmin — the embedding-separability
    readout beside the kmeans tier."""
    from calp_cva_tracking_pipeline_spark.operators.linalg import (
        centroid_confusion,
    )

    return centroid_confusion(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding", "label"
    )


EMB_CONF_SQL = f"""
WITH v AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL),
idx AS (
  SELECT label, vec, unnest(generate_series(1, len(vec))) AS i FROM v),
cents AS (
  SELECT label, CAST(i - 1 AS INT) AS dim, ROUND(AVG(vec[i]), 6) AS mean
  FROM idx GROUP BY 1, 2),
carrs AS (
  SELECT label AS clabel,
         list_transform(
           list_sort(list(struct_pack(d := dim, m := mean))),
           s -> s.m) AS carr
  FROM cents GROUP BY label),
rows_ AS (
  SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
scored AS (
  SELECT id, label, clabel, {_D2.format(a='cv', b='carr')} AS d
  FROM rows_ CROSS JOIN carrs),
m AS (SELECT id, label, MIN(d) AS md FROM scored GROUP BY 1, 2),
best AS (
  SELECT s.id, s.label, MIN(clabel) AS assigned_label
  FROM scored s JOIN m ON s.id = m.id AND s.label = m.label
  WHERE s.d = m.md GROUP BY 1, 2),
conf AS (
  SELECT label, assigned_label, CAST(COUNT(*) AS BIGINT) AS n
  FROM best GROUP BY 1, 2)
SELECT label, assigned_label, n,
       ROUND(CAST(n AS DOUBLE) /
             CAST(SUM(n) OVER (PARTITION BY label) AS DOUBLE), 6) AS frac
FROM conf
ORDER BY label, assigned_label
"""


def pf_mannwhitney(spark, sf_dir):
    """Mann-Whitney U of each order priority vs the declared control
    (operators.profiling.mann_whitney): the nonparametric sibling of
    pf_ab_test — integer U2/tie sums off one value-grid window, tie-
    corrected normal z, fixed double order."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        mann_whitney,
    )

    return mann_whitney(
        T(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_totalprice",
        control=AB_CONTROL,
    )


PF_MWU_SQL = f"""
WITH enc AS (
  SELECT o_orderpriority AS v,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
cells AS (
  SELECT v, x, CAST(COUNT(*) AS BIGINT) AS c FROM enc GROUP BY 1, 2),
ctrl AS (
  SELECT x, c AS cc FROM cells WHERE v = '{AB_CONTROL}'),
grid0 AS (
  SELECT x, COALESCE(cc, CAST(0 AS BIGINT)) AS cc
  FROM (SELECT DISTINCT x FROM cells) g LEFT JOIN ctrl USING (x)),
grid AS (
  SELECT x, cc,
         CAST(COALESCE(SUM(cc) OVER (
           ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS BIGINT) AS below
  FROM grid0),
j AS (SELECT cells.v, cells.c, grid.cc, grid.below
      FROM cells JOIN grid USING (x)),
per_v AS (
  SELECT v, CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(c * (2 * below + cc)) AS BIGINT) AS u2,
         CAST(SUM((c + cc) * (c + cc) * (c + cc) - (c + cc)) AS BIGINT)
           AS t3,
         CAST(SUM(cc * cc * cc - cc) AS BIGINT) AS t3_shared
  FROM j GROUP BY v),
ctl AS (
  SELECT CAST(SUM(cc) AS BIGINT) AS n_c,
         CAST(SUM(cc * cc * cc - cc) AS BIGINT) AS t3_all
  FROM grid),
fin AS (
  SELECT v, n, u2, n_c,
         t3 + (t3_all - t3_shared) AS t3_total
  FROM per_v, ctl),
calc AS (
  SELECT v, n, n_c,
         CAST(u2 AS DOUBLE) / 2.0 AS u,
         CAST(n AS DOUBLE) AS nv, CAST(n_c AS DOUBLE) AS ncd,
         CAST(n AS DOUBLE) + CAST(n_c AS DOUBLE) AS nd,
         CAST(t3_total AS DOUBLE) AS t3d
  FROM fin),
zs AS (
  SELECT v, n, n_c, u,
         nv * ncd / 12.0 * ((nd + 1.0)
           - t3d / (nd * (nd - 1.0))) AS var_,
         (u - nv * ncd / 2.0) AS num
  FROM calc)
SELECT v AS variant, n,
       CASE WHEN v <> '{AB_CONTROL}' THEN ROUND(u, 6) END AS u,
       CASE WHEN v <> '{AB_CONTROL}' AND n >= 10 AND n_c >= 10
                 AND var_ > 0
            THEN ROUND(num / sqrt(var_), 6) END AS z,
       CASE WHEN v <> '{AB_CONTROL}' AND n >= 10 AND n_c >= 10
                 AND var_ > 0
            THEN abs(num / sqrt(var_)) > 1.959964 END AS significant
FROM zs
ORDER BY variant
"""


def emb_cluster_eval(spark, sf_dir):
    """Purity + NMI of the bit-exact 2-iteration Lloyd clustering vs
    the reference labels (operators.similarity.cluster_label_eval):
    the unsupervised half of the embedding eval loop — nano-pinned
    entropy/MI terms, integer purity, one k×labels contingency."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        cluster_label_eval,
    )

    return cluster_label_eval(
        T(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        "label",
        n_clusters=KMEANS_K,
        iters=KMEANS_ITERS,
    )


def _cluster_eval_sql() -> str:
    def assign(cent: str, out: str) -> str:
        return f"""
{out} AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT x.vec_id, {cent}.cid,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
             ORDER BY {_D2.format(a='x.v', b=f'{cent}.cv')}, {cent}.cid
           ) AS rn
    FROM c x CROSS JOIN {cent}) t
  WHERE rn = 1)"""

    def assign_v(cent: str, out: str) -> str:
        return f"""
{out} AS (
  SELECT vec_id, cid AS cell, v FROM (
    SELECT x.vec_id, {cent}.cid, x.v,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
             ORDER BY {_D2.format(a='x.v', b=f'{cent}.cv')}, {cent}.cid
           ) AS rn
    FROM c x CROSS JOIN {cent}) t
  WHERE rn = 1)"""

    def refine(prev_cent: str, assign_t: str, mean_t: str, out: str) -> str:
        return f"""
{mean_t} AS (
  SELECT cell, d,
         ROUND(CAST(SUM(CAST(v[d] AS DECIMAL(27,9))) AS DOUBLE)
               / COUNT(*), 6) AS mean
  FROM (SELECT cell, v, unnest(generate_series(1, len(v))) AS d
        FROM {assign_t})
  GROUP BY 1, 2),
{out} AS (
  SELECT p.cid, COALESCE(n.nv, p.cv) AS cv
  FROM {prev_cent} p LEFT JOIN
    (SELECT cell, list(mean ORDER BY d) AS nv FROM {mean_t} GROUP BY 1) n
    ON n.cell = p.cid)"""

    return f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent0 AS (
  SELECT CAST(vec_id AS BIGINT) AS cid, v AS cv
  FROM c ORDER BY vec_id LIMIT {KMEANS_K}),
{assign_v('cent0', 'a1')},
{refine('cent0', 'a1', 'm1', 'cent1')},
{assign_v('cent1', 'a2')},
{refine('cent1', 'a2', 'm2', 'cent2')},
{assign('cent2', 'a3')},
cells AS (
  SELECT a3.cell, e.label, CAST(COUNT(*) AS BIGINT) AS ncl
  FROM a3 JOIN embeddings e USING (vec_id)
  WHERE e.label IS NOT NULL
  GROUP BY 1, 2),
margc AS (
  SELECT cell, CAST(SUM(ncl) AS BIGINT) AS nc,
         CAST(MAX(ncl) AS BIGINT) AS maxl
  FROM cells GROUP BY cell),
margl AS (
  SELECT label, CAST(SUM(ncl) AS BIGINT) AS nl FROM cells GROUP BY label),
tot AS (SELECT CAST(SUM(ncl) AS BIGINT) AS n FROM cells),
mi AS (
  SELECT CAST(SUM(CAST(ROUND(
    ((CAST(ncl AS DOUBLE) / CAST(n AS DOUBLE))
     * ln((CAST(n AS DOUBLE) * CAST(ncl AS DOUBLE))
          / (CAST(nc AS DOUBLE) * CAST(nl AS DOUBLE)))) * 1e9)
    AS BIGINT)) AS BIGINT) AS mi_nano
  FROM cells JOIN margc USING (cell) JOIN margl USING (label), tot),
hc AS (
  SELECT CAST(SUM(CAST(ROUND(
    ((CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))
     * ln(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))) * -1e9)
    AS BIGINT)) AS BIGINT) AS hc_nano,
         CAST(SUM(maxl) AS BIGINT) AS pure,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM margc, tot),
hl AS (
  SELECT CAST(SUM(CAST(ROUND(
    ((CAST(nl AS DOUBLE) / CAST(n AS DOUBLE))
     * ln(CAST(nl AS DOUBLE) / CAST(n AS DOUBLE))) * -1e9)
    AS BIGINT)) AS BIGINT) AS hl_nano
  FROM margl, tot)
SELECT n, n_cells,
       ROUND(CAST(pure AS DOUBLE) / CAST(n AS DOUBLE), 6) AS purity,
       CASE WHEN hc_nano > 0 AND hl_nano > 0 THEN
         ROUND((CAST(mi_nano AS DOUBLE) / 1e9)
               / sqrt((CAST(hc_nano AS DOUBLE) / 1e9)
                      * (CAST(hl_nano AS DOUBLE) / 1e9)), 6)
       END AS nmi
FROM tot, mi, hc, hl
"""


EMB_CLUSTER_EVAL_SQL = _cluster_eval_sql()


RJ_TOP_PER_DAY = 3  # incident windows: each day's top-3 events by value
RJ_HALF_WIN_US = 1_800_000_000  # ±30 min around the incident event
RJ_BIN_US = 3_600_000_000  # 1h range-join bins


def tj_range_join(spark, sf_dir):
    """Incident-window × user-day-activity interval overlap join
    (operators.temporal.interval_overlap_join): bin-bucketed EQUI-join
    on coarse time bins + exact overlap predicate — the range-join
    primitive without the cross join. Incidents = each day's top-3
    events by (value desc, event_id); activity = per-(user, day)
    [min ts, max ts + 1s) span."""
    from pyspark.sql import Window

    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        interval_overlap_join,
    )

    e = T(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    day_w = Window.partitionBy(F.to_date("ts")).orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    incidents = (
        e.withColumn("__rn", F.row_number().over(day_w))
        .filter(F.col("__rn") <= RJ_TOP_PER_DAY)
        .select(
            F.col("event_id").alias("incident_id"),
            (F.unix_micros("ts") - RJ_HALF_WIN_US).alias("s_us"),
            (F.unix_micros("ts") + RJ_HALF_WIN_US).alias("e_us"),
        )
    )
    activity = (
        e.groupBy(
            F.col("user_id"), F.to_date("ts").alias("__day")
        )
        .agg(
            F.min(F.unix_micros("ts")).alias("s_us"),
            (F.max(F.unix_micros("ts")) + F.lit(1_000_000)).alias("e_us"),
        )
        .select(
            F.concat_ws(
                "#", F.col("user_id"), F.date_format("__day", "yyyy-MM-dd")
            ).alias("userday_id"),
            "s_us",
            "e_us",
        )
    )
    return interval_overlap_join(
        activity,
        incidents,
        "userday_id",
        "incident_id",
        bin_us=RJ_BIN_US,
    ).orderBy("userday_id", "incident_id")


TJ_RANGE_SQL = f"""
WITH e AS (
  SELECT event_id, user_id, ts, value, epoch_us(ts) AS tus,
         CAST(ts AS DATE) AS day
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
inc AS (
  SELECT event_id AS incident_id,
         tus - {RJ_HALF_WIN_US} AS s_us, tus + {RJ_HALF_WIN_US} AS e_us
  FROM (SELECT event_id, tus,
               ROW_NUMBER() OVER (PARTITION BY day
                                  ORDER BY value DESC, event_id) AS rn
        FROM e) t
  WHERE rn <= {RJ_TOP_PER_DAY}),
act AS (
  SELECT CAST(user_id AS VARCHAR) || '#' || strftime(day, '%Y-%m-%d')
           AS userday_id,
         MIN(tus) AS s_us, MAX(tus) + 1000000 AS e_us
  FROM e GROUP BY user_id, day)
SELECT a.userday_id, i.incident_id,
       CAST(least(a.e_us, i.e_us) - greatest(a.s_us, i.s_us) AS BIGINT)
         AS overlap_us
FROM act a JOIN inc i
  ON a.s_us < i.e_us AND i.s_us < a.e_us
ORDER BY a.userday_id, i.incident_id
"""


def ts_holt(spark, sf_dir):
    """Per-user Holt level+trend smoothing (operators.temporal.
    holt_smooth): the bit-exact two-integer recurrence — ewma's
    discipline extended to trending series; the oracle replays it as a
    recursive CTE carrying the same (level, trend) integers."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        holt_smooth,
    )

    return holt_smooth(
        T(spark, sf_dir, "events"),
        ["user_id"],
        "ts",
        "value",
        "event_id",
    )


TS_HOLT_SQL = """
WITH RECURSIVE seq AS (
  SELECT user_id, event_id,
         CAST(ROUND(value * 1000000) AS BIGINT) AS x6,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
h AS (
  SELECT user_id, event_id, rn, x6 AS l, CAST(0 AS BIGINT) AS b
  FROM seq WHERE rn = 1
  UNION ALL
  -- floor division spelled out (// truncates; the kernel floors):
  -- subtracting the non-negative ((n % d) + d) % d makes the numerator
  -- exactly divisible, after which // is floor for every sign.
  SELECT user_id, event_id, rn, nl,
         ((nl - pl + 7 * pb)
          - ((((nl - pl + 7 * pb) % 8) + 8) % 8)) // 8 AS b
  FROM (
    SELECT q.user_id, q.event_id, q.rn,
           ((q.x6 + 3 * (e.l + e.b))
            - ((((q.x6 + 3 * (e.l + e.b)) % 4) + 4) % 4)) // 4 AS nl,
           e.l AS pl, e.b AS pb
    FROM seq q JOIN h e ON q.user_id = e.user_id AND q.rn = e.rn + 1) t)
SELECT user_id, event_id,
       CAST(l AS DOUBLE) / 1000000 AS level,
       CAST(b AS DOUBLE) / 1000000 AS trend,
       CAST(l + b AS DOUBLE) / 1000000 AS forecast
FROM h
"""


SA_Z = 3.0
SA_MIN_ROWS = 48


def ts_seasonal_anomaly(spark, sf_dir):
    """Seasonally-adjusted anomaly flags per event type (operators.
    temporal.seasonal_anomaly): residual z after day-mean detrend +
    hour-effect removal — the rhythm-blind alarm beside ev_anomaly's
    rolling z. Same centi-unit pinning as ts_seasonal."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        seasonal_anomaly,
    )

    return seasonal_anomaly(
        T(spark, sf_dir, "events"),
        ["event_type"],
        "event_id",
        "ts",
        "value",
        z_thresh=SA_Z,
        min_rows=SA_MIN_ROWS,
    )


TS_SA_SQL = f"""
WITH enc AS (
  SELECT event_type, event_id, CAST(ts AS DATE) AS day,
         EXTRACT(hour FROM ts) AS hr,
         CAST(ROUND(value) AS BIGINT) AS x
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
    AND event_type IS NOT NULL),
dm AS (
  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(SUM(x) AS BIGINT) AS sd
  FROM enc GROUP BY 1, 2),
detr AS (
  SELECT e.event_type, e.event_id, hr,
         CAST(ROUND((CAST(x AS DOUBLE)
                     - CAST(sd AS DOUBLE) / CAST(nd AS DOUBLE))
                    * 100.0) AS BIGINT) AS dc
  FROM enc e JOIN dm USING (event_type, day)),
he AS (
  SELECT event_type, hr,
         CAST(ROUND(CAST(SUM(dc) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS hc
  FROM detr GROUP BY 1, 2),
resid AS (
  SELECT d.event_type, d.event_id, dc - hc AS rc
  FROM detr d JOIN he USING (event_type, hr)),
stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rc) AS BIGINT) AS s1,
         CAST(SUM(rc * rc) AS BIGINT) AS s2
  FROM resid GROUP BY 1),
z AS (
  SELECT r.event_type, r.event_id, r.rc,
         (CAST(rc AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         / sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS zz
  FROM resid r JOIN stats s USING (event_type)
  WHERE n >= {SA_MIN_ROWS}
    AND (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) > 0)
SELECT event_type, event_id,
       ROUND(CAST(rc AS DOUBLE) / 100.0, 6) AS resid,
       ROUND(zz, 6) AS z
FROM z WHERE abs(zz) > {SA_Z}
ORDER BY event_type, event_id
"""


FUNNEL_TIME_STEPS = ["view", "click", "purchase"]


def ev_funnel_time(spark, sf_dir):
    """Per-hop time-to-convert for the view→click→purchase funnel
    (operators.funnel.funnel_step_times): strictly-ordered step times,
    integer-second hop latencies, exact ceil(p·n) percentile cuts —
    the stall-location readout beside ev_funnel's completion counts."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        funnel_step_times,
    )

    return funnel_step_times(
        T(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "event_type",
        FUNNEL_TIME_STEPS,
    )


EV_FUNNEL_TIME_SQL = """
WITH u1 AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM events GROUP BY 1),
u2 AS (
  SELECT e.user_id, t1,
         MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END) AS t2
  FROM events e JOIN u1 USING (user_id) GROUP BY 1, 2),
u3 AS (
  SELECT e.user_id, t1, t2,
         MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
           AS t3
  FROM events e JOIN u2 USING (user_id) GROUP BY 1, 2, 3),
melted AS (
  SELECT 1 AS hop, 'view' AS step_from, 'click' AS step_to,
         CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS entered,
         CASE WHEN t2 IS NOT NULL THEN
           CAST(((epoch_us(t2) - epoch_us(t1))
                 - (epoch_us(t2) - epoch_us(t1)) % 1000000) / 1000000
             AS BIGINT) END AS gap_s
  FROM u3
  UNION ALL
  SELECT 2, 'click', 'purchase',
         CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END,
         CASE WHEN t3 IS NOT NULL THEN
           CAST(((epoch_us(t3) - epoch_us(t2))
                 - (epoch_us(t3) - epoch_us(t2)) % 1000000) / 1000000
             AS BIGINT) END
  FROM u3),
entered AS (
  SELECT hop, step_from, step_to,
         CAST(SUM(entered) AS BIGINT) AS n_entered,
         CAST(COUNT(gap_s) AS BIGINT) AS n_converted
  FROM melted GROUP BY 1, 2, 3),
ranked AS (
  SELECT hop, gap_s,
         ROW_NUMBER() OVER (PARTITION BY hop ORDER BY gap_s) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY hop) AS BIGINT) AS n
  FROM melted WHERE gap_s IS NOT NULL),
cuts AS (
  SELECT hop,
         MAX(CASE WHEN rn = greatest(1, (500000 * n + 999999) // 1000000)
             THEN gap_s END) AS p50_s,
         MAX(CASE WHEN rn = greatest(1, (900000 * n + 999999) // 1000000)
             THEN gap_s END) AS p90_s
  FROM ranked GROUP BY hop)
SELECT e.hop, step_from, step_to, n_entered, n_converted,
       CASE WHEN n_entered > 0 THEN
         ROUND(CAST(n_converted AS DOUBLE) / CAST(n_entered AS DOUBLE), 6)
       END AS rate,
       p50_s, p90_s
FROM entered e LEFT JOIN cuts USING (hop)
ORDER BY e.hop
"""


CARD_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]


def pf_cardinalities(spark, sf_dir):
    """Exact multi-column cardinality inventory over lineitem in ONE
    Expand-based aggregation (operators.profiling.column_cardinalities)
    — the join/partition-key sizing pass."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        column_cardinalities,
    )

    return column_cardinalities(
        T(spark, sf_dir, "lineitem"), CARD_COLS
    )


_CARD_SELECTS = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
FROM lineitem"""
    for c in CARD_COLS
)

PF_CARD_SQL = f"""
{_CARD_SELECTS}
ORDER BY "column"
"""


def cdc_pit_lookup(spark, sf_dir):
    """Point-in-time dimension lookup: each lineitem attaches the
    customer SCD2 version (operators.cdc.scd2_history) active at its
    ship date via the union-and-carry-forward as-of join — backward
    as-of on effective_from equals half-open interval membership
    because SCD2 versions chain contiguously by construction. The
    PIT-correctness readout every warehouse needs; aggregated to the
    (status, priority) mix for a bounded result."""
    from calp_cva_tracking_pipeline_spark.operators.cdc import scd2_history
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        asof_join,
    )

    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        F.round(F.col("l_quantity")).cast("bigint").alias("__qty"),
    )
    ok = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    left = li.join(
        ok, F.col("l_orderkey") == F.col("o_orderkey")
    ).drop("o_orderkey")
    dim = scd2_history(
        T(spark, sf_dir, "orders"),
        keys=["o_custkey"],
        ts_col="o_orderdate",
        attr_cols=["o_orderstatus", "o_orderpriority"],
        tiebreak_cols=["o_orderkey"],
    ).select(
        "o_custkey",
        "effective_from",
        "version",
        "o_orderstatus",
        "o_orderpriority",
    )
    # version leads the payload: at duplicate (custkey, effective_from)
    # boundaries the as-of's max-struct tie-break must pick the LATEST
    # version — the one whose half-open interval is non-empty — to
    # match interval-membership semantics exactly.
    pit = asof_join(
        left,
        dim,
        keys=["o_custkey"],
        left_time="l_shipdate",
        right_time="effective_from",
        right_cols=["version", "o_orderstatus", "o_orderpriority"],
    )
    return (
        pit.select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "__qty",
        )
        .groupBy("status", "priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("__qty").cast("bigint").alias("sum_qty"),
        )
        .orderBy("status", "priority")
    )


CDC_PIT_SQL = """
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, o_orderpriority, o_orderdate,
         o_orderkey,
         (ROW_NUMBER() OVER w = 1
          OR o_orderstatus IS DISTINCT FROM LAG(o_orderstatus) OVER w
          OR o_orderpriority IS DISTINCT FROM LAG(o_orderpriority) OVER w)
           AS is_change
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
vers AS (
  SELECT o_custkey, o_orderstatus, o_orderpriority,
         o_orderdate AS effective_from,
         LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey)
           AS effective_to
  FROM ordered WHERE is_change),
li AS (
  SELECT o.o_custkey, l.l_shipdate,
         CAST(ROUND(l.l_quantity) AS BIGINT) AS qty
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
pit AS (
  SELECT li.qty, v.o_orderstatus AS status,
         v.o_orderpriority AS priority
  FROM li LEFT JOIN vers v
    ON li.o_custkey = v.o_custkey
   AND v.effective_from <= li.l_shipdate
   AND (v.effective_to IS NULL OR li.l_shipdate < v.effective_to))
SELECT status, priority, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(qty) AS BIGINT) AS sum_qty
FROM pit GROUP BY 1, 2
ORDER BY status, priority
"""


LEAK_CAP_EXACT = 64
LEAK_SEED = 42


def dd_split_leakage(spark, sf_dir):
    """Train/eval self-contamination audit over the documents corpus
    (operators.dedup.split_leakage_audit): exact-md5 and winnowed
    near-dup pair counts per (split, split) cell of the portable-hash
    group split — cross cells are the leakage."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        split_leakage_audit,
    )

    return split_leakage_audit(
        T(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        splits={"train": 0.8, "val": 0.1, "test": 0.1},
        k=WINNOW_K,
        window=WINNOW_W,
        max_docs_per_fp=WINNOW_CAP,
        max_docs_per_hash=LEAK_CAP_EXACT,
        seed=LEAK_SEED,
    )


_LEAK_SPLIT = f"""CASE WHEN CAST(CAST(('0x' || substring(
        md5(CAST(doc_id AS VARCHAR) || ':{LEAK_SEED}'), 1, 15))
        AS UBIGINT) AS BIGINT) % 1000000 < 800000 THEN 'train'
     WHEN CAST(CAST(('0x' || substring(
        md5(CAST(doc_id AS VARCHAR) || ':{LEAK_SEED}'), 1, 15))
        AS UBIGINT) AS BIGINT) % 1000000 < 900000 THEN 'val'
     ELSE 'test' END"""

DD_LEAK_SQL = rf"""
WITH assigned AS (
  SELECT doc_id, {_LEAK_SPLIT} AS split FROM documents),
hx AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE text IS NOT NULL),
hbc AS (
  SELECT h FROM (SELECT h, COUNT(*) AS c FROM hx GROUP BY h) b
  WHERE c BETWEEN 2 AND {LEAK_CAP_EXACT}),
ex_pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM hx a JOIN hx b USING (h)
  WHERE a.doc_id < b.doc_id AND h IN (SELECT h FROM hbc)),
tl AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents),
g AS (
  SELECT doc_id, len(toks) - {WINNOW_K} + 1 AS ng, i, {_WINNOW_H} AS h
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {WINNOW_K} + 1)) AS i
        FROM tl WHERE len(toks) >= {WINNOW_K}) t),
fps AS (
  SELECT DISTINCT doc_id, m AS fp FROM (
    SELECT doc_id, ng, i,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW
                        AND {WINNOW_W} - 1 FOLLOWING) AS m
    FROM g) s
  WHERE i <= greatest(1, ng - {WINNOW_W} + 1)),
wbc AS (SELECT fp FROM (SELECT fp, COUNT(*) AS c FROM fps GROUP BY fp) b
        WHERE c BETWEEN 2 AND {WINNOW_CAP}),
near_pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fps a JOIN fps b USING (fp)
  WHERE a.doc_id < b.doc_id AND fp IN (SELECT fp FROM wbc)),
lab_ex AS (
  SELECT least(sa.split, sb.split) AS split_a,
         greatest(sa.split, sb.split) AS split_b,
         CAST(COUNT(*) AS BIGINT) AS n_exact_pairs
  FROM ex_pairs p
  JOIN assigned sa ON sa.doc_id = p.id_a
  JOIN assigned sb ON sb.doc_id = p.id_b
  GROUP BY 1, 2),
lab_near AS (
  SELECT least(sa.split, sb.split) AS split_a,
         greatest(sa.split, sb.split) AS split_b,
         CAST(COUNT(*) AS BIGINT) AS n_near_pairs
  FROM near_pairs p
  JOIN assigned sa ON sa.doc_id = p.id_a
  JOIN assigned sb ON sb.doc_id = p.id_b
  GROUP BY 1, 2)
SELECT COALESCE(e.split_a, n.split_a) AS split_a,
       COALESCE(e.split_b, n.split_b) AS split_b,
       COALESCE(e.split_a, n.split_a)
         <> COALESCE(e.split_b, n.split_b) AS cross,
       COALESCE(n_exact_pairs, CAST(0 AS BIGINT)) AS n_exact_pairs,
       COALESCE(n_near_pairs, CAST(0 AS BIGINT)) AS n_near_pairs
FROM lab_ex e FULL OUTER JOIN lab_near n
  ON e.split_a = n.split_a AND e.split_b = n.split_b
ORDER BY split_a, split_b
"""


MARKOV_ITERS = 8


def ev_markov_stationary(spark, sf_dir):
    """Long-run stationary distribution of the event-type transition
    chain (operators.funnel.markov_stationary): nano-pinned power
    iteration with per-round renormalization — the PageRank discipline
    on the T68 transition matrix; the oracle unrolls the same rounds."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        markov_stationary,
    )

    return markov_stationary(
        T(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "event_type",
        "event_id",
        n_iter=MARKOV_ITERS,
    )


def _markov_sql() -> str:
    rounds = []
    prev = "pi0"
    for r in range(1, MARKOV_ITERS + 1):
        rounds.append(f"""flow{r} AS (
  SELECT t AS ty,
         CAST(SUM(CAST(ROUND(CAST(pi AS DOUBLE) * CAST(c AS DOUBLE)
                             / CAST(rt AS DOUBLE)) AS BIGINT)) AS BIGINT)
           AS pr
  FROM trans JOIN {prev} ON trans.f = {prev}.ty GROUP BY t),
nx{r} AS (
  SELECT types.ty, COALESCE(pr, CAST(0 AS BIGINT)) AS pr
  FROM types LEFT JOIN flow{r} USING (ty)),
pi{r} AS (
  SELECT ty, CAST(ROUND(CAST(pr AS DOUBLE) * 1e9
                        / CAST(SUM(pr) OVER () AS DOUBLE)) AS BIGINT)
           AS pi
  FROM nx{r})""")
        prev = f"pi{r}"
    chain = ",\n".join(rounds)
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
pairs AS (
  SELECT event_type AS f, nxt AS t, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
outt AS (SELECT f, CAST(SUM(c) AS BIGINT) AS rt FROM pairs GROUP BY f),
trans AS (SELECT pairs.f, pairs.t, pairs.c, outt.rt
          FROM pairs JOIN outt USING (f)),
types AS (SELECT DISTINCT f AS ty FROM pairs
          UNION SELECT DISTINCT t FROM pairs),
kc AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM types),
pi0 AS (SELECT ty, CAST(1000000000 // k AS BIGINT) AS pi FROM types, kc),
{chain}
SELECT pi{MARKOV_ITERS}.ty AS event_type,
       COALESCE(rt, CAST(0 AS BIGINT)) AS n_out_transitions,
       ROUND(CAST(pi AS DOUBLE) / 1e9, 6) AS stationary
FROM pi{MARKOV_ITERS} LEFT JOIN outt ON outt.f = pi{MARKOV_ITERS}.ty
ORDER BY event_type
"""


EV_MARKOV_SQL = _markov_sql()


NEY_TARGET = 2000
NEY_SEED = 42


def mx_neyman(spark, sf_dir):
    """Neyman variance-optimal stratified sampling of order values by
    priority (operators.sampling.neyman_allocation): allocation ∝
    N_h·S_h pinned to PPM integers, deterministic portable-hash draws —
    the budgeted sampler that beats proportional allocation at fixed n."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        neyman_allocation,
    )

    return neyman_allocation(
        T(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_totalprice",
        "o_orderkey",
        n_target=NEY_TARGET,
        seed=NEY_SEED,
    )


MX_NEYMAN_SQL = f"""
WITH enc AS (
  SELECT o_orderpriority AS st, CAST(o_orderkey AS VARCHAR) AS id,
         CAST(ROUND(o_totalprice) AS BIGINT) AS x
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
mom AS (
  SELECT st, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2
  FROM enc GROUP BY st),
stats AS (
  SELECT st, n,
         sqrt(CASE WHEN n > 1 THEN
           (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
         ELSE 0.0 END) AS sd
  FROM mom),
alloc AS (
  SELECT st, n, sd,
         CASE WHEN SUM(CAST(n AS DOUBLE) * sd) OVER () > 0 THEN
           CAST(ROUND(CAST(n AS DOUBLE) * sd
                      / SUM(CAST(n AS DOUBLE) * sd) OVER () * 1e6)
             AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS alloc_ppm
  FROM stats),
rates AS (
  SELECT st, n, sd, alloc_ppm,
         least(CAST(1000000 AS BIGINT),
               CAST(ROUND({float(NEY_TARGET)}
                          * CAST(alloc_ppm AS DOUBLE) / 1e6
                          / CAST(n AS DOUBLE) * 1e6) AS BIGINT))
           AS rate_ppm
  FROM alloc),
sampled AS (
  SELECT enc.st, CAST(COUNT(*) AS BIGINT) AS n_sampled,
         CAST(SUM(x) AS BIGINT) AS ssum
  FROM enc JOIN rates ON enc.st = rates.st
  WHERE CAST(CAST(('0x' || substring(
          md5(id || '|ney{NEY_SEED}'), 1, 15)) AS UBIGINT) AS BIGINT)
        % 1000000 < rate_ppm
  GROUP BY enc.st)
SELECT r.st AS o_orderpriority, r.n AS N, ROUND(r.sd, 6) AS sd,
       alloc_ppm, rate_ppm,
       COALESCE(n_sampled, CAST(0 AS BIGINT)) AS n_sampled,
       CASE WHEN n_sampled > 0 THEN
         ROUND(CAST(ssum AS DOUBLE) / CAST(n_sampled AS DOUBLE), 6)
       END AS mean_sampled
FROM rates r LEFT JOIN sampled s ON r.st = s.st
ORDER BY o_orderpriority
"""


def pf_null_phi(spark, sf_dir):
    """Pairwise missingness phi (operators.profiling.null_correlation)
    over three structurally-gated value views of the event stream: the
    click- and purchase-gated columns are mutually exclusive (phi < 0
    by construction), the even-day gate is independent of both — the
    which-columns-go-missing-TOGETHER readout beside pf_null_patterns'
    census."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        null_correlation,
    )

    e = T(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "click", F.col("value")).alias(
            "v_click"
        ),
        F.when(F.col("event_type") == "purchase", F.col("value")).alias(
            "v_purchase"
        ),
        F.when(F.dayofmonth("ts") % 2 == 0, F.col("value")).alias(
            "v_evenday"
        ),
    )
    return null_correlation(
        e, ["v_click", "v_evenday", "v_purchase"]
    )


PF_NULL_PHI_SQL = """
WITH base AS (
  SELECT CASE WHEN event_type = 'click' THEN value END AS v_click,
         CASE WHEN event_type = 'purchase' THEN value END AS v_purchase,
         CASE WHEN EXTRACT(day FROM ts) % 2 = 0 THEN value END
           AS v_evenday
  FROM events),
flags AS (
  SELECT CASE WHEN v_click IS NULL THEN 1 ELSE 0 END AS f0,
         CASE WHEN v_evenday IS NULL THEN 1 ELSE 0 END AS f1,
         CASE WHEN v_purchase IS NULL THEN 1 ELSE 0 END AS f2
  FROM base),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(f0) AS BIGINT) AS m0,
         CAST(SUM(f1) AS BIGINT) AS m1,
         CAST(SUM(f2) AS BIGINT) AS m2,
         CAST(SUM(f0 * f1) AS BIGINT) AS b01,
         CAST(SUM(f0 * f2) AS BIGINT) AS b02,
         CAST(SUM(f1 * f2) AS BIGINT) AS b12
  FROM flags),
pairs AS (
  SELECT 'v_click' AS col_a, 'v_evenday' AS col_b, n,
         b01 AS n_both_null, m0 AS r1, m1 AS c1 FROM agg
  UNION ALL
  SELECT 'v_click', 'v_purchase', n, b02, m0, m2 FROM agg
  UNION ALL
  SELECT 'v_evenday', 'v_purchase', n, b12, m1, m2 FROM agg)
SELECT col_a, col_b, n, n_both_null,
       CASE WHEN sqrt(CAST(r1 AS DOUBLE)
                      * (CAST(n AS DOUBLE) - CAST(r1 AS DOUBLE))
                      * CAST(c1 AS DOUBLE)
                      * (CAST(n AS DOUBLE) - CAST(c1 AS DOUBLE))) > 0
       THEN ROUND(
         (CAST(n_both_null AS DOUBLE)
            * (CAST(n AS DOUBLE) - CAST(r1 AS DOUBLE)
               - CAST(c1 AS DOUBLE) + CAST(n_both_null AS DOUBLE))
          - (CAST(r1 AS DOUBLE) - CAST(n_both_null AS DOUBLE))
            * (CAST(c1 AS DOUBLE) - CAST(n_both_null AS DOUBLE)))
         / sqrt(CAST(r1 AS DOUBLE)
                * (CAST(n AS DOUBLE) - CAST(r1 AS DOUBLE))
                * CAST(c1 AS DOUBLE)
                * (CAST(n AS DOUBLE) - CAST(c1 AS DOUBLE))), 6)
       END AS phi
FROM pairs
ORDER BY col_a, col_b
"""


M4_BUCKET_S = 86_400


def ts_m4(spark, sf_dir):
    """M4 viz downsampling of per-type event values (operators.
    temporal.m4_downsample): first/last/min/max rows per day bucket —
    pixel-lossless rendering at 4/|bucket| of the data (~17x here);
    deterministic struct-ordered role winners, cents-pinned values."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        m4_downsample,
    )

    return m4_downsample(
        T(spark, sf_dir, "events"),
        ["event_type"],
        "ts",
        "value",
        "event_id",
        bucket_seconds=M4_BUCKET_S,
    )


TS_M4_SQL = f"""
WITH enc AS (
  SELECT event_type,
         CAST((epoch_us(ts) - epoch_us(ts) % {M4_BUCKET_S * 1_000_000})
              / {M4_BUCKET_S * 1_000_000} AS BIGINT) AS b,
         epoch_us(ts) AS t,
         CAST(ROUND(value * 100) AS BIGINT) AS v,
         event_id AS i
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
roles AS (
  SELECT event_type, b,
         MIN(struct_pack(v := v, t := t, i := i)) AS vmin,
         MAX(struct_pack(v := v, t := t, i := i)) AS vmax,
         MIN(struct_pack(t := t, i := i, v := v)) AS tmin,
         MAX(struct_pack(t := t, i := i, v := v)) AS tmax
  FROM enc GROUP BY 1, 2),
pts AS (
  SELECT event_type, b * {M4_BUCKET_S} AS bucket_s,
         unnest([
           struct_pack(t := vmin.t, v := vmin.v, i := vmin.i),
           struct_pack(t := vmax.t, v := vmax.v, i := vmax.i),
           struct_pack(t := tmin.t, v := tmin.v, i := tmin.i),
           struct_pack(t := tmax.t, v := tmax.v, i := tmax.i)
         ]) AS p
  FROM roles)
SELECT DISTINCT event_type, bucket_s,
       CAST((p.t - p.t % 1000000) / 1000000 AS BIGINT) AS t_s,
       ROUND(CAST(p.v AS DOUBLE) / 100.0, 6) AS value,
       p.i AS event_id
FROM pts
ORDER BY event_type, bucket_s, t_s, event_id
"""


EP_GAP_S = 2 * 86_400


def ev_alert_episodes(spark, sf_dir):
    """Anomaly alarms collapsed to episodes (operators.temporal.
    alert_episodes over rolling_anomaly flags): gaps-and-islands per
    user with a 2-day gap budget — the page-once-per-episode readout
    beside ev_anomaly's row-level flags."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        alert_episodes,
        rolling_anomaly,
    )

    flags = rolling_anomaly(
        T(spark, sf_dir, "events"),
        keys=["user_id"],
        ts_col="ts",
        value_col="value",
        id_col="event_id",
        window_spec="7 days",
        z_threshold=3.0,
        min_points=10,
    )
    return alert_episodes(
        flags, ["user_id"], "ts", "event_id",
        max_gap_seconds=EP_GAP_S,
    )


EV_EPISODES_SQL = f"""
WITH enc AS (
  SELECT user_id, event_id, ts, value,
         CAST(ROUND(value * 100) AS BIGINT) AS x
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL),
st AS (
  SELECT user_id, event_id, ts, value, x,
         COUNT(*) OVER w AS n,
         CAST(SUM(x) OVER w AS BIGINT) AS s1,
         CAST(SUM(x * x) OVER w AS BIGINT) AS s2
  FROM enc
  WINDOW w AS (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)),
zt AS (
  SELECT user_id, event_id, ts,
         CASE WHEN n >= 10
                   AND (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) > 0
              THEN ROUND(
                (CAST(x AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                / sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))), 6)
              END AS z
  FROM st),
flags AS (SELECT * FROM zt WHERE ABS(z) > 3),
marked AS (
  SELECT user_id, event_id, ts, z,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR CAST((epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                         - (epoch_us(ts) - epoch_us(LAG(ts) OVER w))
                           % 1000000) / 1000000 AS BIGINT) > {EP_GAP_S}
              THEN 1 ELSE 0 END AS nw
  FROM flags
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
islands AS (
  SELECT user_id, event_id, ts, z,
         SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS episode
  FROM marked)
SELECT user_id, CAST(episode AS BIGINT) AS episode,
       MIN(ts) AS start_ts, MAX(ts) AS end_ts,
       CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))
             - (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) % 1000000)
            / 1000000 AS BIGINT) AS duration_s,
       CAST(COUNT(*) AS BIGINT) AS n_alerts,
       MAX(ABS(z)) AS peak_abs_z
FROM islands
GROUP BY user_id, episode
ORDER BY user_id, episode
"""


def pf_weighted_quantiles(spark, sf_dir):
    """Quantity-weighted price quantiles per return flag (operators.
    profiling.weighted_quantiles): smallest price whose cumulative
    quantity reaches p·W — pure BIGINT cumulative-weight machinery,
    tie values commute without a tie-break."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        weighted_quantiles,
    )

    return weighted_quantiles(
        T(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        "l_extendedprice",
        "l_quantity",
    )


PF_WQ_SQL = """
WITH enc AS (
  SELECT l_returnflag AS g,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS x,
         CAST(ROUND(l_quantity) AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    AND l_quantity > 0),
enc2 AS (SELECT * FROM enc WHERE w > 0),
ranked AS (
  SELECT g, x, w,
         CAST(SUM(w) OVER (PARTITION BY g ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cw,
         CAST(SUM(w) OVER (PARTITION BY g) AS BIGINT) AS tw
  FROM enc2)
SELECT g AS l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MAX(tw) AS BIGINT) AS total_weight,
       ROUND(CAST(MIN(CASE WHEN cw >=
           greatest(1, (500000 * tw + 999999) // 1000000)
         THEN x END) AS DOUBLE) / 100.0, 6) AS p50_weighted,
       ROUND(CAST(MIN(CASE WHEN cw >=
           greatest(1, (900000 * tw + 999999) // 1000000)
         THEN x END) AS DOUBLE) / 100.0, 6) AS p90_weighted
FROM ranked
GROUP BY g
ORDER BY l_returnflag
"""


ZIPF_TOP_N = 200


def tx_zipf(spark, sf_dir):
    """Zipf-law fit of the token rank-frequency curve per language
    (operators.textops.zipf_fit): micro-pinned log-log OLS over the
    top-200 ranks — the corpus-law companion to pf_tail_index."""
    from calp_cva_tracking_pipeline_spark.operators.textops import zipf_fit

    return zipf_fit(
        T(spark, sf_dir, "documents"), "lang", "text", top_n=ZIPF_TOP_N
    )


TX_ZIPF_SQL = rf"""
WITH toks AS (
  SELECT lang AS g,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
  FROM documents WHERE lang IS NOT NULL),
cnt AS (
  SELECT g, t, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
ranked AS (
  SELECT g, c,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY c DESC, t ASC) AS r
  FROM cnt QUALIFY r <= {ZIPF_TOP_N}),
pts AS (
  SELECT g,
         CAST(ROUND(ln(CAST(r AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS y
  FROM ranked),
agg AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_ranked,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pts GROUP BY g),
d AS (
  SELECT g, n_ranked,
         CAST(n_ranked AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
         CAST(syy AS DOUBLE) AS syyd
  FROM agg)
SELECT g AS lang, n_ranked,
       CASE WHEN n_ranked >= 3 AND nd * sxxd - sxd * sxd > 0 THEN
         ROUND((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6)
       END AS slope,
       CASE WHEN n_ranked >= 3 AND nd * sxxd - sxd * sxd > 0
                 AND (nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd) > 0
       THEN
         ROUND((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
               / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6)
       END AS r2
FROM d
ORDER BY lang
"""


def emb_quant_error(spark, sf_dir):
    """Per-dimension int8 reconstruction-error audit (operators.linalg.
    quantization_error): MSE + max |err| of the dequantized embeddings
    vs the originals — the commit gate before serving switches to
    compressed vectors; max err bounded by scale/254 by construction."""
    from calp_cva_tracking_pipeline_spark.operators.linalg import (
        quantization_error,
    )

    return quantization_error(
        T(spark, sf_dir, "embeddings"), "embedding", "vec_id"
    )


EMB_QERR_SQL = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
idx AS (
  SELECT vec_id, vec, unnest(generate_series(1, len(vec))) AS i FROM v),
scales AS (SELECT i, MAX(ABS(vec[i])) AS s FROM idx GROUP BY i),
qd AS (
  SELECT x.i, s.s,
         CASE WHEN s.s > 0
              THEN CAST(ROUND(127.0 * x.vec[x.i] / s.s) AS INT)
              ELSE 0 END AS q,
         x.vec[x.i] AS orig
  FROM idx x JOIN scales s ON s.i = x.i),
err AS (
  SELECT i, s,
         orig - CAST(q AS DOUBLE) * s / 127.0 AS e
  FROM qd),
pinned AS (
  SELECT i, s,
         CAST(ROUND(e * e * 1e12) AS BIGINT) AS sq,
         CAST(ROUND(ABS(e) * 1e9) AS BIGINT) AS ae
  FROM err)
SELECT CAST(i - 1 AS INT) AS dim,
       ROUND(MAX(s), 9) AS scale,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(sq) AS BIGINT)
             / CAST(COUNT(*) AS DOUBLE) / 1e12, 9) AS mse,
       ROUND(CAST(MAX(ae) AS BIGINT) / 1e9, 9) AS max_abs_err
FROM pinned
GROUP BY i
ORDER BY dim
"""


# --- Round-11 wave 37: video-level near-dup ----------------------------------

VNEAR_CAP = 64


def mm_video_neardup(spark, sf_dir):
    """Video-level near-duplicate pairs by shared decoded-frame content
    (operators.videoseq.video_neardup_pairs): re-cut edits of common
    footage pair with their frame-set Jaccard even without whole-video
    identity. Corpus: every 3 consecutive doc_ids share two md5-derived
    scenes cut at rank-shifted frames, and each video carries
    doc_id % 3 UNIQUE leading frames — so within-group pairs share 1-2
    scene digests out of 2-4 distinct frames (varied exact-integer
    jaccards, non-degenerate operating point), cross-group pairs share
    nothing. ONE decode pass (shared _frame_digests stage), bucketed
    pair expansion, never a decode self-join."""
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from calp_cva_tracking_pipeline_spark.operators.videoseq import (
        synthesize_frsq_payloads,
        video_neardup_pairs,
    )

    d = spread_small_input(T(spark, sf_dir, "documents").select("doc_id"))
    npx = VSEQ_W * VSEQ_H
    h60 = "CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"
    cut = "(((doc_id DIV 3) * 13 + (doc_id % 3) * 7) % 6 + 1)"
    scene = f"IF(f >= {cut}, 1, 0)"
    key = (
        "IF(f < doc_id % 3,"
        " concat('vu|', CAST(doc_id AS STRING), '|', CAST(f AS STRING),"
        " '|', CAST(p AS STRING)),"
        " concat('vg|', CAST(doc_id DIV 3 AS STRING), '|',"
        f" CAST({scene} AS STRING), '|', CAST(p AS STRING)))"
    )
    vh = h60.format(s=key)
    synth = d.select(
        "doc_id",
        F.expr(
            f"""transform(sequence(0, {VSEQ_FRAMES - 1}), f ->
                  transform(sequence(0, {npx - 1}), p ->
                    CAST(({vh}) % 256 AS INT)))"""
        ).alias("frames"),
    )
    vids = synthesize_frsq_payloads(
        synth, "doc_id", "frames", VSEQ_W, VSEQ_H
    )
    return video_neardup_pairs(
        vids, "doc_id", "payload",
        min_shared=1, max_videos_per_frame=VNEAR_CAP,
    )


MM_VIDEO_NEARDUP_SQL = f"""
WITH fr AS (SELECT unnest(generate_series(0, {VSEQ_FRAMES - 1})) AS f),
px AS (SELECT unnest(generate_series(0, {VSEQ_W * VSEQ_H - 1})) AS p),
cells AS (
  SELECT doc_id, f, p,
         CASE WHEN f >= (((doc_id // 3) * 13 + (doc_id % 3) * 7) % 6 + 1)
              THEN 1 ELSE 0 END AS s
  FROM documents CROSS JOIN fr CROSS JOIN px),
vals AS (
  SELECT doc_id, f, p,
         CAST(CAST(('0x' || substring(md5(
             CASE WHEN f < doc_id % 3
                  THEN 'vu|' || CAST(doc_id AS VARCHAR) || '|' ||
                       CAST(f AS VARCHAR) || '|' || CAST(p AS VARCHAR)
                  ELSE 'vg|' || CAST(doc_id // 3 AS VARCHAR) || '|' ||
                       CAST(s AS VARCHAR) || '|' || CAST(p AS VARCHAR)
             END), 1, 15)) AS UBIGINT) AS BIGINT) % 256 AS v
  FROM cells),
digs AS (
  SELECT doc_id AS m, f,
         md5('{VSEQ_W}x{VSEQ_H}:'
             || string_agg(CAST(v AS VARCHAR), ',' ORDER BY p)) AS digest
  FROM vals GROUP BY doc_id, f),
vf AS (SELECT DISTINCT m, digest FROM digs),
vc AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS nf FROM vf GROUP BY m),
buck AS (
  SELECT digest FROM (
    SELECT digest, COUNT(*) AS c FROM vf GROUP BY digest) b
  WHERE c BETWEEN 2 AND {VNEAR_CAP}),
pairs AS (
  SELECT a.m AS id_a, b.m AS id_b,
         CAST(COUNT(*) AS BIGINT) AS shared_frames
  FROM vf a JOIN vf b USING (digest)
  WHERE a.m < b.m AND digest IN (SELECT digest FROM buck)
  GROUP BY 1, 2)
SELECT id_a, id_b, shared_frames,
       ca.nf AS n_frames_a, cb.nf AS n_frames_b,
       CAST(1000000 * shared_frames
            // (ca.nf + cb.nf - shared_frames) AS BIGINT) AS jaccard_ppm
FROM pairs JOIN vc ca ON ca.m = id_a JOIN vc cb ON cb.m = id_b
WHERE shared_frames >= 1
ORDER BY id_a, id_b
"""


# --- Round-11 wave 37: embedding training-data ops ---------------------------

HARDNEG_K = 3


def emb_hard_negatives(spark, sf_dir):
    """Hard-negative mining (operators.similarity.hard_negatives): per
    anchor, the 3 most-similar DIFFERENT-label vectors within its
    nprobe IVF cells — the contrastive-pair construction step (easy
    random negatives teach nothing). Rides the same deterministic
    quantizer and probe discipline as ann_ivf_topk; label mismatch is a
    residual filter before the rank cut."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        hard_negatives,
    )

    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    return hard_negatives(
        e, q, "vec_id", "embedding", "label",
        "vec_id", "embedding", "label",
        n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE, k=HARDNEG_K,
    )


EMB_HARDNEG_SQL = f"""
WITH c AS (SELECT vec_id, label,
                  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT CAST(vec_id AS BIGINT) AS centroid_id, v AS cv
  FROM c ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
assign AS (
  SELECT vec_id, label, centroid_id AS cell FROM (
    SELECT a.vec_id, a.label, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY {_D2.format(a='a.v', b='cent.cv')}, cent.centroid_id
           ) AS rn
    FROM c a CROSS JOIN cent) t
  WHERE rn = 1 AND label IS NOT NULL),
probes AS (
  SELECT query_id, query_label, centroid_id AS cell FROM (
    SELECT q.vec_id AS query_id, q.label AS query_label,
           cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_D2.format(a='q.v', b='cent.cv')}, cent.centroid_id
           ) AS pr
    FROM (SELECT * FROM c
          WHERE vec_id < {N_QUERIES} AND label IS NOT NULL) q
    CROSS JOIN cent) t
  WHERE pr <= {IVF_NPROBE}),
scored AS (
  SELECT p.query_id, a.vec_id AS negative_id,
         p.query_label, a.label AS negative_label,
         ROUND(list_dot_product(qv.v, av.v) /
               (sqrt(list_dot_product(qv.v, qv.v))
                * sqrt(list_dot_product(av.v, av.v))), 6) AS cosine
  FROM probes p
  JOIN assign a ON a.cell = p.cell AND a.label <> p.query_label
  JOIN c qv ON qv.vec_id = p.query_id
  JOIN c av ON av.vec_id = a.vec_id)
SELECT query_id, negative_id, query_label, negative_label, cosine,
       CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, negative_id) AS rank
  FROM scored) t
WHERE rank <= {HARDNEG_K}
ORDER BY query_id, rank
"""


def ann_ivf_incr(spark, sf_dir):
    """Incremental IVF maintenance audit (operators.similarity.
    ivf_incremental_audit): the base corpus (vec_id % 4 > 0) trains the
    frozen quantizer; the incoming quarter (vec_id % 4 = 0) assigns to
    it, and per cell the audit reports growth_ppm plus quantization-
    error drift — the retrain trigger for a drifting corpus. Dead and
    newly-hot cells both surface."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        ivf_incremental_audit,
    )

    e = T(spark, sf_dir, "embeddings")
    return ivf_incremental_audit(
        e.filter(F.col("vec_id") % 4 > 0),
        e.filter(F.col("vec_id") % 4 == 0),
        "vec_id",
        "embedding",
        n_centroids=IVF_CENTROIDS,
    )


ANN_IVF_INCR_SQL = f"""
WITH cb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id % 4 > 0),
ci AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       FROM embeddings WHERE vec_id % 4 = 0),
cent AS (
  SELECT CAST(vec_id AS BIGINT) AS centroid_id, v AS cv
  FROM cb ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
ab AS (
  SELECT vec_id, centroid_id AS cell, d2 FROM (
    SELECT a.vec_id, cent.centroid_id,
           {_D2.format(a='a.v', b='cent.cv')} AS d2,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY {_D2.format(a='a.v', b='cent.cv')}, cent.centroid_id
           ) AS rn
    FROM cb a CROSS JOIN cent) t WHERE rn = 1),
ai AS (
  SELECT vec_id, centroid_id AS cell, d2 FROM (
    SELECT a.vec_id, cent.centroid_id,
           {_D2.format(a='a.v', b='cent.cv')} AS d2,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY {_D2.format(a='a.v', b='cent.cv')}, cent.centroid_id
           ) AS rn
    FROM ci a CROSS JOIN cent) t WHERE rn = 1),
sb AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_base,
              SUM(CAST(ROUND(d2 * 1e6, 0) AS BIGINT)) AS mb
       FROM ab GROUP BY cell),
si AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_new,
              SUM(CAST(ROUND(d2 * 1e6, 0) AS BIGINT)) AS mi
       FROM ai GROUP BY cell)
SELECT cent.centroid_id AS cell,
       CAST(COALESCE(n_base, 0) AS BIGINT) AS n_base,
       CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
       CASE WHEN n_base > 0 THEN CAST(
           1000000 * COALESCE(n_new, 0) // n_base AS BIGINT) END
           AS growth_ppm,
       CASE WHEN n_base > 0 THEN ROUND(
           CAST(mb AS DOUBLE) / n_base / 1e6, 6) END AS mean_d2_base,
       CASE WHEN n_new > 0 THEN ROUND(
           CAST(mi AS DOUBLE) / n_new / 1e6, 6) END AS mean_d2_new,
       ROUND((CASE WHEN n_new > 0 THEN ROUND(
                  CAST(mi AS DOUBLE) / n_new / 1e6, 6) END)
             - (CASE WHEN n_base > 0 THEN ROUND(
                  CAST(mb AS DOUBLE) / n_base / 1e6, 6) END), 6)
           AS d2_drift
FROM cent LEFT JOIN sb ON sb.cell = cent.centroid_id
          LEFT JOIN si ON si.cell = cent.centroid_id
ORDER BY cell
"""


# --- Round-11 wave 37: exact-substring duplicate spans ------------------------

SUBSPAN_K = 8
SUBSPAN_CAP = 64
# per-doc gram-emission cap (VERDICT r13 ask #4): shared constant so
# native and SQL twin truncate pathological docs identically
SUBSPAN_DOC_CAP = 8192


def dd_substring_spans(spark, sf_dir):
    """Cross-document duplicate-run spans (operators.dedup.
    duplicate_run_spans): token spans covered by 8-grams appearing in
    ≥ 2 documents, merged into maximal per-doc runs — the actionable
    WHERE-to-cut output of exact-substring dedup (Lee et al. 2022),
    beside winnow's WHO-overlaps pairs. One gram-hash count + join-back
    + gaps-and-islands window."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        duplicate_run_spans,
    )

    return duplicate_run_spans(
        T(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=SUBSPAN_K,
        max_docs_per_gram=SUBSPAN_CAP,
        max_grams_per_doc=SUBSPAN_DOC_CAP,
    )


DD_SUBSPAN_SQL = rf"""
WITH tl AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE text IS NOT NULL),
g AS (
  SELECT doc_id, i - 1 AS i,
         {_sql_hash60(
             f"array_to_string(list_slice(toks, i, i + {SUBSPAN_K} - 1),"
             " ' ')"
         )} AS h
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1,
                 least(len(toks) - {SUBSPAN_K} + 1, {SUBSPAN_DOC_CAP})))
                 AS i
        FROM tl WHERE len(toks) >= {SUBSPAN_K}) t),
dup AS (
  SELECT h FROM (
    SELECT h, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY h) b
  WHERE nd BETWEEN 2 AND {SUBSPAN_CAP}),
pos AS (SELECT doc_id, i FROM g WHERE h IN (SELECT h FROM dup)),
isl AS (
  SELECT doc_id, i,
         SUM(CASE WHEN prev IS NULL OR i - prev > {SUBSPAN_K}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM (SELECT doc_id, i,
               LAG(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM pos) t)
SELECT doc_id,
       CAST(MIN(i) + 1 AS BIGINT) AS span_start,
       CAST(MAX(i) + {SUBSPAN_K} AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM isl GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""


# --- Round-11 wave 38: MMR rerank + l-diversity -------------------------------

MMR_K = 4
MMR_LAMBDA = 70


def rt_mmr(spark, sf_dir):
    """MMR-diversified rerank of the BM25 pool (operators.retrieval.
    mmr_rerank): greedy λ·relevance − (1−λ)·max-Jaccard-to-selected over
    the top-10 candidates — the result-page diversification pass.
    Integer-exact end to end (micro-unit relevance, floor-micro token
    Jaccard, integer objective), so the unrolled SQL greedy replays the
    selection; the pool is page-sized by contract, one Arrow group per
    query."""
    from calp_cva_tracking_pipeline_spark.operators.retrieval import (
        mmr_rerank,
    )
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        bm25_topk,
    )

    d = T(spark, sf_dir, "documents")
    cands = bm25_topk(
        d, "doc_id", BM25_QUERY, k1=BM25_K1, b=BM25_B, top_k=BM25_TOP_K
    )
    toks = d.select(
        "doc_id",
        F.array_distinct(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), "\\s+"),
                lambda x: x != "",
            )
        ).alias("__toks"),
    )
    c = cands.join(toks, "doc_id").select(
        F.lit(0).cast("int").alias("query_id"),
        "doc_id",
        F.round(F.col("score") * 1e6, 0).cast("bigint").alias(
            "rel_micro"
        ),
        "__toks",
    )
    return mmr_rerank(
        c, "query_id", "doc_id", "rel_micro", "__toks",
        k=MMR_K, lambda_pct=MMR_LAMBDA,
    )


def _mmr_sql() -> str:
    lam, mu = MMR_LAMBDA, 100 - MMR_LAMBDA
    parts = [
        f"WITH cands0 AS ({RT_BM25_SQL})",
        "cands AS (SELECT doc_id,"
        " CAST(ROUND(score * 1e6, 0) AS BIGINT) AS rel FROM cands0)",
        r"""ct AS (
  SELECT DISTINCT c.doc_id, t FROM cands c JOIN (
    SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
    FROM documents) u ON u.doc_id = c.doc_id
  WHERE t <> '')""",
        "sz AS (SELECT doc_id, COUNT(*) AS sz FROM ct GROUP BY doc_id)",
        "inter AS (SELECT a.doc_id AS da, b.doc_id AS db,"
        " COUNT(*) AS i FROM ct a JOIN ct b USING (t)"
        " WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)",
        "sims AS (SELECT da, db,"
        " 1000000 * i // (x.sz + y.sz - i) AS sm"
        " FROM inter JOIN sz x ON x.doc_id = da"
        " JOIN sz y ON y.doc_id = db)",
        f"sel1 AS (SELECT doc_id, rel, 1 AS mmr_rank,"
        f" {lam} * rel AS mmr_score"
        f" FROM cands ORDER BY {lam} * rel DESC, doc_id LIMIT 1)",
    ]
    for r in range(2, MMR_K + 1):
        parts.append(
            f"sc{r} AS (SELECT c.doc_id, c.rel,"
            f" {lam} * c.rel - {mu} * COALESCE(MAX(s.sm), 0) AS sc"
            f" FROM cands c LEFT JOIN sims s ON s.da = c.doc_id"
            f" AND s.db IN (SELECT doc_id FROM sel{r - 1})"
            f" WHERE c.doc_id NOT IN (SELECT doc_id FROM sel{r - 1})"
            f" GROUP BY c.doc_id, c.rel)"
        )
        parts.append(
            f"p{r} AS (SELECT doc_id, rel, {r} AS mmr_rank,"
            f" sc AS mmr_score"
            f" FROM sc{r} ORDER BY sc DESC, doc_id LIMIT 1)"
        )
        parts.append(
            f"sel{r} AS (SELECT * FROM sel{r - 1}"
            f" UNION ALL SELECT * FROM p{r})"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT CAST(0 AS INT) AS query_id, doc_id,"
        f" CAST(rel AS BIGINT) AS rel_micro,"
        f" CAST(mmr_rank AS INT) AS mmr_rank,"
        f" CAST(mmr_score AS BIGINT) AS mmr_score"
        f" FROM sel{MMR_K} ORDER BY mmr_rank"
    )


RT_MMR_SQL = _mmr_sql()

LDIV_L = 40


def pf_ldiversity(spark, sf_dir):
    """l-diversity privacy audit (operators.profiling.l_diversity) of
    user identity over (event_type, hour-of-day) equivalence classes —
    k-anonymity's homogeneity-attack companion: a class is risky when
    fewer than 40 distinct users populate it, and the class-level user
    entropy (nano-pinned) grades how concentrated the quasi-identifier
    is. One cell aggregation + class rollup."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        l_diversity,
    )

    e = T(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hod"), "user_id"
    )
    return l_diversity(
        e, ["event_type", "hod"], "user_id", l_threshold=LDIV_L
    )


PF_LDIV_SQL = f"""
WITH cells AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hod, user_id,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2, 3),
e AS (
  SELECT event_type, hod, c,
         CAST(ROUND(ROUND(
             (CAST(c AS DOUBLE) / t) * LN(CAST(c AS DOUBLE) / t)
             * -1.0, 9) * 1e9, 0) AS BIGINT) AS en
  FROM (SELECT *, SUM(c) OVER (PARTITION BY event_type, hod) AS t
        FROM cells) s)
SELECT event_type, hod,
       CAST(SUM(c) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_sensitive,
       ROUND(CAST(SUM(en) AS BIGINT) / 1e9, 6) AS entropy_nats,
       (COUNT(*) < {LDIV_L}) AS risky
FROM e GROUP BY event_type, hod
ORDER BY event_type, hod
"""


# --- Round-11 wave 39: MRL eval, lag features, TWAP, DP counts ---------------

MRL_DIMS = [8, 16, 32]


def ann_mrl_eval(spark, sf_dir):
    """Matryoshka truncated-dimension recall eval (operators.similarity.
    matryoshka_recall): recall@5 of prefix-8/16/32 cosine search vs the
    full 64-dim ranking — the measurement that decides how small the
    serving index can go. One brute pass per prefix, integer-ppm
    recall."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        matryoshka_recall,
    )

    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    return matryoshka_recall(
        e, q, "vec_id", "embedding", "vec_id", "embedding",
        prefix_dims=MRL_DIMS, k=TOP_K,
    )


def _mrl_sql() -> str:
    def topk_cte(name: str, vexpr: str) -> str:
        return f"""{name} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             ROUND(list_dot_product({vexpr.format(s='q.v')},
                                    {vexpr.format(s='c.v')}) /
               (sqrt(list_dot_product({vexpr.format(s='q.v')},
                                      {vexpr.format(s='q.v')}))
                * sqrt(list_dot_product({vexpr.format(s='c.v')},
                                        {vexpr.format(s='c.v')}))), 6)
               DESC, c.vec_id) AS rank
    FROM (SELECT * FROM c WHERE vec_id < {N_QUERIES}) q
    CROSS JOIN c WHERE q.vec_id <> c.vec_id) t
  WHERE rank <= {TOP_K})"""

    parts = [
        "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)",
        topk_cte("fullk", "{s}"),
        "nq AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT)"
        " AS n_queries FROM fullk)",
    ]
    sels = []
    for d in MRL_DIMS:
        parts.append(topk_cte(f"d{d}", f"list_slice({{s}}, 1, {d})"))
        sels.append(
            f"SELECT CAST({d} AS INT) AS dims, nq.n_queries, h.hits,"
            f" CASE WHEN nq.n_queries > 0 THEN CAST(1000000 * h.hits"
            f" // (nq.n_queries * {TOP_K}) AS BIGINT) END"
            f" AS recall_ppm"
            f" FROM (SELECT CAST(COUNT(*) AS BIGINT) AS hits"
            f" FROM d{d} t JOIN fullk f USING (query_id, neighbor_id)) h"
            f" CROSS JOIN nq"
        )
    body = ",\n".join(parts)
    u = "\nUNION ALL\n".join(sels)
    return f"{body}\n{u}\nORDER BY dims"


ANN_MRL_SQL = _mrl_sql()

LAG_WINDOW_ROWS = 3


def ev_lag_features(spark, sf_dir):
    """Per-user lagged features (operators.temporal.lag_features):
    previous value, 3-row rolling mean (cents-pinned), inter-event gap
    seconds and event index — four windows over ONE user-keyed
    exchange with a total (ts, event_id) order; the feature-store
    construction step."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        lag_features,
    )

    return lag_features(
        T(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "value",
        "event_id",
        window_rows=LAG_WINDOW_ROWS,
    )


EV_LAG_SQL = f"""
WITH b AS (
  SELECT user_id, event_id, ts,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL)
SELECT user_id, event_id, ts,
       ROUND(CAST(LAG(c) OVER
           (PARTITION BY user_id ORDER BY ts, event_id)
           AS DOUBLE) / 100, 6) AS prev_value,
       ROUND(CAST(SUM(c) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN {LAG_WINDOW_ROWS - 1} PRECEDING AND CURRENT ROW)
           AS DOUBLE)
         / (COUNT(*) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN {LAG_WINDOW_ROWS - 1} PRECEDING AND CURRENT ROW)
            * 100), 6) AS rolling_mean,
       CAST(CAST(FLOOR(epoch(ts)) AS BIGINT)
            - CAST(FLOOR(epoch(LAG(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)))
              AS BIGINT) AS BIGINT) AS gap_s,
       CAST(ROW_NUMBER() OVER
           (PARTITION BY user_id ORDER BY ts, event_id)
           AS BIGINT) AS event_idx
FROM b ORDER BY user_id, ts, event_id
"""


def ts_twap(spark, sf_dir):
    """Duration-weighted mean event value per type (operators.temporal.
    time_weighted_mean): each observation holds until the next, so the
    mean integrates over time instead of over-weighting bursts — TWAP.
    Cents × whole-second durations accumulate as decimal; the last
    observation per key carries no interval by contract."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        time_weighted_mean,
    )

    return time_weighted_mean(
        T(spark, sf_dir, "events"),
        ["event_type"],
        "ts",
        "value",
        tiebreak_cols=["event_id"],
    )


TS_TWAP_SQL = """
WITH b AS (
  SELECT event_type, ts, event_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE ts IS NOT NULL),
d AS (
  SELECT event_type, c,
         CAST(FLOOR(epoch(LEAD(ts) OVER
             (PARTITION BY event_type ORDER BY ts, event_id)))
           AS BIGINT)
         - CAST(FLOOR(epoch(ts)) AS BIGINT) AS dur
  FROM b)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(COALESCE(SUM(dur), 0) AS BIGINT) AS total_s,
       CASE WHEN COALESCE(SUM(dur), 0) > 0 THEN ROUND(
           CAST(SUM(CAST(c AS HUGEINT) * dur) AS DOUBLE)
           / SUM(dur) / 100, 6) END AS twap
FROM d GROUP BY event_type
ORDER BY event_type
"""

DP_EPSILON_MILLI = 1000
DP_SEED = 42


def pf_dp_counts(spark, sf_dir):
    """Differentially-private histogram release (operators.profiling.
    dp_noisy_counts): Laplace(1/ε) noisy per-(event_type, weekday)
    counts at ε=1.0 — raw counts deliberately not emitted. The uniform
    draw here is the md5-derived REPLAYABLE variant (explicit
    ``deterministic_noise=True`` opt-in — the round-12 advisor fix made
    non-replayable ``F.rand()`` noise the default), which is what lets
    the oracle verify the mechanism end to end."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        dp_noisy_counts,
    )

    e = T(spark, sf_dir, "events").select(
        "event_type", (F.dayofweek("ts") - 1).alias("dow")
    )
    return dp_noisy_counts(
        e, ["event_type", "dow"],
        epsilon_milli=DP_EPSILON_MILLI, seed=DP_SEED,
        deterministic_noise=True,
    )


PF_DP_SQL = f"""
WITH counts AS (
  SELECT event_type, CAST(dayofweek(ts) AS INT) AS dow,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
noised AS (
  SELECT event_type, dow, n,
         CAST(CAST(('0x' || substring(md5(
             COALESCE(CAST(event_type AS VARCHAR), chr(30))
             || chr(31) ||
             COALESCE(CAST(dow AS VARCHAR), chr(30))
             || chr(31) ||
             'dp:{DP_SEED}'), 1, 15)) AS UBIGINT) AS BIGINT)
             % 1000000000 / 1e9 AS u
  FROM counts)
SELECT event_type, dow,
       ROUND(n + (-1000.0 / {DP_EPSILON_MILLI})
           * CASE WHEN u > 0.5 THEN 1.0 WHEN u < 0.5 THEN -1.0
                  ELSE 0.0 END
           * LN(GREATEST(1.0 - 2.0 * ABS(u - 0.5), 1e-9)), 6)
           AS noisy_count,
       CAST({DP_EPSILON_MILLI} AS INT) AS epsilon_milli
FROM noised ORDER BY event_type, dow
"""


# --- Round-11 wave 40: coverage, cohort LTV, Adamic-Adar ----------------------

COVERAGE_EVAL_MOD = 50
# k=3: the corpus is short-doc word salad over a compact vocabulary, so
# 3-gram coverage lands mid-range and VARIES per doc (40-100% at sf0.01)
# where the 8-gram point was binary (0 except exact dups) -- the
# non-degenerate-operating-point discipline (dd_norm_exact lesson)
COVERAGE_K = 3


def tx_ngram_coverage(spark, sf_dir):
    """Eval-set n-gram coverage by the training corpus (operators.dedup.
    ngram_coverage): per held-out doc (doc_id % 50 = 0), the ppm of its
    3-grams already present in the rest of the corpus — the
    memorization-vs-generalization audit between decontam and novelty.
    Corpus grams collapse to one distinct hash set; eval side
    semi-counts against it."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        ngram_coverage,
    )

    d = T(spark, sf_dir, "documents")
    return ngram_coverage(
        d.filter(F.col("doc_id") % COVERAGE_EVAL_MOD != 0),
        d.filter(F.col("doc_id") % COVERAGE_EVAL_MOD == 0),
        "doc_id",
        "text",
        k=COVERAGE_K,
    )


TX_COVERAGE_SQL = rf"""
WITH tl AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE text IS NOT NULL),
g AS (
  SELECT doc_id,
         {_sql_hash60(
             f"array_to_string(list_slice(toks, i, i + {COVERAGE_K} - 1),"
             " ' ')"
         )} AS h
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {COVERAGE_K} + 1)) AS i
        FROM tl WHERE len(toks) >= {COVERAGE_K}) t),
cg AS (SELECT DISTINCT h FROM g WHERE doc_id % {COVERAGE_EVAL_MOD} <> 0),
eg AS (SELECT doc_id, h FROM g WHERE doc_id % {COVERAGE_EVAL_MOD} = 0),
pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
       FROM eg GROUP BY doc_id),
hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_covered
         FROM eg WHERE h IN (SELECT h FROM cg) GROUP BY doc_id)
SELECT pd.doc_id, n_grams,
       CAST(COALESCE(n_covered, 0) AS BIGINT) AS n_covered,
       CAST(1000000 * COALESCE(n_covered, 0) // n_grams AS BIGINT)
           AS coverage_ppm
FROM pd LEFT JOIN hits USING (doc_id)
ORDER BY pd.doc_id
"""


def ev_cohort_value(spark, sf_dir):
    """Cohort value (LTV) curve (operators.funnel.cohort_value_curve):
    users cohort by first-event ISO week; per (cohort, age-week) the
    active users, period value and CUMULATIVE cohort value — the
    payback readout beside ev_retention's who-comes-back counts.
    Cents-pinned sums; cumulative window over the cell table."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        cohort_value_curve,
    )

    return cohort_value_curve(
        T(spark, sf_dir, "events"), "user_id", "ts", "value"
    )


EV_COHORT_VALUE_SQL = """
WITH b AS (
  SELECT user_id AS u, ts,
         CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT) AS c
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
f AS (SELECT u, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cw
      FROM b GROUP BY u),
cells AS (
  SELECT cw AS cohort_week,
         CAST(date_diff('day', cw, CAST(ts AS DATE)) // 7 AS BIGINT)
             AS age_weeks,
         CAST(COUNT(DISTINCT b.u) AS BIGINT) AS n_active,
         SUM(c) AS pc
  FROM b JOIN f ON f.u = b.u GROUP BY 1, 2)
SELECT cohort_week, age_weeks, n_active,
       ROUND(CAST(pc AS DOUBLE) / 100, 6) AS period_value,
       ROUND(CAST(SUM(pc) OVER (PARTITION BY cohort_week
                                ORDER BY age_weeks
                                ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / 100, 6) AS cum_value
FROM cells ORDER BY cohort_week, age_weeks
"""

AA_MIN_SHARED = 2
AA_CAP = 64
AA_TOPK = 5


def gr_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction (operators.graph.adamic_adar) on the
    supplier↔part graph: shared RARE neighbors score high, shared hubs
    low — the degree-weighted refinement of gr_neighbor_sim's Jaccard,
    riding the same one-exchange wedge machinery with PLAN-TIME-LITERAL
    nano weights; hub centers capped at 64 neighbors. Served as the top
    5 candidates per node (the link-prediction serving shape): on this
    DENSE co-occurrence graph every supplier pair shares something, so
    the uncut pair set is Θ(n²) by the semantics — the per-node
    WindowGroupLimit cut keeps the output linear in nodes without ever
    materializing the quadratic set globally."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        adamic_adar,
    )

    return adamic_adar(
        _supplier_part_digraph(spark, sf_dir),
        min_shared=AA_MIN_SHARED,
        max_neighbors=AA_CAP,
        top_k_per_node=AA_TOPK,
    )


def _gr_aa_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        aa_weights_nano,
    )

    edges = (
        f"SELECT l_suppkey AS src, l_partkey + {PR_PART_OFFSET} AS dst "
        f"FROM lineitem WHERE l_orderkey % 2 = 0 "
        f"UNION ALL "
        f"SELECT l_partkey + {PR_PART_OFFSET} AS src, l_suppkey AS dst "
        f"FROM lineitem WHERE l_orderkey % 2 = 1"
    )
    # the SAME plan-time weight literals the Spark side embeds (libm
    # ROUND(1e9/LN(deg)) diverges by 1 nano across engines)
    wlist = ", ".join(
        f"CAST({x} AS BIGINT)" for x in aa_weights_nano(AA_CAP)
    )
    return f"""
WITH e AS (
  SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS d
  FROM ({edges}) WHERE src <> dst),
adj AS (
  SELECT s AS w, d AS n FROM e UNION SELECT d, s FROM e),
deg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY w),
wgt AS (SELECT w, ([{wlist}])[CAST(deg AS INT)] AS wn
        FROM deg WHERE deg <= {AA_CAP}),
cadj AS (SELECT a.* FROM adj a JOIN wgt ON wgt.w = a.w),
wp AS (
  SELECT a.n AS na, b.n AS nb,
         CAST(COUNT(*) AS BIGINT) AS shared,
         CAST(SUM(wgt.wn) AS BIGINT) AS aa
  FROM cadj a JOIN cadj b ON a.w = b.w AND a.n < b.n
  JOIN wgt ON wgt.w = a.w
  GROUP BY 1, 2 HAVING COUNT(*) >= {AA_MIN_SHARED} AND SUM(wgt.wn) >= 0)
SELECT node_a, node_b, shared, aa_nano,
       CAST(aa_rank AS INTEGER) AS aa_rank
FROM (
  SELECT na AS node_a, nb AS node_b, shared,
         CAST(aa AS BIGINT) AS aa_nano,
         ROW_NUMBER() OVER (PARTITION BY na
                            ORDER BY aa DESC, nb) AS aa_rank
  FROM wp) t
WHERE aa_rank <= {AA_TOPK}
ORDER BY node_a, node_b
"""


GR_AA_SQL = _gr_aa_sql()


# --- Round-11 wave 41: schema drift + mixture reweight ------------------------

_DRIFT_LEGACY = '{"legacy_field": 1}'
_DRIFT_V2 = '{"v2_flag": 1}'


def ev_schema_drift(spark, sf_dir):
    """Producer schema drift on the props JSON column (operators.
    semistruct.json_schema_drift): old slice = even event_ids with a
    deterministic minority rewritten to a LEGACY-only shape, new slice
    = odd ids with a minority on a V2-only shape — so the audit
    surfaces one removed key, one added key and coverage drift on the
    common ones (the derive-from-testdata discipline: the raw column
    alone would exercise only the 'common' branch)."""
    from calp_cva_tracking_pipeline_spark.operators.semistruct import (
        json_schema_drift,
    )

    e = T(spark, sf_dir, "events").select("event_id", "props")
    old = e.filter(F.col("event_id") % 2 == 0).select(
        F.when(
            F.col("event_id") % 11 == 0, F.lit(_DRIFT_LEGACY)
        ).otherwise(F.col("props")).alias("props")
    )
    new = e.filter(F.col("event_id") % 2 == 1).select(
        F.when(
            F.col("event_id") % 5 == 0, F.lit(_DRIFT_V2)
        ).otherwise(F.col("props")).alias("props")
    )
    return json_schema_drift(old, new, "props")


EV_SCHEMA_DRIFT_SQL = f"""
WITH o AS (
  SELECT CASE WHEN event_id % 11 = 0 THEN '{_DRIFT_LEGACY}'
              ELSE props END AS props
  FROM events WHERE event_id % 2 = 0),
nn AS (
  SELECT CASE WHEN event_id % 5 = 0 THEN '{_DRIFT_V2}'
              ELSE props END AS props
  FROM events WHERE event_id % 2 = 1),
ot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM o),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM nn),
ok_ AS (SELECT unnest(json_keys(props)) AS key
        FROM o WHERE props IS NOT NULL AND json_valid(props)),
nk AS (SELECT unnest(json_keys(props)) AS key
       FROM nn WHERE props IS NOT NULL AND json_valid(props)),
oi AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_old,
              CAST(1000000 * COUNT(*) // tot AS BIGINT) AS cov_old_ppm
       FROM ok_ CROSS JOIN ot GROUP BY key, tot),
ni AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_new,
              CAST(1000000 * COUNT(*) // tot AS BIGINT) AS cov_new_ppm
       FROM nk CROSS JOIN nt GROUP BY key, tot)
SELECT COALESCE(oi.key, ni.key) AS key,
       CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
       CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
       CAST(COALESCE(cov_old_ppm, 0) AS BIGINT) AS cov_old_ppm,
       CAST(COALESCE(cov_new_ppm, 0) AS BIGINT) AS cov_new_ppm,
       CAST(COALESCE(cov_new_ppm, 0) - COALESCE(cov_old_ppm, 0)
            AS BIGINT) AS drift_ppm,
       CASE WHEN oi.key IS NULL THEN 'added'
            WHEN ni.key IS NULL THEN 'removed'
            ELSE 'common' END AS status
FROM oi FULL OUTER JOIN ni ON oi.key = ni.key
ORDER BY key
"""

# deliberately skewed target (src0 oversampled 4x, src19 at 1.6x) with a
# tight clamp so the over-boost flag fires on src0
REWEIGHT_TARGET = {
    "src0": 200_000,
    **{f"src{i}": 40_000 for i in range(1, 19)},
    "src19": 80_000,
}
REWEIGHT_CLAMP = 3000


def mx_reweight(spark, sf_dir):
    """Mixture-correction importance weights (operators.sampling.
    mixture_reweight): per source, target_share / empirical_share in
    exact milli-units (decimal arithmetic — target_ppm × corpus size
    overflows int64 at web scale), clamped at 3 passes with the
    over-boost flag surfaced — the DoReMi-style multiplier a sampler
    consumes next to mx_mixture's draw."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        mixture_reweight,
    )

    return mixture_reweight(
        T(spark, sf_dir, "documents"),
        "source",
        target_ppm=REWEIGHT_TARGET,
        clamp_max_milli=REWEIGHT_CLAMP,
    )


def _mx_reweight_sql() -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(REWEIGHT_TARGET.items())
    )
    return f"""
WITH emp AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM documents WHERE source IS NOT NULL GROUP BY source),
t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS tot FROM emp),
w AS (
  SELECT source, n_rows,
         CAST(1000000 * n_rows // tot AS BIGINT) AS emp_ppm,
         CAST((CASE source {cases} ELSE 0 END) AS BIGINT) AS target_ppm,
         (CAST((CASE source {cases} ELSE 0 END) AS HUGEINT) * tot)
             // (1000 * n_rows) AS raw
  FROM emp CROSS JOIN t)
SELECT source, n_rows, emp_ppm, target_ppm,
       CAST(LEAST(raw, {REWEIGHT_CLAMP}) AS BIGINT) AS weight_milli,
       (raw > {REWEIGHT_CLAMP}) AS clamped
FROM w ORDER BY source
"""


MX_REWEIGHT_SQL = _mx_reweight_sql()


# --- Round-11 wave 42: query expansion + frequency movers ---------------------

QEXP_TOP_M = 10


def rt_query_expansion(spark, sf_dir):
    """Pseudo-relevance-feedback query expansion (operators.retrieval.
    query_expansion_terms): terms concentrated in the BM25 top-10 pool
    but rare in the corpus, scored by the integer-exact
    1000·tf_pool div df_corpus (libm-free by design — a log-weighted
    RM3 score would re-open the cross-engine 1-ulp divergence);
    original query terms excluded."""
    from calp_cva_tracking_pipeline_spark.operators.retrieval import (
        query_expansion_terms,
    )

    return query_expansion_terms(
        T(spark, sf_dir, "documents"),
        "doc_id",
        BM25_QUERY,
        k1=BM25_K1,
        b=BM25_B,
        pool=BM25_TOP_K,
        top_m=QEXP_TOP_M,
    )


RT_QEXP_SQL = f"""
WITH {_BM25_SCORED_CTES},
pool AS (SELECT doc_id FROM scored
         ORDER BY score DESC, doc_id LIMIT {BM25_TOP_K}),
ptf AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS tf_pool
  FROM toks JOIN pool USING (doc_id)
  WHERE term NOT IN ({_BM25_TERMS})
  GROUP BY term),
dfc AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df_corpus
  FROM toks GROUP BY term)
SELECT term, tf_pool, df_corpus,
       CAST(1000 * tf_pool // df_corpus AS BIGINT) AS score_milli
FROM ptf JOIN dfc USING (term)
ORDER BY score_milli DESC, term
LIMIT {QEXP_TOP_M}
"""

MOVERS_TOP_K = 20


def tx_top_movers(spark, sf_dir):
    """Top token-frequency movers between the even and odd doc halves
    (operators.profiling.frequency_movers): which words surged or
    collapsed, in integer ppm share deltas — the categorical
    what-changed-most readout beside pf_psi/pf_chi2's did-it-change
    statistics; appearing/vanishing keys are never dropped."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        frequency_movers,
    )

    toks = (
        T(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            (F.col("doc_id") % 2).cast("int").alias("sl"),
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), "\\s+")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    return frequency_movers(
        toks, "term", F.col("sl"), top_k=MOVERS_TOP_K
    )


TX_MOVERS_SQL = rf"""
WITH tk AS (
  SELECT CAST(doc_id % 2 AS INT) AS s,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents WHERE text IS NOT NULL),
cells AS (
  SELECT term, s, CAST(COUNT(*) AS BIGINT) AS c
  FROM tk WHERE term <> '' GROUP BY 1, 2),
tot AS (SELECT s, CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY s),
j AS (
  SELECT term,
         CAST(COALESCE(MAX(CASE WHEN s = 0 THEN c END), 0) AS BIGINT)
             AS n_old,
         CAST(COALESCE(MAX(CASE WHEN s = 1 THEN c END), 0) AS BIGINT)
             AS n_new,
         CAST(COALESCE(MAX(CASE WHEN s = 0
             THEN 1000000 * c // t END), 0) AS BIGINT) AS ppm_old,
         CAST(COALESCE(MAX(CASE WHEN s = 1
             THEN 1000000 * c // t END), 0) AS BIGINT) AS ppm_new
  FROM cells JOIN tot USING (s) GROUP BY term)
SELECT term, n_old, n_new, ppm_old, ppm_new,
       CAST(ppm_new - ppm_old AS BIGINT) AS delta_ppm
FROM j
ORDER BY ABS(ppm_new - ppm_old) DESC, term
LIMIT {MOVERS_TOP_K}
"""


# --- Round-11 wave 43: interval coverage + centroid drift ---------------------


def tj_coverage_gaps(spark, sf_dir):
    """Shipment-window coverage per supplier (operators.temporal.
    interval_coverage_gaps): [shipdate, shipdate + floor(quantity)
    days] intervals (the testdata schema carries no receipt date —
    floor, not cast: DuckDB CAST(DOUBLE AS INT) rounds where Spark
    truncates) merge into islands; the audit reports covered seconds,
    in-window gap mass and the largest outage — the uptime/coverage
    readout for any validity-interval table. One key-ordered exchange,
    epoch-second integer arithmetic."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        interval_coverage_gaps,
    )

    li = T(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.col("l_shipdate").cast("timestamp").alias("w_start"),
        F.expr(
            "CAST(date_add(l_shipdate,"
            " CAST(floor(l_quantity) AS INT)) AS TIMESTAMP)"
        ).alias("w_end"),
    )
    return interval_coverage_gaps(
        li, ["l_suppkey"], "w_start", "w_end"
    )


TJ_COVERAGE_SQL = """
WITH b AS (
  SELECT l_suppkey,
         CAST(FLOOR(epoch(CAST(l_shipdate AS TIMESTAMP))) AS BIGINT)
             AS s,
         CAST(FLOOR(epoch(CAST(l_shipdate
             + CAST(FLOOR(l_quantity) AS INT) * INTERVAL 1 DAY
             AS TIMESTAMP))) AS BIGINT) AS e
  FROM lineitem
  WHERE l_shipdate IS NOT NULL AND l_quantity IS NOT NULL
    AND FLOOR(l_quantity) >= 0),
t AS (
  SELECT l_suppkey, s, e,
         MAX(e) OVER (PARTITION BY l_suppkey ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS pmax
  FROM b),
t2 AS (
  SELECT l_suppkey, s, e,
         CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS nw,
         CASE WHEN pmax IS NOT NULL AND s > pmax THEN s - pmax
              ELSE 0 END AS gap
  FROM t),
t3 AS (
  SELECT *, SUM(nw) OVER (PARTITION BY l_suppkey ORDER BY s, e
                          ROWS UNBOUNDED PRECEDING) AS island
  FROM t2),
isl AS (
  SELECT l_suppkey, island, MIN(s) AS i_s, MAX(e) AS i_e,
         CAST(COUNT(*) AS BIGINT) AS n, MAX(gap) AS g
  FROM t3 GROUP BY l_suppkey, island)
SELECT l_suppkey,
       CAST(SUM(n) AS BIGINT) AS n_intervals,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(i_e - i_s) AS BIGINT) AS covered_s,
       CAST(COALESCE(SUM(g), 0) AS BIGINT) AS gap_s,
       CAST(COALESCE(MAX(g), 0) AS BIGINT) AS max_gap_s
FROM isl GROUP BY l_suppkey
ORDER BY l_suppkey
"""


def emb_centroid_drift(spark, sf_dir):
    """Per-label embedding centroid drift between the even and odd
    vec_id halves (operators.similarity.centroid_drift): squared L2
    between decimal-exact 6-dp slice centroids — the embedding-space
    drift monitor beside the numeric PSI/KS tier (a moved centroid
    silently degrades every distance-based consumer)."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        centroid_drift,
    )

    e = T(spark, sf_dir, "embeddings")
    return centroid_drift(
        e.filter(F.col("vec_id") % 2 == 0),
        e.filter(F.col("vec_id") % 2 == 1),
        "embedding",
        "label",
    )


EMB_DRIFT_SQL = f"""
WITH v AS (
  SELECT CAST(vec_id % 2 AS INT) AS sl, label,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
  WHERE label IS NOT NULL AND embedding IS NOT NULL),
px AS (SELECT unnest(generate_series(1, {EMB_DIM})) AS i),
pd AS (
  SELECT sl, label, i,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(CAST(SUM(CAST(v[i] AS DECIMAL(27,9))) AS DOUBLE)
               / COUNT(*), 6) AS m
  FROM v CROSS JOIN px GROUP BY 1, 2, 3),
co AS (SELECT label, MAX(n) AS n_old, list(m ORDER BY i) AS c
       FROM pd WHERE sl = 0 GROUP BY label),
cn AS (SELECT label, MAX(n) AS n_new, list(m ORDER BY i) AS c
       FROM pd WHERE sl = 1 GROUP BY label)
SELECT COALESCE(co.label, cn.label) AS label,
       CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
       CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
       CASE WHEN co.label IS NOT NULL AND cn.label IS NOT NULL THEN
         {_D2.format(a='co.c', b='cn.c')} END AS d2_drift
FROM co FULL OUTER JOIN cn ON co.label = cn.label
ORDER BY label
"""


# --- Round-11 capstone: the full release report ------------------------------

_RELEASE_CARD_METRICS = [
    "n_docs", "n_sources", "n_langs", "total_tokens", "total_chars",
    "exact_dup_ppm", "lang_entropy_nats", "mean_doc_tokens",
    "short_doc_ppm",
]


def pf_release_report(spark, sf_dir):
    """The full release report (VERDICT r10 ask #5): the four corners of
    a training-data release — global dataset card, per-source profile,
    per-source token-distribution divergence (tx_jsd's kernel), and the
    cross-split contamination cells (dd_split_leakage's kernel) — in
    ONE long-format frame (section, key_a, key_b, metric, value).

    Shared-lineage shape: the card AND the per-source profile both
    derive from ONE (source, lang, digest) cell aggregation, so its
    exchange is planned once and ReusedExchange fires for the other
    consumers (plan-pinned, the pipelines.py / tx_jsd discipline);
    divergence and leakage ride the same documents scan through their
    own kernels (scan reuse — their exchanges are theirs). Card/profile
    formulas are bit-identical to pf_dataset_card's (the oracle embeds
    PF_CARD2_SQL verbatim); counts travel as exact doubles < 2^53."""
    from calp_cva_tracking_pipeline_spark.functions.text import (
        token_count,
    )
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        split_leakage_audit,
    )
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        corpus_js_divergence,
    )

    d = T(spark, sf_dir, "documents")
    toks = F.when(F.col("text").isNotNull(), token_count(F.col("text")))
    base = d.select(
        "source",
        "lang",
        F.md5("text").alias("__dig"),
        toks.alias("__tok"),
        F.length("text").alias("__chars"),
    )
    cells = cut(base.groupBy("source", "lang", "__dig").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.coalesce(F.sum("__tok"), F.lit(0)).cast("bigint").alias("__ts"),
        F.coalesce(F.sum("__chars"), F.lit(0))
        .cast("bigint")
        .alias("__cs"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("__tok") < CARD_SHORT_TOKENS, 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("__sh"),
    # r16 (verdict ask #8): the three cells consumers (card, lang
    # entropy, per-source profile) plan full copies of the
    # md5 + token_count + length text pass; AQE ReusedExchange dedups
    # SOME copies at runtime, but only when the subplans stay
    # byte-identical after per-branch pruning — a fragile condition
    # this composition has already lost once (the tx_jsd isnotnull
    # lesson). The lazy cut makes single execution STRUCTURAL: it
    # materializes the digest-cardinality NARROW frame (counters only,
    # never text) once. The divergence/leakage corners keep their own
    # single text passes (ReadSchemas verified pruned — text is
    # semantically required per corner, so a shared text-sized cut
    # would pin the corpus in block storage and was rejected).
    ))
    n_text = F.sum(
        F.when(F.col("__dig").isNotNull(), F.col("__n")).otherwise(0)
    ).cast("bigint")
    card = cells.agg(
        F.sum("__n").cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("__ts").cast("bigint").alias("total_tokens"),
        F.sum("__cs").cast("bigint").alias("total_chars"),
        n_text.alias("__nt"),
        F.countDistinct("__dig").cast("bigint").alias("__nd"),
        F.sum("__sh").cast("bigint").alias("__ns"),
    )
    from pyspark.sql import Window

    lang_counts = (
        cells.filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.sum("__n").cast("bigint").alias("__c"))
    )
    tot_w = Window.partitionBy()
    frac = F.col("__c").cast("double") / F.sum("__c").over(tot_w).cast(
        "double"
    )
    ent_nano = F.round(
        F.round(frac * F.log(frac) * F.lit(-1.0), 9) * 1e9, 0
    ).cast("long")
    entropy = lang_counts.select(ent_nano.alias("__e")).agg(
        F.coalesce(F.sum("__e"), F.lit(0)).alias("__ent")
    )

    def _dup_ppm(nt, nd):
        return F.when(
            nt > 0,
            F.round((F.lit(1.0) - nd.cast("double") / nt.cast("double"))
                    * 1e6, 0),
        ).cast("double")

    def _ratio(nt, num, dp, scale=1.0):
        return F.when(
            nt > 0,
            F.round(num.cast("double") * scale / nt.cast("double"), dp),
        ).cast("double")

    card_vals = card.crossJoin(F.broadcast(entropy)).select(
        F.col("n_docs").cast("double").alias("n_docs"),
        F.col("n_sources").cast("double").alias("n_sources"),
        F.col("n_langs").cast("double").alias("n_langs"),
        F.col("total_tokens").cast("double").alias("total_tokens"),
        F.col("total_chars").cast("double").alias("total_chars"),
        _dup_ppm(F.col("__nt"), F.col("__nd")).alias("exact_dup_ppm"),
        F.round(F.col("__ent").cast("double") / 1e9, 6)
        .cast("double")
        .alias("lang_entropy_nats"),
        _ratio(F.col("__nt"), F.col("total_tokens"), 6).alias(
            "mean_doc_tokens"
        ),
        _ratio(F.col("__nt"), F.col("__ns"), 0, 1e6).alias(
            "short_doc_ppm"
        ),
    )
    card_stack = ", ".join(
        f"'{m}', {m}" for m in _RELEASE_CARD_METRICS
    )
    card_long = card_vals.select(
        F.lit("card").alias("section"),
        F.lit("(all)").alias("key_a"),
        F.lit(None).cast("string").alias("key_b"),
        F.expr(
            f"stack({len(_RELEASE_CARD_METRICS)}, {card_stack})"
            " AS (metric, value)"
        ),
    )

    prof = cells.groupBy("source").agg(
        F.sum("__n").cast("bigint").alias("__pn"),
        F.sum("__ts").cast("bigint").alias("__pt"),
        n_text.alias("__pnt"),
        F.countDistinct("__dig").cast("bigint").alias("__pnd"),
        F.sum("__sh").cast("bigint").alias("__pns"),
    )
    prof_long = prof.select(
        "source",
        F.col("__pn").cast("double").alias("__v1"),
        F.col("__pt").cast("double").alias("__v2"),
        _dup_ppm(F.col("__pnt"), F.col("__pnd")).alias("__v3"),
        _ratio(F.col("__pnt"), F.col("__pt"), 6).alias("__v4"),
        _ratio(F.col("__pnt"), F.col("__pns"), 0, 1e6).alias("__v5"),
    ).select(
        F.lit("profile").alias("section"),
        F.col("source").alias("key_a"),
        F.lit(None).cast("string").alias("key_b"),
        F.expr(
            "stack(5, 'n_docs', __v1, 'total_tokens', __v2,"
            " 'exact_dup_ppm', __v3, 'mean_doc_tokens', __v4,"
            " 'short_doc_ppm', __v5) AS (metric, value)"
        ),
    )

    jsd_long = corpus_js_divergence(d, "source", "text").select(
        F.lit("divergence").alias("section"),
        F.col("source").alias("key_a"),
        F.lit(None).cast("string").alias("key_b"),
        F.lit("jsd").alias("metric"),
        F.col("jsd").cast("double").alias("value"),
    )
    leak_long = split_leakage_audit(
        d,
        "doc_id",
        "text",
        splits={"train": 0.8, "val": 0.1, "test": 0.1},
        k=WINNOW_K,
        window=WINNOW_W,
        max_docs_per_fp=WINNOW_CAP,
        max_docs_per_hash=LEAK_CAP_EXACT,
        seed=LEAK_SEED,
    ).select(
        F.lit("leakage").alias("section"),
        F.col("split_a").alias("key_a"),
        F.col("split_b").alias("key_b"),
        F.expr(
            "stack(2, 'n_exact_pairs', CAST(n_exact_pairs AS DOUBLE),"
            " 'n_near_pairs', CAST(n_near_pairs AS DOUBLE))"
            " AS (metric, value)"
        ),
    )
    return (
        card_long.unionByName(prof_long)
        .unionByName(jsd_long)
        .unionByName(leak_long)
        .orderBy("section", "key_a", "key_b", "metric")
    )


def _release_sql() -> str:
    card_sel = "\nUNION ALL\n".join(
        f"SELECT 'card' AS section, '(all)' AS key_a,"
        f" CAST(NULL AS VARCHAR) AS key_b, '{m}' AS metric,"
        f" CAST({m} AS DOUBLE) AS value FROM card"
        for m in _RELEASE_CARD_METRICS
    )
    prof_metrics = {
        "n_docs": "CAST(n_docs AS DOUBLE)",
        "total_tokens": "CAST(total_tokens AS DOUBLE)",
        "exact_dup_ppm": (
            "CASE WHEN n_text > 0 THEN CAST(ROUND((1.0 -"
            " CAST(n_dig AS DOUBLE) / CAST(n_text AS DOUBLE)) * 1e6, 0)"
            " AS DOUBLE) END"
        ),
        "mean_doc_tokens": (
            "CASE WHEN n_text > 0 THEN CAST(ROUND("
            "CAST(total_tokens AS DOUBLE) / CAST(n_text AS DOUBLE), 6)"
            " AS DOUBLE) END"
        ),
        "short_doc_ppm": (
            "CASE WHEN n_text > 0 THEN CAST(ROUND("
            "CAST(n_short AS DOUBLE) * 1e6 / CAST(n_text AS DOUBLE), 0)"
            " AS DOUBLE) END"
        ),
    }
    prof_sel = "\nUNION ALL\n".join(
        f"SELECT 'profile' AS section, source AS key_a,"
        f" CAST(NULL AS VARCHAR) AS key_b, '{m}' AS metric,"
        f" {expr} AS value FROM prof"
        for m, expr in prof_metrics.items()
    )
    return rf"""
WITH card AS ({PF_CARD2_SQL}),
prof AS (
  WITH pb AS (
    SELECT source, text, md5(text) AS dig,
           CASE WHEN text IS NULL THEN NULL
                WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS tok
    FROM documents)
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COALESCE(SUM(tok), 0) AS BIGINT) AS total_tokens,
         CAST(COUNT(text) AS BIGINT) AS n_text,
         CAST(COUNT(DISTINCT dig) AS BIGINT) AS n_dig,
         CAST(COALESCE(SUM(CASE WHEN tok < {CARD_SHORT_TOKENS}
             THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_short
  FROM pb GROUP BY source),
jsd AS ({TX_JSD_SQL}),
leak AS ({DD_LEAK_SQL})
{card_sel}
UNION ALL
{prof_sel}
UNION ALL
SELECT 'divergence', source, CAST(NULL AS VARCHAR), 'jsd',
       CAST(jsd AS DOUBLE) FROM jsd
UNION ALL
SELECT 'leakage', split_a, split_b, 'n_exact_pairs',
       CAST(n_exact_pairs AS DOUBLE) FROM leak
UNION ALL
SELECT 'leakage', split_a, split_b, 'n_near_pairs',
       CAST(n_near_pairs AS DOUBLE) FROM leak
ORDER BY section, key_a, key_b, metric
"""


PF_RELEASE_SQL = _release_sql()


# --- Round-12 wave 44: release-grade duplicate census ------------------------

DUP_ALL_LABEL = "<ALL>"


def dd_dup_census(spark, sf_dir):
    """Release-grade duplicate census (VERDICT r11 ask #7): the dedup
    pillar's four tiers — exact (raw md5), normalized-exact
    (dedup_normalized's digest), MinHash+LSH candidates (T2's
    parameters) and winnowed-fingerprint overlap pairs (T125's) —
    composed into ONE per-source readout plus a global ``<ALL>`` row.
    Per source: doc/text populations, distinct exact and normalized
    digests, the implied duplicate-doc masses, and the two near-dup
    pair counts attributed to SAME-source pairs (cross-source pair mass
    surfaces only in the ``<ALL>`` row, where per-source attribution
    would double-count).

    Shared-lineage shape (the pf_release_report discipline): the exact
    and normalized corners — per-source AND global — all derive from
    ONE (source, raw, norm) digest-cell aggregation, planned once with
    ReusedExchange for the second consumer (plan-pinned in
    tests/test_plan_shapes.py); the two pair tiers ride the same
    documents scan through their own bucketed kernels (band buckets /
    fingerprint buckets — never a pair explosion), and their counts
    join back at source cardinality. Pair tiers run on the
    exact-collapsed corpus (min-id representative), the dd_minhash_lsh
    contract.

    r15 restructure (guide §2.4/§2.6): each pair tier's (source, is_all)
    attribution is ONE aggregation consumed by ONE left join — every
    pair emits its same-source bucket (when source_a <=> source_b) plus
    the <ALL> bucket through a 2-element explode, so the per-source rows
    and the global row read DIFFERENT keys of the SAME count table (the
    is_all flag keeps a real source literally named "<ALL>" collision-
    free). This replaces two EAGER localCheckpoint cuts that serialized
    the MinHash tier, the winnow tier and the final readout into three
    back-to-back jobs at construction time; fully lazy, all three
    kernels now run as parallel stages of the one timed job
    (interleaved A/B at sf0.1: 4.41s → 2.83s, rows identical).

    The digest-cell aggregation is NOT cut: its consumers share it
    through AQE exchange reuse, and a lazy cut there measured no gain in
    an interleaved A/B (5 fresh processes per side, median of 5 at
    sf0.1, 4 cores: 4.52 s with the cut, 4.37 s without)."""
    from calp_cva_tracking_pipeline_spark.functions.text import (
        ASCII_PUNCT_CLASS,
    )
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
        winnow_overlap_pairs,
    )
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )

    d = T(spark, sf_dir, "documents")
    norm = F.regexp_replace(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(
                    F.lower(F.col("text")), ASCII_PUNCT_CLASS, ""
                ),
                "\\s+",
                " ",
            )
        ),
        "\\s+",
        " ",
    )
    cells = (
        d.select(
            "source",
            F.md5(F.col("text")).alias("__raw"),
            F.md5(norm).alias("__norm"),
        )
        .groupBy("source", "__raw", "__norm")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )

    def corners(grouped):
        return grouped.agg(
            F.sum("__n").cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.col("__raw").isNotNull(), F.col("__n")).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_text"),
            F.countDistinct("__raw").cast("bigint").alias(
                "exact_distinct"
            ),
            F.countDistinct("__norm").cast("bigint").alias(
                "norm_distinct"
            ),
        )

    per_src = corners(cells.groupBy("source")).withColumn(
        "__all", F.lit(False)
    )
    total = (
        corners(cells.groupBy())
        .withColumn("source", F.lit(DUP_ALL_LABEL))
        .withColumn("__all", F.lit(True))
    )
    rows = per_src.unionByName(total)

    smap = d.select(F.col("doc_id").alias("__pid"), F.col("source"))
    cand = minhash_lsh_candidates(
        d,
        "doc_id",
        "text",
        num_hashes=NUM_HASHES,
        bands=BANDS,
        k=3,
        pre_collapse_exact=True,
        max_bucket_docs=MAX_BUCKET_DOCS,
    ).select("id_a", "id_b")
    wn = winnow_overlap_pairs(
        spread_small_input(d),
        "doc_id",
        k=WINNOW_K,
        window=WINNOW_W,
        max_docs_per_fp=WINNOW_CAP,
    ).select("id_a", "id_b")

    def attributed(pairs, out_name):
        # ONE (src, is_all) count table per tier, consumed by ONE left
        # join: every pair emits the <ALL> bucket, plus its same-source
        # bucket when source_a <=> source_b (2-element explode). Fully
        # lazy — no localCheckpoint barrier, so both pair kernels and
        # the digest corners overlap as stages of the one final job
        # (r15 A/B: 4.41s → 2.83s at sf0.1). The is_all flag keeps a
        # real source literally named "<ALL>" from aliasing the global
        # row's key.
        j = pairs.join(
            smap.select(
                F.col("__pid").alias("id_a"), F.col("source").alias("__sa")
            ),
            "id_a",
        ).join(
            smap.select(
                F.col("__pid").alias("id_b"), F.col("source").alias("__sb")
            ),
            "id_b",
        )
        allb = F.struct(
            F.lit(DUP_ALL_LABEL).alias("__src"), F.lit(True).alias("__ia")
        )
        sameb = F.struct(
            F.col("__sa").alias("__src"), F.lit(False).alias("__ia")
        )
        return (
            j.select(
                F.explode(
                    F.when(
                        F.col("__sa").eqNullSafe(F.col("__sb")),
                        F.array(sameb, allb),
                    ).otherwise(F.array(allb))
                ).alias("__e")
            )
            .groupBy("__e.__src", "__e.__ia")
            .agg(F.count(F.lit(1)).cast("bigint").alias(out_name))
        )

    mh = attributed(cand, "minhash_pairs")
    wn_c = attributed(wn, "winnow_pairs")

    joined = (
        rows.join(
            mh,
            F.col("source").eqNullSafe(mh["__src"])
            & (rows["__all"] == mh["__ia"]),
            "left",
        )
        .drop("__src", "__ia")
        .join(
            wn_c,
            F.col("source").eqNullSafe(wn_c["__src"])
            & (rows["__all"] == wn_c["__ia"]),
            "left",
        )
        .drop("__src", "__ia")
    )
    out_cols = [
        "source",
        "n_docs",
        "n_text",
        "exact_distinct",
        (F.col("n_text") - F.col("exact_distinct"))
        .cast("bigint")
        .alias("exact_dup_docs"),
        "norm_distinct",
        (F.col("n_text") - F.col("norm_distinct"))
        .cast("bigint")
        .alias("norm_dup_docs"),
        F.coalesce("minhash_pairs", F.lit(0))
        .cast("bigint")
        .alias("minhash_pairs"),
        F.coalesce("winnow_pairs", F.lit(0))
        .cast("bigint")
        .alias("winnow_pairs"),
    ]
    return joined.select(*out_cols).orderBy(F.asc_nulls_last("source"))


DD_CENSUS_SQL = rf"""
WITH {_SIG_CTE},
tl AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents),
g AS (
  SELECT doc_id, len(toks) - {WINNOW_K} + 1 AS ng, i, {_WINNOW_H} AS h
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {WINNOW_K} + 1)) AS i
        FROM tl WHERE len(toks) >= {WINNOW_K}) t),
fps AS (
  SELECT DISTINCT doc_id, m AS fp FROM (
    SELECT doc_id, ng, i,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW
                        AND {WINNOW_W} - 1 FOLLOWING) AS m
    FROM g) s
  WHERE i <= greatest(1, ng - {WINNOW_W} + 1)),
bc AS (SELECT fp FROM (SELECT fp, COUNT(*) AS c FROM fps GROUP BY fp) b
       WHERE c BETWEEN 2 AND {WINNOW_CAP}),
wpairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fps a JOIN fps b USING (fp)
  WHERE a.doc_id < b.doc_id AND fp IN (SELECT fp FROM bc)),
base AS (
  SELECT source, md5(text) AS raw, {_NORM_EXPR} AS normh
  FROM documents),
cells AS (
  SELECT source, raw, normh, CAST(COUNT(*) AS BIGINT) AS n
  FROM base GROUP BY 1, 2, 3),
per_src AS (
  SELECT source,
         CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN raw IS NOT NULL THEN n ELSE 0 END) AS BIGINT)
           AS n_text,
         CAST(COUNT(DISTINCT raw) AS BIGINT) AS exact_distinct,
         CAST(COUNT(DISTINCT normh) AS BIGINT) AS norm_distinct
  FROM cells GROUP BY source),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN raw IS NOT NULL THEN n ELSE 0 END) AS BIGINT)
           AS n_text,
         CAST(COUNT(DISTINCT raw) AS BIGINT) AS exact_distinct,
         CAST(COUNT(DISTINCT normh) AS BIGINT) AS norm_distinct
  FROM cells),
mh AS (
  SELECT sa.source AS src, CAST(COUNT(*) AS BIGINT) AS minhash_pairs
  FROM cand
  JOIN documents sa ON sa.doc_id = cand.id_a
  JOIN documents sb ON sb.doc_id = cand.id_b
  WHERE sa.source IS NOT DISTINCT FROM sb.source
  GROUP BY 1),
mh_all AS (SELECT CAST(COUNT(*) AS BIGINT) AS minhash_pairs FROM cand),
wn AS (
  SELECT sa.source AS src, CAST(COUNT(*) AS BIGINT) AS winnow_pairs
  FROM wpairs
  JOIN documents sa ON sa.doc_id = wpairs.id_a
  JOIN documents sb ON sb.doc_id = wpairs.id_b
  WHERE sa.source IS NOT DISTINCT FROM sb.source
  GROUP BY 1),
wn_all AS (SELECT CAST(COUNT(*) AS BIGINT) AS winnow_pairs FROM wpairs)
SELECT source, n_docs, n_text, exact_distinct,
       CAST(n_text - exact_distinct AS BIGINT) AS exact_dup_docs,
       norm_distinct,
       CAST(n_text - norm_distinct AS BIGINT) AS norm_dup_docs,
       CAST(COALESCE(mh.minhash_pairs, 0) AS BIGINT) AS minhash_pairs,
       CAST(COALESCE(wn.winnow_pairs, 0) AS BIGINT) AS winnow_pairs
FROM per_src
LEFT JOIN mh ON per_src.source IS NOT DISTINCT FROM mh.src
LEFT JOIN wn ON per_src.source IS NOT DISTINCT FROM wn.src
UNION ALL
SELECT '{DUP_ALL_LABEL}', n_docs, n_text, exact_distinct,
       CAST(n_text - exact_distinct AS BIGINT),
       norm_distinct,
       CAST(n_text - norm_distinct AS BIGINT),
       mh_all.minhash_pairs, wn_all.winnow_pairs
FROM tot, mh_all, wn_all
ORDER BY source NULLS LAST
"""


# --- Round-12 wave 45: eval/audit/monitor tier ------------------------------

LSH_EVAL_MAX_ID = 400
LSH_EVAL_THRESHOLD_MICRO = 400_000


def dd_lsh_recall(spark, sf_dir):
    """MinHash-LSH candidate recall/precision vs exact k-gram Jaccard
    ground truth (operators.dedup.lsh_recall_eval) on a bounded eval
    slice — the dedup sibling of ann_recall_eval: the (16 hashes,
    4 bands) S-curve is measured, not assumed, before a release trusts
    the near-dup census. The slice is docs 0..199 AUGMENTED with
    deterministic near-dup variants (every even doc gains a
    three-token-suffixed copy at id+200 — the dd_norm_exact
    derive-from-testdata discipline: the raw corpus carries no
    high-Jaccard pairs inside a bounded slice, and a recall eval whose
    ground truth is empty measures nothing). Same banding parameters
    as dd_minhash_lsh."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        lsh_recall_eval,
    )

    base = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < LSH_EVAL_MAX_ID // 2)
        .select("doc_id", "text")
    )
    variants = base.filter(
        (F.col("doc_id") % 2 == 0) & F.col("text").isNotNull()
    ).select(
        (F.col("doc_id") + LSH_EVAL_MAX_ID // 2).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq0 qq1 qq2")).alias("text"),
    )
    return lsh_recall_eval(
        base.unionByName(variants),
        "doc_id",
        "text",
        max_eval_id=LSH_EVAL_MAX_ID,
        threshold_micro=LSH_EVAL_THRESHOLD_MICRO,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        k=3,
        max_bucket_docs=MAX_BUCKET_DOCS,
    )


def _dd_lsh_recall_sql() -> str:
    sliced = _SIG_CTE.replace(
        "FROM documents", "FROM eval_docs"
    )
    half = LSH_EVAL_MAX_ID // 2
    return f"""
WITH eval_docs AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id < {half} AND text IS NOT NULL
  UNION ALL
  SELECT doc_id + {half}, text || ' qq0 qq1 qq2'
  FROM documents
  WHERE doc_id < {half} AND doc_id % 2 = 0 AND text IS NOT NULL),
{sliced},
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM docs_dedup),
cntsh AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c
          FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
truth AS (
  SELECT id_a, id_b FROM inter
  JOIN cntsh ca ON ca.doc_id = id_a
  JOIN cntsh cb ON cb.doc_id = id_b
  WHERE 1000000 * i // (ca.c + cb.c - i) >= {LSH_EVAL_THRESHOLD_MICRO}),
hit AS (SELECT truth.id_a FROM truth
        JOIN cand ON cand.id_a = truth.id_a AND cand.id_b = truth.id_b)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM docs_dedup) AS n_docs,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand_pairs,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit,
  CASE WHEN (SELECT COUNT(*) FROM truth) > 0 THEN
    CAST(1000000 * (SELECT COUNT(*) FROM hit)
         // (SELECT COUNT(*) FROM truth) AS BIGINT) END AS recall_ppm,
  CASE WHEN (SELECT COUNT(*) FROM cand) > 0 THEN
    CAST(1000000 * (SELECT COUNT(*) FROM hit)
         // (SELECT COUNT(*) FROM cand) AS BIGINT) END AS precision_ppm
"""


DD_LSH_RECALL_SQL = _dd_lsh_recall_sql()


def tx_format_markers(spark, sf_dir):
    """Instruction/chat-format census per source (operators.textops.
    format_markers): Q&A scaffolding, chat role tags / special tokens,
    fenced code blocks and markdown headings as scan-speed JVM regex
    flags — the pre-training vs post-training routing readout. The
    corpus is AUGMENTED in place with deterministic scaffolding (every
    doc_id ≡ 0..3 mod 11 gains one marker family as a prefix — the
    derive-from-testdata discipline: the raw synthetic corpus carries
    zero markers, and an all-zero census exercises none of the four
    regex families)."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        format_markers,
    )

    d = T(spark, sf_dir, "documents")
    injected = (
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit("Q: how\nA: so\n"), F.col("text")),
        )
        .when(
            F.col("doc_id") % 11 == 1,
            F.concat(F.lit("USER: hi\nASSISTANT: ok\n"), F.col("text")),
        )
        .when(
            F.col("doc_id") % 11 == 2,
            F.concat(F.lit("```\ncode\n```\n"), F.col("text")),
        )
        .when(
            F.col("doc_id") % 11 == 3,
            F.concat(F.lit("# Title\n"), F.col("text")),
        )
        .otherwise(F.col("text"))
    )
    return format_markers(
        d.withColumn("text", injected), "source", "text"
    )


TX_FORMAT_SQL = r"""
WITH aug AS (
  SELECT source,
         CASE WHEN doc_id % 11 = 0
                THEN 'Q: how' || chr(10) || 'A: so' || chr(10) || text
              WHEN doc_id % 11 = 1
                THEN 'USER: hi' || chr(10) || 'ASSISTANT: ok'
                     || chr(10) || text
              WHEN doc_id % 11 = 2
                THEN '```' || chr(10) || 'code' || chr(10) || '```'
                     || chr(10) || text
              WHEN doc_id % 11 = 3 THEN '# Title' || chr(10) || text
              ELSE text END AS text
  FROM documents),
flags AS (
  SELECT source AS grp,
         CASE WHEN regexp_matches(text, '(?m)^\s*[QA]\s*:')
              THEN 1 ELSE 0 END AS qa,
         CASE WHEN regexp_matches(text,
              '(?m)(^\s*(USER|ASSISTANT|SYSTEM)\s*:)|(<\|[a-z_]+\|>)')
              THEN 1 ELSE 0 END AS chat,
         CASE WHEN regexp_matches(text, '```') THEN 1 ELSE 0 END
             AS fence,
         CASE WHEN regexp_matches(text, '(?m)^#{1,6} ')
              THEN 1 ELSE 0 END AS head,
         CASE WHEN text IS NULL THEN NULL ELSE 1 END AS has_text
  FROM aug),
agg AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COALESCE(SUM(qa), 0) AS BIGINT) AS qa_docs,
         CAST(COALESCE(SUM(chat), 0) AS BIGINT) AS chat_docs,
         CAST(COALESCE(SUM(fence), 0) AS BIGINT) AS code_fence_docs,
         CAST(COALESCE(SUM(head), 0) AS BIGINT) AS heading_docs,
         CAST(COALESCE(SUM(GREATEST(qa, chat, fence, head)), 0)
              AS BIGINT) AS any_marker_docs
  FROM flags GROUP BY grp)
SELECT grp, n_docs, qa_docs, chat_docs, code_fence_docs, heading_docs,
       any_marker_docs,
       CAST(1000000 * any_marker_docs // n_docs AS BIGINT)
           AS any_marker_ppm
FROM agg ORDER BY grp
"""


def ev_audience_overlap(spark, sf_dir):
    """Event-type audience overlap matrix (operators.funnel.
    audience_overlap): per unordered type pair the distinct-user
    intersection and exact floor-micro set Jaccard — which behaviors
    share users."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        audience_overlap,
    )

    return audience_overlap(
        T(spark, sf_dir, "events"), "user_id", "event_type"
    )


EV_AUDIENCE_SQL = """
WITH ut AS (
  SELECT DISTINCT user_id AS u, event_type AS t FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
sz AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY t),
b AS (
  SELECT a.t AS type_a, b.t AS type_b, CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
  GROUP BY 1, 2)
SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
       CAST(1000000 * n_both // (sa.n + sb.n - n_both) AS BIGINT)
           AS jaccard_micro
FROM b JOIN sz sa ON sa.t = type_a JOIN sz sb ON sb.t = type_b
ORDER BY type_a, type_b
"""


def gr_degree_stats(spark, sf_dir):
    """Degree-distribution octave census of the supplier↔part graph
    (operators.graph.degree_stats): log2 buckets cut INTEGER-exactly as
    length(bin(degree)) — the tail-weight readout run before the
    heavier graph tiers."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        degree_stats,
    )

    li = T(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + PR_PART_OFFSET).alias("dst"),
    )
    return degree_stats(edges)


GR_DEGREE_SQL = f"""
WITH e0 AS (
  SELECT l_suppkey AS src, l_partkey + {PR_PART_OFFSET} AS dst
  FROM lineitem),
e AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM e0
  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
adj AS (SELECT u AS w FROM e UNION ALL SELECT v FROM e),
deg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY w)
SELECT CAST(length(bin(d)) AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(d) AS BIGINT) AS min_degree,
       CAST(MAX(d) AS BIGINT) AS max_degree,
       CAST(SUM(d) AS BIGINT) AS total_degree
FROM deg GROUP BY 1 ORDER BY 1
"""

COSHIST_STRIDES = (1, 17, 101)


def emb_pair_cosine_hist(spark, sf_dir):
    """Embedding anisotropy histogram (operators.similarity.
    pair_cosine_hist): cosine distribution over deterministic
    id-strided sample pairs in 0.1-wide integer-cut bands — the
    space-collapse monitor under every similarity threshold."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        pair_cosine_hist,
    )

    return pair_cosine_hist(
        T(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        strides=COSHIST_STRIDES,
    )


EMB_COSHIST_SQL = f"""
WITH c AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
pairs AS (
  SELECT a.v AS av, b.v AS bv
  FROM c a
  JOIN (VALUES {", ".join(f"({s})" for s in COSHIST_STRIDES)})
       s(stride) ON TRUE
  JOIN c b ON b.id = a.id + s.stride),
cm AS (
  SELECT CAST(ROUND(list_dot_product(av, bv)
              / (sqrt(list_dot_product(av, av))
                 * sqrt(list_dot_product(bv, bv))) * 1000000, 0)
              AS BIGINT) AS m
  FROM pairs),
agg AS (
  SELECT CAST(LEAST((m + 1000000) // 100000, 19) AS INT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(m + 1000000) // COUNT(*) - 1000000 AS BIGINT)
             AS mean_cos_micro
  FROM cm GROUP BY 1)
SELECT bucket,
       CAST(CAST(bucket AS BIGINT) * 100000 - 1000000 AS BIGINT)
           AS cos_lo_micro,
       n_pairs, mean_cos_micro
FROM agg ORDER BY bucket
"""


def ts_drawdown(spark, sf_dir):
    """Max drawdown per event type (operators.temporal.drawdown):
    cents-pinned running peak minus value with an earliest-(ts, id)
    tie-broken pick — how far below its historical peak each monitored
    series fell, and when."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        drawdown,
    )

    return drawdown(
        T(spark, sf_dir, "events"), "event_type", "ts", "value",
        "event_id",
    )


TS_DRAWDOWN_SQL = """
WITH b AS (
  SELECT event_type AS k, ts, event_id AS id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
    AND value IS NOT NULL),
s AS (
  SELECT k, ts, id, c,
         MAX(c) OVER (PARTITION BY k ORDER BY ts, id
                      ROWS UNBOUNDED PRECEDING) AS peak
  FROM b),
p AS (
  SELECT k, ts, peak - c AS dd,
         ROW_NUMBER() OVER (PARTITION BY k
                            ORDER BY peak - c DESC, ts, id) AS rn
  FROM s),
agg AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(c) AS BIGINT) AS peak_cents
        FROM b GROUP BY k)
SELECT agg.k AS event_type, n, peak_cents,
       CAST(dd AS BIGINT) AS max_drawdown_cents, p.ts AS drawdown_ts
FROM p JOIN agg ON agg.k = p.k
WHERE rn = 1 ORDER BY event_type
"""


def ts_changepoint(spark, sf_dir):
    """Best CUSUM changepoint per event type (operators.temporal.
    changepoint_scan): argmax |n·S_t − t·S_n| over the cents-pinned
    value series in exact DECIMAL(38,0) arithmetic — WHERE the series
    moved, beside ts_cusum's did-it-move."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        changepoint_scan,
    )

    return changepoint_scan(
        T(spark, sf_dir, "events"), "event_type", "ts", "value",
        "event_id",
    )


def ts_binseg(spark, sf_dir):
    """Depth-2 binary-segmentation changepoints per event type
    (operators.temporal.binseg_changepoints): the ts_changepoint
    argmax, then the same exact-integer CUSUM statistic re-run inside
    each half off the SAME sorted layout — up to three splits per key,
    separating moved-once from moved-and-recovered series."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        binseg_changepoints,
    )

    return binseg_changepoints(
        T(spark, sf_dir, "events"), "event_type", "ts", "value",
        "event_id",
    )


TS_BINSEG_SQL = """
WITH b AS (
  SELECT event_type AS k, ts, event_id AS id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
    AND value IS NOT NULL),
s AS (
  SELECT k, ts, id, c,
         CAST(COUNT(*) OVER w AS BIGINT) AS t,
         CAST(SUM(c) OVER w AS BIGINT) AS pre,
         CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS n,
         CAST(SUM(c) OVER (PARTITION BY k) AS BIGINT) AS tot
  FROM b
  WINDOW w AS (PARTITION BY k ORDER BY ts, id
               ROWS UNBOUNDED PRECEDING)),
l1 AS (
  SELECT k, t AS t1, ts AS ts1, n,
         CAST(stat // n AS BIGINT) AS cc1
  FROM (
    SELECT *,
           abs(CAST(n AS HUGEINT) * pre - CAST(t AS HUGEINT) * tot)
             AS stat,
           ROW_NUMBER() OVER (PARTITION BY k ORDER BY
             abs(CAST(n AS HUGEINT) * pre - CAST(t AS HUGEINT) * tot)
               DESC, t ASC) AS rn
    FROM s WHERE t < n) x
  WHERE rn = 1),
bp AS (
  SELECT s.k, s.pre AS bpre FROM s JOIN l1 ON l1.k = s.k AND s.t = l1.t1),
sided AS (
  SELECT s.k, s.ts, s.t,
         CASE WHEN s.t <= l1.t1 THEN 'left' ELSE 'right' END AS side,
         CASE WHEN s.t <= l1.t1 THEN s.t ELSE s.t - l1.t1 END AS lt,
         CASE WHEN s.t <= l1.t1 THEN s.pre ELSE s.pre - bp.bpre END
           AS lpre,
         CASE WHEN s.t <= l1.t1 THEN bp.bpre ELSE s.tot - bp.bpre END
           AS ltot,
         CASE WHEN s.t <= l1.t1 THEN l1.t1 ELSE s.n - l1.t1 END AS ln
  FROM s JOIN l1 ON l1.k = s.k JOIN bp ON bp.k = s.k),
l2 AS (
  SELECT k, CAST(2 AS INTEGER) AS level, side AS segment,
         CAST(ln AS BIGINT) AS n_seg, CAST(t AS BIGINT) AS split_pos,
         ts AS split_ts, CAST(stat // ln AS BIGINT) AS cusum_cents
  FROM (
    SELECT *,
           abs(CAST(ln AS HUGEINT) * lpre - CAST(lt AS HUGEINT) * ltot)
             AS stat,
           ROW_NUMBER() OVER (PARTITION BY k, side ORDER BY
             abs(CAST(ln AS HUGEINT) * lpre
                 - CAST(lt AS HUGEINT) * ltot) DESC, t ASC) AS rn
    FROM sided WHERE lt < ln) x
  WHERE rn = 1)
SELECT k AS event_type, CAST(1 AS INTEGER) AS level, 'all' AS segment,
       CAST(n AS BIGINT) AS n_seg, CAST(t1 AS BIGINT) AS split_pos,
       ts1 AS split_ts, cc1 AS cusum_cents
FROM l1
UNION ALL
SELECT k, level, segment, n_seg, split_pos, split_ts, cusum_cents
FROM l2
ORDER BY event_type, level, segment
"""


TS_CHANGEPOINT_SQL = """
WITH b AS (
  SELECT event_type AS k, ts, event_id AS id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
    AND value IS NOT NULL),
s AS (
  SELECT k, ts, id, c,
         CAST(COUNT(*) OVER w AS BIGINT) AS t,
         CAST(SUM(c) OVER w AS BIGINT) AS pre,
         CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS n,
         CAST(SUM(c) OVER (PARTITION BY k) AS BIGINT) AS tot
  FROM b
  WINDOW w AS (PARTITION BY k ORDER BY ts, id
               ROWS UNBOUNDED PRECEDING)),
scored AS (
  SELECT k, ts, t, n,
         abs(CAST(n AS HUGEINT) * pre - CAST(t AS HUGEINT) * tot)
             AS stat,
         pre, tot
  FROM s WHERE t < n),
p AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                               ORDER BY stat DESC, t) AS rn
  FROM scored)
SELECT k AS event_type, n, CAST(t AS BIGINT) AS split_pos,
       ts AS split_ts,
       CAST(stat // n AS BIGINT) AS cusum_cents,
       CAST(CAST(1000000 AS HUGEINT)
            * (pre + CAST(t AS HUGEINT) * 1000000000000) // t
            - 1000000000000000000 AS BIGINT) AS mean_left_cmicro,
       CAST(CAST(1000000 AS HUGEINT)
            * ((tot - pre) + CAST(n - t AS HUGEINT) * 1000000000000)
            // (n - t) - 1000000000000000000 AS BIGINT)
           AS mean_right_cmicro
FROM p WHERE rn = 1 ORDER BY event_type
"""


def mx_split_balance(spark, sf_dir):
    """Stratification audit of the leakage-safe user split
    (operators.sampling.split_balance_audit over group_split's hash
    assignment): per (split, event_type) the within-split vs global
    share in exact ppm — which label landed lopsided where."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        group_split,
        split_balance_audit,
    )

    e = group_split(
        T(spark, sf_dir, "events"),
        "user_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return split_balance_audit(e, "split", "event_type")


MX_SPLIT_BALANCE_SQL = """
WITH assigned AS (
  SELECT CASE WHEN CAST(CAST(('0x' || substring(
              md5(CAST(user_id AS VARCHAR) || ':42'), 1, 15))
              AS UBIGINT) AS BIGINT) % 1000000 < 800000 THEN 'train'
          WHEN CAST(CAST(('0x' || substring(
              md5(CAST(user_id AS VARCHAR) || ':42'), 1, 15))
              AS UBIGINT) AS BIGINT) % 1000000 < 900000 THEN 'val'
          ELSE 'test' END AS split,
         COALESCE(CAST(event_type AS VARCHAR), '<NULL>') AS label
  FROM events),
cells AS (
  SELECT split, label, CAST(COUNT(*) AS BIGINT) AS n
  FROM assigned GROUP BY 1, 2),
st AS (SELECT split, CAST(SUM(n) AS BIGINT) AS s FROM cells GROUP BY 1),
lt AS (SELECT label, CAST(SUM(n) AS BIGINT) AS l FROM cells GROUP BY 1),
g AS (SELECT CAST(SUM(n) AS BIGINT) AS gt FROM cells)
SELECT split, label, n,
       CAST(CAST(1000000 AS HUGEINT) * n // s AS BIGINT) AS split_ppm,
       CAST(CAST(1000000 AS HUGEINT) * l // gt AS BIGINT) AS global_ppm,
       CAST(CAST(1000000 AS HUGEINT) * n // s
            - CAST(1000000 AS HUGEINT) * l // gt AS BIGINT)
           AS delta_ppm
FROM cells JOIN st USING (split) JOIN lt USING (label), g
ORDER BY split, label
"""


# --- Round-12 wave 46: frontier/drift/layout tier ----------------------------

FRONTIER_NPROBES = (1, 2, 4)
FRONTIER_QUERIES = 32


def ann_nprobe_frontier(spark, sf_dir):
    """IVF operating curve (operators.similarity.ivf_recall_frontier):
    recall@k at nprobe ∈ {1, 2, 4} against exact brute force, the
    quantizer trained ONCE and frozen across settings — how much recall
    each extra probed cell buys, measured, so a deployment picks the
    cheapest nprobe meeting its floor."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        ivf_recall_frontier,
    )

    e = T(spark, sf_dir, "embeddings")
    # queries are NON-SEED vectors: ids below IVF_CENTROIDS are the
    # quantizer seeds, whose own cells trivially contain their
    # neighborhoods — measuring recall on them reads ~1.0 at every
    # nprobe and the frontier flattens into noise
    q = e.filter(
        (F.col("vec_id") >= IVF_CENTROIDS)
        & (F.col("vec_id") < IVF_CENTROIDS + FRONTIER_QUERIES)
    )
    return ivf_recall_frontier(
        e,
        q,
        "vec_id",
        "embedding",
        "vec_id",
        "embedding",
        n_centroids=IVF_CENTROIDS,
        nprobes=list(FRONTIER_NPROBES),
        k=TOP_K,
    )


def _ann_frontier_sql() -> str:
    max_np = max(FRONTIER_NPROBES)
    branches = []
    for np_ in sorted(FRONTIER_NPROBES):
        branches.append(f"""
SELECT {np_} AS nprobe, CAST({TOP_K} AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COALESCE(SUM(CASE WHEN i.neighbor_id IS NOT NULL
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit,
       CASE WHEN COUNT(*) > 0 THEN
         CAST(1000000 * COALESCE(SUM(CASE WHEN i.neighbor_id IS NOT NULL
                                      THEN 1 ELSE 0 END), 0)
              // COUNT(*) AS BIGINT) END AS recall_ppm
FROM brute b LEFT JOIN (
  SELECT query_id, neighbor_id FROM (
    SELECT s.query_id, s.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY s.query_id
             ORDER BY s.cosine DESC, s.neighbor_id) AS rank
    FROM scored s WHERE s.pr <= {np_}) t
  WHERE rank <= {TOP_K}) i
  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id""")
    u = "\nUNION ALL\n".join(branches)
    return f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT CAST(vec_id AS BIGINT) AS centroid_id, v AS cv
  FROM c ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
assign AS (
  SELECT vec_id, centroid_id AS cell FROM (
    SELECT a.vec_id, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY {_D2.format(a='a.v', b='cent.cv')}, cent.centroid_id
           ) AS rn
    FROM c a CROSS JOIN cent) t
  WHERE rn = 1),
probes AS (
  SELECT query_id, cell, pr FROM (
    SELECT q.vec_id AS query_id, cent.centroid_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_D2.format(a='q.v', b='cent.cv')}, cent.centroid_id
           ) AS pr
    FROM (SELECT * FROM c WHERE vec_id >= {IVF_CENTROIDS}
          AND vec_id < {IVF_CENTROIDS + FRONTIER_QUERIES}) q
    CROSS JOIN cent) t
  WHERE pr <= {max_np}),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, p.pr,
         ROUND(list_dot_product(qv.v, av.v) /
               (sqrt(list_dot_product(qv.v, qv.v))
                * sqrt(list_dot_product(av.v, av.v))), 6) AS cosine
  FROM probes p
  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
  JOIN c qv ON qv.vec_id = p.query_id
  JOIN c av ON av.vec_id = a.vec_id),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             ROUND(list_dot_product(q.v, a.v) /
                   (sqrt(list_dot_product(q.v, q.v))
                    * sqrt(list_dot_product(a.v, a.v))), 6) DESC,
             a.vec_id) AS rank
    FROM (SELECT * FROM c WHERE vec_id >= {IVF_CENTROIDS}
          AND vec_id < {IVF_CENTROIDS + FRONTIER_QUERIES}) q
    CROSS JOIN c a WHERE a.vec_id <> q.vec_id) t
  WHERE rank <= {TOP_K})
SELECT * FROM ({u}) ORDER BY nprobe
"""


ANN_FRONTIER_SQL = _ann_frontier_sql()


def emb_sign_hamming(spark, sf_dir):
    """Binary-embedding retrieval eval (operators.linalg.
    sign_hamming_recall): recall@k of sign-bit hamming search vs exact
    float cosine on the 64-dim corpus — the 32×-compression question
    answered by measurement."""
    from calp_cva_tracking_pipeline_spark.operators.linalg import (
        sign_hamming_recall,
    )

    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    return sign_hamming_recall(
        e, q, "vec_id", "embedding", "vec_id", "embedding",
        dim=EMB_DIM, k=TOP_K,
    )


_SIGN_BITS = (
    "list_reduce(list_transform(v[{lo}:{hi}],"
    " x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END), (a, b) -> a * 2 + b)"
)

EMB_SIGN_SQL = f"""
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
codes AS (
  SELECT vec_id,
         {_SIGN_BITS.format(lo=1, hi=EMB_DIM // 2)} AS lo,
         {_SIGN_BITS.format(lo=EMB_DIM // 2 + 1, hi=EMB_DIM)} AS hi
  FROM c),
q AS (SELECT * FROM codes WHERE vec_id < {N_QUERIES}),
topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c2.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             bit_count(xor(c2.lo, q.lo)) + bit_count(xor(c2.hi, q.hi)),
             c2.vec_id) AS rn
    FROM q CROSS JOIN codes c2 WHERE c2.vec_id <> q.vec_id) t
  WHERE rn <= {TOP_K}),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qf.vec_id AS query_id, a.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY qf.vec_id ORDER BY
             ROUND(list_dot_product(qf.v, a.v) /
                   (sqrt(list_dot_product(qf.v, qf.v))
                    * sqrt(list_dot_product(a.v, a.v))), 6) DESC,
             a.vec_id) AS rank
    FROM (SELECT * FROM c WHERE vec_id < {N_QUERIES}) qf
    CROSS JOIN c a WHERE a.vec_id <> qf.vec_id) t
  WHERE rank <= {TOP_K})
SELECT CAST({EMB_DIM} AS INT) AS dims, CAST({TOP_K} AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COALESCE(SUM(CASE WHEN t.neighbor_id IS NOT NULL
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit,
       CASE WHEN COUNT(*) > 0 THEN
         CAST(1000000 * COALESCE(SUM(CASE WHEN t.neighbor_id IS NOT NULL
                                      THEN 1 ELSE 0 END), 0)
              // COUNT(*) AS BIGINT) END AS recall_ppm
FROM brute b LEFT JOIN topk t
  ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id
"""

NULL_DRIFT_COLS = ("user_id", "value", "props")


def pf_null_drift(spark, sf_dir):
    """Weekly null-rate drift per column (operators.profiling.
    null_rate_drift) over the event stream — the time dimension the
    one-shot null census lacks: integer-ppm weekly series with the
    week-over-week delta per column."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        null_rate_drift,
    )

    return null_rate_drift(
        T(spark, sf_dir, "events"), "ts", list(NULL_DRIFT_COLS)
    )


PF_NULL_DRIFT_SQL = """
WITH stacked AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
         'user_id' AS col_name,
         CASE WHEN user_id IS NULL THEN 1 ELSE 0 END AS is_null
  FROM events
  UNION ALL
  SELECT CAST(date_trunc('week', ts) AS DATE), 'value',
         CASE WHEN value IS NULL THEN 1 ELSE 0 END FROM events
  UNION ALL
  SELECT CAST(date_trunc('week', ts) AS DATE), 'props',
         CASE WHEN props IS NULL THEN 1 ELSE 0 END FROM events),
cells AS (
  SELECT week, col_name, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(is_null), 0) AS BIGINT) AS n_null
  FROM stacked GROUP BY 1, 2),
ppm AS (
  SELECT week, col_name, n, n_null,
         CAST(1000000 * n_null // n AS BIGINT) AS null_ppm
  FROM cells)
SELECT week, col_name, n, n_null, null_ppm,
       null_ppm - LAG(null_ppm) OVER (PARTITION BY col_name
                                      ORDER BY week NULLS FIRST)
           AS delta_ppm
FROM ppm ORDER BY week NULLS FIRST, col_name
"""

COMPACTION_TARGET_ROWS = 2000


def lx_compaction_plan(spark, sf_dir):
    """Micro-partition compaction plan (operators.layout.
    compaction_plan): per event type, consecutive DAY cells pack into
    row-budget bins (exclusive-prefix div target — deterministic,
    order-preserving) — the work list a small-files compaction job
    executes at 100 TB."""
    from calp_cva_tracking_pipeline_spark.operators.layout import (
        compaction_plan,
    )

    e = T(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("day")
    )
    return compaction_plan(
        e, ["event_type"], "day",
        target_rows=COMPACTION_TARGET_ROWS,
    )


LX_COMPACTION_SQL = f"""
WITH cells AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS r
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2),
binned AS (
  SELECT event_type, day, r,
         CAST((SUM(r) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING) - r)
              // {COMPACTION_TARGET_ROWS} AS BIGINT) AS bin
  FROM cells)
SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(r) AS BIGINT) AS rows,
       MIN(day) AS first_key, MAX(day) AS last_key
FROM binned GROUP BY 1, 2 ORDER BY event_type, bin
"""

EMB_CONTAM_MOD = 25
# Demo threshold tuned to the synthetic embedding space (max train/eval
# cosines sit around 0.3-0.5 there) so BOTH flag branches are exercised;
# a real leakage screen runs at 0.9+.
EMB_CONTAM_THRESHOLD = 0.42


def dd_embed_contam(spark, sf_dir):
    """Train/eval embedding contamination audit (operators.dedup.
    embedding_decontam): eval slice = every 25th vec_id, train = the
    rest; per eval vector the nearest training vector by 6-dp cosine
    (ties to the lowest train id) and the over-threshold flag. The
    bounded eval suite is broadcast and the training corpus is scanned
    once — the argmax folds map-side as max(struct(cosine, -id)), so
    the exchange carries |eval|·n_partitions rows, never
    |train|·|eval|."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        embedding_decontam,
    )

    e = T(spark, sf_dir, "embeddings")
    return embedding_decontam(
        e.filter(F.col("vec_id") % EMB_CONTAM_MOD != 0),
        e.filter(F.col("vec_id") % EMB_CONTAM_MOD == 0),
        "vec_id",
        "embedding",
        threshold=EMB_CONTAM_THRESHOLD,
    )


DD_EMBED_CONTAM_SQL = f"""
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ev AS (SELECT * FROM c WHERE vec_id % {EMB_CONTAM_MOD} = 0),
tr AS (SELECT * FROM c WHERE vec_id % {EMB_CONTAM_MOD} <> 0),
scored AS (
  SELECT ev.vec_id AS eval_id, tr.vec_id AS train_id,
         ROUND(list_dot_product(ev.v, tr.v) /
               (sqrt(list_dot_product(ev.v, ev.v))
                * sqrt(list_dot_product(tr.v, tr.v))), 6) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY ev.vec_id ORDER BY
           ROUND(list_dot_product(ev.v, tr.v) /
                 (sqrt(list_dot_product(ev.v, ev.v))
                  * sqrt(list_dot_product(tr.v, tr.v))), 6) DESC,
           tr.vec_id) AS rn
  FROM ev CROSS JOIN tr)
SELECT eval_id, train_id, cosine,
       cosine >= {EMB_CONTAM_THRESHOLD} AS contaminated
FROM scored WHERE rn = 1 ORDER BY eval_id
"""


def gr_local_clustering(spark, sf_dir):
    """Local-clustering-coefficient census (operators.graph.
    local_clustering_census) of the same part co-occurrence graph as
    gr_triangles — the node-level texture behind its one global
    coefficient, banded into 0.1-wide histogram cells with exact
    floor-mean cc_ppm per band. Same degree-oriented O(√E)-bounded
    wedge join; the closing join is inner so triangles surface once
    and explode to exactly 3 node rows."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        local_clustering_census,
    )

    edges = _co_edges(spark, sf_dir)
    return local_clustering_census(edges)


def _gr_local_clustering_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        local_clustering_sql,
    )

    edges = (
        "SELECT a.l_partkey AS src, b.l_partkey AS dst "
        "FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a "
        "JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
    )
    return local_clustering_sql(edges)


GR_LOCAL_CC_SQL = _gr_local_clustering_sql()


def tx_readability(spark, sf_dir):
    """Per-source Flesch-style readability profile (operators.textops.
    readability_profile): exact integer-milli words-per-sentence,
    syllables-per-word (vowel-group heuristic) and reading-ease score
    over group TOTALS — scan-speed JVM regex counts, one source-keyed
    aggregation."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        readability_profile,
    )

    return readability_profile(T(spark, sf_dir, "documents"))


TX_READABILITY_SQL = """
WITH per AS (
  SELECT source AS grp,
         len(regexp_extract_all(text, '[A-Za-z0-9'']+')) AS w,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
  FROM documents WHERE text IS NOT NULL),
agg AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS n_words,
         CAST(SUM(s) AS BIGINT) AS n_sentences,
         CAST(SUM(y) AS BIGINT) AS n_syllables
  FROM per WHERE w > 0 GROUP BY 1),
milli AS (
  SELECT grp, n_docs, n_words, n_sentences, n_syllables,
         CAST(1000 * n_words // n_sentences AS BIGINT) AS wps_milli,
         CAST(1000 * n_syllables // n_words AS BIGINT) AS spw_milli
  FROM agg)
SELECT grp AS source, n_docs, n_words, n_sentences, n_syllables,
       wps_milli, spw_milli,
       CAST(206835 - (1015 * wps_milli) // 1000
                   - (84600 * spw_milli) // 1000 AS BIGINT) AS flesch_milli
FROM milli ORDER BY source NULLS FIRST
"""


def ev_stickiness(spark, sf_dir):
    """Per-feature monthly DAU/MAU stickiness (operators.funnel.
    stickiness, segmented by event_type) over the event stream —
    exact-ppm engagement density off ONE distinct (segment, month, day,
    user) pass; the which-surface-is-habit-forming comparison."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        stickiness,
    )

    return stickiness(
        T(spark, sf_dir, "events"), segment_col="event_type"
    )


EV_STICKINESS_SQL = """
WITH e AS (
  SELECT DISTINCT event_type,
         CAST(date_trunc('month', ts) AS DATE) AS month,
         CAST(ts AS DATE) AS day, user_id AS u
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
daily AS (
  SELECT event_type, month, day, CAST(COUNT(*) AS BIGINT) AS dau
  FROM e GROUP BY 1, 2, 3),
per AS (
  SELECT event_type, month, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(dau) AS BIGINT) AS dau_sum
  FROM daily GROUP BY 1, 2),
mau AS (
  SELECT event_type, month, CAST(COUNT(DISTINCT u) AS BIGINT) AS mau
  FROM e GROUP BY 1, 2)
SELECT per.event_type AS event_type, per.month AS month,
       n_days, dau_sum, mau,
       CAST(1000000 * dau_sum // (n_days * mau) AS BIGINT)
           AS stickiness_ppm
FROM per JOIN mau ON (per.event_type IS NOT DISTINCT FROM mau.event_type
                      AND per.month = mau.month)
ORDER BY per.event_type NULLS FIRST, per.month
"""


THEIL_WINDOW_DAYS = 30


def ts_theil_sen(spark, sf_dir):
    """Per-type Theil–Sen robust trend (operators.temporal.
    theil_sen_trend) over the event value series — the median pairwise
    slope a single spike cannot drag. Daily micro-int buckets bound
    each key to ≤30 points; the C(30,2) slopes are generated inside a
    collected array (no pair shuffle); slope published as FLOOR-nano
    per day (IEEE-deterministic in both engines)."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        theil_sen_trend,
    )

    return theil_sen_trend(
        T(spark, sf_dir, "events"), "event_type", "ts", "value",
        window_days=THEIL_WINDOW_DAYS,
    )


TS_THEIL_SQL = f"""
WITH daily AS (
  SELECT event_type AS k, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT))
              // COUNT(*) AS BIGINT) AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2),
recent AS (
  SELECT k, day, v,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY day DESC) AS rn
  FROM daily),
pts AS (
  SELECT k,
         list(struct_pack(
           d := datediff('day', DATE '1970-01-01', day),
           v := v) ORDER BY day) AS p,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM recent WHERE rn <= {THEIL_WINDOW_DAYS} GROUP BY 1),
sl AS (
  SELECT k, n,
         list_sort(flatten(list_transform(range(1, n::INT), i ->
           list_transform(range(i + 1, n::INT + 1), j ->
             CAST(p[j].v - p[i].v AS DOUBLE)
             / (CAST(1000000 AS DOUBLE)
                * (p[j].d - p[i].d)))))) AS slopes
  FROM pts WHERE n >= 2)
SELECT k AS event_type, n AS n_days,
       CAST(len(slopes) AS BIGINT) AS n_slopes,
       CAST(FLOOR(slopes[CAST((len(slopes) + 1) // 2 AS INT)]
                  * CAST(1000000000 AS DOUBLE)) AS BIGINT)
           AS slope_nano_per_day
FROM sl ORDER BY event_type
"""

CANDIDATE_KEY_COMBOS = [
    ["event_id"],
    ["user_id"],
    ["user_id", "ts"],
    ["event_type", "user_id", "ts"],
]


def pf_candidate_keys(spark, sf_dir):
    """Candidate-key uniqueness audit (operators.profiling.
    candidate_keys) over four declared event-stream combos — exact
    duplicate-tuple census deciding which columns can anchor joins and
    CDC merges; each combo reduces map-side to one summary row."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        candidate_keys,
    )

    return candidate_keys(
        T(spark, sf_dir, "events"), CANDIDATE_KEY_COMBOS
    )


def _pf_candidate_keys_sql() -> str:
    parts = []
    for cols in CANDIDATE_KEY_COMBOS:
        name = "+".join(cols)
        keys = ", ".join(cols)
        parts.append(f"""
SELECT '{name}' AS combo, n_rows, n_groups,
       n_rows - n_groups AS dup_rows,
       CAST(1000000 * n_groups // n_rows AS BIGINT) AS uniqueness_ppm,
       n_rows = n_groups AS is_key
FROM (SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_groups
      FROM (SELECT COUNT(*) AS c FROM events GROUP BY {keys}))""")
    return " UNION ALL ".join(parts) + " ORDER BY combo"


PF_CANDIDATE_KEYS_SQL = _pf_candidate_keys_sql()


def mx_contrastive_pairs(spark, sf_dir):
    """Deterministic contrastive triplet sampling (operators.sampling.
    contrastive_triplets) over the labeled embedding corpus — one
    (anchor, positive, negative) row per labeled vector, no RNG: label
    members pair cyclically in id order, negatives come from the
    cyclic next label at the anchor's position mod that label's size.
    Two label-keyed windows + one (label, position) equi-join."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        contrastive_triplets,
    )

    return contrastive_triplets(
        T(spark, sf_dir, "embeddings"), "vec_id", "label"
    )


MX_CONTRASTIVE_SQL = """
WITH base AS (
  SELECT vec_id AS anchor_id, label FROM embeddings
  WHERE label IS NOT NULL),
m AS (
  SELECT anchor_id, label,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY anchor_id) - 1
             AS pos,
         COALESCE(
           LEAD(anchor_id) OVER (PARTITION BY label ORDER BY anchor_id),
           FIRST_VALUE(anchor_id)
             OVER (PARTITION BY label ORDER BY anchor_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING)) AS positive_id,
         COUNT(*) OVER (PARTITION BY label) AS sz
  FROM base),
nxt AS (
  SELECT label,
         COALESCE(
           LEAD(label) OVER (ORDER BY label),
           FIRST_VALUE(label) OVER (ORDER BY label
             ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING)) AS neg_label
  FROM (SELECT DISTINCT label FROM base))
SELECT a.anchor_id, a.positive_id, mem.anchor_id AS negative_id,
       a.label, nxt.neg_label AS negative_label
FROM m a
JOIN nxt ON nxt.label = a.label AND nxt.neg_label <> a.label
JOIN m mem ON mem.label = nxt.neg_label
          AND mem.pos = a.pos % mem.sz
WHERE a.sz >= 2
ORDER BY a.anchor_id
"""


def lx_clustering_depth(spark, sf_dir):
    """Layout clustering audit (operators.layout.clustering_depth) of
    the time-ordered event layout for TWO candidate pruning keys in
    one readout: per (event_type, day) micro-partition cells, range
    overlap depth of event_id (write-ordered → expect depth 1: min/max
    pruning works) vs user_id (random → expect depth ≈ n_cells:
    pruning is useless, a Z-order job would pay for itself). Cell
    metadata only — the self-join is metadata×metadata."""
    from calp_cva_tracking_pipeline_spark.operators.layout import (
        clustering_depth,
    )

    e = T(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    out = None
    for key in ("event_id", "user_id"):
        cells = e.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(
            F.min(key).alias("lo"), F.max(key).alias("hi")
        )
        d = clustering_depth(
            cells, "event_type", "lo", "hi"
        ).select(F.lit(key).alias("key_col"), "*")
        out = d if out is None else out.unionByName(d)
    return out.orderBy("key_col", "event_type")


LX_CLUSTER_DEPTH_SQL = """
WITH cells AS (
  SELECT 'event_id' AS key_col, event_type, CAST(ts AS DATE) AS day,
         MIN(event_id) AS lo, MAX(event_id) AS hi
  FROM events WHERE ts IS NOT NULL GROUP BY 2, 3
  UNION ALL
  SELECT 'user_id', event_type, CAST(ts AS DATE),
         MIN(user_id), MAX(user_id)
  FROM events WHERE ts IS NOT NULL GROUP BY 2, 3),
rng AS (
  SELECT key_col, event_type, lo, hi, CAST(COUNT(*) AS BIGINT) AS m
  FROM cells WHERE lo IS NOT NULL AND hi IS NOT NULL
  GROUP BY 1, 2, 3, 4),
dep AS (
  SELECT a.key_col, a.event_type, a.lo, a.hi, a.m,
         CAST(SUM(b.m) AS BIGINT) AS d
  FROM rng a JOIN rng b
    ON a.key_col = b.key_col AND a.event_type = b.event_type
   AND a.lo <= b.hi AND b.lo <= a.hi
  GROUP BY 1, 2, 3, 4, 5)
SELECT key_col, event_type, CAST(SUM(m) AS BIGINT) AS n_cells,
       CAST(1000 * SUM(m * d) // SUM(m) AS BIGINT) AS avg_depth_milli,
       CAST(MAX(d) AS BIGINT) AS max_depth
FROM dep GROUP BY 1, 2 ORDER BY key_col, event_type
"""


GAP_BUCKET = 1000
GAP_MIN_MISSING = 5


def pf_id_gaps(spark, sf_dir):
    """Id-sequence gap audit (operators.profiling.sequence_gap_audit)
    over the click sub-stream — maximal missing-id runs ≥5 between
    consecutive observed event_ids, the dropped-batch detector. Two-
    level bucketed shape: per-bucket windows + a metadata-scale bucket
    summary, never a global sort."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        sequence_gap_audit,
    )

    return sequence_gap_audit(
        T(spark, sf_dir, "events").filter(
            F.col("event_type") == "click"
        ),
        "event_id",
        bucket_size=GAP_BUCKET,
        min_missing=GAP_MIN_MISSING,
    )


PF_ID_GAPS_SQL = f"""
WITH ids AS (
  SELECT DISTINCT event_id AS id FROM events
  WHERE event_type = 'click' AND event_id IS NOT NULL),
gaps AS (
  SELECT LAG(id) OVER (ORDER BY id) + 1 AS gap_start,
         id - 1 AS gap_end
  FROM ids)
SELECT CAST(gap_start AS BIGINT) AS gap_start,
       CAST(gap_end AS BIGINT) AS gap_end,
       CAST(gap_end - gap_start + 1 AS BIGINT) AS n_missing
FROM gaps
WHERE gap_start IS NOT NULL
  AND gap_end - gap_start + 1 >= {GAP_MIN_MISSING}
ORDER BY gap_start
"""


def ev_growth_accounting(spark, sf_dir):
    """Daily growth accounting (operators.funnel.growth_accounting) —
    the new/retained/resurrected/churned active-user ledger; one
    distinct (user, day) pass + one user-keyed window."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        growth_accounting,
    )

    return growth_accounting(T(spark, sf_dir, "events"))


EV_GROWTH_SQL = """
WITH e AS (
  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
flags AS (
  SELECT u, day,
         day = FIRST_VALUE(day) OVER (PARTITION BY u ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS isnew,
         datediff('day', LAG(day) OVER (PARTITION BY u ORDER BY day),
                  day) AS gap,
         datediff('day', day,
                  LEAD(day) OVER (PARTITION BY u ORDER BY day))
             AS next_gap
  FROM e),
active AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active,
         CAST(COALESCE(SUM(CASE WHEN isnew THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_new,
         CAST(COALESCE(SUM(CASE WHEN gap = 1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_retained,
         CAST(COALESCE(SUM(CASE WHEN NOT isnew AND gap > 1
                            THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_resurrected
  FROM flags GROUP BY 1),
churn AS (
  SELECT day + 1 AS day, CAST(COUNT(*) AS BIGINT) AS n_churned
  FROM flags WHERE next_gap IS NULL OR next_gap > 1 GROUP BY 1)
SELECT COALESCE(active.day, churn.day) AS day,
       COALESCE(n_active, 0) AS n_active,
       COALESCE(n_new, 0) AS n_new,
       COALESCE(n_retained, 0) AS n_retained,
       COALESCE(n_resurrected, 0) AS n_resurrected,
       COALESCE(n_churned, 0) AS n_churned
FROM active FULL OUTER JOIN churn ON active.day = churn.day
ORDER BY 1
"""


def ev_activity_profile(spark, sf_dir):
    """Hour-of-week activity heatmap (operators.funnel.
    activity_profile) — load shape per (dow, hour) cell with exact-ppm
    traffic share; portable (epoch_day+4) mod 7 day-of-week."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        activity_profile,
    )

    return activity_profile(T(spark, sf_dir, "events"))


EV_ACTIVITY_SQL = """
WITH e AS (
  SELECT CAST((datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
               + 4) % 7 AS INT) AS dow,
         CAST(hour(ts) AS INT) AS hour, user_id AS u
  FROM events WHERE ts IS NOT NULL),
cells AS (
  SELECT dow, hour, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users
  FROM e GROUP BY 1, 2),
total AS (SELECT CAST(SUM(n_events) AS BIGINT) AS t FROM cells)
SELECT dow, hour, n_events, n_users,
       CAST(1000000 * n_events // t AS BIGINT) AS share_ppm
FROM cells CROSS JOIN total ORDER BY dow, hour
"""


def ev_ooo_audit(spark, sf_dir):
    """Out-of-order ingestion audit (operators.temporal.
    out_of_order_audit): per event type, timestamp regressions along
    the event_id producer order — inversion ppm and worst regression
    seconds, the watermark-sizing readout."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        out_of_order_audit,
    )

    return out_of_order_audit(
        T(spark, sf_dir, "events"), "event_type", "event_id", "ts"
    )


EV_OOO_SQL = """
WITH pairs AS (
  SELECT event_type AS k,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
         LAG(CAST(FLOOR(epoch(ts)) AS BIGINT))
           OVER (PARTITION BY event_type ORDER BY event_id) AS pt
  FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL),
agg AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(COALESCE(SUM(CASE WHEN t < pt THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_inversions,
         CAST(COALESCE(MAX(CASE WHEN t < pt THEN pt - t ELSE 0 END), 0)
              AS BIGINT) AS max_regression_s
  FROM pairs WHERE pt IS NOT NULL GROUP BY 1)
SELECT k AS event_type, n_pairs, n_inversions, max_regression_s,
       CAST(1000000 * n_inversions // n_pairs AS BIGINT)
           AS inversion_ppm
FROM agg ORDER BY event_type
"""


FILTER_LABEL = 3


def ann_filtered_topk(spark, sf_dir):
    """Attribute-filtered ANN (operators.similarity.ivf_filtered_topk):
    top-5 among label-3 corpus vectors from ONE shared full-corpus IVF
    index — the vector-DB staple (per-tenant / per-language search
    without per-predicate indexes). Post-filter-in-cell: the predicate
    prunes inside the probed cells BEFORE the rank cut."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        ivf_filtered_topk,
    )

    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    return ivf_filtered_topk(
        e, q, "vec_id", "embedding", "vec_id", "embedding",
        "label", FILTER_LABEL,
        n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE, k=TOP_K,
    )


ANN_FILTERED_SQL = f"""
WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
cent AS (
  SELECT CAST(vec_id AS BIGINT) AS centroid_id, v AS cv
  FROM c ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
assign AS (
  SELECT vec_id, label, centroid_id AS cell FROM (
    SELECT a.vec_id, a.label, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY {_D2.format(a='a.v', b='cent.cv')}, cent.centroid_id
           ) AS rn
    FROM c a CROSS JOIN cent) t
  WHERE rn = 1),
probes AS (
  SELECT query_id, centroid_id AS cell FROM (
    SELECT q.vec_id AS query_id, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_D2.format(a='q.v', b='cent.cv')}, cent.centroid_id
           ) AS pr
    FROM (SELECT * FROM c WHERE vec_id < {N_QUERIES}) q CROSS JOIN cent) t
  WHERE pr <= {IVF_NPROBE}),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND(list_dot_product(qv.v, av.v) /
               (sqrt(list_dot_product(qv.v, qv.v))
                * sqrt(list_dot_product(av.v, av.v))), 6) AS cosine
  FROM probes p
  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
               AND a.label = {FILTER_LABEL}
  JOIN c qv ON qv.vec_id = p.query_id
  JOIN c av ON av.vec_id = a.vec_id)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= {TOP_K}
"""

BLOOM_SPLIT_MOD = 4


def dd_bloom_prescreen(spark, sf_dir):
    """Bloom novelty-prescreen audit (operators.dedup.bloom_prescreen):
    history = 3/4 of the corpus by doc_id, incoming = the rest; the
    measured fp rate of the broadcast-bit-array fast path that screens
    provably-novel docs before the exact digest join. Filter sized to
    the history count by integer bit-length — engine-exact, no libm."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        bloom_prescreen,
    )

    d = T(spark, sf_dir, "documents")
    hist = d.filter(F.col("doc_id") % BLOOM_SPLIT_MOD != 0)
    # the raw corpus has zero cross-split exact dups (all 500 texts are
    # unique at sf0.01) — augment incoming with deterministic
    # "re-crawled" history rows (every doc_id ending in 1) so the
    # true-duplicate branch is a real operating point, the wave-31
    # non-degeneracy discipline
    inc = d.filter(F.col("doc_id") % BLOOM_SPLIT_MOD == 0).unionByName(
        hist.filter(F.col("doc_id") % 10 == 1)
    )
    return bloom_prescreen(hist, inc)


DD_BLOOM_SQL = f"""
WITH h AS (
  SELECT DISTINCT md5(text) AS dig FROM documents
  WHERE doc_id % {BLOOM_SPLIT_MOD} <> 0 AND text IS NOT NULL),
inc AS (
  SELECT DISTINCT md5(text) AS dig FROM documents
  WHERE (doc_id % {BLOOM_SPLIT_MOD} = 0
         OR (doc_id % {BLOOM_SPLIT_MOD} <> 0 AND doc_id % 10 = 1))
    AND text IS NOT NULL),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_history,
         CAST(CAST(1 AS BIGINT) << length(bin(8 * COUNT(*)))
              AS BIGINT) AS m_bits
  FROM h),
hpos AS (
  SELECT DISTINCT pos FROM h CROSS JOIN m,
  unnest([{", ".join(
      "CAST(CAST(('0x' || substring(md5(dig || ':" + str(i)
      + "'), 1, 15)) AS UBIGINT) % m_bits AS BIGINT)"
      for i in range(3))}]) AS t(pos)),
ipos AS (
  SELECT dig, pos FROM inc CROSS JOIN m,
  unnest([{", ".join(
      "CAST(CAST(('0x' || substring(md5(dig || ':" + str(i)
      + "'), 1, 15)) AS UBIGINT) % m_bits AS BIGINT)"
      for i in range(3))}]) AS t(pos)),
probe AS (
  SELECT dig FROM (
    SELECT i.dig, COUNT(*) AS nhit FROM ipos i
    WHERE i.pos IN (SELECT pos FROM hpos) GROUP BY 1)
  WHERE nhit >= 3),
stats AS (
  SELECT (SELECT n_history FROM m) AS n_history,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM inc) AS n_incoming,
         (SELECT m_bits FROM m) AS m_bits,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM hpos) AS n_bits_set,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS bloom_hits,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM inc
          WHERE dig IN (SELECT dig FROM h)) AS exact_dups,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM probe
          WHERE dig NOT IN (SELECT dig FROM h)) AS false_positives)
SELECT n_history, n_incoming, m_bits, n_bits_set,
       CAST(1000000 * n_bits_set // m_bits AS BIGINT) AS fill_ppm,
       bloom_hits, exact_dups, false_positives,
       CASE WHEN n_incoming > exact_dups THEN
         CAST(1000000 * false_positives
              // (n_incoming - exact_dups) AS BIGINT) END AS fp_ppm
FROM stats
"""

WATERFILL_BUDGET_PPM = 950_000


def mx_waterfill(spark, sf_dir):
    """Water-filling token-budget allocation (operators.sampling.
    waterfill_allocation) across sources at 95% of corpus supply —
    max-min-fair: small sources fully taken, large ones truncated at
    one common level; exact to the single token with deterministic
    remainder distribution."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        waterfill_allocation,
    )

    d = T(spark, sf_dir, "documents")
    sup = (
        d.filter(
            F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
        )
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
            .cast("bigint")
            .alias("tokens")
        )
    )
    return waterfill_allocation(
        sup, "source", "tokens", budget_ppm=WATERFILL_BUDGET_PPM
    )


MX_WATERFILL_SQL = rf"""
WITH sup AS (
  SELECT source AS k,
         CAST(SUM(len(string_split_regex(trim(text), '\s+')))
              AS BIGINT) AS s
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
  GROUP BY 1),
ranked AS (
  SELECT k, s, ROW_NUMBER() OVER (ORDER BY s, k) AS j,
         SUM(s) OVER (ORDER BY s, k) AS pfx
  FROM sup),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(MAX(pfx) * {WATERFILL_BUDGET_PPM} // 1000000 AS BIGINT)
             AS budget
  FROM ranked),
flagged AS (
  SELECT r.k, r.s, r.j, r.pfx, t.n, t.budget,
         r.s * (t.n - r.j + 1) <= t.budget - (r.pfx - r.s) AS fundable
  FROM ranked r CROSS JOIN tot t),
cut AS (
  SELECT CAST(COALESCE(MAX(CASE WHEN fundable THEN j END), 0)
              AS BIGINT) AS c,
         CAST(COALESCE(MAX(CASE WHEN fundable THEN pfx END), 0)
              AS BIGINT) AS pc
  FROM flagged),
alloc AS (
  SELECT f.k, f.s,
         CASE WHEN f.j <= cut.c THEN f.s
              ELSE CAST((f.budget - cut.pc) // (f.n - cut.c)
                   + CASE WHEN f.j - cut.c
                            <= (f.budget - cut.pc) % (f.n - cut.c)
                          THEN 1 ELSE 0 END AS BIGINT)
         END AS alloc
  FROM flagged f CROSS JOIN cut)
SELECT k AS source, s AS supply, alloc, alloc >= s AS satisfied
FROM alloc ORDER BY source
"""


VAD_FRAMES = 16


def mm_audio_vad(spark, sf_dir):
    """Voice-activity segmentation (operators.phash.audio_vad_segments)
    over a deterministic WAV corpus with REAL md5-gated silence frames
    (each 16-sample box of a clip is silent iff an md5 draw ≡ 0 mod 3)
    — REAL RIFF encode → REAL stdlib decode → integer frame energies →
    cross-multiplied mean threshold → gaps-and-islands segments; the
    speech/dead-air structure ASR curation extracts before paying the
    transcription model per audio-second. The oracle replays the sample
    formula, the threshold and the islands verbatim in SQL."""
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from calp_cva_tracking_pipeline_spark.operators.phash import (
        audio_vad_segments,
        synthesize_wav_payloads,
    )

    d = spread_small_input(T(spark, sf_dir, "documents").select("doc_id"))
    h60 = "CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"
    silent = (
        h60.format(
            s="concat('vf|', CAST(doc_id AS STRING), '|',"
            " CAST(p DIV 16 AS STRING))"
        )
        + " % 3 = 0"
    )
    val = (
        h60.format(
            s="concat('vs|', CAST(doc_id AS STRING), '|',"
            " CAST(p AS STRING))"
        )
        + " % 65536 - 32768"
    )
    synth = d.select(
        "doc_id",
        F.expr(
            f"""transform(sequence(0, {AFP_NS - 1}), p ->
                  CAST(IF({silent}, 0, {val}) AS INT))"""
        ).alias("smp"),
    )
    clips = synthesize_wav_payloads(synth, "doc_id", "smp", rate=AU_RATE)
    return audio_vad_segments(
        clips, "doc_id", "payload", frames=VAD_FRAMES
    )


_VAD_SILENT = (
    _afp_h60(
        "'vf|' || CAST(doc_id AS VARCHAR) || '|' || CAST(p // 16 AS VARCHAR)"
    )
    + " % 3 = 0"
)
_VAD_VAL = (
    _afp_h60("'vs|' || CAST(doc_id AS VARCHAR) || '|' || CAST(p AS VARCHAR)")
    + " % 65536 - 32768"
)

MM_AUDIO_VAD_SQL = f"""
WITH pos AS (SELECT unnest(generate_series(0, {AFP_NS - 1})) AS p),
smp AS (
  SELECT doc_id, p,
         CASE WHEN {_VAD_SILENT} THEN 0 ELSE {_VAD_VAL} END AS s
  FROM documents CROSS JOIN pos),
fr AS (
  SELECT doc_id, p // 16 AS f,
         SUM(CAST(s AS BIGINT) * s) AS e
  FROM smp GROUP BY 1, 2),
tot AS (SELECT doc_id, SUM(e) AS total FROM fr GROUP BY 1),
act AS (
  SELECT fr.doc_id, fr.f, fr.e
  FROM fr JOIN tot ON fr.doc_id = tot.doc_id
  WHERE fr.e * {VAD_FRAMES} > tot.total),
isl AS (
  SELECT doc_id, f,
         f - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f) AS g
  FROM act)
SELECT doc_id AS media_id,
       CAST(MIN(f) AS INT) AS seg_start,
       CAST(MAX(f) AS INT) AS seg_end,
       CAST(COUNT(*) AS BIGINT) AS n_frames
FROM isl GROUP BY doc_id, g ORDER BY media_id, seg_start
"""

CELL_CAP_ROWS = 48


def ann_cell_balance(spark, sf_dir):
    """IVF balance audit + split plan (operators.similarity.
    ivf_cell_balance): per cell of the shared 16-centroid quantizer,
    population, exact-ppm share and the ceil(n/cap) split work list —
    the OPTIMIZE advisor that keeps sum(|cell|²) search cost from one
    runaway cell."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        ivf_cell_balance,
    )

    return ivf_cell_balance(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        cell_cap=CELL_CAP_ROWS, n_centroids=IVF_CENTROIDS,
    )


ANN_CELL_BALANCE_SQL = f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT CAST(vec_id AS BIGINT) AS centroid_id, v AS cv
  FROM c ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
assign AS (
  SELECT vec_id, centroid_id AS cell FROM (
    SELECT a.vec_id, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY {_D2.format(a='a.v', b='cent.cv')}, cent.centroid_id
           ) AS rn
    FROM c a CROSS JOIN cent) t
  WHERE rn = 1),
counts AS (
  SELECT CAST(cell AS BIGINT) AS cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM assign GROUP BY 1),
tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS t FROM counts)
SELECT cell, n_vecs,
       CAST(1000000 * n_vecs // t AS BIGINT) AS share_ppm,
       n_vecs > {CELL_CAP_ROWS} AS oversized,
       CAST(CASE WHEN n_vecs > {CELL_CAP_ROWS}
                 THEN (n_vecs + {CELL_CAP_ROWS} - 1) // {CELL_CAP_ROWS}
                 ELSE 1 END AS BIGINT) AS split_into
FROM counts CROSS JOIN tot ORDER BY cell
"""


SQUARE_MAX_DEGREE = 128


def gr_squares(spark, sf_dir):
    """Exact 4-cycle census (operators.graph.square_census) of the
    part co-occurrence graph with the ≤64-degree hub prune applied to
    NODES (diagonal parity requires a true subgraph) — the
    locally-bipartite clustering signal triangles miss; co-degrees ride
    the neighbor_similarity in-array wedge expansion."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        square_census,
    )

    edges = _co_edges(spark, sf_dir)
    return square_census(edges, max_degree=SQUARE_MAX_DEGREE)


def _gr_squares_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        square_census_sql,
    )

    edges = (
        "SELECT a.l_partkey AS src, b.l_partkey AS dst "
        "FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a "
        "JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
    )
    return square_census_sql(edges, max_degree=SQUARE_MAX_DEGREE)


GR_SQUARES_SQL = _gr_squares_sql()

BACKTEST_SEASON = 7
BACKTEST_MA = 3


def ts_backtest(spark, sf_dir):
    """Forecast-baseline backtest (operators.temporal.
    forecast_backtest): per event type, one-step-ahead naive /
    seasonal-naive / 3-day-MA errors over the daily micro-int series —
    the M-competition floor any forecasting model must beat before it
    ships. One key-ordered window exchange."""
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        forecast_backtest,
    )

    return forecast_backtest(
        T(spark, sf_dir, "events"), "event_type", "ts", "value",
        season=BACKTEST_SEASON, ma_window=BACKTEST_MA,
    )


TS_BACKTEST_SQL = f"""
WITH daily AS (
  SELECT event_type AS k, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT))
              // COUNT(*) AS BIGINT) AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2),
preds AS (
  SELECT k, v,
         LAG(v, 1) OVER w AS naive,
         LAG(v, {BACKTEST_SEASON}) OVER w AS snaive,
         CASE WHEN COUNT(v) OVER (w ROWS BETWEEN {BACKTEST_MA} PRECEDING
                                  AND 1 PRECEDING) >= {BACKTEST_MA}
              THEN CAST(SUM(v) OVER (w ROWS BETWEEN {BACKTEST_MA}
                                     PRECEDING AND 1 PRECEDING)
                        // {BACKTEST_MA} AS BIGINT) END AS ma
  FROM daily WINDOW w AS (PARTITION BY k ORDER BY day)),
errs AS (
  SELECT k, 'naive' AS method, v - naive AS e FROM preds
  WHERE naive IS NOT NULL
  UNION ALL
  SELECT k, 'snaive', v - snaive FROM preds WHERE snaive IS NOT NULL
  UNION ALL
  SELECT k, 'ma{BACKTEST_MA}', v - ma FROM preds WHERE ma IS NOT NULL)
SELECT k AS event_type, method,
       CAST(COUNT(*) AS BIGINT) AS n_preds,
       CAST(SUM(ABS(e)) // COUNT(*) AS BIGINT) AS mae_micro,
       CAST(SUM(e) AS BIGINT) AS sum_err_micro,
       CAST(MAX(ABS(e)) AS BIGINT) AS worst_abs_micro
FROM errs GROUP BY 1, 2 ORDER BY event_type, method
"""


def lx_prune_plan(spark, sf_dir):
    """Partition-pruning simulator (operators.layout.prune_plan): per
    declared range predicate on event_id (bounds derived lazily from
    the observed max id — point / narrow / quartile band), how many
    day-cells min/max pruning skips and what row volume a scan would
    read — the would-Z-ordering-help number before any scan is paid."""
    from calp_cva_tracking_pipeline_spark.operators.layout import (
        prune_plan,
    )

    e = T(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    cells = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.min("event_id").alias("lo"),
        F.max("event_id").alias("hi"),
        F.count("*").alias("r"),
    )
    mx = e.agg(F.max("event_id").alias("__mx"))
    preds = mx.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("p1_point").alias("pred_name"),
                    F.expr("__mx * 50 div 100").alias("lo"),
                    F.expr("__mx * 50 div 100").alias("hi"),
                ),
                F.struct(
                    F.lit("p2_narrow").alias("pred_name"),
                    F.expr("__mx * 25 div 100").alias("lo"),
                    F.expr("__mx * 25 div 100 + __mx div 100").alias(
                        "hi"
                    ),
                ),
                F.struct(
                    F.lit("p3_band").alias("pred_name"),
                    F.expr("__mx * 50 div 100").alias("lo"),
                    F.expr("__mx * 75 div 100").alias("hi"),
                ),
            )
        ).alias("__p")
    ).select("__p.pred_name", "__p.lo", "__p.hi")
    return prune_plan(cells, preds)


LX_PRUNE_SQL = """
WITH cells AS (
  SELECT CAST(ts AS DATE) AS day, MIN(event_id) AS clo,
         MAX(event_id) AS chi, CAST(COUNT(*) AS BIGINT) AS r
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
mx AS (SELECT MAX(event_id) AS m FROM events WHERE ts IS NOT NULL),
preds AS (
  SELECT 'p1_point' AS pred_name, m * 50 // 100 AS lo,
         m * 50 // 100 AS hi FROM mx
  UNION ALL
  SELECT 'p2_narrow', m * 25 // 100, m * 25 // 100 + m // 100 FROM mx
  UNION ALL
  SELECT 'p3_band', m * 50 // 100, m * 75 // 100 FROM mx),
agg AS (
  SELECT pred_name, CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(COALESCE(SUM(CASE WHEN clo IS NULL OR chi IS NULL
                  OR (clo <= hi AND lo <= chi) THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_cells_scanned,
         CAST(SUM(r) AS BIGINT) AS rows_total,
         CAST(COALESCE(SUM(CASE WHEN clo IS NULL OR chi IS NULL
                  OR (clo <= hi AND lo <= chi) THEN r ELSE 0 END), 0)
              AS BIGINT) AS rows_scanned
  FROM cells CROSS JOIN preds GROUP BY 1)
SELECT pred_name, n_cells, n_cells_scanned, rows_total, rows_scanned,
       CAST(1000000 * rows_scanned // rows_total AS BIGINT)
           AS scanned_ppm
FROM agg ORDER BY pred_name
"""

CHUNK_DEDUP_TOKENS = 16


def dd_chunk_dedup(spark, sf_dir):
    """Chunk-level duplication census (operators.dedup.
    chunk_dedup_census): non-overlapping 16-token chunks, global md5
    duplication window-attached over ONE digest exchange, per-source
    dup mass + cross-source chunk counts — the RAG-prep readout
    document dedup misses."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        chunk_dedup_census,
    )

    return chunk_dedup_census(
        T(spark, sf_dir, "documents"), "doc_id",
        chunk_tokens=CHUNK_DEDUP_TOKENS,
    )


DD_CHUNK_DEDUP_SQL = rf"""
WITH t AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE text IS NOT NULL),
c AS (
  SELECT doc_id, source, toks,
         unnest(generate_series(
           0, greatest((len(toks) - 1) // {CHUNK_DEDUP_TOKENS}, 0)))
             AS cid
  FROM t),
inst AS (
  SELECT source AS g,
         md5(array_to_string(
           list_slice(toks, cid * {CHUNK_DEDUP_TOKENS} + 1,
                      cid * {CHUNK_DEDUP_TOKENS} + {CHUNK_DEDUP_TOKENS}),
           ' ')) AS dig
  FROM c),
digs AS (
  SELECT dig, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT g) AS BIGINT) AS ng
  FROM inst GROUP BY 1),
flagged AS (
  SELECT inst.g, digs.n, digs.ng FROM inst JOIN digs USING (dig))
SELECT g AS source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COALESCE(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS dup_chunks,
       CAST(COALESCE(SUM(CASE WHEN ng > 1 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS cross_group_chunks,
       CAST(1000000 * COALESCE(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END),
                               0) // COUNT(*) AS BIGINT) AS dup_ppm
FROM flagged GROUP BY 1 ORDER BY source
"""


TILE_SIZE = 8


def mm_tile_dup(spark, sf_dir):
    """Tile-level duplicate census (operators.phash.
    image_tile_dup_census) — the watermark/chrome detector: a
    deterministic BMP corpus where two shared 8×8 stamp variants
    occupy the top-left tile of 2/3 of the images (doc_id mod 3 picks
    variant A, B, or none) while every other pixel is per-image
    unique; REAL encode → REAL stdlib decode → per-tile dims-prefixed
    md5 luma digests → one (position, digest) exchange. Tile (0,0)
    shows two giant groups; every other position shows organic
    content. Oracle replays pixels, digests and the census in SQL."""
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from calp_cva_tracking_pipeline_spark.operators.phash import (
        image_tile_dup_census,
        synthesize_bmp_payloads,
    )

    d = spread_small_input(T(spark, sf_dir, "documents").select("doc_id"))
    h60 = "CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"
    base_v = h60.format(
        s="concat('tp|', CAST(doc_id AS STRING), '|', CAST(p AS STRING))"
    )
    wm_v = h60.format(
        s=f"concat('wm', CAST(doc_id % 3 AS STRING), '|',"
        f" CAST(p % {PHASH_W} AS STRING), '|',"
        f" CAST(p DIV {PHASH_W} AS STRING))"
    )
    in_wm = (
        f"doc_id % 3 < 2 AND p % {PHASH_W} < {TILE_SIZE}"
        f" AND p DIV {PHASH_W} < {TILE_SIZE}"
    )
    synth = d.select(
        "doc_id",
        F.expr(
            f"""transform(sequence(0, {PHASH_W * PHASH_H - 1}), p ->
                  CAST(IF({in_wm}, ({wm_v}) % 256,
                       ({base_v}) % 256) AS INT))"""
        ).alias("px"),
    )
    imgs = synthesize_bmp_payloads(synth, "doc_id", "px", PHASH_W, PHASH_H)
    return image_tile_dup_census(
        imgs, "doc_id", "payload", tile=TILE_SIZE
    )


_TILE_BASE_V = (
    "CAST(CAST(('0x' || substring(md5('tp|' || CAST(doc_id AS VARCHAR)"
    " || '|' || CAST(p AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) % 256"
)
_TILE_WM_V = (
    f"CAST(CAST(('0x' || substring(md5('wm' || CAST(doc_id % 3 AS VARCHAR)"
    f" || '|' || CAST(p % {PHASH_W} AS VARCHAR) || '|'"
    f" || CAST(p // {PHASH_W} AS VARCHAR)), 1, 15)) AS UBIGINT)"
    f" AS BIGINT) % 256"
)

MM_TILE_DUP_SQL = f"""
WITH pos AS (SELECT unnest(generate_series(0, {PHASH_W * PHASH_H - 1}))
             AS p),
px AS (
  SELECT doc_id, p,
         CASE WHEN doc_id % 3 < 2 AND p % {PHASH_W} < {TILE_SIZE}
                   AND p // {PHASH_W} < {TILE_SIZE}
              THEN {_TILE_WM_V} ELSE {_TILE_BASE_V} END AS v
  FROM documents CROSS JOIN pos),
tiles AS (
  SELECT doc_id,
         CAST((p % {PHASH_W}) // {TILE_SIZE} AS INT) AS tile_x,
         CAST((p // {PHASH_W}) // {TILE_SIZE} AS INT) AS tile_y,
         md5('{TILE_SIZE}x{TILE_SIZE}:'
             || string_agg(CAST(v AS VARCHAR), ','
                ORDER BY (p // {PHASH_W}) % {TILE_SIZE},
                         (p % {PHASH_W}) % {TILE_SIZE})) AS digest
  FROM px GROUP BY 1, 2, 3),
digs AS (
  SELECT tile_x, tile_y, digest, CAST(COUNT(*) AS BIGINT) AS n
  FROM tiles GROUP BY 1, 2, 3),
groups AS (
  SELECT tile_x, tile_y,
         CAST(COUNT(*) AS BIGINT) AS n_dup_groups,
         CAST(MAX(n) AS BIGINT) AS max_group
  FROM digs WHERE n >= 2 GROUP BY 1, 2),
census AS (
  SELECT tile_x, tile_y,
         CAST(SUM(n) AS BIGINT) AS n_images,
         CAST(COALESCE(SUM(CASE WHEN n > 1 THEN n ELSE 0 END), 0)
              AS BIGINT) AS dup_images
  FROM digs GROUP BY 1, 2)
SELECT c.tile_x, c.tile_y, c.n_images, c.dup_images,
       COALESCE(g.n_dup_groups, 0) AS n_dup_groups,
       COALESCE(g.max_group, 0) AS max_group
FROM census c LEFT JOIN groups g
  ON c.tile_x = g.tile_x AND c.tile_y = g.tile_y
ORDER BY c.tile_y, c.tile_x
"""


def ev_conversion_ci(spark, sf_dir):
    """Daily view→purchase conversion rate with a 95% Wilson interval
    (operators.funnel.conversion_rate_series) — the funnel-health
    series with honest small-n uncertainty; bounds are IEEE doubles
    over exact counts in ONE canonical operand order both engines
    replay bit-for-bit."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        conversion_rate_series,
    )

    return conversion_rate_series(T(spark, sf_dir, "events"))


def _ev_conversion_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        WILSON_Z,
        WILSON_Z2,
    )

    wilson = (
        "round(((n_conversions / CAST(n_exposures AS DOUBLE)"
        " + {z2} / (2.0 * n_exposures)) {sign} {z} * sqrt("
        "(n_conversions / CAST(n_exposures AS DOUBLE))"
        " * (1.0 - n_conversions / CAST(n_exposures AS DOUBLE))"
        " / n_exposures"
        " + {z2} / (4.0 * n_exposures * n_exposures)))"
        " / (1.0 + {z2} / n_exposures), 6)"
    )
    return f"""
WITH day AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_exposures,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_conversions
  FROM events
  WHERE ts IS NOT NULL AND event_type IN ('view', 'purchase')
  GROUP BY 1)
SELECT day, n_exposures, n_conversions,
       CAST(1000000 * n_conversions // n_exposures AS BIGINT)
           AS rate_ppm,
       {wilson.format(z=WILSON_Z, z2=WILSON_Z2, sign='-')} AS wilson_lo,
       {wilson.format(z=WILSON_Z, z2=WILSON_Z2, sign='+')} AS wilson_hi
FROM day WHERE n_exposures > 0 ORDER BY day
"""


EV_CONVERSION_SQL = _ev_conversion_sql()


TUNER_BAND_CONFIGS = (2, 4, 8)


def dd_lsh_tuner(spark, sf_dir):
    """MinHash banding-parameter sweep (operators.dedup.
    lsh_banding_tuner): the recall/precision/candidate-volume OPERATING
    CURVE across (2, 4, 8)-band splits of the same 16-hash signature,
    against exact Jaccard ground truth on the same augmented eval slice
    as dd_lsh_recall — banding chosen from measurement, not the
    textbook iid S-curve."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        lsh_banding_tuner,
    )

    base = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < LSH_EVAL_MAX_ID // 2)
        .select("doc_id", "text")
    )
    variants = base.filter(
        (F.col("doc_id") % 2 == 0) & F.col("text").isNotNull()
    ).select(
        (F.col("doc_id") + LSH_EVAL_MAX_ID // 2).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq0 qq1 qq2")).alias("text"),
    )
    return lsh_banding_tuner(
        base.unionByName(variants),
        "doc_id",
        "text",
        max_eval_id=LSH_EVAL_MAX_ID,
        threshold_micro=LSH_EVAL_THRESHOLD_MICRO,
        num_hashes=NUM_HASHES,
        band_configs=TUNER_BAND_CONFIGS,
        k=3,
        max_bucket_docs=MAX_BUCKET_DOCS,
    )


def _dd_lsh_tuner_sql() -> str:
    half = LSH_EVAL_MAX_ID // 2
    per_band = []
    selects = []
    for nb in TUNER_BAND_CONFIGS:
        rpb = NUM_HASHES // nb
        banded_all = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band,"
            f" array_to_string(list_slice(sig, {b * rpb + 1},"
            f" {(b + 1) * rpb}), ',') AS key FROM sigs"
            for b in range(nb)
        )
        per_band.append(f"""
banded_{nb} AS (
  SELECT doc_id, band, key FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS bn
    FROM ({banded_all})) t
  WHERE bn <= {MAX_BUCKET_DOCS}),
cand_{nb} AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded_{nb} l JOIN banded_{nb} r
    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
hit_{nb} AS (
  SELECT truth.id_a FROM truth
  JOIN cand_{nb} c ON c.id_a = truth.id_a AND c.id_b = truth.id_b)""")
        selects.append(f"""
SELECT CAST({nb} AS INT) AS bands, CAST({rpb} AS INT) AS rows_per_band,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{nb}) AS n_cand_pairs,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM hit_{nb}) AS n_hit,
  CASE WHEN (SELECT COUNT(*) FROM truth) > 0 THEN
    CAST(1000000 * (SELECT COUNT(*) FROM hit_{nb})
         // (SELECT COUNT(*) FROM truth) AS BIGINT) END AS recall_ppm,
  CASE WHEN (SELECT COUNT(*) FROM cand_{nb}) > 0 THEN
    CAST(1000000 * (SELECT COUNT(*) FROM hit_{nb})
         // (SELECT COUNT(*) FROM cand_{nb}) AS BIGINT) END
      AS precision_ppm""")
    return f"""
WITH eval_docs AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id < {half} AND text IS NOT NULL
  UNION ALL
  SELECT doc_id + {half}, text || ' qq0 qq1 qq2'
  FROM documents
  WHERE doc_id < {half} AND doc_id % 2 = 0 AND text IS NOT NULL),
docs_dedup AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY md5(text)
                              ORDER BY doc_id) AS rn
    FROM eval_docs) t
  WHERE rn = 1),
tok AS (
  SELECT doc_id, list_transform({_SHINGLES},
             s -> {_sql_hash60('s')} % {MERSENNE_P}) AS hs
  FROM docs_dedup),
sigs AS (
  SELECT doc_id, [{_SIG_ELEMS}] AS sig FROM tok),
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM docs_dedup),
cntsh AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c
          FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
truth AS (
  SELECT id_a, id_b FROM inter
  JOIN cntsh ca ON ca.doc_id = id_a
  JOIN cntsh cb ON cb.doc_id = id_b
  WHERE 1000000 * i // (ca.c + cb.c - i)
        >= {LSH_EVAL_THRESHOLD_MICRO}),{",".join(per_band)}
{" UNION ALL ".join(selects)}
ORDER BY bands
"""


DD_LSH_TUNER_SQL = _dd_lsh_tuner_sql()


def mm_video_summary(spark, sf_dir):
    """Per-video quality-gate summary (operators.videoseq.
    video_summary) — frame count, hard cuts, duplicate-frame ppm and
    milli-luma mean off ONE decode pass: the row a curation gate reads
    before paying encoder/captioning budget. Corpus: 3-video groups
    share scene pixel content with rank-shifted cut frames ('vv' base
    + 128·scene shift), and per-frame jitter applies ONLY inside scene
    1 — so scene-0 frames duplicate within and across a group (dup ppm
    varies with the cut position), scene-1 frames are distinct, and
    each video carries exactly one hard cut. Oracle replays pixels,
    digests, the lag criterion and the aggregates in SQL."""
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )
    from calp_cva_tracking_pipeline_spark.operators.videoseq import (
        synthesize_frsq_payloads,
        video_summary,
    )

    d = spread_small_input(T(spark, sf_dir, "documents").select("doc_id"))
    npx = VSEQ_W * VSEQ_H
    h60 = "CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"
    scene = (
        "IF(f >= ((doc_id DIV 3) * 13 + (doc_id % 3) * 7) % 6 + 1, 1, 0)"
    )
    vs = h60.format(
        s="concat('vv|', CAST(doc_id DIV 3 AS STRING), '|',"
        f" CAST({scene} AS STRING), '|', CAST(p AS STRING))"
    )
    vj = h60.format(
        s="concat('vj|', CAST(doc_id AS STRING), '|', CAST(f AS STRING),"
        " '|', CAST(p AS STRING))"
    )
    pixel = (
        f"CAST(({vs}) % 112 + 128 * ({scene})"
        f" + IF(({scene}) = 1, ({vj}) % 16, 0) AS INT)"
    )
    synth = d.select(
        "doc_id",
        F.expr(
            f"""transform(sequence(0, {VSEQ_FRAMES - 1}), f ->
                  transform(sequence(0, {npx - 1}), p -> {pixel}))"""
        ).alias("frames"),
    )
    vids = synthesize_frsq_payloads(
        synth, "doc_id", "frames", VSEQ_W, VSEQ_H
    )
    return video_summary(
        vids, "doc_id", "payload", threshold_milli=VSEQ_CUT_MILLI
    )


_VSUM_SCENE = (
    "CASE WHEN f >= ((doc_id // 3) * 13 + (doc_id % 3) * 7) % 6 + 1"
    " THEN 1 ELSE 0 END"
)
_VSUM_VS = (
    "CAST(CAST(('0x' || substring(md5('vv|' ||"
    " CAST(doc_id // 3 AS VARCHAR) || '|' || CAST(s AS VARCHAR) || '|'"
    " || CAST(p AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)"
)
_VSUM_VJ = (
    "CAST(CAST(('0x' || substring(md5('vj|' ||"
    " CAST(doc_id AS VARCHAR) || '|' || CAST(f AS VARCHAR) || '|'"
    " || CAST(p AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)"
)

MM_VIDEO_SUMMARY_SQL = f"""
WITH fr AS (SELECT unnest(generate_series(0, {VSEQ_FRAMES - 1})) AS f),
px AS (SELECT unnest(generate_series(0, {VSEQ_W * VSEQ_H - 1})) AS p),
cells AS (
  SELECT doc_id, f, p, {_VSUM_SCENE} AS s
  FROM documents CROSS JOIN fr CROSS JOIN px),
vals AS (
  SELECT doc_id, f, p,
         ({_VSUM_VS}) % 112 + 128 * s
         + CASE WHEN s = 1 THEN ({_VSUM_VJ}) % 16 ELSE 0 END AS v
  FROM cells),
frames AS (
  SELECT doc_id, f,
         CAST(SUM(v) AS BIGINT) AS ls,
         CAST(COUNT(*) AS BIGINT) AS np,
         md5('{VSEQ_W}x{VSEQ_H}:'
             || string_agg(CAST(v AS VARCHAR), ',' ORDER BY p)) AS digest
  FROM vals GROUP BY 1, 2),
lagged AS (
  SELECT *, (1000 * ls) // np AS mm,
         LAG((1000 * ls) // np) OVER (PARTITION BY doc_id ORDER BY f)
             AS prev
  FROM frames)
SELECT doc_id AS media_id,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(COALESCE(SUM(CASE WHEN prev IS NOT NULL
                AND ABS(mm - prev) >= {VSEQ_CUT_MILLI}
                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cuts,
       CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_distinct_frames,
       CAST(1000000 * (COUNT(*) - COUNT(DISTINCT digest))
            // COUNT(*) AS BIGINT) AS dup_frame_ppm,
       CAST((1000 * SUM(ls)) // SUM(np) AS BIGINT) AS mean_mluma
FROM lagged GROUP BY 1 ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# wave 56: classifier calibration audit + leakage-safe k-fold census
# ---------------------------------------------------------------------------

CALIB_BINS = 10


def pf_calibration(spark, sf_dir):
    """Reliability-diagram calibration audit (operators.sampling.
    calibration_audit) of the M1 classifier's confidences against the
    corpus gold labels — the trust gate before model scores become
    routing thresholds (the reference's manual-review cut rides the
    confidence, reference classifier_code/flow_inference.py): per fixed
    confidence bin, count, share, claimed-vs-empirical ppm and the
    gap. Integer-ppm arithmetic end-to-end; one bins-bounded
    aggregation."""
    from calp_cva_tracking_pipeline_spark.operators.mlstub import (
        classify_flows,
    )
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        calibration_audit,
    )

    # NULL texts drop BEFORE scoring (advisor r13: the native stub
    # coalesces NULL length to conf 0.0, which would seat unscorable
    # rows in bin 0 while the SQL twin's WHERE drops them)
    d = classify_flows(
        T(spark, sf_dir, "documents").filter(F.col("text").isNotNull()),
        "text",
        stub="native",
    ).select(
        "predicted_confidence",
        (
            F.col("predicted_class")
            == F.when(F.col("lang") == "en", F.lit("Full")).otherwise(
                F.lit("Partial")
            )
        ).alias("correct"),
    )
    return calibration_audit(
        d, "predicted_confidence", "correct", n_bins=CALIB_BINS
    )


_M1_CONF = "(((length(text) * 2654435761) % 1000) / 1000.0)"

PF_CALIBRATION_SQL = f"""
WITH scored AS (
  SELECT CAST({_M1_CONF} AS DOUBLE) AS conf,
         (CASE WHEN {_M1_CONF} >= 0.5 THEN 'Full' ELSE 'Partial' END
          = CASE WHEN lang = 'en' THEN 'Full' ELSE 'Partial' END)
             AS correct
  FROM documents WHERE text IS NOT NULL),
cells AS (
  SELECT LEAST(CAST(FLOOR(conf * {CALIB_BINS}) AS INT),
               {CALIB_BINS - 1}) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(conf * 1000000, 0) AS BIGINT)) AS BIGINT)
             AS sc,
         CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS sok
  FROM scored GROUP BY 1)
SELECT bin, n,
       CAST((1000000 * n) // (SELECT SUM(n) FROM cells) AS BIGINT)
           AS share_ppm,
       CAST(sc // n AS BIGINT) AS mean_conf_ppm,
       CAST((1000000 * sok) // n AS BIGINT) AS acc_ppm,
       ABS(CAST(sc // n AS BIGINT)
           - CAST((1000000 * sok) // n AS BIGINT)) AS gap_ppm
FROM cells ORDER BY bin
"""

# --- wave 60: active-learning uncertainty sampling ---

UNCERT_K = 10


def mx_uncertainty(spark, sf_dir):
    """Active-learning labeling queue (operators.sampling.
    uncertainty_sample): per predicted class the K most uncertain M1
    scores (binary margin |conf−0.5| ascending, integer ppm, id
    tie-break) — the reference's low-confidence manual-review routing
    generalized into a budgeted per-class annotation batch."""
    from calp_cva_tracking_pipeline_spark.operators.mlstub import (
        classify_flows,
    )
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        uncertainty_sample,
    )

    d = classify_flows(
        T(spark, sf_dir, "documents").filter(F.col("text").isNotNull()),
        "text",
        stub="native",
    )
    return uncertainty_sample(
        d, "doc_id", "predicted_confidence", "predicted_class",
        per_class_k=UNCERT_K,
    )


MX_UNCERTAINTY_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         CASE WHEN {_M1_CONF} >= 0.5 THEN 'Full' ELSE 'Partial' END
             AS class,
         CAST({_M1_CONF} AS DOUBLE) AS conf,
         CAST(ROUND(ABS({_M1_CONF} - 0.5) * 1000000, 0) AS BIGINT)
             AS uncertainty_ppm
  FROM documents WHERE text IS NOT NULL),
ranked AS (
  SELECT doc_id AS id, class, conf, uncertainty_ppm,
         CAST(ROW_NUMBER() OVER (PARTITION BY class
           ORDER BY uncertainty_ppm, doc_id) AS INTEGER) AS rank
  FROM scored)
SELECT id, class, conf, uncertainty_ppm, rank
FROM ranked WHERE rank <= {UNCERT_K}
ORDER BY class, rank
"""


# --- wave 60: LTR feature extraction over the BM25 pool ---

LTR_POOL_K = 25


def rt_ltr_features(spark, sf_dir):
    """Learning-to-rank feature table (operators.textops.ltr_features)
    over the BM25 candidate pool — per pooled (query, doc): the 6-dp
    BM25 score, doc length, total/max query-term tf, matched-term
    count, integer-ppm query coverage and matched idf mass; the table a
    reranker trains on, same tokenizer/scoring text as rt_bm25_topk."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        ltr_features,
    )

    d = T(spark, sf_dir, "documents")
    return ltr_features(
        d, "doc_id", BM25_QUERY, k1=BM25_K1, b=BM25_B,
        pool_k=LTR_POOL_K,
    )


def _rt_ltr_sql() -> str:
    n_q = len(sorted(set(BM25_QUERY)))
    return f"""
WITH {_BM25_SCORED_CTES.replace("scored AS (", "scored0 AS (")},
feat AS (
  SELECT tf.doc_id,
         ROUND(SUM(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * tf * ({BM25_K1} + 1)
           / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
         ), 6) AS bm25,
         CAST(MAX(dl) AS BIGINT) AS dl,
         CAST(SUM(tf) AS BIGINT) AS tf_sum,
         CAST(MAX(tf) AS BIGINT) AS max_tf,
         CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
         ROUND(SUM(ln(1 + (n_docs - df + 0.5) / (df + 0.5))), 6)
             AS idf_sum
  FROM tf
  JOIN df_t USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id),
pool AS (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                 AS INTEGER) AS rank
  FROM feat)
SELECT doc_id, rank, bm25, dl, tf_sum, max_tf, n_terms_matched,
       CAST((1000000 * n_terms_matched) // {n_q} AS BIGINT)
           AS coverage_ppm,
       idf_sum
FROM pool WHERE rank <= {LTR_POOL_K} ORDER BY rank
"""


RT_LTR_SQL = _rt_ltr_sql()


# --- wave 60: personalized PageRank (seed-teleport curation ranking) ---

PPR_SEEDS = (1, 2, 3)  # supplier nodes — the trusted seed set
PPR_ITER = 3


def gr_ppr(spark, sf_dir):
    """Personalized PageRank (operators.graph.personalized_pagerank)
    over the gr_pagerank supplier↔part graph with a 3-supplier seed
    set — the expand-from-trusted-sources ranking a curation pipeline
    runs ("more like these N good sources"); teleport and dangling
    mass return to seeds only, same sentinel single-reference kernel
    and integer nano arithmetic as the uniform variant."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    seeds = spark.createDataFrame(
        [(int(x),) for x in PPR_SEEDS], "node long"
    )
    return personalized_pagerank(
        _supplier_part_digraph(spark, sf_dir), seeds, "src", "dst",
        n_iter=PPR_ITER,
    )


def _gr_ppr_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.graph import ppr_sql

    edges = f"""
SELECT l_suppkey AS src, l_partkey + {PR_PART_OFFSET} AS dst
FROM lineitem WHERE l_orderkey % 2 = 0
UNION ALL
SELECT l_partkey + {PR_PART_OFFSET} AS src, l_suppkey AS dst
FROM lineitem WHERE l_orderkey % 2 = 1
"""
    seeds = " UNION ALL ".join(
        f"SELECT {int(x)} AS node" for x in PPR_SEEDS
    )
    return ppr_sql(edges, seeds, n_iter=PPR_ITER)


GR_PPR_SQL = _gr_ppr_sql()


# --- wave 59: HITS link analysis + line-level boilerplate census ---

HITS_ITER = 3


def gr_hits(spark, sf_dir):
    """Fixed-iteration HITS hubs/authorities (operators.graph.hits)
    over the same directed supplier↔part graph as gr_pagerank:
    endorsement flows hub→authority over distinct edges, rounds run
    un-normalized over exact decimal(38,0) integers, ONE final L1
    normalization to nano units — bit-identical across engines via
    the unrolled SQL recurrence (the pagerank nano discipline)."""
    from calp_cva_tracking_pipeline_spark.operators.graph import hits

    return hits(
        _supplier_part_digraph(spark, sf_dir), "src", "dst",
        n_iter=HITS_ITER,
    )


def _gr_hits_sql() -> str:
    rounds = []
    prev_h = "h0"
    for i in range(1, HITS_ITER + 1):
        rounds.append(
            f"""a{i} AS (
  SELECT e.dst AS node, SUM({prev_h}.s) AS s
  FROM e JOIN {prev_h} ON {prev_h}.node = e.src GROUP BY 1)"""
        )
        rounds.append(
            f"""h{i} AS (
  SELECT e.src AS node, SUM(a{i}.s) AS s
  FROM e JOIN a{i} ON a{i}.node = e.dst GROUP BY 1)"""
        )
        prev_h = f"h{i}"
    t = HITS_ITER
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH raw AS (
  SELECT l_suppkey AS src, l_partkey + {PR_PART_OFFSET} AS dst
  FROM lineitem WHERE l_orderkey % 2 = 0
  UNION ALL
  SELECT l_partkey + {PR_PART_OFFSET} AS src, l_suppkey AS dst
  FROM lineitem WHERE l_orderkey % 2 = 1),
e AS (SELECT DISTINCT src, dst FROM raw),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS (SELECT node, CAST(1000000000 AS HUGEINT) AS s FROM nodes),
{rounds_sql},
hub AS (
  SELECT n.node, COALESCE(h{t}.s, 0) AS v
  FROM nodes n LEFT JOIN h{t} ON h{t}.node = n.node),
auth AS (
  SELECT n.node, COALESCE(a{t}.s, 0) AS v
  FROM nodes n LEFT JOIN a{t} ON a{t}.node = n.node)
SELECT hub.node,
       CAST((hub.v * 1000000000) // (SELECT SUM(v) FROM hub)
            AS BIGINT) AS hub_nano,
       CAST((auth.v * 1000000000) // (SELECT SUM(v) FROM auth)
            AS BIGINT) AS auth_nano
FROM hub JOIN auth ON auth.node = hub.node
ORDER BY hub.node
"""


GR_HITS_SQL = _gr_hits_sql()


def gr_reciprocity(spark, sf_dir):
    """Per-node edge reciprocity (operators.graph.reciprocity) over the
    directed supplier↔part graph (same derivation as gr_hits — the
    parity split puts some (s, p) links in BOTH directions, so the
    census is non-degenerate): of each node's distinct out-edges, the
    count and floor-ppm share whose reverse edge exists."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        reciprocity,
    )

    return reciprocity(_supplier_part_digraph(spark, sf_dir), "src", "dst")


GR_RECIPROCITY_SQL = f"""
WITH raw AS (
  SELECT l_suppkey AS src, l_partkey + {PR_PART_OFFSET} AS dst
  FROM lineitem WHERE l_orderkey % 2 = 0
  UNION ALL
  SELECT l_partkey + {PR_PART_OFFSET} AS src, l_suppkey AS dst
  FROM lineitem WHERE l_orderkey % 2 = 1),
e AS (SELECT DISTINCT src, dst FROM raw
      WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
r AS (
  SELECT e.src, e.dst,
         CASE WHEN EXISTS (SELECT 1 FROM e b
                           WHERE b.src = e.dst AND b.dst = e.src)
              THEN 1 ELSE 0 END AS rec
  FROM e)
SELECT src AS node,
       CAST(COUNT(*) AS BIGINT) AS out_deg,
       CAST(SUM(rec) AS BIGINT) AS n_recip,
       CAST((1000000 * SUM(rec)) // COUNT(*) AS BIGINT) AS recip_ppm
FROM r GROUP BY src ORDER BY node
"""



def gr_hits_weighted(spark, sf_dir):
    """WEIGHTED HITS (operators.graph.hits_weighted) over the SAME
    directed supplier↔part graph as gr_hits, with endorsement strength
    = link multiplicity: lineitem naturally repeats (supplier, part)
    pairs across orders, so the collapsed edge weights are the real
    co-occurrence counts (non-degenerate at every SF). Closes the
    operator hits()'s docstring declares out of scope — VERDICT r13
    ask #5."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        hits_weighted,
    )

    return hits_weighted(
        _supplier_part_digraph(spark, sf_dir), "src", "dst",
        n_iter=HITS_ITER,
    )


def gr_pagerank_weighted(spark, sf_dir):
    """WEIGHTED PageRank (operators.graph.pagerank_weighted) over the
    SAME directed supplier↔part multigraph as gr_pagerank, WITHOUT the
    duplicate-edge collapse: lineitem naturally repeats (supplier,
    part) pairs across orders, so each collapsed edge carries its real
    link multiplicity and every round passes weighted out-shares
    floor((rank·w)/W_src) — the multigraph form real link graphs need
    (VERDICT r14 ask #7). Same integer nano-unit rounds, sentinel
    dangling accumulator, and linear plan as the unweighted flagship;
    degenerates to pagerank bit-for-bit on a deduplicated edge list
    (property-pinned in tests/test_graph.py)."""
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        pagerank_weighted,
    )

    return pagerank_weighted(
        _supplier_part_digraph(spark, sf_dir), n_iter=PR_ITERS
    )


def _gr_pagerank_weighted_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.graph import (
        pagerank_weighted_sql,
    )

    edges = (
        f"SELECT l_suppkey AS src, l_partkey + {PR_PART_OFFSET} AS dst "
        f"FROM lineitem WHERE l_orderkey % 2 = 0 "
        f"UNION ALL "
        f"SELECT l_partkey + {PR_PART_OFFSET} AS src, l_suppkey AS dst "
        f"FROM lineitem WHERE l_orderkey % 2 = 1"
    )
    return pagerank_weighted_sql(edges, n_iter=PR_ITERS)


GR_PAGERANK_WEIGHTED_SQL = _gr_pagerank_weighted_sql()


def ev_cuped(spark, sf_dir):
    """CUPED variance-reduced experiment readout (operators.funnel.
    cuped_audit) per event_type: unit = user, treatment = user parity
    (the derive discipline), covariate = the unit's PRE-split value
    sum, metric = the POST-split sum (the DID_SPLIT_TS midpoint).
    Moments accumulate as DECIMAL over integer cents, θ rounds to 6 dp
    before entering the adjusted effect — one fixed double expression
    per output, bit-stable cross-engine."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        cuped_audit,
    )

    e = T(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
    )
    return cuped_audit(
        e,
        "event_type",
        "user_id",
        F.col("user_id") % 2 == 0,
        F.col("ts") < F.lit(DID_SPLIT_TS).cast("timestamp"),
        F.col("value"),
    )


EV_CUPED_SQL = f"""
WITH b AS (
  SELECT event_type AS grp, user_id AS u, (user_id % 2 = 0) AS t,
         CASE WHEN ts < TIMESTAMP '{DID_SPLIT_TS} 00:00:00'
              THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END AS xc,
         CASE WHEN ts >= TIMESTAMP '{DID_SPLIT_TS} 00:00:00'
              THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END AS yc
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL),
un AS (
  SELECT grp, u, t,
         CAST(SUM(xc) AS BIGINT) AS x, CAST(SUM(yc) AS BIGINT) AS y
  FROM b GROUP BY 1, 2, 3),
mom AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN t THEN x ELSE 0 END) AS BIGINT) AS sx_t,
         CAST(SUM(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS sy_t
  FROM un GROUP BY 1),
th AS (
  SELECT *,
         CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx > 0 THEN
           ROUND(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE),
                 6)
         END AS theta
  FROM mom)
SELECT grp AS event_type,
       n_t,
       CAST(n - n_t AS BIGINT) AS n_c,
       theta,
       CASE WHEN n_t > 0 AND n > n_t THEN
         ROUND(CAST(sy_t AS DOUBLE) / n_t
               - CAST(sy - sy_t AS DOUBLE) / (n - n_t), 6)
       END AS raw_effect_cents,
       CASE WHEN n_t > 0 AND n > n_t AND theta IS NOT NULL THEN
         ROUND((CAST(sy_t AS DOUBLE) / n_t
                - CAST(sy - sy_t AS DOUBLE) / (n - n_t))
               - theta * (CAST(sx_t AS DOUBLE) / n_t
                          - CAST(sx - sx_t AS DOUBLE) / (n - n_t)), 6)
       END AS cuped_effect_cents
FROM th ORDER BY event_type
"""


DIFF_REMOVED_MOD = 7
DIFF_ABSENT_MOD = 3
DIFF_EDIT_MOD = 5


def cdc_release_diff(spark, sf_dir):
    """Cross-release corpus diff (plans.corpus.release_diff): the
    previous release drops doc_id % 10 == DIFF_REMOVED_MOD, the
    candidate drops doc_id % 10 == DIFF_ABSENT_MOD and EDITS every
    doc_id % DIFF_EDIT_MOD == 0 text (an appended revision marker) —
    so all four diff classes (added / removed / changed / unchanged)
    are non-degenerate at every SF (the derive-from-testdata
    discipline)."""
    from calp_cva_tracking_pipeline_spark.plans.corpus import (
        release_diff,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    prev = d.filter(F.col("doc_id") % 10 != DIFF_REMOVED_MOD)
    curr = d.filter(F.col("doc_id") % 10 != DIFF_ABSENT_MOD).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % DIFF_EDIT_MOD == 0,
            F.concat(F.col("text"), F.lit(" [rev2]")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return release_diff(prev, curr, "doc_id", "text", "source")


CDC_RELEASE_DIFF_SQL = f"""
WITH d AS (SELECT doc_id, source, text FROM documents),
prev AS (
  SELECT doc_id, source,
         COALESCE(md5(text), chr(1)) AS dig
  FROM d WHERE doc_id % 10 != {DIFF_REMOVED_MOD}),
curr AS (
  SELECT doc_id, source,
         COALESCE(md5(CASE WHEN doc_id % {DIFF_EDIT_MOD} = 0
                           THEN text || ' [rev2]' ELSE text END),
                  chr(1)) AS dig
  FROM d WHERE doc_id % 10 != {DIFF_ABSENT_MOD}),
u AS (
  SELECT doc_id, source, dig, 1 AS ina, 0 AS inb FROM prev
  UNION ALL
  SELECT doc_id, source, dig, 0 AS ina, 1 AS inb FROM curr),
per_doc AS (
  SELECT doc_id, source,
         MAX(ina) AS a, MAX(inb) AS b,
         MAX(CASE WHEN ina = 1 THEN dig END) AS da,
         MAX(CASE WHEN inb = 1 THEN dig END) AS db
  FROM u GROUP BY 1, 2),
cls AS (
  SELECT source, a, b,
         CASE WHEN a = 0 AND b = 1 THEN 'added'
              WHEN a = 1 AND b = 0 THEN 'removed'
              WHEN da != db THEN 'changed'
              ELSE 'unchanged' END AS c
  FROM per_doc)
SELECT source,
       CAST(SUM(a) AS BIGINT) AS n_prev,
       CAST(SUM(b) AS BIGINT) AS n_curr,
       CAST(SUM(CASE WHEN c = 'added' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_added,
       CAST(SUM(CASE WHEN c = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       CAST(SUM(CASE WHEN c = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed,
       CAST(SUM(CASE WHEN c = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unchanged
FROM cls GROUP BY 1 ORDER BY source
"""


def pf_psi_by(spark, sf_dir):
    """PER-GROUP PSI drift (operators.profiling.population_stability_by)
    — event value distributions per event_type between user-parity
    slices, each segment bucketed on its OWN min/max band: the
    per-segment monitor a global PSI hides (one event type drifting
    inside a stable aggregate). Same nano-unit per-bucket terms and
    1e-6 floor as pf_psi."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        population_stability_by,
    )

    e = T(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return population_stability_by(
        e, "event_type", ["value"], F.col("user_id") % 2
    )


PF_PSI_BY_SQL = """
WITH long AS (
  SELECT CAST(event_type AS VARCHAR) AS g, 'value' AS col_name,
         CAST(value AS DOUBLE) AS val,
         CAST(user_id % 2 AS INTEGER) AS slice
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
rng AS (SELECT g, col_name, MIN(val) AS lo, MAX(val) AS hi
        FROM long GROUP BY 1, 2),
b AS (
  SELECT long.g, long.col_name, slice,
         CASE WHEN hi - lo <= 0 THEN 0
              ELSE least(CAST(floor((val - lo) / (hi - lo) * 10)
                         AS INTEGER), 9) END AS bucket
  FROM long JOIN rng ON rng.g IS NOT DISTINCT FROM long.g
                     AND rng.col_name = long.col_name),
counts AS (SELECT g, col_name, bucket, slice, COUNT(*) AS cnt
           FROM b GROUP BY 1, 2, 3, 4),
fr AS (
  SELECT g, col_name, bucket, slice, cnt,
         CAST(cnt AS DOUBLE)
           / SUM(cnt) OVER (PARTITION BY g, col_name, slice) AS frac
  FROM counts),
pb AS (
  SELECT g, col_name, bucket,
         greatest(COALESCE(MAX(CASE WHEN slice = 0 THEN frac END),
                           CAST(0.0 AS DOUBLE)),
                  CAST(1e-06 AS DOUBLE)) AS p,
         greatest(COALESCE(MAX(CASE WHEN slice = 1 THEN frac END),
                           CAST(0.0 AS DOUBLE)),
                  CAST(1e-06 AS DOUBLE)) AS q,
         COALESCE(SUM(CASE WHEN slice = 0 THEN cnt END), 0) AS na,
         COALESCE(SUM(CASE WHEN slice = 1 THEN cnt END), 0) AS nb
  FROM fr GROUP BY 1, 2, 3)
SELECT g AS event_type, col_name,
       ROUND(CAST(SUM(CAST(ROUND(ROUND((p - q) * ln(p / q), 9)
                           * 1000000000, 0) AS BIGINT)) AS BIGINT)
             / CAST(1000000000 AS DOUBLE), 6) AS psi,
       CAST(SUM(na) AS BIGINT) AS n_base,
       CAST(SUM(nb) AS BIGINT) AS n_cur
FROM pb GROUP BY 1, 2 ORDER BY event_type, col_name
"""


def ev_srm(spark, sf_dir):
    """Sample-ratio-mismatch gate (operators.funnel.srm_audit) per
    event_type over DISTINCT users with the parity-derived arm. One
    event type ('error') gets a derived assignment bug — a third of
    its control users filtered out — so the alarm fires there and
    stays quiet elsewhere at sf ≥ 0.01 (at sf0.001 the 12-unit group
    is correctly UNDER-POWERED: χ² = 1.33 < 3.84 — the statistic
    refusing to alarm on noise is itself the semantics). Fully
    integer: χ²_nano = (1e9·(n_t−n_c)²) div n vs the nano-pinned χ²₁
    95% critical value, no libm anywhere."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        srm_audit,
    )

    e = T(spark, sf_dir, "events").filter(
        ~(
            (F.col("event_type") == "error")
            & (F.col("user_id") % 2 == 1)
            & (F.col("user_id") % 3 == 1)
        )
    )
    return srm_audit(
        e, "event_type", "user_id", F.col("user_id") % 2 == 0
    )


EV_SRM_SQL = """
WITH u AS (
  SELECT DISTINCT event_type AS grp, user_id,
         (user_id % 2 = 0) AS t
  FROM events
  WHERE user_id IS NOT NULL
    AND NOT (event_type = 'error' AND user_id % 2 = 1
             AND user_id % 3 = 1)),
a AS (
  SELECT grp,
         CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS n_c
  FROM u GROUP BY 1)
SELECT grp AS event_type, n_t, n_c,
       CAST((CAST(1000000000 AS HUGEINT) * (n_t - n_c) * (n_t - n_c))
            // (n_t + n_c) AS BIGINT) AS chi2_nano,
       (CAST((CAST(1000000000 AS HUGEINT) * (n_t - n_c) * (n_t - n_c))
             // (n_t + n_c) AS BIGINT) > 3841458821) AS srm
FROM a ORDER BY event_type
"""


MDE_Z_ALPHA = 1.959964  # two-sided 5%
MDE_Z_BETA = 0.841621  # 80% power


def ev_power_mde(spark, sf_dir):
    """Minimum detectable effect per event_type — the experiment-
    DESIGN readout that closes the testing family (did/cuped/sprt/fdr
    analyze a finished experiment; this sizes the next one): given the
    two arms' realized sample sizes and the pooled conversion rate,
    the two-proportion normal-approximation MDE at 5% two-sided /
    80% power, MDE = (z_a+z_b)·sqrt(p(1−p)(1/n_t+1/n_c)).

    Engine-exactness: counters are integers off ONE group-bounded
    aggregation; the rate pins to floor-ppm; the MDE derives in one
    fixed double expression from those integers with the z sum as a
    plan-time literal, rounded to integer ppm — bit-stable
    cross-engine. Arms with zero units yield NULL mde (no design from
    no data). Output: (event_type, n_t, n_c, k, rate_ppm, mde_ppm),
    ordered. Engine addition; no reference counterpart."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        mde_family_cells,
        mde_from_family_cells,
    )

    e = T(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    base = e.select(
        "event_type",
        (F.col("user_id") % 2 == 0).alias("t"),
        (F.col("value") > F.lit(DID_CUT_BASE)).cast("int").alias("c"),
    )
    return mde_from_family_cells(
        mde_family_cells(base, "event_type", "t", "c"), "event_type"
    )


EV_POWER_MDE_SQL = f"""
WITH b AS (
  SELECT event_type,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
         CASE WHEN value > {DID_CUT_BASE} THEN 1 ELSE 0 END AS c
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
a AS (
  SELECT event_type,
         CAST(SUM(t) AS BIGINT) AS n_t,
         CAST(SUM(1 - t) AS BIGINT) AS n_c,
         CAST(SUM(c) AS BIGINT) AS k
  FROM b GROUP BY 1)
SELECT event_type, n_t, n_c, k,
       CAST((1000000 * k) // (n_t + n_c) AS BIGINT) AS rate_ppm,
       CASE WHEN n_t > 0 AND n_c > 0 THEN
         CAST(ROUND({MDE_Z_ALPHA + MDE_Z_BETA!r} * sqrt(
           (CAST(k AS DOUBLE) / (n_t + n_c))
           * (1.0 - CAST(k AS DOUBLE) / (n_t + n_c))
           * (1.0 / n_t + 1.0 / n_c)) * 1e6, 0) AS BIGINT)
       END AS mde_ppm
FROM a ORDER BY event_type
"""


DRIFT_SAME_MICRO = 999_999
DRIFT_TAU_MICRO = 990_000


def emb_version_drift(spark, sf_dir):
    """Embedding VERSION drift audit — the re-embedding migration gate
    (swap the encoder, re-embed the corpus, and assert how much of the
    space actually moved before re-tuning ANN/dedup thresholds): the
    paired cosine between each id's old and new vector, reduced to a
    one-row census. Version 2 derives deterministically (every
    % 7 == 0 vector reversed — an uncorrelated rotation-like drift —
    and every % 13 == 0 (not % 7) negated — the anti-aligned extreme),
    so all bands are non-degenerate. No join: both versions are
    per-row projections of one scan; cosines round to 6 dp and enter
    the census as integer MICRO units, so counts and the mean are
    bit-exact. Output: (n, n_same, n_drifted, mean_cos_micro).
    Engine addition; no reference counterpart."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        dot,
        norm,
    )

    e = T(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    v = F.col("vec_id")
    v2 = (
        F.when(v % 7 == 0, F.reverse(F.col("embedding")))
        .when(
            (v % 13 == 0) & (v % 7 != 0),
            F.transform(F.col("embedding"), lambda x: -x),
        )
        .otherwise(F.col("embedding"))
    )
    paired = e.select(
        F.round(
            dot(F.col("embedding"), v2)
            / (norm(F.col("embedding")) * norm(v2)),
            6,
        ).alias("__cos")
    ).select(
        F.round(F.col("__cos") * 1e6, 0).cast("bigint").alias("__cm")
    )
    return paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("__cm") >= DRIFT_SAME_MICRO).cast("int"))
        .cast("bigint")
        .alias("n_same"),
        F.sum((F.col("__cm") < DRIFT_TAU_MICRO).cast("int"))
        .cast("bigint")
        .alias("n_drifted"),
        # shift by +1e6 so the dividend is non-negative (cm >= -1e6):
        # Spark's div truncates toward zero while DuckDB's // floors,
        # and they only agree on non-negative operands
        (
            F.expr(
                "CAST(SUM(__cm + 1000000) div COUNT(*) AS BIGINT)"
            )
            - F.lit(1_000_000)
        ).alias("mean_cos_micro"),
    )


EMB_VERSION_DRIFT_SQL = f"""
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE embedding IS NOT NULL),
p AS (
  SELECT vec_id, v,
         CASE WHEN vec_id % 7 = 0 THEN list_reverse(v)
              WHEN vec_id % 13 = 0 THEN list_transform(v, x -> -x)
              ELSE v END AS v2
  FROM c),
s AS (
  SELECT CAST(ROUND(ROUND(list_dot_product(v, v2)
           / (sqrt(list_dot_product(v, v))
              * sqrt(list_dot_product(v2, v2))), 6) * 1e6, 0)
         AS BIGINT) AS cm
  FROM p)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN cm >= {DRIFT_SAME_MICRO} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_same,
       CAST(SUM(CASE WHEN cm < {DRIFT_TAU_MICRO} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_drifted,
       CAST(SUM(cm + 1000000) // COUNT(*) - 1000000 AS BIGINT)
         AS mean_cos_micro
FROM s
"""


SEM_INCR_TAU = 0.8


def dd_semdedup_incr(spark, sf_dir):
    """Incremental SemDeDup (operators.dedup.semdedup_incremental):
    the persisted admitted-member store = vec_id % 3 != 0 assigned on
    the shared IVF quantizer; the ingest batch = vec_id % 3 == 0, with
    injected duplicates so both drop classes are non-degenerate on the
    uniform-random corpus (cosine pairs concentrate near 0): every
    % 15 == 0 batch row carries the STORE vector vec_id+1 (a store
    dup), every % 21 == 0 (not % 15, and whose +3 partner keeps its
    raw vector) carries the raw vector of batch row vec_id+3 (a
    smaller-id within-batch dup). One broadcast assignment + two
    cell-keyed joins; verdicts admitted/store_dup/batch_dup."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        semdedup_incremental,
    )
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        assign_cells,
        train_centroids,
    )

    e = T(spark, sf_dir, "embeddings")
    raw = e.select("vec_id", "embedding")
    cent = train_centroids(e, "vec_id", "embedding", IVF_CENTROIDS)
    members = assign_cells(
        raw.filter(F.col("vec_id") % 3 != 0), cent, "vec_id", "embedding"
    ).select(
        F.col("__cell").alias("cell"),
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
    )
    p1 = raw.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("embedding").alias("__e1"),
    )
    p3 = raw.select(
        (F.col("vec_id") - 3).alias("vec_id"),
        F.col("embedding").alias("__e3"),
    )
    v = F.col("vec_id")
    batch = (
        raw.filter(v % 3 == 0)
        .join(p1, "vec_id", "left")
        .join(p3, "vec_id", "left")
        .select(
            "vec_id",
            F.when(
                (v % 15 == 0) & F.col("__e1").isNotNull(), F.col("__e1")
            )
            .when(
                (v % 21 == 0)
                & (v % 15 != 0)
                & ((v + 3) % 15 != 0)
                & F.col("__e3").isNotNull(),
                F.col("__e3"),
            )
            .otherwise(F.col("embedding"))
            .alias("embedding"),
        )
    )
    return semdedup_incremental(
        batch, members, cent, "vec_id", "embedding",
        threshold=SEM_INCR_TAU,
    )


def _dd_semdedup_incr_sql() -> str:
    d2 = _D2.format(a="x.v", b="cent.cv")
    cos = (
        "ROUND(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    return f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
cent AS (SELECT CAST(vec_id AS BIGINT) AS cid, v AS cv
         FROM c ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
sa AS (
  SELECT vec_id, v, cid AS cell FROM (
    SELECT x.vec_id, x.v, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
             ORDER BY {d2}, cent.cid) AS rn
    FROM c x CROSS JOIN cent WHERE x.vec_id % 3 != 0) t
  WHERE rn = 1),
b0 AS (
  SELECT b.vec_id,
         CASE WHEN b.vec_id % 15 = 0 AND e1.v IS NOT NULL THEN e1.v
              WHEN b.vec_id % 21 = 0 AND b.vec_id % 15 != 0
                   AND (b.vec_id + 3) % 15 != 0
                   AND e3.v IS NOT NULL THEN e3.v
              ELSE b.v END AS v
  FROM c b LEFT JOIN c e1 ON e1.vec_id = b.vec_id + 1
           LEFT JOIN c e3 ON e3.vec_id = b.vec_id + 3
  WHERE b.vec_id % 3 = 0),
ba AS (
  SELECT vec_id, v, cid AS cell FROM (
    SELECT x.vec_id, x.v, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
             ORDER BY {d2}, cent.cid) AS rn
    FROM b0 x CROSS JOIN cent) t
  WHERE rn = 1),
sd AS (
  SELECT DISTINCT ba.vec_id FROM ba JOIN sa ON sa.cell = ba.cell
  WHERE {cos.format(a="ba.v", b="sa.v")} >= {SEM_INCR_TAU}),
bd AS (
  SELECT DISTINCT r.vec_id FROM ba r JOIN ba l
    ON l.cell = r.cell AND l.vec_id < r.vec_id
  WHERE {cos.format(a="l.v", b="r.v")} >= {SEM_INCR_TAU})
SELECT ba.vec_id,
       CAST(ba.cell AS BIGINT) AS cell,
       CASE WHEN sd.vec_id IS NOT NULL THEN 'store_dup'
            WHEN bd.vec_id IS NOT NULL THEN 'batch_dup'
            ELSE 'admitted' END AS verdict
FROM ba LEFT JOIN sd ON sd.vec_id = ba.vec_id
        LEFT JOIN bd ON bd.vec_id = ba.vec_id
ORDER BY ba.vec_id
"""


DD_SEMDEDUP_INCR_SQL = _dd_semdedup_incr_sql()


GQ_PS = (0.1, 0.5, 0.9)


def ev_qte(spark, sf_dir):
    """Quantile treatment effects (QTE) per event_type: the per-
    quantile treated-minus-control value gap — the distributional
    readout a mean effect (ev_did/ev_cuped) cannot express (a
    treatment that moves only the tail shows a flat mean and a loud
    p90 gap). Composes grouped_exact_percentiles over the
    (event_type × arm) composite key (chr(30) separator — chr(31) is
    the kernel's own group sentinel), then one bounded pivot; both
    arms' quantiles round to 6 dp before the difference (so a
    borderline gap cannot flip on interpolation noise), and the gap
    rounds again."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        grouped_exact_percentiles,
    )

    e = T(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    arm = F.when(
        F.col("user_id") % 2 == 0, F.lit("t")
    ).otherwise(F.lit("c"))
    keyed = e.select(
        F.concat_ws(chr(30), F.col("event_type"), arm).alias("__ga"),
        F.col("value"),
    )
    q = grouped_exact_percentiles(
        keyed, "__ga", ["value"], list(GQ_PS), round_to=6
    )
    split = q.select(
        F.substring_index("__ga", chr(30), 1).alias("event_type"),
        F.substring_index("__ga", chr(30), -1).alias("__arm"),
        F.col("p").cast("double").alias("p"),
        "value",
    )
    return (
        split.groupBy("event_type", "p")
        .agg(
            F.max(F.when(F.col("__arm") == "t", F.col("value"))).alias(
                "q_treated"
            ),
            F.max(F.when(F.col("__arm") == "c", F.col("value"))).alias(
                "q_control"
            ),
        )
        .select(
            "event_type",
            "p",
            "q_treated",
            "q_control",
            F.round(
                F.col("q_treated") - F.col("q_control"), 6
            ).alias("qte"),
        )
        .orderBy("event_type", "p")
    )


def _ev_qte_sql() -> str:
    per_p = " UNION ALL ".join(
        f"SELECT event_type, CAST({p} AS DOUBLE) AS p,"
        f" ROUND(CAST(quantile_cont(v, {p})"
        f"   FILTER (WHERE t) AS DOUBLE), 6) AS q_treated,"
        f" ROUND(CAST(quantile_cont(v, {p})"
        f"   FILTER (WHERE NOT t) AS DOUBLE), 6) AS q_control"
        f" FROM b GROUP BY event_type"
        for p in GQ_PS
    )
    return f"""
WITH b AS (
  SELECT event_type, (user_id % 2 = 0) AS t, CAST(value AS DOUBLE) AS v
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL
    AND event_type IS NOT NULL),
q AS ({per_p})
SELECT event_type, p, q_treated, q_control,
       ROUND(q_treated - q_control, 6) AS qte
FROM q ORDER BY event_type, p
"""


EV_QTE_SQL = _ev_qte_sql()


def pf_group_quantiles(spark, sf_dir):
    """Per-group exact p10/p50/p90 (operators.profiling.
    grouped_exact_percentiles — the grouped two-phase kernel with an
    arbitrary percentile set, all three percentiles off ONE kernel
    run): event value distribution bands per event_type, the grouped
    generalization pf_profile_by's median-only card cannot express."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        grouped_exact_percentiles,
    )

    e = T(spark, sf_dir, "events")
    return (
        grouped_exact_percentiles(
            e, "event_type", ["value"], list(GQ_PS), round_to=6
        )
        .select(
            "event_type",
            F.col("p").cast("double").alias("p"),
            F.col("value").cast("double").alias("value"),
        )
        .orderBy("event_type", "p")
    )


PF_GROUP_QUANTILES_SQL = f"""
WITH b AS (
  SELECT CAST(event_type AS VARCHAR) AS g, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL),
q AS (
  {" UNION ALL ".join(
      f"SELECT g, CAST({p} AS DOUBLE) AS p,"
      f" ROUND(CAST(quantile_cont(v, {p}) AS DOUBLE), 6) AS value"
      f" FROM b GROUP BY g"
      for p in GQ_PS
  )})
SELECT g AS event_type, p, value FROM q ORDER BY event_type, p
"""


def _gr_hits_weighted_sql() -> str:
    rounds = []
    prev_h = "h0"
    for i in range(1, HITS_ITER + 1):
        rounds.append(
            f"""a{i} AS (
  SELECT e.dst AS node, SUM(e.w * {prev_h}.s) AS s
  FROM e JOIN {prev_h} ON {prev_h}.node = e.src GROUP BY 1)"""
        )
        rounds.append(
            f"""h{i} AS (
  SELECT e.src AS node, SUM(e.w * a{i}.s) AS s
  FROM e JOIN a{i} ON a{i}.node = e.dst GROUP BY 1)"""
        )
        prev_h = f"h{i}"
    t = HITS_ITER
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH raw AS (
  SELECT l_suppkey AS src, l_partkey + {PR_PART_OFFSET} AS dst
  FROM lineitem WHERE l_orderkey % 2 = 0
  UNION ALL
  SELECT l_partkey + {PR_PART_OFFSET} AS src, l_suppkey AS dst
  FROM lineitem WHERE l_orderkey % 2 = 1),
e AS (SELECT src, dst, CAST(COUNT(*) AS HUGEINT) AS w
      FROM raw GROUP BY 1, 2),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS (SELECT node, CAST(1000000000 AS HUGEINT) AS s FROM nodes),
{rounds_sql},
hub AS (
  SELECT n.node, COALESCE(h{t}.s, 0) AS v
  FROM nodes n LEFT JOIN h{t} ON h{t}.node = n.node),
auth AS (
  SELECT n.node, COALESCE(a{t}.s, 0) AS v
  FROM nodes n LEFT JOIN a{t} ON a{t}.node = n.node)
SELECT hub.node,
       CAST((hub.v * 1000000000) // (SELECT SUM(v) FROM hub)
            AS BIGINT) AS hub_nano,
       CAST((auth.v * 1000000000) // (SELECT SUM(v) FROM auth)
            AS BIGINT) AS auth_nano
FROM hub JOIN auth ON auth.node = hub.node
ORDER BY hub.node
"""


GR_HITS_WEIGHTED_SQL = _gr_hits_weighted_sql()

LINE_DF_MIN = 10
_FOOTER_A = "© example corp — all rights reserved"
_FOOTER_B = "subscribe to our newsletter"
_FOOTER_C = "home | about | contact"


def tx_line_dedup(spark, sf_dir):
    """Line-level boilerplate census (operators.textops.
    line_boilerplate_census — the C4 line-dedup rule's measurement):
    per source, the line mass a df ≥ {LINE_DF_MIN} line filter would
    remove. Corpus augmented with deterministic footer lines on the
    mod-3/5/7 docs (the derive-from-testdata discipline — the raw
    corpus is single-line with zero repeats), so the census is
    non-degenerate and the footers' df splits across the threshold."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        line_boilerplate_census,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    aug = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("\n" + _FOOTER_A)
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit("\n" + _FOOTER_B)
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit("\n" + _FOOTER_C)
            ).otherwise(F.lit("")),
        ),
    )
    return line_boilerplate_census(
        aug, "doc_id", "text", "source", min_df=LINE_DF_MIN
    )


TX_LINE_DEDUP_SQL = f"""
WITH aug AS (
  SELECT doc_id, source,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN chr(10) || '{_FOOTER_A}' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || '{_FOOTER_B}' ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN chr(10) || '{_FOOTER_C}' ELSE '' END AS text
  FROM documents WHERE text IS NOT NULL),
lines AS (
  SELECT doc_id, source, md5(trim(line)) AS lh
  FROM (SELECT doc_id, source,
               unnest(string_split(text, chr(10))) AS line FROM aug) t
  WHERE trim(line) <> ''),
census AS (
  SELECT lh, 1 AS boiler FROM (
    SELECT lh, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY 1) t
  WHERE df >= {LINE_DF_MIN}),
lab AS (
  SELECT l.source, l.lh, census.boiler
  FROM lines l LEFT JOIN census ON census.lh = l.lh)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(COALESCE(SUM(boiler), 0) AS BIGINT) AS n_boiler_lines,
       CAST((1000000 * COALESCE(SUM(boiler), 0)) // COUNT(*)
            AS BIGINT) AS boiler_ppm,
       CAST(COUNT(DISTINCT CASE WHEN boiler = 1 THEN lh END)
            AS BIGINT) AS n_distinct_boiler
FROM lab GROUP BY source ORDER BY source
"""


# --- wave 58: sequential testing + partition advisor ---

SPRT_P0 = 0.45
SPRT_P1 = 0.50
SPRT_ALPHA = 0.05
SPRT_BETA = 0.2
_SPRT_W1 = round(1e9 * math.log(SPRT_P1 / SPRT_P0))
_SPRT_W0 = round(1e9 * math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0)))
_SPRT_UP = round(1e9 * math.log((1.0 - SPRT_BETA) / SPRT_ALPHA))
_SPRT_LO = round(1e9 * math.log(SPRT_BETA / (1.0 - SPRT_ALPHA)))


def ev_sprt(spark, sf_dir):
    """Wald SPRT over the daily funnel counters (operators.funnel.
    sprt_audit): per day the Bernoulli LLR increment for H1 rate=0.50
    vs H0 rate=0.45, the running total and the boundary verdict — the
    when-could-we-have-stopped readout beside the fixed-horizon A/B
    test and the Wilson band. Log terms are plan-time literal nano
    integers (the aa_weights_nano discipline), so both engines replay
    the cumulative decision bit-for-bit."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        sprt_audit,
    )

    return sprt_audit(
        T(spark, sf_dir, "events"),
        p0=SPRT_P0,
        p1=SPRT_P1,
        alpha=SPRT_ALPHA,
        beta=SPRT_BETA,
    )


EV_SPRT_SQL = f"""
WITH day AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS k
  FROM events
  WHERE ts IS NOT NULL AND event_type IN ('view', 'purchase')
  GROUP BY 1 HAVING COUNT(*) > 0),
sc AS (
  SELECT day, n, k,
         CAST(k * {_SPRT_W1} + (n - k) * {_SPRT_W0} AS BIGINT)
             AS llr_nano,
         CAST(SUM(k * {_SPRT_W1} + (n - k) * {_SPRT_W0})
              OVER (ORDER BY day) AS BIGINT) AS cum_llr_nano
  FROM day),
lat AS (
  SELECT *,
         MIN(CASE WHEN cum_llr_nano >= {_SPRT_UP} THEN day END)
             OVER (ORDER BY day) AS fh,
         MIN(CASE WHEN cum_llr_nano <= {_SPRT_LO} THEN day END)
             OVER (ORDER BY day) AS fl
  FROM sc)
SELECT day, n, k, llr_nano, cum_llr_nano,
       CASE WHEN fh IS NOT NULL AND (fl IS NULL OR fh <= fl)
                THEN 'accept_h1'
            WHEN fl IS NOT NULL THEN 'accept_h0'
            ELSE 'continue' END AS verdict
FROM lat ORDER BY day
"""

PART_ADVISOR_CANDS = ("l_linestatus", "l_partkey", "l_returnflag",
                      "l_shipdate")
PART_MAX_PARTITIONS = 10_000
PART_MAX_SHARE_PPM = 200_000


def lx_partition_advisor(spark, sf_dir):
    """Partition-column advisor over lineitem (operators.layout.
    partition_advisor): per declared candidate the partition count,
    skew share, rows-per-partition and equality-prune ratio with the
    layout verdict — the review a warehouse runs before a PARTITIONED
    BY ships (cardinality explosions and one-giant-partition skew are
    the two classic layout failures)."""
    from calp_cva_tracking_pipeline_spark.operators.layout import (
        partition_advisor,
    )

    return partition_advisor(
        T(spark, sf_dir, "lineitem"),
        list(PART_ADVISOR_CANDS),
        max_partitions=PART_MAX_PARTITIONS,
        max_share_ppm=PART_MAX_SHARE_PPM,
    )


def _lx_partition_advisor_sql() -> str:
    branches = []
    for c in PART_ADVISOR_CANDS:
        branches.append(f"""
SELECT '{c}' AS part_col,
       CAST(COUNT(*) AS BIGINT) AS n_partitions,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST((1000000 * MAX(c)) // SUM(c) AS BIGINT) AS max_share_ppm,
       CAST(SUM(c) // COUNT(*) AS BIGINT) AS rows_per_part,
       CAST(1000000 // COUNT(*) AS BIGINT) AS prune_ppm
FROM (SELECT {c} AS k, COUNT(*) AS c FROM lineitem GROUP BY 1) g""")
    u = " UNION ALL ".join(branches)
    return f"""
SELECT part_col, n_partitions, n_rows, max_share_ppm, rows_per_part,
       prune_ppm,
       CASE WHEN n_partitions > {PART_MAX_PARTITIONS}
                THEN 'too_many_partitions'
            WHEN max_share_ppm > {PART_MAX_SHARE_PPM} THEN 'skewed'
            ELSE 'ok' END AS verdict
FROM ({u}) t ORDER BY part_col
"""


LX_PARTITION_ADVISOR_SQL = _lx_partition_advisor_sql()


GRAPH_ENTRY_N = 4
GRAPH_BEAM = 8
GRAPH_MAX_HOPS = 3
GRAPH_Q_LO = 64
GRAPH_Q_HI = 96


def ann_graph_frontier(spark, sf_dir):
    """Graph-ANN serving operating curve (operators.similarity.
    graph_search_frontier): recall@k after 0/1/2 greedy beam-expansion
    hops over the T93 k-NN graph vs exact brute force — the HNSW-family
    serving question answered by measurement, beside the IVF frontier's
    probe curve. Queries sit past the quantizer-seed band at every SF;
    per-query state is entry+hops·beam·edge_k, corpus-size-independent."""
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        graph_search_frontier,
    )

    e = T(spark, sf_dir, "embeddings")
    q = e.filter(
        (F.col("vec_id") >= GRAPH_Q_LO) & (F.col("vec_id") < GRAPH_Q_HI)
    )
    return graph_search_frontier(
        e,
        q,
        "vec_id",
        "embedding",
        "vec_id",
        "embedding",
        edge_k=KNN_K,
        n_centroids=None,
        nprobe=KNN_NPROBE,
        entry_n=GRAPH_ENTRY_N,
        beam=GRAPH_BEAM,
        max_hops=GRAPH_MAX_HOPS,
        k=TOP_K,
    )


def _ann_graph_frontier_sql() -> str:
    cos = (
        "ROUND(list_dot_product(qq.qv, cv.v) /"
        " (sqrt(list_dot_product(qq.qv, qq.qv))"
        " * sqrt(list_dot_product(cv.v, cv.v))), 6)"
    )
    ctes = [
        f"""q AS (
  SELECT vec_id AS query_id, v AS qv FROM c
  WHERE vec_id >= {GRAPH_Q_LO} AND vec_id < {GRAPH_Q_HI})""",
        f"""gedges AS (
  SELECT id, neighbor_id FROM ranked WHERE rank <= {KNN_K})""",
        f"""ent AS (
  SELECT vec_id AS cand_id FROM c ORDER BY vec_id LIMIT {GRAPH_ENTRY_N})""",
        """cand0 AS (SELECT query_id, cand_id FROM q CROSS JOIN ent)""",
        f"""brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qq.query_id, cv.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY qq.query_id
             ORDER BY {cos} DESC, cv.vec_id) AS r
    FROM q qq CROSS JOIN c cv WHERE cv.vec_id <> qq.query_id) t
  WHERE r <= {TOP_K})""",
    ]
    recs = []
    for h in range(GRAPH_MAX_HOPS + 1):
        ctes.append(
            f"""sc{h} AS (
  SELECT t.query_id, t.cand_id, {cos} AS cos
  FROM cand{h} t
  JOIN c cv ON cv.vec_id = t.cand_id
  JOIN q qq ON qq.query_id = t.query_id
  WHERE t.cand_id <> t.query_id)"""
        )
        ctes.append(
            f"""top{h} AS (
  SELECT query_id, cand_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY cos DESC, cand_id) AS r FROM sc{h}) t
  WHERE r <= {TOP_K})"""
        )
        if h < GRAPH_MAX_HOPS:
            ctes.append(
                f"""beam{h} AS (
  SELECT query_id, cand_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY cos DESC, cand_id) AS r FROM sc{h}) t
  WHERE r <= {GRAPH_BEAM})"""
            )
            ctes.append(
                f"""cand{h + 1} AS (
  SELECT DISTINCT query_id, cand_id FROM (
    SELECT query_id, cand_id FROM cand{h}
    UNION ALL
    SELECT b.query_id, e.neighbor_id AS cand_id
    FROM beam{h} b JOIN gedges e ON e.id = b.cand_id) t)"""
            )
        recs.append(
            f"""SELECT {h} AS hops, CAST({TOP_K} AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COALESCE(SUM(CASE WHEN tk.cand_id IS NOT NULL
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit,
       CAST((1000000 * COALESCE(SUM(CASE WHEN tk.cand_id IS NOT NULL
                          THEN 1 ELSE 0 END), 0)) // COUNT(*)
            AS BIGINT) AS recall_ppm,
       CAST((SELECT COUNT(*) FROM sc{h})
            // (SELECT COUNT(*) FROM q) AS BIGINT) AS mean_cands
FROM brute b LEFT JOIN top{h} tk
  ON tk.query_id = b.query_id AND tk.cand_id = b.neighbor_id"""
        )
    body = ",\n".join(ctes)
    return (
        f"WITH {_KNN_CTE_BODY}, {body}\n"
        + "\nUNION ALL\n".join(recs)
        + "\nORDER BY hops"
    )


ANN_GRAPH_FRONTIER_SQL = _ann_graph_frontier_sql()


KFOLD_K = 5
KFOLD_SEED = 42


def mx_kfold(spark, sf_dir):
    """Leakage-safe k-fold CV census (operators.sampling.kfold_audit):
    every event of a user lands in one fold (portable group-hash mod k
    — group_split's cross-validation sibling); the per-fold
    group/row/share balance sheet validates the plan before k training
    runs are paid for. NULL users form a NULL fold (unkeyed rows cannot
    be leakage-assigned)."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        kfold_audit,
    )

    e = T(spark, sf_dir, "events").select("event_id", "user_id")
    return kfold_audit(e, "user_id", KFOLD_K, seed=KFOLD_SEED)


MX_KFOLD_SQL = f"""
WITH lab AS (
  SELECT user_id,
         CAST(({_sql_hash60(
             f"('fold:{KFOLD_SEED}:{KFOLD_K}:' || CAST(user_id AS VARCHAR))"
         )} % {KFOLD_K}) AS INT) AS fold
  FROM events),
cells AS (
  SELECT fold,
         CAST(COUNT(DISTINCT COALESCE(CAST(user_id AS VARCHAR), chr(1)))
              AS BIGINT) AS n_groups,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM lab GROUP BY fold)
SELECT fold, n_groups, n_rows,
       CAST((1000000 * n_rows) // (SELECT SUM(n_rows) FROM cells)
            AS BIGINT) AS rows_ppm
FROM cells ORDER BY fold NULLS FIRST
"""


# ---------------------------------------------------------------------------
# unicode-aware normalized dedup (VERDICT r12 ask #6)
# ---------------------------------------------------------------------------

UNICODE_VARIANT_OFFSET = 2_000_000
# the deterministic re-encoding applied to every 6th doc: accent the
# lowercase vowels, then append a smart-quote marker — the crawl-duplicate
# class (same content, different encoder) the ASCII tier cannot see
_UVAR_SRC = "aeio"
_UVAR_DST = "àéîö"
_UVAR_SUFFIX = "’"


def _sql_ufold(expr: str) -> str:
    """DuckDB twin of functions.text.unicode_fold: the identical 1:1
    translate map plus the three 1→2 replaces, single quotes doubled
    for the SQL literal."""
    from calp_cva_tracking_pipeline_spark.functions.text import (
        UNICODE_FOLD_DST,
        UNICODE_FOLD_SRC,
    )

    src = UNICODE_FOLD_SRC.replace("'", "''")
    dst = UNICODE_FOLD_DST.replace("'", "''")
    return (
        f"replace(replace(replace(translate({expr}, '{src}', '{dst}'),"
        f" 'ß', 'ss'), 'æ', 'ae'), 'œ', 'oe')"
    )


def dd_norm_unicode(spark, sf_dir):
    """Unicode-aware normalized dedup (operators.dedup.dedup_normalized
    with unicode=True — the multilingual tier VERDICT r12 asked for):
    corpus augmented with deterministic accented/smart-quote re-encoded
    variants of every 6th doc (the dd_norm_exact derive-from-testdata
    discipline — the raw corpus carries no diacritic variants), folded
    via the 1:1 Latin-1/Latin-Ext-A map + ß/æ/œ replaces before the
    ASCII normalization, so each re-encoding lands in its source's
    family. Same one-digest-groupBy shape as the ASCII tier."""
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        dedup_normalized,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    variants = d.filter(
        (F.col("doc_id") % 6 == 0) & F.col("text").isNotNull()
    ).select(
        (F.col("doc_id") + UNICODE_VARIANT_OFFSET).alias("doc_id"),
        F.concat(
            F.translate(F.col("text"), _UVAR_SRC, _UVAR_DST),
            F.lit(" " + _UVAR_SUFFIX),
        ).alias("text"),
    )
    return dedup_normalized(
        d.unionByName(variants), "doc_id", "text", unicode=True
    )


def _dd_norm_unicode_sql() -> str:
    folded = _sql_ufold("lower(text)")
    norm = (
        r"md5(regexp_replace(trim(regexp_replace(regexp_replace("
        rf"{folded}, '[!-/:-@\[-`{{-~]', '', 'g'), '\s+', ' ', 'g')),"
        r" '\s+', ' ', 'g'))"
    )
    return rf"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {UNICODE_VARIANT_OFFSET},
         translate(text, '{_UVAR_SRC}', '{_UVAR_DST}') || ' {_UVAR_SUFFIX}'
  FROM documents WHERE doc_id % 6 = 0 AND text IS NOT NULL),
base AS (
  SELECT doc_id, {norm} AS norm_hash, md5(text) AS raw
  FROM aug WHERE text IS NOT NULL)
SELECT norm_hash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS rep_id,
       CAST(COUNT(DISTINCT raw) AS BIGINT) AS n_exact_distinct
FROM base GROUP BY norm_hash
HAVING COUNT(*) >= 2
ORDER BY norm_hash
"""


DD_NORM_UNICODE_SQL = _dd_norm_unicode_sql()


# ---------------------------------------------------------------------------
# corpus release audit — the T18 curation pipeline as an oracle-gated
# projection (VERDICT r12 ask #5)
# ---------------------------------------------------------------------------

CORPUS_MIN_QUALITY = 0.5
CORPUS_MIN_TOKENS = 5
CORPUS_JACCARD_T = 0.8
CORPUS_N_SHARDS = 8
# synthetic audit variants live above docs AND above the norm/LSH tiers'
# augmentation ranges (norm: +1e6, lsh eval: < LSH_EVAL_MAX_ID)
CORPUS_DUP_OFFSET = 4_000_000
CORPUS_JUNK_OFFSET = 8_000_000


def corpus_release_audit(spark, sf_dir):
    """End-to-end audit of the T18 curation recipe (plans.corpus.
    corpus_release_report): quality/length gates → exact dedup →
    LSH-candidate + exact-Jaccard-verified greedy near-dup drop, reduced
    to one row per source with the conservation invariant
    n_raw = gate + exact + neardup + kept and a portable-hash shard
    manifest check — the whole pipeline's bookkeeping is
    SQL-recomputable, so the composition (not just each stage) is
    oracle-verified. The corpus is AUGMENTED with deterministic
    exact-copy (every 7th doc) and junk (every 11th doc, 2-token)
    variants — the dd_norm_exact derive-from-testdata discipline, since
    the raw corpus has zero gate failures and zero exact dups at
    sf0.01, which would leave two audit columns degenerate."""
    from calp_cva_tracking_pipeline_spark.plans.corpus import (
        corpus_release_report,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    dups = d.filter(
        (F.col("doc_id") % 7 == 0) & F.col("text").isNotNull()
    ).select(
        (F.col("doc_id") + CORPUS_DUP_OFFSET).alias("doc_id"),
        "source",
        "text",
    )
    junk = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + CORPUS_JUNK_OFFSET).alias("doc_id"),
        "source",
        F.lit("x y").alias("text"),
    )
    return corpus_release_report(
        d.unionByName(dups).unionByName(junk),
        min_quality=CORPUS_MIN_QUALITY,
        min_tokens=CORPUS_MIN_TOKENS,
        jaccard_threshold=CORPUS_JACCARD_T,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        max_bucket_docs=MAX_BUCKET_DOCS,
        n_shards=CORPUS_N_SHARDS,
    )


_CORPUS_QUALITY = f"""
(CASE WHEN {_NTOK} >= 10 AND {_NTOK} <= 10000 THEN 0.4 ELSE 0.0 END)
 + (CASE WHEN {_PUNCT_RATIO} < 0.1 THEN 0.3 ELSE 0.0 END)
 + (CASE WHEN {_SW_RATIO} > 0.01 THEN 0.3 ELSE 0.0 END)
"""

CORPUS_RELEASE_SQL = f"""
WITH aug AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + {CORPUS_DUP_OFFSET}, source, text
  FROM documents WHERE doc_id % 7 = 0 AND text IS NOT NULL
  UNION ALL
  SELECT doc_id + {CORPUS_JUNK_OFFSET}, source, 'x y'
  FROM documents WHERE doc_id % 11 = 0),
base AS (
  SELECT doc_id, source, text,
         CAST({_NTOK} AS INTEGER) AS n_tok,
         COALESCE((({_CORPUS_QUALITY}) >= {CORPUS_MIN_QUALITY}
          AND {_NTOK} >= {CORPUS_MIN_TOKENS}), FALSE) AS gate
  FROM aug),
gated AS (SELECT doc_id, text FROM base WHERE gate),
{_sig_cte_over("gated")},
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM docs_dedup),
cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
inter AS (
  SELECT cand.id_a, cand.id_b, COUNT(*) AS i
  FROM cand
  JOIN sh a ON a.doc_id = cand.id_a
  JOIN sh b ON b.doc_id = cand.id_b AND a.s = b.s
  GROUP BY 1, 2),
verified AS (
  SELECT cand.id_a, cand.id_b,
         ROUND(COALESCE(i, 0) / (ca.c + cb.c - COALESCE(i, 0)), 6)
             AS jaccard
  FROM cand
  JOIN cnt ca ON ca.doc_id = cand.id_a
  JOIN cnt cb ON cb.doc_id = cand.id_b
  LEFT JOIN inter ON inter.id_a = cand.id_a AND inter.id_b = cand.id_b),
drops AS (
  SELECT DISTINCT id_b AS doc_id FROM verified
  WHERE jaccard >= {CORPUS_JACCARD_T}),
lab AS (
  SELECT b.source, b.n_tok,
         CASE WHEN NOT b.gate THEN 'gate_drop'
              WHEN dd.doc_id IS NULL THEN 'exact_drop'
              WHEN dr.doc_id IS NOT NULL THEN 'neardup_drop'
              ELSE 'kept' END AS status,
         {_sql_hash60("('shard:' || CAST(b.doc_id AS VARCHAR))")}
             % {CORPUS_N_SHARDS} AS shard
  FROM base b
  LEFT JOIN docs_dedup dd ON dd.doc_id = b.doc_id
  LEFT JOIN drops dr ON dr.doc_id = b.doc_id)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(SUM(CASE WHEN status = 'gate_drop' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_gate_drop,
       CAST(SUM(CASE WHEN status = 'exact_drop' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exact_drop,
       CAST(SUM(CASE WHEN status = 'neardup_drop' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_neardup_drop,
       CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN status = 'kept' THEN n_tok ELSE 0 END)
            AS BIGINT) AS kept_tokens,
       CAST(COUNT(DISTINCT CASE WHEN status = 'kept' THEN shard END)
            AS BIGINT) AS shards_touched
FROM lab GROUP BY source ORDER BY source
"""


TEMPLATE_VARIANT_OFFSETS = (64_000_000, 128_000_000)


def tx_templates(spark, sf_dir):
    """Form-letter template census (operators.textops.template_census):
    digit-masked digest groups over documents AUGMENTED with
    deterministic template variants — every 6th doc gets TWO copies
    suffixed with different order/ref numbers (same text, numbers
    swapped: the receipt-spam class), so the raw corpus's zero
    template collisions become a real census (the dd_norm_exact
    derive-from-testdata discipline)."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        template_census,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    variants = [
        d.filter(
            (F.col("doc_id") % 6 == 0) & F.col("text").isNotNull()
        ).select(
            (F.col("doc_id") + off).alias("doc_id"),
            "source",
            F.concat(
                F.col("text"),
                F.lit(" order "),
                (F.col("doc_id") * mult).cast("string"),
                F.lit(" ref "),
                (F.col("doc_id") + mult).cast("string"),
            ).alias("text"),
        )
        for mult, off in zip((7, 13), TEMPLATE_VARIANT_OFFSETS)
    ]
    aug = d.unionByName(variants[0]).unionByName(variants[1])
    return template_census(aug, "doc_id", "text", "source")


TX_TEMPLATES_SQL = f"""
WITH aug AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + {TEMPLATE_VARIANT_OFFSETS[0]}, source,
         text || ' order ' || CAST(doc_id * 7 AS VARCHAR)
              || ' ref ' || CAST(doc_id + 7 AS VARCHAR)
  FROM documents WHERE doc_id % 6 = 0 AND text IS NOT NULL
  UNION ALL
  SELECT doc_id + {TEMPLATE_VARIANT_OFFSETS[1]}, source,
         text || ' order ' || CAST(doc_id * 13 AS VARCHAR)
              || ' ref ' || CAST(doc_id + 13 AS VARCHAR)
  FROM documents WHERE doc_id % 6 = 0 AND text IS NOT NULL),
masked AS (
  SELECT doc_id, source,
         md5(regexp_replace(regexp_replace(lower(text), '[0-9]+', '0',
             'g'), '\\s+', ' ', 'g')) AS template_digest
  FROM aug WHERE text IS NOT NULL)
SELECT template_digest,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(MIN(doc_id) AS BIGINT) AS exemplar_id
FROM masked GROUP BY template_digest
HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, template_digest
"""


FDR_Q_PPM = 50_000
FDR_VARIANTS = 20
FDR_EFFECT_VARIANTS = 3
FDR_CUT_EFFECT = 20.0
FDR_CUT_NULL = 50.0


def pf_fdr(spark, sf_dir):
    """Benjamini–Hochberg FDR gate (operators.profiling.fdr_bh) over a
    20-variant conversion-test family derived from events (user_id mod
    20 — the jx/mx derive-discipline; variants 0-2 get a lowered
    conversion cut, simulating true effects so both rejection outcomes
    are exercised). Per variant the p-value is the DISTRIBUTION-FREE
    Hoeffding bound 2·exp(−2n·d²) against the pooled rate — libm exp
    rounded to integer ppm on both engines (the 6-dp discipline), then
    the step-up rule runs in cross-multiplied integer arithmetic.
    Since round 15 the row COMPOSES the streaming resident's halves
    (fdr_family_cells → fdr_from_family_cells), so the gated query and
    the foreachBatch fold share one kernel by construction."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        fdr_family_cells,
        fdr_from_family_cells,
    )

    e = T(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    variant = (F.col("user_id") % FDR_VARIANTS).alias("variant")
    cut = F.when(
        F.col("user_id") % FDR_VARIANTS < FDR_EFFECT_VARIANTS,
        F.lit(FDR_CUT_EFFECT),
    ).otherwise(F.lit(FDR_CUT_NULL))
    base = e.select(
        variant, (F.col("value") > cut).cast("int").alias("c")
    )
    return fdr_from_family_cells(
        fdr_family_cells(base, "variant", "c"),
        "variant",
        q_ppm=FDR_Q_PPM,
    )


PF_FDR_SQL = f"""
WITH base AS (
  SELECT user_id % {FDR_VARIANTS} AS variant,
         CASE WHEN value > (CASE WHEN user_id % {FDR_VARIANTS}
                                      < {FDR_EFFECT_VARIANTS}
                            THEN {FDR_CUT_EFFECT} ELSE {FDR_CUT_NULL}
                            END)
              THEN 1 ELSE 0 END AS c
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
per AS (
  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS k
  FROM base GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(k) AS BIGINT) AS kk
        FROM per),
p AS (
  SELECT variant,
         LEAST(1000000, CAST(ROUND(2.0 * exp(
           -2.0 * CAST(n AS DOUBLE)
           * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
              - CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))
           * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
              - CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))
         ) * 1000000.0) AS BIGINT)) AS p_ppm
  FROM per CROSS JOIN tot),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM p),
r AS (
  SELECT variant AS id, p_ppm,
         CAST(ROW_NUMBER() OVER (ORDER BY p_ppm, variant) AS BIGINT)
           AS rank
  FROM p),
cut AS (
  SELECT MAX(CASE WHEN p_ppm * (SELECT m FROM m)
                  <= rank * {FDR_Q_PPM} THEN rank END) AS c
  FROM r)
SELECT id, p_ppm, rank,
       COALESCE(rank <= (SELECT c FROM cut), FALSE) AS rejected
FROM r ORDER BY rank, id
"""


MAD_K = 3


def pf_mad_by(spark, sf_dir):
    """PER-GROUP robust MAD outlier census (operators.profiling.
    mad_profile_by) — event value anomalies per event_type with each
    segment's own median/MAD yardstick (a global cut would let the
    purchase tail mask click outliers). The grouped two-phase
    percentile kernel runs twice; medians/MADs round to 6 dp before
    the k·MAD cut on both engines (the pf_mad discipline), counters
    and ppm integer."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        mad_profile_by,
    )

    e = T(spark, sf_dir, "events")
    return mad_profile_by(e, "event_type", "value", k=MAD_K)


PF_MAD_BY_SQL = f"""
WITH b AS (
  SELECT CAST(event_type AS VARCHAR) AS g, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL),
med AS (
  SELECT g, ROUND(CAST(quantile_cont(v, 0.5) AS DOUBLE), 6) AS med
  FROM b GROUP BY 1),
dev AS (
  SELECT b.g, b.v, med.med, abs(b.v - med.med) AS dv
  FROM b JOIN med ON b.g IS NOT DISTINCT FROM med.g),
mad AS (
  SELECT g, ROUND(CAST(quantile_cont(dv, 0.5) AS DOUBLE), 6) AS mad
  FROM dev GROUP BY 1)
SELECT d.g AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       d.med AS median,
       mad.mad AS mad,
       CAST(SUM(CASE WHEN abs(d.v - d.med) > {MAD_K} * mad.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST((1000000 * SUM(CASE WHEN abs(d.v - d.med)
                                     > {MAD_K} * mad.mad
                           THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS outlier_ppm
FROM dev d JOIN mad ON d.g IS NOT DISTINCT FROM mad.g
GROUP BY d.g, d.med, mad.mad
ORDER BY event_type
"""


def pf_mad(spark, sf_dir):
    """Robust per-column profile (operators.profiling.mad_profile):
    exact median + exact MAD + the |x − med| > k·MAD outlier census
    for the three profiled lineitem measures — the heavy-tail-proof
    screen beside pf_profile's mean/percentile card. Both statistics
    round to 6 dp before the cut on BOTH engines, so borderline points
    cannot flip on interpolation noise."""
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        mad_profile,
    )

    return mad_profile(T(spark, sf_dir, "lineitem"), PF_COLS, k=MAD_K)


def _pf_mad_col_sql(c: str) -> str:
    med = (
        f"(SELECT ROUND(CAST(quantile_cont({c}, 0.5) AS DOUBLE), 6)"
        f" FROM lineitem WHERE {c} IS NOT NULL)"
    )
    return f"""
SELECT '{c}' AS col_name,
       CAST(COUNT({c}) AS BIGINT) AS n,
       m.mv AS median,
       d.dv AS mad,
       CAST(SUM(CASE WHEN {c} IS NOT NULL
                 AND abs(CAST({c} AS DOUBLE) - m.mv) > {MAD_K} * d.dv
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM lineitem,
  (SELECT ROUND(CAST(quantile_cont({c}, 0.5) AS DOUBLE), 6) AS mv
   FROM lineitem WHERE {c} IS NOT NULL) m,
  (SELECT ROUND(CAST(quantile_cont(
            abs(CAST({c} AS DOUBLE) - {med}), 0.5) AS DOUBLE), 6) AS dv
   FROM lineitem WHERE {c} IS NOT NULL) d
GROUP BY m.mv, d.dv"""


def _pf_mad_sql() -> str:
    return (
        "\nUNION ALL\n".join(_pf_mad_col_sql(c) for c in PF_COLS)
        + "\nORDER BY col_name\n"
    )


PF_MAD_SQL = _pf_mad_sql()


def tx_script_mix(spark, sf_dir):
    """Unicode script-mix / homoglyph census (operators.textops.
    script_mix_census) over an augmented documents corpus — the raw
    testdata is pure ASCII (degenerate for a script auditor), so three
    deterministic variant families are injected (the dd_norm_unicode
    derive-from-testdata discipline): every 5th doc re-encoded with
    Cyrillic homoglyph vowels (а/е/о for a/e/o — Latin-dominant MIXED
    text, the spoofing signature), every 7th-not-5th doc suffixed with
    a Han marker (han-present, rarely mixed), every 11th doc replaced
    by a Han title (han-dominant)."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        script_mix_census,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    homo = d.filter(
        (F.col("doc_id") % 5 == 0) & F.col("text").isNotNull()
    ).select(
        "doc_id", "source", F.translate("text", "aeo", "аео").alias("text")
    )
    hansuf = d.filter(
        (F.col("doc_id") % 7 == 0)
        & (F.col("doc_id") % 5 != 0)
        & F.col("text").isNotNull()
    ).select(
        "doc_id",
        "source",
        F.concat(F.col("text"), F.lit(" 數據質量審核")).alias("text"),
    )
    handoc = d.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        "source",
        F.concat(F.lit("文档"), F.col("doc_id").cast("string")).alias(
            "text"
        ),
    )
    aug = d.unionByName(homo).unionByName(hansuf).unionByName(handoc)
    return script_mix_census(aug)


def _tx_script_mix_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        SCRIPT_MIX_PPM,
    )

    def cnt(cls: str) -> str:
        return (
            "CASE WHEN text IS NULL THEN 0 ELSE CAST(length("
            f"regexp_replace(text, '[^\\p{{{cls}}}]', '', 'g')) AS BIGINT)"
            " END"
        )

    return f"""
WITH aug AS (
  SELECT source, text FROM documents
  UNION ALL
  SELECT source, translate(text, 'aeo', 'аео')
  FROM documents WHERE doc_id % 5 = 0 AND text IS NOT NULL
  UNION ALL
  SELECT source, text || ' 數據質量審核'
  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 5 <> 0
    AND text IS NOT NULL
  UNION ALL
  SELECT source, '文档' || CAST(doc_id AS VARCHAR)
  FROM documents WHERE doc_id % 11 = 0),
per AS (
  SELECT source,
         {cnt("Latin")} AS lat,
         {cnt("Cyrillic")} AS cyr,
         {cnt("Han")} AS han
  FROM aug),
lab AS (
  SELECT source,
         lat + cyr + han AS alls,
         GREATEST(lat, cyr, han) AS top,
         CASE WHEN lat + cyr + han = 0 THEN 'none'
              WHEN lat >= cyr AND lat >= han THEN 'latin'
              WHEN cyr >= han THEN 'cyrillic'
              ELSE 'han' END AS dom,
         cyr
  FROM per)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN dom = 'latin' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_latin_dom,
       CAST(SUM(CASE WHEN dom = 'cyrillic' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cyrillic_dom,
       CAST(SUM(CASE WHEN dom = 'han' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_han_dom,
       CAST(SUM(CASE WHEN dom = 'none' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_noscript,
       CAST(SUM(CASE WHEN alls > 0
                 AND (alls - top) * 1000000 >= {SCRIPT_MIX_PPM} * alls
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
       CAST((1000000 * SUM(CASE WHEN alls > 0
                 AND (alls - top) * 1000000 >= {SCRIPT_MIX_PPM} * alls
                 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS mixed_ppm,
       CAST(SUM(CASE WHEN dom = 'latin' AND cyr > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_homoglyph
FROM lab GROUP BY source ORDER BY source
"""


TX_SCRIPT_MIX_SQL = _tx_script_mix_sql()


def tx_gate_sweep(spark, sf_dir):
    """Quality-gate operating curve (operators.textops.
    gate_threshold_sweep): per candidate min_quality threshold, the
    surviving doc count / ppm / token mass over documents — ONE
    feature scan reduced to ≤16 (quality, length-ok) cells, then the
    thresholds×cells reduce on literals (the dd_lsh_tuner
    operating-curve discipline applied to the T18 gate)."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        gate_threshold_sweep,
    )

    return gate_threshold_sweep(
        T(spark, sf_dir, "documents"),
        "text",
        min_tokens=CORPUS_MIN_TOKENS,
    )


def _tx_gate_sweep_sql() -> str:
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        GATE_SWEEP_THRESHOLDS,
    )

    vals = ", ".join(f"({t!r})" for t in sorted(set(GATE_SWEEP_THRESHOLDS)))
    return f"""
WITH cells AS (
  SELECT COALESCE(CAST(ROUND(({_CORPUS_QUALITY}), 6) AS DOUBLE), -1.0)
           AS q,
         CAST(COALESCE({_NTOK}, 0) AS BIGINT) AS nt
  FROM documents),
agg AS (
  SELECT q, (nt >= {CORPUS_MIN_TOKENS}) AS len_ok,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(nt) AS BIGINT) AS tok
  FROM cells GROUP BY 1, 2),
ths AS (SELECT CAST(v AS DOUBLE) AS min_quality FROM (VALUES {vals}) t(v)),
sw AS (
  SELECT min_quality,
         CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(COALESCE(SUM(CASE WHEN q >= min_quality AND len_ok
                                THEN n END), 0) AS BIGINT) AS n_kept,
         CAST(COALESCE(SUM(CASE WHEN q >= min_quality AND len_ok
                                THEN tok END), 0) AS BIGINT)
           AS kept_tokens
  FROM agg CROSS JOIN ths GROUP BY min_quality)
SELECT min_quality, n_total, n_kept,
       CAST((1000000 * n_kept) // n_total AS BIGINT) AS kept_ppm,
       kept_tokens
FROM sw ORDER BY min_quality
"""


TX_GATE_SWEEP_SQL = _tx_gate_sweep_sql()


SCALE_QUERIES = {
    "dd_exact_hash": (dd_exact_hash, DD_EXACT_SQL),
    "dd_minhash_lsh": (dd_minhash_lsh, DD_MINHASH_SQL),
    "dd_simhash": (dd_simhash, DD_SIMHASH_SQL),
    "dd_embed_neardup": (dd_embed_neardup, DD_EMBED_SQL),
    "ann_brute_topk": (ann_brute_topk, ANN_BRUTE_SQL),
    "ann_lsh_topk": (ann_lsh_topk, ANN_LSH_SQL),
    "ann_ivf_topk": (ann_ivf_topk, ANN_IVF_SQL),
    "tx_features": (tx_features, TX_FEATURES_SQL),
    "m1_classifier_stub": (m1_classifier_stub, M1_SQL),
    "st_windowed_agg": (st_windowed_agg, ST_WINDOW_SQL),
    "st_sessionize": (st_sessionize, ST_SESSION_SQL),
    # Round 6: the judge-verified round-5 tier rotated INTO the driver's
    # 50-row gate (slots freed by retiring seven redundant relational
    # queries — catalog/relational.py header). Round 7 promoted ten scale
    # flagships the same way. NOTE: since round 7 the gate order is the
    # explicit catalog.GATE list, not this dict's insertion order — this
    # dict is just the definition registry. Gate set pinned by
    # tests/test_coverage_map.py::DRIVER_GATE.
    "tj_asof_join": (tj_asof_join, TJ_ASOF_SQL),
    "tj_interval_join": (tj_interval_join, TJ_INTERVAL_SQL),
    "dd_decontam": (dd_decontam, DD_DECONTAM_SQL),
    "rt_rollup_hierarchy": (rt_rollup_hierarchy, RT_ROLLUP_SQL),
    "tx_pii_redact": (tx_pii_redact, TX_PII_SQL),
    "tx_repetition": (tx_repetition, TX_REPETITION_SQL),
    "tx_chunk": (tx_chunk, TX_CHUNK_SQL),
    # entries 51+ — beyond the gate: rows-only / local-parity verification
    "pk_sequences": (pk_sequences, None),
    "pk_pack_audit": (pk_pack_audit, PK_AUDIT_SQL),
    "tx_vocab": (tx_vocab, TX_VOCAB_SQL),
    "pf_profile": (pf_profile, PF_PROFILE_SQL),
    "emb_dim_stats": (emb_dim_stats, EMB_DIM_STATS_SQL),
    "mx_mixture": (mx_mixture, MX_MIXTURE_SQL),
    "dd_incremental": (dd_incremental, DD_INCREMENTAL_SQL),
    "dd_neardup_incr": (dd_neardup_incr, DD_NEARDUP_INCR_SQL),
    "rt_bm25_topk": (rt_bm25_topk, RT_BM25_SQL),
    "dd_simhash_pairs": (dd_simhash_pairs, DD_SIMHASH_PAIRS_SQL),
    "pf_percentiles": (pf_percentiles, PF_PERCENTILES_SQL),
    "rt_hybrid_rrf": (rt_hybrid_rrf, RT_HYBRID_SQL),
    "pf_heavy_hitters": (pf_heavy_hitters, PF_HH_SQL),
    "tx_lm_score": (tx_lm_score, TX_LM_SQL),
    "mx_strata_sample": (mx_strata_sample, MX_STRATA_SQL),
    "dd_passage_overlap": (dd_passage_overlap, DD_PASSAGE_SQL),
    "dd_components": (dd_components, DD_COMPONENTS_SQL),
    "mx_temperature": (mx_temperature, MX_TEMP_SQL),
    "pk_length_buckets": (pk_length_buckets, PK_LENBUCKET_SQL),
    "ann_pq_topk": (ann_pq_topk, ANN_PQ_SQL),
    "ann_ivfpq_topk": (ann_ivfpq_topk, ANN_IVFPQ_SQL),
    "rt_rollup_incr": (rt_rollup_incr, RT_ROLLUP_INCR_SQL),
    "dd_containment": (dd_containment, DD_CONTAINMENT_SQL),
    "tx_quality_gate": (tx_quality_gate, TX_GATE_SQL),
    "rt_trending": (rt_trending, RT_TRENDING_SQL),
    "pf_corr": (pf_corr, PF_CORR_SQL),
    "ann_pq_rerank": (ann_pq_rerank, ANN_PQ_RERANK_SQL),
    "tx_entropy": (tx_entropy, TX_ENTROPY_SQL),
    "pf_psi": (pf_psi, PF_PSI_SQL),
    "rt_gapfill": (rt_gapfill, RT_GAPFILL_SQL),
    "dd_semantic": (dd_semantic, DD_SEMANTIC_SQL),
    "pf_ks": (pf_ks, PF_KS_SQL),
    "mx_curriculum": (mx_curriculum, MX_CURRICULUM_SQL),
    "pf_key_skew": (pf_key_skew, PF_KEY_SKEW_SQL),
    "jx_salted_join": (jx_salted_join, JX_SALTED_SQL),
    "pf_profile_by": (pf_profile_by, PF_PROFILE_BY_SQL),
    "tj_asof_nearest": (tj_asof_nearest, TJ_ASOF_NEAREST_SQL),
    "cdc_scd2": (cdc_scd2, CDC_SCD2_SQL),
    "cdc_upsert": (cdc_upsert, CDC_UPSERT_SQL),
    "lx_zorder": (lx_zorder, LX_ZORDER_SQL),
    "ev_funnel": (ev_funnel, EV_FUNNEL_SQL),
    "ev_retention": (ev_retention, EV_RETENTION_SQL),
    "rt_cube": (rt_cube, RT_CUBE_SQL),
    "gr_pagerank": (gr_pagerank, GR_PAGERANK_SQL),
    "gr_triangles": (gr_triangles, GR_TRIANGLES_SQL),
    "pf_approx_distinct": (pf_approx_distinct, PF_APPROX_DISTINCT_SQL),
    "ev_transitions": (ev_transitions, EV_TRANSITIONS_SQL),
    "gr_triangles_est": (gr_triangles_est, GR_TRIANGLES_EST_SQL),
    "mx_weighted_sample": (mx_weighted_sample, MX_WEIGHTED_SAMPLE_SQL),
    "tx_keywords": (tx_keywords, TX_KEYWORDS_SQL),
    "tj_rolling_window": (tj_rolling_window, TJ_ROLLING_SQL),
    "rt_ohlc": (rt_ohlc, RT_OHLC_SQL),
    "ev_attribution": (ev_attribution, EV_ATTRIBUTION_SQL),
    "pf_outliers": (pf_outliers, PF_OUTLIERS_SQL),
    "pf_regression": (pf_regression, PF_REGRESSION_SQL),
    "pf_cms": (pf_cms, PF_CMS_SQL),
    "mx_group_split": (mx_group_split, MX_GROUP_SPLIT_SQL),
    "jx_jaro_join": (jx_jaro_join, JX_JARO_SQL),
    "ts_ewma": (ts_ewma, TS_EWMA_SQL),
    "ev_anomaly": (ev_anomaly, EV_ANOMALY_SQL),
    "rt_posting_lists": (rt_posting_lists, RT_POSTING_SQL),
    "emb_quantize": (emb_quantize, EMB_QUANTIZE_SQL),
    "pf_kanon": (pf_kanon, PF_KANON_SQL),
    # ninth wave (round 7)
    "ev_paths": (ev_paths, EV_PATHS_SQL),
    "tx_novelty": (tx_novelty, TX_NOVELTY_SQL),
    "pf_chi2": (pf_chi2, PF_CHI2_SQL),
    "dd_cluster_pick": (dd_cluster_pick, DD_CLUSTER_PICK_SQL),
    # tenth wave (round 7)
    "gr_assortativity": (gr_assortativity, GR_ASSORT_SQL),
    "pf_benford": (pf_benford, PF_BENFORD_SQL),
    "emb_label_centroids": (emb_label_centroids, EMB_CENTROIDS_SQL),
    "tj_resample": (tj_resample, TJ_RESAMPLE_SQL),
    "emb_knn_graph": (emb_knn_graph, EMB_KNN_SQL),
    # twelfth wave (round 7)
    "tx_collocations": (tx_collocations, TX_COLLOCATIONS_SQL),
    "mx_domain_quota": (mx_domain_quota, MX_QUOTA_SQL),
    "pf_histogram": (pf_histogram, PF_HISTOGRAM_SQL),
    "ev_rfm": (ev_rfm, EV_RFM_SQL),
    "ev_sliding_distinct": (ev_sliding_distinct, EV_SLIDING_DISTINCT_SQL),
    "emb_kmeans": (emb_kmeans, EMB_KMEANS_SQL),
    # thirteenth wave (round 7)
    "ev_json_stats": (ev_json_stats, EV_JSON_STATS_SQL),
    "ev_json_schema": (ev_json_schema, EV_JSON_SCHEMA_SQL),
    # fourteenth wave (round 8)
    "dd_jaccard_join": (dd_jaccard_join, DD_JACCARD_SQL),
    "gr_kcore": (gr_kcore, GR_KCORE_SQL),
    "cdc_snapshot_diff": (cdc_snapshot_diff, CDC_DIFF_SQL),
    "pf_dq_checks": (pf_dq_checks, PF_DQ_SQL),
    # sixteenth wave (round 8)
    "ts_cusum": (ts_cusum, TS_CUSUM_SQL),
    "ev_itemsets": (ev_itemsets, EV_ITEMSETS_SQL),
    "pf_ref_integrity": (pf_ref_integrity, PF_REF_SQL),
    "gr_communities": (gr_communities, GR_COMM_SQL),
    # seventeenth wave (round 9)
    "mm_phash_neardup": (mm_phash_neardup, MM_PHASH_SQL),
    "ev_motifs": (ev_motifs, EV_MOTIFS_SQL),
    "pf_gini": (pf_gini, PF_GINI_SQL),
    "mm_audio_dedup": (mm_audio_dedup, MM_AUDIO_SQL),
    "gr_neighbor_sim": (gr_neighbor_sim, GR_NSIM_SQL),
    "pf_null_patterns": (pf_null_patterns, PF_NULLPAT_SQL),
    "pf_tail_index": (pf_tail_index, PF_TAIL_SQL),
    "tj_interval_union": (tj_interval_union, TJ_IVU_SQL),
    "mx_interleave": (mx_interleave, MX_ILV_SQL),
    # nineteenth wave (round 9)
    "ev_gaps": (ev_gaps, EV_GAPS_SQL),
    "tx_sentences": (tx_sentences, TX_SENTENCES_SQL),
    # twentieth wave (round 9)
    "pf_ab_test": (pf_ab_test, PF_AB_SQL),
    "tx_code_detect": (tx_code_detect, TX_CODE_SQL),
    "ts_autocorr": (ts_autocorr, TS_ACF_SQL),
    "pf_freshness": (pf_freshness, PF_FRESH_SQL),
    # twenty-second wave (round 9)
    "dd_winnow": (dd_winnow, DD_WINNOW_SQL),
    "pf_kappa": (pf_kappa, PF_KAPPA_SQL),
    "ev_survival": (ev_survival, EV_SURVIVAL_SQL),
    "tx_jsd": (tx_jsd, TX_JSD_SQL),
    "ts_seasonal": (ts_seasonal, TS_SEASONAL_SQL),
    "pf_winsorize": (pf_winsorize, PF_WINSOR_SQL),
    "rt_eval_metrics": (rt_eval_metrics, RT_EVAL_SQL),
    # twenty-third wave (round 9)
    "pf_bootstrap": (pf_bootstrap, PF_BOOT_SQL),
    "tx_oov": (tx_oov, TX_OOV_SQL),
    "emb_confusion": (emb_confusion, EMB_CONF_SQL),
    "pf_mannwhitney": (pf_mannwhitney, PF_MWU_SQL),
    "emb_cluster_eval": (emb_cluster_eval, EMB_CLUSTER_EVAL_SQL),
    "tj_range_join": (tj_range_join, TJ_RANGE_SQL),
    "ts_holt": (ts_holt, TS_HOLT_SQL),
    "ts_seasonal_anomaly": (ts_seasonal_anomaly, TS_SA_SQL),
    "ev_funnel_time": (ev_funnel_time, EV_FUNNEL_TIME_SQL),
    "pf_cardinalities": (pf_cardinalities, PF_CARD_SQL),
    "cdc_pit_lookup": (cdc_pit_lookup, CDC_PIT_SQL),
    # twenty-sixth wave (round 9)
    "dd_split_leakage": (dd_split_leakage, DD_LEAK_SQL),
    "ev_markov_stationary": (ev_markov_stationary, EV_MARKOV_SQL),
    "mx_neyman": (mx_neyman, MX_NEYMAN_SQL),
    # twenty-seventh wave (round 9)
    "pf_null_phi": (pf_null_phi, PF_NULL_PHI_SQL),
    "ts_m4": (ts_m4, TS_M4_SQL),
    "ev_alert_episodes": (ev_alert_episodes, EV_EPISODES_SQL),
    "pf_weighted_quantiles": (pf_weighted_quantiles, PF_WQ_SQL),
    "tx_zipf": (tx_zipf, TX_ZIPF_SQL),
    "emb_quant_error": (emb_quant_error, EMB_QERR_SQL),
    # twenty-eighth wave (round 10)
    "mm_image_stats": (mm_image_stats, MM_IMG_STATS_SQL),
    "mm_audio_stats": (mm_audio_stats, MM_AUDIO_STATS_SQL),
    "tx_boilerplate_spans": (tx_boilerplate_spans, TX_BOILER_SQL),
    "pf_mutual_info": (pf_mutual_info, PF_MI_SQL),
    "mx_shard_shuffle": (mx_shard_shuffle, MX_SHARD_SQL),
    "mx_time_split": (mx_time_split, MX_TSPLIT_SQL),
    # twenty-ninth wave (round 10)
    "pf_anova": (pf_anova, PF_ANOVA_SQL),
    "rt_snippet_extract": (rt_snippet_extract, RT_SNIPPET_SQL),
    "mx_dedup_weights": (mx_dedup_weights, MX_DEDUP_W_SQL),
    "ann_recall_eval": (ann_recall_eval, ANN_RECALL_SQL),
    # thirtieth wave (round 10)
    "emb_outlier_screen": (emb_outlier_screen, EMB_OUTLIER_SQL),
    "mx_token_budget": (mx_token_budget, MX_TOKBUDGET_SQL),
    # thirty-first wave (round 10)
    "dd_norm_exact": (dd_norm_exact, DD_NORM_SQL),
    "gr_bfs": (gr_bfs, GR_BFS_SQL),
    # thirty-second wave (round 10)
    "ml_class_metrics": (ml_class_metrics, ML_METRICS_SQL),
    # thirty-third wave (round 10)
    "gx_radius_join": (gx_radius_join, GX_RADIUS_SQL),
    "gx_nearest": (gx_nearest, GX_NEAREST_SQL),
    "pf_dataset_card": (pf_dataset_card, PF_CARD2_SQL),
    "mm_scene_cuts": (mm_scene_cuts, MM_SCENE_SQL),
    # thirty-fifth wave (round 10)
    "tx_ttr": (tx_ttr, TX_TTR_SQL),
    "ev_markov_entropy": (ev_markov_entropy, EV_MARKOV_ENT_SQL),
    "gx_spatial_clusters": (gx_spatial_clusters, GX_CLUSTERS_SQL),
    "mx_epoch_plan": (mx_epoch_plan, MX_EPOCH_SQL),
    "mm_frame_dedup": (mm_frame_dedup, MM_FRAME_DEDUP_SQL),
    # thirty-sixth wave (round 11)
    "pf_release_report": (pf_release_report, PF_RELEASE_SQL),
    # thirty-seventh wave (round 11)
    "mm_video_neardup": (mm_video_neardup, MM_VIDEO_NEARDUP_SQL),
    "emb_hard_negatives": (emb_hard_negatives, EMB_HARDNEG_SQL),
    "ann_ivf_incr": (ann_ivf_incr, ANN_IVF_INCR_SQL),
    "dd_substring_spans": (dd_substring_spans, DD_SUBSPAN_SQL),
    # thirty-eighth wave (round 11)
    "rt_mmr": (rt_mmr, RT_MMR_SQL),
    "pf_ldiversity": (pf_ldiversity, PF_LDIV_SQL),
    # thirty-ninth wave (round 11)
    "ann_mrl_eval": (ann_mrl_eval, ANN_MRL_SQL),
    "ev_lag_features": (ev_lag_features, EV_LAG_SQL),
    "ts_twap": (ts_twap, TS_TWAP_SQL),
    "pf_dp_counts": (pf_dp_counts, PF_DP_SQL),
    # fortieth wave (round 11)
    "tx_ngram_coverage": (tx_ngram_coverage, TX_COVERAGE_SQL),
    "ev_cohort_value": (ev_cohort_value, EV_COHORT_VALUE_SQL),
    "gr_adamic_adar": (gr_adamic_adar, GR_AA_SQL),
    # forty-first wave (round 11)
    "ev_schema_drift": (ev_schema_drift, EV_SCHEMA_DRIFT_SQL),
    "mx_reweight": (mx_reweight, MX_REWEIGHT_SQL),
    # forty-second wave (round 11)
    "rt_query_expansion": (rt_query_expansion, RT_QEXP_SQL),
    "tx_top_movers": (tx_top_movers, TX_MOVERS_SQL),
    # forty-third wave (round 11)
    "tj_coverage_gaps": (tj_coverage_gaps, TJ_COVERAGE_SQL),
    "emb_centroid_drift": (emb_centroid_drift, EMB_DRIFT_SQL),
    # forty-fourth wave (round 12)
    "dd_dup_census": (dd_dup_census, DD_CENSUS_SQL),
    # forty-fifth wave (round 12)
    "dd_lsh_recall": (dd_lsh_recall, DD_LSH_RECALL_SQL),
    "tx_format_markers": (tx_format_markers, TX_FORMAT_SQL),
    "ev_audience_overlap": (ev_audience_overlap, EV_AUDIENCE_SQL),
    "gr_degree_stats": (gr_degree_stats, GR_DEGREE_SQL),
    "emb_pair_cosine_hist": (emb_pair_cosine_hist, EMB_COSHIST_SQL),
    "ts_drawdown": (ts_drawdown, TS_DRAWDOWN_SQL),
    "ts_changepoint": (ts_changepoint, TS_CHANGEPOINT_SQL),
    "mx_split_balance": (mx_split_balance, MX_SPLIT_BALANCE_SQL),
    # forty-sixth wave (round 12)
    "ann_nprobe_frontier": (ann_nprobe_frontier, ANN_FRONTIER_SQL),
    "emb_sign_hamming": (emb_sign_hamming, EMB_SIGN_SQL),
    "pf_null_drift": (pf_null_drift, PF_NULL_DRIFT_SQL),
    "lx_compaction_plan": (lx_compaction_plan, LX_COMPACTION_SQL),
    # forty-seventh wave (round 12)
    "dd_embed_contam": (dd_embed_contam, DD_EMBED_CONTAM_SQL),
    "gr_local_clustering": (gr_local_clustering, GR_LOCAL_CC_SQL),
    "tx_readability": (tx_readability, TX_READABILITY_SQL),
    "ev_stickiness": (ev_stickiness, EV_STICKINESS_SQL),
    # forty-eighth wave (round 12)
    "ts_theil_sen": (ts_theil_sen, TS_THEIL_SQL),
    "pf_candidate_keys": (pf_candidate_keys, PF_CANDIDATE_KEYS_SQL),
    "mx_contrastive_pairs": (mx_contrastive_pairs, MX_CONTRASTIVE_SQL),
    "lx_clustering_depth": (lx_clustering_depth, LX_CLUSTER_DEPTH_SQL),
    # forty-ninth wave (round 12)
    "pf_id_gaps": (pf_id_gaps, PF_ID_GAPS_SQL),
    "ev_growth_accounting": (ev_growth_accounting, EV_GROWTH_SQL),
    "ev_activity_profile": (ev_activity_profile, EV_ACTIVITY_SQL),
    "ev_ooo_audit": (ev_ooo_audit, EV_OOO_SQL),
    # fiftieth wave (round 12)
    "ann_filtered_topk": (ann_filtered_topk, ANN_FILTERED_SQL),
    "dd_bloom_prescreen": (dd_bloom_prescreen, DD_BLOOM_SQL),
    "mx_waterfill": (mx_waterfill, MX_WATERFILL_SQL),
    # fifty-first wave (round 12)
    "mm_audio_vad": (mm_audio_vad, MM_AUDIO_VAD_SQL),
    "ann_cell_balance": (ann_cell_balance, ANN_CELL_BALANCE_SQL),
    # fifty-second wave (round 12)
    "gr_squares": (gr_squares, GR_SQUARES_SQL),
    "ts_backtest": (ts_backtest, TS_BACKTEST_SQL),
    "lx_prune_plan": (lx_prune_plan, LX_PRUNE_SQL),
    "dd_chunk_dedup": (dd_chunk_dedup, DD_CHUNK_DEDUP_SQL),
    # fifty-third wave (round 12)
    "mm_tile_dup": (mm_tile_dup, MM_TILE_DUP_SQL),
    "ev_conversion_ci": (ev_conversion_ci, EV_CONVERSION_SQL),
    # fifty-fourth wave (round 12)
    "dd_lsh_tuner": (dd_lsh_tuner, DD_LSH_TUNER_SQL),
    # fifty-fifth wave (round 12)
    "gx_knn_join": (gx_knn_join, GX_KNN_SQL),
    "mm_video_summary": (mm_video_summary, MM_VIDEO_SUMMARY_SQL),
    # fifty-sixth wave (round 13): the T18 curation pipeline promoted
    # from pytest-only to an oracle-verified end-to-end audit row
    "corpus_release_audit": (corpus_release_audit, CORPUS_RELEASE_SQL),
    "tx_gate_sweep": (tx_gate_sweep, TX_GATE_SWEEP_SQL),
    "tx_script_mix": (tx_script_mix, TX_SCRIPT_MIX_SQL),
    "pf_mad": (pf_mad, PF_MAD_SQL),
    "pf_fdr": (pf_fdr, PF_FDR_SQL),
    "tx_templates": (tx_templates, TX_TEMPLATES_SQL),
    "ann_range_search": (ann_range_search, ANN_RANGE_SQL),
    "ev_did": (ev_did, EV_DID_SQL),
    "gr_reciprocity": (gr_reciprocity, GR_RECIPROCITY_SQL),
    "ts_binseg": (ts_binseg, TS_BINSEG_SQL),
    "dd_norm_unicode": (dd_norm_unicode, DD_NORM_UNICODE_SQL),
    "pf_calibration": (pf_calibration, PF_CALIBRATION_SQL),
    "mx_kfold": (mx_kfold, MX_KFOLD_SQL),
    # fifty-seventh wave (round 13): graph-ANN serving frontier
    "ann_graph_frontier": (ann_graph_frontier, ANN_GRAPH_FRONTIER_SQL),
    # fifty-eighth wave (round 13): sequential testing + layout advisor
    "ev_sprt": (ev_sprt, EV_SPRT_SQL),
    "lx_partition_advisor": (lx_partition_advisor,
                             LX_PARTITION_ADVISOR_SQL),
    # fifty-ninth wave (round 13): HITS + line-level boilerplate
    "gr_hits": (gr_hits, GR_HITS_SQL),
    "gr_hits_weighted": (gr_hits_weighted, GR_HITS_WEIGHTED_SQL),
    "tx_line_dedup": (tx_line_dedup, TX_LINE_DEDUP_SQL),
    # sixtieth wave (round 13): seed-teleport curation ranking + LTR
    "gr_ppr": (gr_ppr, GR_PPR_SQL),
    "rt_ltr_features": (rt_ltr_features, RT_LTR_SQL),
    "mx_uncertainty": (mx_uncertainty, MX_UNCERTAINTY_SQL),
    # sixty-eighth wave (round 15): weighted-graph follow-through —
    # PageRank over the multigraph with link-multiplicity out-shares
    "gr_pagerank_weighted": (gr_pagerank_weighted,
                             GR_PAGERANK_WEIGHTED_SQL),
    # sixty-ninth wave (round 15): grouped robust statistics, CUPED
    # experiment readout, cross-release corpus diff, grouped quantiles
    "pf_mad_by": (pf_mad_by, PF_MAD_BY_SQL),
    "ev_cuped": (ev_cuped, EV_CUPED_SQL),
    "cdc_release_diff": (cdc_release_diff, CDC_RELEASE_DIFF_SQL),
    "pf_group_quantiles": (pf_group_quantiles, PF_GROUP_QUANTILES_SQL),
    # seventieth wave (round 15): distributional experiment readout +
    # the incremental-family closer in embedding space
    "ev_qte": (ev_qte, EV_QTE_SQL),
    "dd_semdedup_incr": (dd_semdedup_incr, DD_SEMDEDUP_INCR_SQL),
    # seventy-first wave (round 15): experiment sizing + the
    # re-embedding migration gate
    "ev_power_mde": (ev_power_mde, EV_POWER_MDE_SQL),
    "emb_version_drift": (emb_version_drift, EMB_VERSION_DRIFT_SQL),
    # seventy-second wave (round 15): per-segment drift + the
    # assignment-integrity gate
    "pf_psi_by": (pf_psi_by, PF_PSI_BY_SQL),
    "ev_srm": (ev_srm, EV_SRM_SQL),
}
