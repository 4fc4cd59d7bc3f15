"""Distributed embedding linear algebra: dimension stats, covariance,
PCA whitening.

The preprocessing tier ANN search and embedding dedup want in front of
them: per-dimension health stats (a dead or exploding dimension flags a
bad encoder run before anything downstream), the corpus covariance, and
the PCA-whitening transform that makes isotropic-distance methods (IVF
cells, hyperplane LSH, cosine near-dup) behave on anisotropic encoders.

Scale shape: everything reduces to ONE pass over the corpus producing
O(d²) accumulators — never O(rows) driver state:

- ``dim_stats``: posexplode → groupBy(dim) — d groups total, map-side
  combined.
- ``embedding_covariance``: per-Arrow-batch numpy ``Xᵀ·X`` partials via
  mapInPandas (one (count, sums, flat d×d) row per batch), then
  posexplode → groupBy(index) — a d²-row aggregation, so the corpus
  contributes exactly one narrow partial row per batch to the shuffle.
- ``pca_whiten``: eigendecomposition of the d×d covariance on the driver
  (numpy, microseconds for embedding-sized d) → broadcast projection
  matrix → one vectorized matmul pandas_udf over the corpus.

The d×d driver step is principled: covariance is a sufficient statistic,
so the driver never sees data volume — the same shape as IVF's
driver-held centroid count or a broadcast dimension table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dim_stats(df: DataFrame, vec_col: str, round_to: int = 6) -> DataFrame:
    """→ (dim, n, mean, std, min, max) per embedding dimension, ordered by
    dim. Population std (divide by n), rounded for cross-engine hashing.
    Null vectors contribute nothing (posexplode of null yields no rows)."""
    exploded = df.select(
        F.posexplode(F.col(vec_col)).alias("dim", "__v")
    ).select("dim", F.col("__v").cast("double").alias("__v"))
    return (
        exploded.groupBy("dim")
        .agg(
            F.count("__v").alias("n"),
            F.round(F.avg("__v"), round_to).alias("mean"),
            F.round(
                F.sqrt(F.avg(F.col("__v") * F.col("__v")) - F.avg("__v") * F.avg("__v")),
                round_to,
            ).alias("std"),
            F.round(F.min("__v"), round_to).alias("min"),
            F.round(F.max("__v"), round_to).alias("max"),
        )
        .orderBy("dim")
    )


def embedding_covariance(
    df: DataFrame, vec_col: str, dim: int
) -> tuple[int, np.ndarray, np.ndarray]:
    """→ (n, mean[d], cov[d,d]) of the corpus embeddings, computed with one
    distributed pass. Rows with null/mis-sized vectors are skipped.

    This is the package's ONE deliberate driver materialization: the
    ``collect()`` below fetches exactly d² + d + 1 AGGREGATED values — a
    sufficient statistic whose size is fixed by the embedding width and
    independent of corpus size (64-dim → 33 KB whether the corpus is 1k
    rows or 100 TB). The eigendecomposition that consumes it has no
    distributed formulation and no business having one at d×d scale; this
    is the same driver-size class as holding IVF centroid counts or a
    broadcast dimension, not a corpus funnel."""
    flat_len = dim * dim

    def partials(batches):
        for pdf in batches:
            vecs = [
                v for v in pdf[vec_col]
                if v is not None and len(v) == dim
            ]
            if not vecs:
                continue
            x = np.asarray(vecs, dtype=np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(vecs)],
                    "s": [x.sum(axis=0).tolist()],
                    "xx": [(x.T @ x).reshape(flat_len).tolist()],
                }
            )

    schema = "n long, s array<double>, xx array<double>"
    part = df.select(vec_col).mapInPandas(partials, schema)
    # combine partials declaratively: explode both accumulator arrays to
    # (idx, val) and sum — d + d² groups, one narrow row per batch partial
    n_total = part.agg(F.sum("n")).collect()[0][0] or 0
    if n_total == 0:
        raise ValueError("embedding_covariance: no valid vectors")
    sums = (
        part.select(F.posexplode("s").alias("i", "v"))
        .groupBy("i").agg(F.sum("v").alias("v")).orderBy("i").collect()
    )
    xxs = (
        part.select(F.posexplode("xx").alias("i", "v"))
        .groupBy("i").agg(F.sum("v").alias("v")).orderBy("i").collect()
    )
    mean = np.array([r["v"] for r in sums]) / n_total
    exx = np.array([r["v"] for r in xxs]).reshape(dim, dim) / n_total
    cov = exx - np.outer(mean, mean)
    return int(n_total), mean, cov


def pca_whiten(
    df: DataFrame,
    vec_col: str,
    dim: int,
    k: int | None = None,
    eps: float = 1e-9,
    out_col: str | None = None,
    stats: tuple[int, np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Append ``out_col`` (default: replaces ``vec_col``) with the
    PCA-whitened embedding: y = diag(1/√(λ+eps)) · Eᵀ · (x − μ), keeping
    the top ``k`` components (default all). After the transform the corpus
    has identity covariance on the kept components — the precondition that
    makes Euclidean/cosine structure isotropic for IVF/LSH.

    Eigenvectors' sign is fixed deterministically (largest-|component|
    entry made positive) so the transform is reproducible across runs —
    numpy's eigh sign is otherwise arbitrary. Pass precomputed ``stats``
    (from ``embedding_covariance``) to reuse one corpus pass across many
    transforms."""
    k = k or dim
    out_col = out_col or vec_col
    n, mean, cov = stats or embedding_covariance(df, vec_col, dim)
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1][:k]
    lam, e = eigvals[order], eigvecs[:, order]
    flips = np.sign(e[np.abs(e).argmax(axis=0), np.arange(k)])
    flips[flips == 0] = 1.0
    e = e * flips
    w = (e / np.sqrt(lam + eps)).T  # (k, d): y = W @ (x - mu)
    w_list = w.tolist()
    mu_list = mean.tolist()

    @F.pandas_udf("array<double>")
    def transform(vs: pd.Series) -> pd.Series:
        wm = np.asarray(w_list)
        mu = np.asarray(mu_list)
        out = []
        for v in vs:
            if v is None or len(v) != len(mu):
                out.append(None)
                continue
            out.append((wm @ (np.asarray(v, dtype=np.float64) - mu)).tolist())
        return pd.Series(out)

    return df.withColumn(out_col, transform(F.col(vec_col)))


def quantize_int8(
    df: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """Symmetric per-dimension int8 quantization of an embedding column:
    q[i] = round(127 · x[i] / maxabs[i]) — the storage/bandwidth
    compression step in front of ANN serving (4× smaller than float32;
    ADC-style scoring dequantizes per dimension with the same scales).

    The per-dimension max-|x| scales come from one posexplode →
    groupBy(dim) pass (d output rows, map-side combined) and are
    embedded as a literal array — the same bounded-sufficient-statistic
    pattern as the percentile kernel and the covariance collect; the
    quantization pass is then a single scan-side ``transform`` with no
    join or shuffle. Dead dimensions (maxabs = 0) quantize to 0 rather
    than dividing by zero.

    Determinism: float→double widening is exact, 127·x/maxabs is one
    IEEE-exact expression both engines evaluate identically, and
    round-half-away-from-zero matches Spark's ROUND and DuckDB's.
    Output: (id_col, qvec array<int>, scales array<double> broadcast to
    every row for self-contained dequantization).
    """
    scales = [
        float(r["s"])
        for r in df.select(F.posexplode(F.col(vec_col)).alias("d", "v"))
        .groupBy("d")
        .agg(F.max(F.abs(F.col("v").cast("double"))).alias("s"))
        .orderBy("d")
        .collect()
    ]
    lit_scales = F.array(*[F.lit(s) for s in scales])
    q = F.transform(
        F.col(vec_col),
        lambda v, i: F.when(
            F.element_at(lit_scales, i + 1) > 0,
            F.round(
                F.lit(127.0)
                * v.cast("double")
                / F.element_at(lit_scales, i + 1)
            ).cast("int"),
        ).otherwise(F.lit(0)),
    )
    return df.select(
        id_col, q.alias("qvec"), lit_scales.alias("scales")
    )


def label_centroids(
    df: DataFrame, vec_col: str, label_col: str, round_to: int = 6
) -> DataFrame:
    """Per-label embedding centroids, long-format: (label, dim, n, mean)
    — the class-level companion to ``dim_stats``: collapsed or drifting
    label centroids flag an encoder/label problem before any classifier
    trains on the space, and the centroid table doubles as a
    nearest-centroid baseline classifier.

    Same physical shape as ``dim_stats`` (posexplode → groupBy, here on
    (label, dim)): |labels|·d output rows, full map-side combine, no
    join, no driver materialization. Null vectors contribute nothing;
    NULL labels form their own group (they are a real data state).
    """
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "__v"),
    ).select("label", "dim", F.col("__v").cast("double").alias("__v"))
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.count("__v").alias("n"),
            F.round(F.avg("__v"), round_to).alias("mean"),
        )
        .orderBy("label", "dim")
    )


def centroid_confusion(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """Nearest-centroid label confusion matrix — the embedding-
    separability readout: assign every vector to its nearest label
    centroid (from ``label_centroids``) and cross-tabulate true vs
    assigned. A clean encoder puts the mass on the diagonal; collapsed
    or overlapping label clusters surface as off-diagonal cells long
    before a probe classifier trains.

    Determinism: centroids are the 6-dp-rounded per-dimension means
    (``label_centroids`` — both engines land identical decimals), and
    the assignment is the IVF tier's nearest-centroid argmin
    (``similarity._nearest_centroids``: 6-dp ``sq_dist``, ties to the
    lower label — a total order; a NULL distance, from a NULL element or
    a length mismatch, sorts first) against the broadcast label
    centroids, one min-of-struct aggregate; the confusion table is
    |labels|² — the windows over it are output-sized. Rows with NULL
    vector or label drop. Output:
    (label, assigned_label, n, frac) with frac = n / true-label total,
    6 dp, ordered. Engine addition; no reference counterpart.
    """
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        _nearest_centroids,
    )
    from pyspark.sql import Window

    cents = label_centroids(df, vec_col, label_col).filter(
        F.col("label").isNotNull()
    )
    carr = cents.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mean"))),
            lambda s: s.getField("mean"),
        ).alias("__cent")
    ).select(F.col("label").alias("centroid_id"), "__cent")
    rows = df.filter(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("label"),
        F.col(vec_col).alias("__vec"),
    )
    best = _nearest_centroids(rows, ["__id", "label"], "__vec", carr).select(
        "label", F.col("__cid").alias("assigned_label")
    )
    conf = best.groupBy("label", "assigned_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = Window.partitionBy("label")
    return conf.select(
        "label",
        "assigned_label",
        "n",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(tot).cast("double"),
            6,
        ).alias("frac"),
    ).orderBy("label", "assigned_label")


def quantization_error(
    df: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """Reconstruction-error audit of the int8 quantizer — the
    commit-gate before serving switches to compressed vectors: per
    dimension, the mean squared and max absolute dequantization error
    plus the dimension's scale. Symmetric int8 bounds the per-value
    error by scale/254, so max_abs_err exceeding that flags a quantizer
    bug and the audit doubles as the quantizer's invariant check (the
    unit test pins it).

    One pass over ``quantize_int8``'s output: posexplode the original
    next to the dequantized value (q·scale/127 — the exact serving-side
    ADC arithmetic), error terms pin to integer square-micro units
    before the dim-keyed sums (order-independent; resolution 1e-12 in
    the squared error, documented). Output: (dim, scale, n, mse,
    max_abs_err) 9 dp, ordered by dim. Engine addition; no reference
    counterpart.
    """
    q = quantize_int8(df, vec_col, id_col)
    orig = df.select(
        F.col(id_col).alias("__oid"), F.col(vec_col).alias("__ov")
    )
    j = q.join(orig, q[id_col] == F.col("__oid"))
    exploded = j.select(
        F.posexplode("qvec").alias("dim", "__q"),
        F.col("__ov"),
        F.col("scales"),
    ).select(
        "dim",
        (
            F.element_at(F.col("__ov"), F.col("dim") + 1).cast("double")
            - F.col("__q").cast("double")
            * F.element_at(F.col("scales"), F.col("dim") + 1)
            / F.lit(127.0)
        ).alias("__err"),
        F.element_at(F.col("scales"), F.col("dim") + 1).alias("__s"),
    )
    pin_sq = F.round(
        F.col("__err") * F.col("__err") * F.lit(1e12)
    ).cast("bigint")
    pin_abs = F.round(F.abs(F.col("__err")) * F.lit(1e9)).cast("bigint")
    agg = exploded.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("__s").alias("__scale"),
        F.sum(pin_sq).cast("bigint").alias("__sq"),
        F.max(pin_abs).cast("bigint").alias("__ma"),
    )
    return agg.select(
        "dim",
        F.round("__scale", 9).alias("scale"),
        "n",
        F.round(
            F.col("__sq").cast("double")
            / F.col("n").cast("double")
            / F.lit(1e12),
            9,
        ).alias("mse"),
        F.round(F.col("__ma").cast("double") / F.lit(1e9), 9).alias(
            "max_abs_err"
        ),
    ).orderBy("dim")


def sign_hamming_recall(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    dim: int,
    k: int = 5,
) -> DataFrame:
    """Binary-embedding retrieval eval: recall@k of SIGN-quantized
    hamming search against exact float cosine — the 32×-compression
    question (1 bit/dim vs float32) answered by measurement before a
    serving index commits to binary codes. Codes pack each vector's
    sign bits into two bigint halves by a fixed left fold (acc·2 +
    (v>0)) — integer-exact, no libm, both engines fold in the same
    order — and candidate ranking is bit_count(lo⊕lo′) +
    bit_count(hi⊕hi′) ascending with neighbor-id ties: a rank cut as
    deterministic as the cosine tier's.

    ``dim`` must be ≤ 128 (two 64-bit halves; the declared-schema
    constant, never probed from data). Shape: the T6 broadcast-query
    discipline — codes are a scan-speed projection, the corpus never
    shuffles, the hamming scan is integer ops at memory bandwidth
    (the entire point of binary embeddings at 100 TB). Output one row:
    (dims, k, n_pairs, n_hit, recall_ppm), integer-exact.
    """
    if not (0 < dim <= 128):
        raise ValueError(f"dim must be in 1..128: {dim}")
    half = (dim + 1) // 2
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        brute_force_topk,
    )

    def code(col: str, lo: int, n: int) -> str:
        return (
            f"aggregate(transform(slice({col}, {lo}, {n}),"
            f" x -> CASE WHEN x > 0 THEN 1L ELSE 0L END),"
            f" 0L, (acc, b) -> acc * 2L + b)"
        )

    def coded(df: DataFrame, idc: str, vc: str, tag: str) -> DataFrame:
        return df.filter(
            F.col(idc).isNotNull() & F.col(vc).isNotNull()
        ).select(
            F.col(idc).alias(f"{tag}_id"),
            F.expr(code(vc, 1, half)).alias(f"{tag}_lo"),
            F.expr(code(vc, half + 1, dim - half)).alias(f"{tag}_hi"),
        )

    c = coded(corpus, id_col, vec_col, "c")
    q = coded(queries, query_id_col, query_vec_col, "q")
    ham = F.expr("bit_count(c_lo ^ q_lo) + bit_count(c_hi ^ q_hi)")
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(
        F.col("__ham").asc(), F.col("c_id").asc()
    )
    topk = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", ham.alias("__ham"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("__n"),
            F.lit(1).alias("__h"),
        )
    )
    brute = brute_force_topk(
        corpus, queries, id_col, vec_col, query_id_col, query_vec_col,
        k=k,
    ).select("query_id", "neighbor_id")
    joined = brute.join(
        topk,
        (brute["query_id"] == topk["query_id"])
        & (brute["neighbor_id"] == topk["__n"]),
        "left",
    ).select(F.coalesce(F.col("__h"), F.lit(0)).alias("__hit"))
    return joined.agg(
        F.lit(dim).cast("int").alias("dims"),
        F.lit(k).cast("bigint").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.coalesce(F.sum("__hit"), F.lit(0))
        .cast("bigint")
        .alias("n_hit"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.expr(
                "CAST(1000000 * COALESCE(SUM(__hit), 0)"
                " div COUNT(*) AS BIGINT)"
            ),
        ).alias("recall_ppm"),
    )
