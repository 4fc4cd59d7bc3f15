"""Deduplication operators (SURVEY.md §2.3 + LLM-pipeline near-dup family).

Reference dedup is exact (D1 priority dedup, D2-D4 distinct). The engine adds
the large-corpus near-duplicate family a 100 TB training-data pipeline needs:
exact-hash, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine. All are
expressed as DataFrame ops whose only shuffles are the unavoidable
group-by-key exchanges; candidate generation is always bucketed (LSH bands /
hamming blocks) so no all-pairs comparison ever materializes.

Every bucket → candidate step is ``bucket_pairs``: group one row per
(bucket, member) by the bucket key, collect the sorted members, expand each
unordered pair in-array (``_pairs``, the package's one spelling of the
expansion) and explode — one exchange, shared with the optional bucket cap,
never a bucket-key self-join (Spark replans a derived self-join's whole
upstream twice, 0 ReusedExchange — measured on minhash). Each caller keeps
its own verify tail. Callers: ``minhash_lsh_candidates``,
``neardup_incremental``, ``simhash_candidates``, ``passage_overlap_pairs``,
``winnow_overlap_pairs``, ``split_leakage_audit`` (here);
``graph.adamic_adar``, ``graph.square_census``, ``phash.image_phash_pairs``,
``videoseq.video_neardup_pairs``, ``assoc.association_rules``; the
catalog's ``_co_edges`` calls ``_pairs`` on its own ``collect_set``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.functions.hashing import (
    MERSENNE_P,
    minhash_params,
    stable_hash64,
)
from calp_cva_tracking_pipeline_spark.operators.partitioning import (
    spread_small_input,
)
from calp_cva_tracking_pipeline_spark.session import cut


def priority_dedup(
    df: DataFrame,
    key_cols: list[str],
    priority: Column,
    tiebreak_cols: list[str],
) -> DataFrame:
    """D1 — keep one row per key, preferring the lowest ``priority`` value,
    breaking ties deterministically on ``tiebreak_cols``.

    Reference semantics: among onBoundary=='shared' rows keep first per id
    preferring boundary=='incoming' (code/04_fts_curated_flows.R:83-84).
    Single hash-partition shuffle on the key; at scale the window runs
    entirely map-side within each key partition.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        priority, *[F.col(c) for c in tiebreak_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content hash: keep the min-id row per distinct text.

    md5 group key instead of raw text so 100 TB of documents shuffles 16-byte
    digests, not full bodies. Deterministic survivor (min id) unlike
    dropDuplicates, whose survivor depends on partition order. The input is
    spread first so the md5 pass parallelizes even off a single-row-group
    file (no-op at scale — see operators.partitioning).
    """
    df = spread_small_input(df)
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def word_tokens(text_col: Column) -> Column:
    """Whitespace tokenization — materialize this ONCE per row (as its own
    select) before building shingles from it; see ``shingles``."""
    return F.split(F.trim(text_col), "\\s+")


def shingles_from_tokens(toks_col: Column, k: int) -> Column:
    """k-word shingles over an already-materialized token-array column."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks_col) - k, F.lit(0)))
    return F.transform(
        idx, lambda i: F.array_join(F.slice(toks_col, i + 1, k), " ")
    )


def shingles(text_col: Column, k: int = 3, distinct: bool = False) -> Column:
    """k-word shingles of a whitespace-tokenized text column.

    PERF: this single-expression form inlines the tokenization INSIDE the
    transform lambda, and Spark's higher-order functions evaluate
    interpreted — the split re-runs for every shingle index, O(words²)
    per document (measured 2.4x on the decontam benchmark side). Hot
    paths should materialize ``word_tokens`` in a select of their own and
    call ``shingles_from_tokens`` (as minhash_signatures / ngram_jaccard
    / decontam do); this form remains for contexts where a single Column
    expression is required and the arrays are short.

    ``distinct`` defaults to False: MinHash minima and Jaccard via
    array_intersect/array_union are both duplicate-insensitive, and
    array_distinct over a ~100s-element array is O(n²) in Spark's
    interpreted higher-order-function path — measurable at corpus scale.
    """
    sh = shingles_from_tokens(word_tokens(text_col), k)
    return F.array_distinct(sh) if distinct else sh


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, k: int = 3
) -> DataFrame:
    """(id, __sig array<long>): MinHash signatures over k-shingles.

    Universal hash family (a*h + b) mod p over md5-derived 60-bit shingle
    hashes; parameters from the fixed LCG in functions.hashing so signatures
    are reproducible across engines and runs.

    Shape matters at 100 TB: shingles are EXPLODED to rows and the signature
    is a vectorized groupBy of ``num_hashes`` MIN aggregates. The naive
    alternative — one giant array expression per row — re-evaluates the
    shingle-hash subtree once per hash function (measured 90s vs 2s at
    sf0.1) and holds every shingle in memory per row; the explode form
    streams through codegen with map-side partial MINs, one shuffle on id.
    """
    # tokens materialized in their own projection so the shingle lambda
    # (interpreted HOF) does not re-split the text per shingle index
    sh_rows = (
        spread_small_input(df)
        .select(
            F.col(id_col).alias("__id"),
            word_tokens(F.col(text_col)).alias("__toks"),
        )
        .select(
            "__id",
            F.explode(shingles_from_tokens(F.col("__toks"), k)).alias(
                "__sh"
            ),
        )
    )
    h = stable_hash64(F.col("__sh")) % F.lit(MERSENNE_P)
    hashed = sh_rows.select("__id", h.alias("__h"))
    # each min-aggregate is ONE parsed SQL expression, not ~7 py4j Column
    # ops: identical Catalyst tree, ~100 fewer driver round trips per call
    # (measured 0.31s -> <0.1s of plan-construction time for 16 hashes)
    mins = [
        F.expr(
            f"min(({a}L * __h + {b}L) % {MERSENNE_P}L) AS __m{i}"
        )
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    sig = hashed.groupBy("__id").agg(*mins)
    sig_array = ", ".join(f"__m{i}" for i in range(num_hashes))
    return sig.select("__id", F.expr(f"array({sig_array}) AS __sig"))


def _check_bands(num_hashes: int, bands: int) -> None:
    """Banding splits the signature into ``bands`` equal slices: a count
    below 1 or one that does not divide ``num_hashes`` would leave hashes
    unused, or (more bands than hashes) make every key ``''`` and turn
    banding into all-pairs."""
    if bands < 1 or num_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}"
        )


def _band_rows(sig_df: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(__id, band, key) LSH band rows from a signature table. One parsed
    expression per band (same tree as the Column-API spelling, far fewer
    py4j round trips — see minhash_signatures)."""
    _check_bands(num_hashes, bands)
    rows_per_band = num_hashes // bands
    band_structs = ", ".join(
        f"struct({b} AS band, array_join(transform("
        f"slice(__sig, {b * rows_per_band + 1}, {rows_per_band}),"
        " x -> cast(x AS string)), ',') AS key)"
        for b in range(bands)
    )
    return sig_df.select(
        "__id", F.expr(f"explode(array({band_structs})) AS b")
    ).select("__id", F.col("b.band").alias("band"), F.col("b.key").alias("key"))


def _pairs(arr: str, members: str | list[str]) -> Column:
    """Every unordered pair of the array column ``arr``, in array order,
    as an array of flat structs: ``<m>_a``/``<m>_b`` for the scalar
    element ``members``, or for each field of a struct element. Pairs
    are by position, so a repeated element pairs with itself. One SQL
    expression: the package's only in-array pair expansion."""
    if isinstance(members, str):
        sides = {members: ""}
    else:
        sides = {m: f".`{m}`" for m in members}
    body = ", ".join(
        f"{v}{get} AS `{m}_{side}`"
        for m, get in sides.items()
        for v, side in (("x", "a"), ("y", "b"))
    )
    return F.expr(
        f"flatten(transform({arr}, (x, i) -> transform("
        f"slice({arr}, i + 2, size({arr})), y -> struct({body}))))"
    )


def _id_pairs(pairs: DataFrame) -> DataFrame:
    """(id_a, id_b) of a ``bucket_pairs`` frame over the member ``__id``."""
    return pairs.select(
        F.col("__id_a").alias("id_a"), F.col("__id_b").alias("id_b")
    )


def bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    members: str | list[str],
    cap: int | None = None,
) -> DataFrame:
    """One row per unordered member pair of each bucket → (*keys,
    ``<m>_a``, ``<m>_b`` per member), from ``rows`` holding one row per
    (bucket, member). Members are ``array_sort(collect_list(…))`` of the
    one column ``members`` (NULLs skipped), or of a struct of the
    ``members`` columns, whose first column orders the array; ``_a``
    precedes ``_b`` in that order. With ``cap`` one count window first
    drops buckets whose size is outside [2, cap], before anything is
    collected (a bucket of B emits B(B-1)/2 pairs); it shares the
    bucket-key exchange with the collect."""
    if cap is not None:
        size = F.count(F.lit(1)).over(Window.partitionBy(*keys))
        rows = rows.withColumn("__bn", size).filter(
            F.col("__bn").between(2, cap)
        )
    m = F.col(members) if isinstance(members, str) else F.struct(*members)
    return (
        rows.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(m)).alias("__m"))
        .select(*keys, F.explode(_pairs("__m", members)).alias("__p"))
        .select(*keys, "__p.*")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    pre_collapse_exact: bool = True,
    max_bucket_docs: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (id_a < id_b, distinct).

    Signature → split into ``bands`` bands (``bands`` must divide
    ``num_hashes``, else ``ValueError``) → explode (id, band_key) →
    ``bucket_pairs`` on the band key. The only shuffle is the band-key
    exchange; band keys distribute uniformly (they are hashes), so no
    *hash* skew. At 100 TB this is the standard fuzzy-dedup shape:
    candidates ≪ all-pairs.

    Two guards against duplicate-mass skew (a web crawl routinely contains
    thousands of byte-identical documents; without guards they all share
    every band key and one bucket emits O(n²) pairs):

    - ``pre_collapse_exact`` (default True): exact duplicates are collapsed
      to their min-id representative BEFORE signatures, so identical texts
      cost one signature and zero intra-bucket pairs. Candidates are then
      pairs of *distinct* texts; exact-dup membership is ``dedup_exact``'s
      output.
    - ``max_bucket_docs``: band buckets holding more docs are dropped
      entirely (deterministic, mirrors in the SQL oracle). A bucket of B
      docs emits B(B-1)/2 pairs; capping bounds the worst bucket's emission
      while near-dup pairs keep b-1 other bands to be found in.

    Measured effect (local[32]): the driver corpus at sf0.1 is benign
    (5,000 docs, 0.2% exact dups) — guards cost ~nothing there (241 vs
    256 pairs, the delta being the now-pre-collapsed exact-dup pairs).
    Under duplicate skew the difference is asymptotic: 500 copies of one
    page is 124,750 intra-bucket pairs unguarded versus 0 with
    pre-collapse (tests/test_pipeline_props.py pins this).
    """
    if pre_collapse_exact:
        df = dedup_exact(df, text_col, id_col)
    sig_df = minhash_signatures(df, id_col, text_col, num_hashes, k)
    banded = _band_rows(sig_df, num_hashes, bands)
    # without a cap the collected id array is bounded by the bucket
    # population, which pre-collapse keeps to distinct texts — set the
    # cap for adversarial corpora
    return _id_pairs(
        bucket_pairs(banded, ["band", "key"], "__id", max_bucket_docs)
    ).distinct()


def ngram_jaccard(
    pairs: DataFrame, docs: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Exact k-shingle Jaccard for candidate pairs (verification stage).

    Joins each (id_a, id_b) pair to its shingle sets (two broadcast-able
    joins when the candidate set is small; bucketed hash joins otherwise)
    and computes |∩| / |∪| with array intrinsics — JVM-side, no UDF.
    """
    sh = (
        spread_small_input(docs)
        .select(
            F.col(id_col).alias("__id"),
            word_tokens(F.col(text_col)).alias("__toks"),
        )
        .select(
            "__id", shingles_from_tokens(F.col("__toks"), k).alias("__sh")
        )
    )
    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size(F.array_union("__sh_a", "__sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
    )


def simhash(df: DataFrame, text_col: str, bits: int = 16) -> DataFrame:
    """Add ``__simhash``: per-document SimHash over word hashes.

    Bit i of the fingerprint is the majority vote of bit i across the
    document's (distinct-token) stable hashes. Narrow projection; the only
    exchange is the spread guard on degenerate single-split inputs.
    16 bits keeps every intermediate in int64 and is enough for blocking;
    widen per-deployment if needed.
    """
    df = spread_small_input(df)
    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), "\\s+"))
    hs = F.transform(toks, lambda w: stable_hash64(w))
    bit_sums = [
        F.aggregate(
            hs,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << i)) > 0, 1).otherwise(-1),
        )
        for i in range(bits)
    ]
    fingerprint = None
    for i, s in enumerate(bit_sums):
        term = F.when(s > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return df.withColumn("__simhash", fingerprint.cast("long"))


def embedding_near_dup_candidates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 8,
    seed: int = 42,
    pre_collapse_exact: bool = True,
) -> DataFrame:
    """Embedding near-dup candidates via random-hyperplane (cosine) LSH.

    Documents whose embeddings land in the same sign-pattern bucket are
    candidate pairs; exact cosine is then computed only within buckets.
    Deterministic pseudo-random planes from the fixed LCG; ``dim`` is a
    declared schema constant (no data probe at plan time). One shuffle on
    the bucket key.

    ``pre_collapse_exact`` (default True) is the duplicate-mass skew guard
    the MinHash tier has (minhash_lsh_candidates): byte-identical vectors
    collapse to their min-id representative BEFORE bucketing, so candidate
    pairs are pairs of *distinct* vectors and exact-dup membership is the
    exact tier's (linear) output. Without it the emission itself is
    quadratic in the duplication factor — every copy of a duplicated
    vector shares every bucket, and k copies emit k(k-1)/2 pairs *per
    duplicated document*. Measured on an 8x corpus with 8 identical
    replicas per vector (local[32], 40k vectors): 17.3s / 2.66M pairs
    unguarded vs 0.9s / 2.6k representative pairs guarded — and the gap is
    asymptotic, not constant. The collapse itself groups on the raw vector
    value (one shuffle of the vectors, the same data the bucket join
    shuffles anyway).
    """
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        plane_bucket,
        random_planes,
    )

    planes = random_planes(n_planes, dim=dim, seed=seed)
    base = spread_small_input(df).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    )
    if pre_collapse_exact:
        base = base.groupBy("__vec").agg(F.min("__id").alias("__id"))
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        dot,
        norm,
    )

    tagged = base.select(
        "__id",
        "__vec",
        plane_bucket(F.col("__vec"), planes).alias("__bucket"),
        # norms fold ONCE per node here, not once per pair below —
        # interpreted higher-order folds are the pair cost; cosine =
        # dot/(nl·nr) is the same IEEE expression bit-for-bit
        norm(F.col("__vec")).alias("__nrm"),
    )
    # Deliberately a bucket self-join, unlike minhash_lsh_candidates'
    # collect+expand: here the recomputed upstream is just scan + n_planes
    # dots (cheap), vectors ride the join into an inline cosine, and the
    # alternative (collect ids, expand pairs, re-join both vector sides)
    # measured 2.5x slower at sf0.1 — the two vector re-joins cost more
    # than the duplicated projection.
    l, r = tagged.alias("l"), tagged.alias("r")
    pairs = l.join(
        r,
        (F.col("l.__bucket") == F.col("r.__bucket"))
        & (F.col("l.__id") < F.col("r.__id")),
    ).select(
        F.col("l.__id").alias("id_a"),
        F.col("r.__id").alias("id_b"),
        # rounded before the threshold test so the boundary decision is
        # identical across engines (libm dot products differ at 1 ulp)
        F.round(
            dot(F.col("l.__vec"), F.col("r.__vec"))
            / (F.col("l.__nrm") * F.col("r.__nrm")),
            6,
        ).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= threshold)


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Exact duplicate-cluster resolution: (node, component) with
    ``component`` = the minimum node id reachable through the pair graph.

    The transitive-closure companion to ``near_dup_drop_set``'s greedy
    policy (plans/corpus.py): where greedy drops the higher id of every
    pair independently, this labels every node with its component's min id
    so survivor selection is consistent across chains (A~B~C keeps exactly
    A even though A and C never paired directly).

    Min-label propagation over the PAIR set, which is candidate-sized
    (post-LSH, post-verification), not corpus-sized — the iteration state
    is (node, label) plus the symmetrized edge list, both tiny relative to
    the documents they describe. Each round joins labels across edges and
    keeps the per-node min; convergence is checked with one count on the
    changed-label set and the loop is an O(component diameter) fixpoint —
    near-dup chains are short (the Jaccard/cosine threshold bounds them),
    so this converges in a handful of rounds where a general graph would
    want the O(log n) large-star/small-star variant. ``max_iters`` guards
    the pathological corpus; hitting it raises rather than silently
    returning partial labels.

    Iterative-by-nature (SURVEY §2 has no counterpart; this is engine
    scale tier): each round is one shuffle of the label table. The
    per-round label state is cut (the kcore/pagerank lineage
    discipline): each round references the evolving labels frame three
    times (neighbor-min join, left-join update, convergence check), so
    a cache alone bounds RUNTIME but lets the logical plan triple per
    round — 189 visible scans by convergence at test sizes, planner
    death near max_iters. With the checkpoint the visible plan is one
    round deep (pinned in test_plan_shapes.py).
    """
    sym = (
        pairs.select(
            F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
        )
        .union(
            pairs.select(
                F.col(dst_col).alias("__src"), F.col(src_col).alias("__dst")
            )
        )
        .distinct()
        .cache()
    )
    labels = cut(
        sym.select(F.col("__src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    try:
        for _ in range(max_iters):
            nbr_min = (
                sym.join(labels, sym["__dst"] == labels["node"])
                .groupBy(F.col("__src").alias("node"))
                .agg(F.min("component").alias("__nbr_min"))
            )
            new_labels = cut(
                labels.join(nbr_min, "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"), F.col("__nbr_min")
                    ).alias("component"),
                )
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                return labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds; "
            "the pair graph has a component of diameter > max_iters — raise "
            "max_iters or switch survivor policy to the greedy drop set"
        )
    finally:
        sym.unpersist()


def content_digest_store(df: DataFrame, text_col: str) -> DataFrame:
    """Distinct 16-byte content digests of a corpus — the persisted state
    incremental ingestion dedups against (single column ``digest``).
    Persist bucketed on ``digest`` (sources.bucketed) so the per-batch
    anti join plans shuffle-free on the store side."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"))
        .filter(F.col("digest").isNotNull())
        .distinct()
    )


def dedup_incremental(
    new_batch: DataFrame,
    history_digests: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Exact-dedup a NEW ingest batch against an already-deduped corpus
    WITHOUT rescanning it — the 100 TB ingestion pattern: history
    participates only through its digest store (content_digest_store),
    so each incremental batch costs O(batch) scan + a digest join, not
    O(corpus).

    Intra-batch first (min-id survivor per digest — same semantics as
    dedup_exact), then a left-anti join against the store on the 16-byte
    digest. Null texts have a null digest: they survive the anti join
    (null matches nothing, both here and in the SQL-oracle's NOT EXISTS)
    and collapse to one min-id row intra-batch. The next store version is
    ``history_digests ∪ content_digest_store(survivors)``.
    """
    batch = dedup_exact(new_batch, text_col, id_col)
    return batch.join(
        history_digests.withColumnRenamed("digest", "__hist_digest"),
        F.md5(F.col(text_col)) == F.col("__hist_digest"),
        "left_anti",
    )


def lsh_band_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """(id, band, key) — the persisted LSH index of an already-deduped
    corpus, the near-dup counterpart of content_digest_store. Persist
    bucketed on (band, key) so incremental probes plan shuffle-free on
    the store side. Built from signatures, so the store holds ~bands
    narrow rows per doc — never text."""
    sig = minhash_signatures(df, id_col, text_col, num_hashes, k)
    return _band_rows(sig, num_hashes, bands).select(
        F.col("__id").alias("id"), "band", "key"
    )


def neardup_incremental(
    new_batch: DataFrame,
    band_store: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    pre_collapse_exact: bool = True,
) -> DataFrame:
    """Near-dup candidates for a NEW ingest batch against an existing
    corpus via its LSH band store — O(batch) signature work per ingest,
    history contributes only index rows (lsh_band_store), never text.

    → (id_a, id_b, vs_history): cross candidates pair a new doc (id_a)
    with a historical doc (id_b, vs_history=true); intra-batch candidates
    pair two new docs (id_a < id_b, vs_history=false). Feed the pairs to
    ngram_jaccard for exact verification, drop confirmed dups, then
    append the survivors' band rows to the store (union — same update
    law as the digest store).

    Skew note: the store side is assumed already near-dup-deduped, which
    bounds bucket populations structurally; the batch side gets the same
    ``pre_collapse_exact`` guard as the full pipeline. Run the full
    capped ``minhash_lsh_candidates`` periodically if adversarial
    duplicate mass can enter faster than verification removes it.

    Plan-shape trade-off, chosen deliberately: the batch's banded rows
    feed TWO consumers (the store join and the intra-batch buckets), so
    the batch signature pipeline plans twice — the opposite call from
    minhash_lsh_candidates' single-pipeline rule, because here the
    re-planned side is the O(batch) side while the alternative (tagged
    union + one groupBy) would SHUFFLE THE ENTIRE STORE every ingest.
    Recompute the small thing, never move the big thing. Intra pairs are
    ``bucket_pairs``, as in the full pipeline; the store join is an
    equi-join that plans shuffle-free on a (band, key)-bucketed store.
    """
    if pre_collapse_exact:
        new_batch = dedup_exact(new_batch, text_col, id_col)
    sig = minhash_signatures(new_batch, id_col, text_col, num_hashes, k)
    nb = _band_rows(sig, num_hashes, bands)
    cross = (
        nb.join(
            band_store.select(
                F.col("id").alias("__hist_id"), "band", "key"
            ),
            ["band", "key"],
        )
        .select(
            F.col("__id").alias("id_a"),
            F.col("__hist_id").alias("id_b"),
        )
        .distinct()
        .withColumn("vs_history", F.lit(True))
    )
    intra = (
        _id_pairs(bucket_pairs(nb, ["band", "key"], "__id"))
        .distinct()
        .withColumn("vs_history", F.lit(False))
    )
    return cross.unionByName(intra)


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 2,
    pre_collapse_exact: bool = True,
    max_bucket_docs: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs (id_a < id_b, hamming) with EXACT recall:
    by pigeonhole, two signatures within hamming distance d agree exactly
    on at least one of d+1 bit blocks, so bucketing on (block, value)
    finds every qualifying pair without an all-pairs pass — the hamming-
    block counterpart of MinHash banding.

    Candidates verify with bit_count(sig_a XOR sig_b) <= max_hamming
    (a JVM intrinsic — no token re-scan, unlike MinHash's Jaccard
    verification). Same skew guards as the LSH path: exact-dup
    pre-collapse (identical text ⇒ identical signature ⇒ same buckets)
    and an optional per-bucket cap; candidates are ``bucket_pairs`` on
    (block, value).
    """
    if pre_collapse_exact:
        df = dedup_exact(df, text_col, id_col)
    sigs = simhash(df, text_col, bits).select(
        F.col(id_col).alias("__id"), "__simhash"
    )
    nblocks = max_hamming + 1
    sizes = [
        bits // nblocks + (1 if i < bits % nblocks else 0)
        for i in range(nblocks)
    ]
    offs = [sum(sizes[:i]) for i in range(nblocks)]
    block_structs = ", ".join(
        f"struct({i} AS blk, shiftright(__simhash, {offs[i]}) "
        f"& {(1 << sizes[i]) - 1} AS val)"
        for i in range(nblocks)
    )
    banded = sigs.select(
        "__id",
        "__simhash",
        F.expr(f"explode(array({block_structs})) AS b"),
    ).select(
        "__id", "__simhash",
        F.col("b.blk").alias("blk"), F.col("b.val").alias("val"),
    )
    pairs = bucket_pairs(
        banded, ["blk", "val"], ["__id", "__simhash"], max_bucket_docs
    )
    xor = F.col("__simhash_a").bitwiseXOR(F.col("__simhash_b"))
    return (
        pairs.select(
            F.col("__id_a").alias("id_a"),
            F.col("__id_b").alias("id_b"),
            F.bit_count(xor).cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def passage_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    window: int = 8,
    max_docs_per_window: int = 16,
) -> DataFrame:
    """Exact duplicated-passage detection: pairs of documents sharing at
    least one identical ``window``-token span, with the count of distinct
    shared spans → (id_a, id_b, n_shared). The exact-substring
    duplication signal of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better") at fixed granularity: near-dup tiers
    (MinHash/SimHash) rank whole-document similarity, while this catches
    verbatim PASSAGE reuse — quotes, boilerplate, cross-posted spans —
    between otherwise-different documents.

    Mechanics: every consecutive ``window``-token span (case-sensitive —
    it IS exact matching; docs shorter than the window emit nothing)
    hashes through the md5-derived ``stable_hash64`` — the oracle
    recomputes the SAME hash, so parity is exact, not probabilistic;
    hash-shuffled rows are 16 bytes wide regardless of span length.
    (Swap in xxhash64 for production ingest if md5 throughput ever shows
    up in a profile; keep stable_hash64 wherever an external engine must
    reproduce the pairs.) Spans dedupe per document, then
    ``bucket_pairs`` on the span hash groups sharers: buckets above
    ``max_docs_per_window`` are boilerplate (the quadratic-emission
    guard mirrored from the LSH tiers, and in the SQL oracle) and are
    dropped whole.
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        word_tokens(F.col(text_col)).alias("__toks"),
    ).filter(F.size("__toks") >= window)
    idx = F.sequence(F.lit(1), F.size("__toks") - window + 1)
    spans = base.select(
        "__id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.array_join(F.slice("__toks", i, window), " "),
            )
        ).alias("__span"),
    )
    hashed = spans.select(
        "__id", stable_hash64(F.col("__span")).alias("__h")
    ).distinct()
    return (
        _id_pairs(bucket_pairs(hashed, ["__h"], "__id", max_docs_per_window))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )


def passage_containment(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    window: int = 8,
    max_docs_per_window: int = 16,
) -> DataFrame:
    """Asymmetric containment over shared passages → (id_a, id_b,
    n_shared, containment_a, containment_b) with containment_x =
    shared spans / doc x's distinct spans. Symmetric similarity
    (Jaccard/cosine) scores a short document quoted inside a long one
    near ZERO — containment of the short side reads ~1 there, which is
    the quote / subset-document / page-within-crawl signal a dedup
    policy needs alongside the near-dup tiers (drop the contained doc,
    keep the container).

    Reuses ``passage_overlap_pairs`` for the (pair, shared-span-count)
    stage (bucket cap included), then joins per-doc distinct-span counts
    — a second tokenize pass for a vocab-of-docs-sized count table that
    joins pairs on doc id (pairs are candidate-sized, the join
    broadcast-sized relative to the corpus). Divisions are single
    double ops on exact longs, rounded to 6 dp.
    """
    pairs = passage_overlap_pairs(
        df, id_col, text_col, window, max_docs_per_window
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        word_tokens(F.col(text_col)).alias("__toks"),
    ).filter(F.size("__toks") >= window)
    idx = F.sequence(F.lit(1), F.size("__toks") - window + 1)
    counts = (
        base.select(
            "__id",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.array_join(
                        F.slice("__toks", i, window), " "
                    ),
                )
            ).alias("__span"),
        )
        .select("__id", stable_hash64(F.col("__span")).alias("__h"))
        .distinct()
        .groupBy("__id")
        .agg(F.count("*").alias("__n"))
    )
    ca = counts.select(
        F.col("__id").alias("id_a"), F.col("__n").alias("__na")
    )
    cb = counts.select(
        F.col("__id").alias("id_b"), F.col("__n").alias("__nb")
    )
    return (
        pairs.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.col("__na"), 6
            ).alias("containment_a"),
            F.round(
                F.col("n_shared").cast("double") / F.col("__nb"), 6
            ).alias("containment_b"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int | None,
    threshold: float,
    centroids: DataFrame | None = None,
    pre_collapse_exact: bool = True,
) -> DataFrame:
    """SemDeDup-style cluster-based semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then drop a
    document when a same-cluster neighbor is semantically close enough.
    Returns one verdict row per distinct vector:
    ``(id, cell bigint, keep boolean)``.

    The cluster step is what makes the paper's method web-scale: exact
    cosine is computed only WITHIN a cell, so the comparison count is
    sum(|cell|²) instead of N². This implementation rides the engine's
    existing deterministic IVF quantizer — ``train_centroids`` (iters=0,
    lowest-id init: oracle-expressible, no global sort) + ``assign_cells``
    (broadcast centroids, one corpus shuffle) — so a corpus that already
    has a persisted IVF index (persist_ivf_index, bucketed by ``__cell``)
    gets the assignment for free and the within-cell self-join plans
    shuffle-free on the bucketed store. Pass ``centroids`` to reuse a
    trained/persisted quantizer; default trains iters=0 on ``df`` itself.

    Survivor rule: a vector is dropped iff a SAME-CELL vector with a
    SMALLER id has rounded cosine ≥ ``threshold`` — the same min-id
    discipline as every other dedup tier, chosen over the paper's
    keep-farthest-from-centroid rule because it is total, float-tie-free
    and therefore bit-reproducible across engines and partitionings (the
    paper itself notes the choice of survivor is "largely arbitrary",
    §3.2). Note the rule uses EXISTS, not connected components: in a
    chain a~b, b~c (a!~c), both b and c drop — b's own fate does not
    re-qualify c. Feed the pairs into connected_components for
    cluster-resolution semantics instead.

    Skew guards, same rationale as embedding_near_dup_candidates:
    byte-identical vectors pre-collapse to their min-id representative
    before clustering (k replicas would otherwise emit k(k-1)/2
    within-cell pairs per duplicated document), and the verdict is per
    REPRESENTATIVE — non-representative exact copies are the exact
    tier's (linear) output. ``n_centroids`` must scale with the corpus
    so cells stay bounded (the paper uses ~10⁵ clusters for LAION-scale;
    rows-per-cell ~ N/K is the quadratic term's base) — ``None`` (the
    default) auto-sizes to ceil(sqrt(N)) via
    ``similarity.auto_n_centroids``, keeping comparisons ~N^1.5; pass an
    explicit value only for a tuned operating point.

    Engine-added; no reference counterpart (the reference dedups exact
    rows only — code/05:31-44).
    """
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        assign_cells,
        train_centroids,
    )

    base = spread_small_input(df).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    )
    if pre_collapse_exact:
        base = base.groupBy("__vec").agg(F.min("__id").alias("__id"))
    if centroids is None:
        if n_centroids is None:
            # all-pairs regime: constant rows-per-cell, K ∝ N (see
            # similarity.auto_n_centroids — the √N search rule would
            # leave the within-cell pair volume growing N^1.5)
            from calp_cva_tracking_pipeline_spark.operators.similarity import (
                DEFAULT_CELL_SIZE,
                auto_n_centroids,
            )

            n_centroids = auto_n_centroids(df, DEFAULT_CELL_SIZE)
        # Trained on the RAW corpus (not the collapsed reps) so the same
        # quantizer serves ANN search and this dedup — centroid init only
        # needs the n lowest ids, which are almost surely reps anyway.
        centroids = train_centroids(df, id_col, vec_col, n_centroids)
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        dot,
        norm,
    )

    # r15: `assigned` feeds three consumers (both sides of the
    # within-cell self-join below + the final verdict join) and a
    # self-join of a derived DataFrame plans two full copies of its
    # upstream with zero exchange reuse — one lazy cut materializes
    # the assign_cells subtree (centroid crossJoin + argmin + corpus
    # join) once inside the output job (the knn_graph restructure).
    assigned = cut(
        assign_cells(base, centroids, "__id", "__vec")
        .select("__id", "__vec", "__cell")
    )
    # Within-cell bucket self-join with the vectors riding into an inline
    # cosine — measured faster than collect+expand for vector payloads
    # (see embedding_near_dup_candidates' plan note). Norms fold once
    # per node (not per pair): cosine = dot/(nl·nr), bit-identical.
    normed = assigned.withColumn("__nrm", norm(F.col("__vec")))
    l, r = normed.alias("l"), normed.alias("r")
    dropped = (
        l.join(
            r,
            (F.col("l.__cell") == F.col("r.__cell"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .filter(
            F.round(
                dot(F.col("l.__vec"), F.col("r.__vec"))
                / (F.col("l.__nrm") * F.col("r.__nrm")),
                6,
            )
            >= threshold
        )
        .select(F.col("r.__id").alias("__dropped"))
        .distinct()
    )
    return (
        assigned.join(
            dropped, F.col("__id") == F.col("__dropped"), "left"
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("__cell").cast("long").alias("cell"),
            F.col("__dropped").isNull().alias("keep"),
        )
    )


def cluster_representatives(
    components: DataFrame,
    docs: DataFrame,
    id_col: str,
    quality_col: str,
    node_col: str = "node",
    comp_col: str = "component",
) -> DataFrame:
    """Canonical-document selection over resolved duplicate clusters: for
    every ``connected_components`` cluster, keep the member with the
    best (``quality_col`` desc, id asc) and mark the rest as drops — the
    decision step that turns cluster labels into an actual dedup verdict
    (min-id survivorship is arbitrary; real pipelines keep the longest /
    highest-quality copy of a near-dup family).

    One quality lookup join (component table is candidate-sized — only
    clustered docs appear — joined against the corpus on its id) plus
    one component-keyed row_number window; the tie-break (quality desc,
    id asc) is total, so the representative is deterministic across
    layouts and engines. Output: (id, component, rep_id, keep) for every
    clustered document.
    """
    labeled = components.join(
        docs.select(
            F.col(id_col).alias(node_col), F.col(quality_col).alias("__q")
        ),
        node_col,
    )
    w = Window.partitionBy(comp_col).orderBy(
        F.col("__q").desc(), F.col(node_col).asc()
    )
    reps = (
        labeled.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col(comp_col), F.col(node_col).alias("rep_id"))
    )
    return (
        components.join(reps, comp_col)
        .select(
            F.col(node_col),
            F.col(comp_col),
            "rep_id",
            (F.col(node_col) == F.col("rep_id")).alias("keep"),
        )
    )


def jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    k: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join: ALL document pairs whose k-shingle
    Jaccard ≥ ``threshold`` — the deterministic complement to MinHash-LSH
    (which trades false negatives for speed; this tier guarantees none).
    The classic AllPairs/PPJoin prefix filter (Bayardo et al. WWW'07,
    Xiao et al. WWW'08) made Spark-native.

    Why it's not N²: order every document's distinct shingles by GLOBAL
    frequency ascending (rarest first — the candidate-minimizing order);
    two sets with J ≥ t MUST share a token inside each one's first
    n - ceil(t·n) + 1 tokens under any common total order, so only
    documents sharing a PREFIX token ever pair. Prefix tokens are each
    document's rarest ~(1-t) fraction, so candidate buckets are small by
    construction — the filter gets CHEAPER as the threshold rises.

    Integer-exact end to end (no float in any decision): the prefix
    length uses ceil(t·n) = (tn·n + 10⁶ - 1) div 10⁶ over the
    millionth-scaled threshold, and the verification predicate is
    |∩|·10⁶ ≥ tn·|∪| — both engines decide every pair identically, so
    the DuckDB oracle can be the BRUTE-FORCE threshold join (any
    shared-shingle pair, exact Jaccard): equality against it proves the
    prefix filter dropped no qualifying pair.

    Physical shape: one scan → distinct (doc, shingle) pairs; a
    shingle-keyed frequency aggregation (map-side combined) attached by
    a shingle-keyed join (NOT broadcast — vocabulary scales with
    corpus); one doc-keyed window ranks shingles rarest-first; the
    prefix self-join is bucket-bounded by rare-token frequencies; exact
    verification joins the two shingle-array sides by id (the
    ngram_jaccard kernel). Exact duplicates should be collapsed by the
    exact tier FIRST (standard pipeline order) — a k-replica family
    qualifies wholesale and emits its k(k-1)/2 pairs as pure output
    volume.

    Output: (id_a, id_b, jaccard 6dp) with id_a < id_b.

    Engine-added; no reference counterpart (the reference dedups exact
    rows only — code/05:31-44).
    """
    tn = round(threshold * 1_000_000)
    base = spread_small_input(df).select(
        F.col(id_col).alias("__id"),
        word_tokens(F.col(text_col)).alias("__toks"),
    )
    # the shingle-array frame feeds THREE consumers (the token explode
    # and both verification sides) and the tokenize + shingle build is
    # the expensive corpus subtree — without a cut Catalyst replans it
    # per consumer (r15 static plan: 6 documents scans / 15 exchanges).
    # One lazy cut stores the arrays once inside the output
    # job (the round-15 shared-subtree discipline).
    #
    # The size() guard sits ABOVE the cut: filtering on a column built
    # by an interpreted higher-order transform invites Catalyst to push
    # the predicate through the projection AND below the round-robin
    # spread — the full shingle expression then evaluates TWICE per
    # row, once single-threaded on the unspread scan partition (r15
    # measured: 0.20s -> 3.0s, a 15x blow-up at sf0.1; the guide §4.4
    # duplicate-evaluation trap, hit by an interpreted expression
    # instead of a UDF). The RDD boundary blocks pushdown outright, so
    # the guard evaluates once, on the materialized column.
    sh = cut(base.select(
        "__id",
        F.array_distinct(shingles_from_tokens(F.col("__toks"), k)).alias(
            "__sh"
        ),
    )).filter(F.size("__sh") > 0)
    toks = sh.select("__id", F.size("__sh").alias("__n"), F.explode("__sh").alias("__s"))
    freq = toks.groupBy("__s").agg(F.count(F.lit(1)).alias("__f"))
    ranked = toks.join(freq, "__s").withColumn(
        "__r",
        F.row_number().over(
            Window.partitionBy("__id").orderBy(
                F.col("__f").asc(), F.col("__s").asc()
            )
        ),
    )
    # prefix length p = n - ceil(t*n) + 1, integer-exact (`div`, never
    # `/` — Spark's / is double division and loses exactness past 2^53)
    # the prefix frame self-joins below: a self-join of a derived frame
    # replans its whole upstream (explode + frequency exchange + rank
    # window) once PER SIDE with zero exchange reuse. The frame is the
    # rarest-(1-t) fraction of gram rows — smaller than toks — so one
    # lazy cut stores it once and both join sides stream off the RDD.
    prefix = cut(
        ranked.filter(
            F.col("__r")
            <= F.col("__n")
            - F.expr(f"(__n * {tn} + 999999) div 1000000")
            + 1
        )
        .select("__id", "__s")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.__s") == F.col("b.__s"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
        .distinct()
    )
    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("long")
    union = F.size(F.array_union("__sh_a", "__sh_b")).cast("long")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumns({"__i": inter, "__u": union})
        .filter(F.col("__i") * 1_000_000 >= F.lit(tn) * F.col("__u"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("__i").cast("double") / F.col("__u").cast("double"), 6
            ).alias("jaccard"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003): per document, the DISTINCT set of selected k-gram
    hashes → (``id_col``, fp). The sampled counterpart of
    ``passage_overlap_pairs``: instead of keeping EVERY k-token span
    hash, each sliding window of ``window`` consecutive gram hashes
    keeps only its minimum, shrinking the fingerprint set ~2/(window+1)×
    while GUARANTEEING any shared run of >= window+k-1 tokens still
    shares a fingerprint (the winnowing correctness theorem) — the
    storage/shuffle reduction that makes substring-level dedup viable
    when all-spans indexing is too heavy.

    Mechanics: gram hashes are the md5-derived ``stable_hash64`` of the
    space-joined k-token slice — engine-portable, so the DuckDB oracle
    recomputes identical fingerprints (parity is hash-exact). Grams are
    built from EXPLODED token rows via ``lead()`` + ``concat_ws`` and
    the window minima via one ordered ROWS frame over the same
    (id, pos) sort — both run COMPILED in one WindowExec (round 15:
    the previous in-array ``transform`` forms evaluated interpreted at
    ~µs/gram, 2x the whole kernel's cost at sf0.1; row-identical
    output verified by exceptAll both ways). Minima keep full-window
    start positions only; documents with fewer than ``window`` grams
    (but >= 1) contribute their single global-min gram so short docs
    are not silently unfingerprinted. Set semantics: positions drop,
    duplicates collapse via distinct. One keyed exchange (per-doc
    sort), gram rows 16 bytes wide regardless of k.
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        word_tokens(F.col(text_col)).alias("__toks"),
    ).filter(F.size("__toks") >= k)
    toks = base.select(
        "__id",
        (F.size("__toks") - k + 1).alias("__ng"),
        F.posexplode("__toks").alias("__pos", "__tok"),
    )
    wlead = Window.partitionBy("__id").orderBy("__pos")
    gram = F.concat_ws(
        " ",
        F.col("__tok"),
        *[F.lead("__tok", j).over(wlead) for j in range(1, k)],
    )
    grams = toks.select(
        "__id", "__ng", "__pos", stable_hash64(gram).alias("__h")
    ).filter(F.col("__pos") < F.col("__ng"))
    wmin = (
        Window.partitionBy("__id")
        .orderBy("__pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    last_start = F.greatest(F.lit(0), F.col("__ng") - window)
    return (
        grams.withColumn("__m", F.min("__h").over(wmin))
        .filter(F.col("__pos") <= last_start)
        .select(F.col("__id").alias(id_col), F.col("__m").alias("fp"))
        .distinct()
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    max_docs_per_fp: int = 16,
) -> DataFrame:
    """Document pairs sharing winnowed fingerprints → (id_a, id_b,
    n_fp_a, n_fp_b, n_shared, overlap) where overlap = n_shared /
    min(n_fp_a, n_fp_b) (6 dp, the only float). The MOSS-style
    plagiarism/boilerplate detector over ``winnow_fingerprints``:
    detection is guaranteed for shared token runs >= window+k-1, and
    candidates are ``bucket_pairs`` on the fingerprint — buckets above
    ``max_docs_per_fp`` are boilerplate and drop whole (quadratic-
    emission guard, mirrored in the oracle).
    """
    fps = winnow_fingerprints(
        df, id_col, text_col=text_col, k=k, window=window
    )
    counted = fps.withColumn(
        "__nfp", F.count("*").over(Window.partitionBy(id_col))
    )
    shared = (
        bucket_pairs(counted, ["fp"], [id_col, "__nfp"], max_docs_per_fp)
        .groupBy(
            F.col(f"{id_col}_a").alias("id_a"),
            F.col(f"{id_col}_b").alias("id_b"),
        )
        .agg(
            F.first("__nfp_a").alias("n_fp_a"),
            F.first("__nfp_b").alias("n_fp_b"),
            F.count("*").alias("n_shared"),
        )
    )
    return shared.select(
        "id_a",
        "id_b",
        F.col("n_fp_a").cast("long").alias("n_fp_a"),
        F.col("n_fp_b").cast("long").alias("n_fp_b"),
        F.col("n_shared").cast("long").alias("n_shared"),
        F.round(
            F.col("n_shared").cast("double")
            / F.least("n_fp_a", "n_fp_b").cast("double"),
            6,
        ).alias("overlap"),
    )


def split_leakage_audit(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    splits: dict[str, float] | None = None,
    k: int = 5,
    window: int = 4,
    max_docs_per_fp: int | None = None,
    max_docs_per_hash: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Train/eval contamination audit: how many EXACT-duplicate and
    winnowed NEAR-duplicate document pairs land on each (split, split)
    cell of a leakage-safe ``group_split`` assignment — the check that
    catches eval inflation BEFORE a model trains (decontam removes
    known benchmarks; this measures self-contamination across the
    pipeline's own split). Cross-split rows (split_a ≠ split_b) are the
    leakage; the diagonal is in-split redundancy for context.

    Exact pairs bucket on the full-text md5 (cap ``max_docs_per_hash``
    — boilerplate guard, same discipline as every pair tier); near
    pairs come from ``winnow_overlap_pairs`` (detection guaranteed at
    >= window+k-1 shared tokens). Exact duplicates are near-duplicates
    too, so n_near >= n_exact cell-wise whenever both fire — but ONLY
    when the caps are aligned: a near cap tighter than the exact cap
    drops 17..max_docs_per_hash-sized duplicate floods from the near
    count while the exact count keeps them, inverting the invariant.
    ``max_docs_per_fp`` therefore defaults to ``max_docs_per_hash``;
    callers passing a tighter near cap (boilerplate-heavy corpora)
    accept the cell-wise invariant only holding below the cap. Split
    labels join back by id, pairs normalize to (min, max) split name
    order, and the two counters full-outer-merge so a cell firing on
    one signal only still reports. Output: (split_a, split_b, cross,
    n_exact_pairs, n_near_pairs), ordered. Engine addition; no
    reference counterpart.
    """
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        group_split,
    )

    splits = splits or {"train": 0.8, "val": 0.1, "test": 0.1}
    if max_docs_per_fp is None:
        max_docs_per_fp = max_docs_per_hash
    base = df.select(F.col(id_col).alias("__id"), F.col(text_col))
    # the split-assignment frame labels BOTH endpoints of BOTH pair
    # tiers (4 consumers via labeled() below) — without a cut each
    # consumer replans the scan + hash-assignment subtree (r15 static
    # plan: 6 source scans). The frame is 2 narrow columns per doc;
    # one lazy cut stores it once inside the output job.
    assigned = cut(
        group_split(base, "__id", splits, seed=seed)
        .select("__id", F.col("split").alias("__split"))
    )
    hashed = base.filter(F.col(text_col).isNotNull()).select(
        "__id", F.md5(F.col(text_col)).alias("__h")
    )
    ex_pairs = _id_pairs(
        bucket_pairs(hashed, ["__h"], "__id", max_docs_per_hash)
    ).distinct()
    near_pairs = winnow_overlap_pairs(
        df,
        id_col,
        text_col=text_col,
        k=k,
        window=window,
        max_docs_per_fp=max_docs_per_fp,
    ).select(F.col("id_a"), F.col("id_b"))

    def labeled(pairs: DataFrame, out: str) -> DataFrame:
        sa = assigned.select(
            F.col("__id").alias("id_a"), F.col("__split").alias("__sa")
        )
        sb = assigned.select(
            F.col("__id").alias("id_b"), F.col("__split").alias("__sb")
        )
        return (
            pairs.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                F.least("__sa", "__sb").alias("split_a"),
                F.greatest("__sa", "__sb").alias("split_b"),
            )
            .groupBy("split_a", "split_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias(out))
        )

    ex_cnt = labeled(ex_pairs, "n_exact_pairs")
    near_cnt = labeled(near_pairs, "n_near_pairs")
    merged = ex_cnt.join(near_cnt, ["split_a", "split_b"], "full_outer")
    return merged.select(
        "split_a",
        "split_b",
        (F.col("split_a") != F.col("split_b")).alias("cross"),
        F.coalesce("n_exact_pairs", F.lit(0)).cast("bigint").alias(
            "n_exact_pairs"
        ),
        F.coalesce("n_near_pairs", F.lit(0)).cast("bigint").alias(
            "n_near_pairs"
        ),
    ).orderBy("split_a", "split_b")


def dedup_weights(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Duplication-aware sampling weights: ``weight_ppm =
    round(1e6 / family_size)`` where family_size is the document's
    EXACT-duplicate family cardinality (md5 text groups) — the
    count-once alternative to dropping duplicates (downweighting keeps
    the corpus' natural content distribution while removing the
    repeated-gradient bias; the soft form of ``dedup_exact``'s hard
    survivor pick, and the natural input to ``mixture_sample``'s
    weighted draw).

    One md5-keyed count window over one 16-byte-digest exchange — no
    pair expansion, no second scan. NULL-text rows are excluded (they
    carry no content to weight). Output: (id, family_size, weight_ppm);
    Σ weight_ppm / 1e6 ≈ the deduplicated corpus size by construction.
    """
    w = Window.partitionBy(F.md5(F.col(text_col)))
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.count(F.lit(1)).over(w).cast("bigint").alias("family_size"),
        )
        .select(
            id_col,
            "family_size",
            F.round(F.lit(1e6) / F.col("family_size").cast("double"), 0)
            .cast("bigint")
            .alias("weight_ppm"),
        )
    )


def dedup_normalized(
    df: DataFrame, id_col: str, text_col: str, unicode: bool = False
) -> DataFrame:
    """Normalized-exact duplicate groups — the tier BETWEEN byte-exact
    md5 dedup and MinHash near-dup: case-fold, strip ASCII punctuation,
    collapse whitespace, THEN hash. Catches the re-encoded/re-wrapped
    copies that byte-exact misses (trailing whitespace, smart-quote
    stripping, case-only edits) without any pair expansion — still one
    16-byte-digest groupBy.

    Default normalization is deliberately ASCII-conservative (lower +
    ASCII punctuation class + whitespace collapse, all SQL-replayable
    builtins): aggressive Unicode folding (NFKC, diacritics) belongs to
    a locale-aware pass and silently merging 'résumé'/'resume' is a
    curation DECISION, not a default. ``unicode=True`` opts into that
    decision for multilingual corpora (the norm at 100 TB): after
    Unicode lower(), fold Latin-1/Latin-Extended-A diacritics to ASCII
    base letters, smart quotes / en-em dashes to their ASCII forms, and
    NBSP-family spaces to plain space (functions.text.unicode_fold —
    one translate + three replaces, all JVM builtins with byte-exact
    DuckDB twins), so 'Résumé', 'resume' and the NBSP-wrapped copy land
    in one family. Documented limits: 1:1 map over the western-European
    ranges plus ß/æ/œ; CJK/Cyrillic/Greek pass through unfolded (no ICU
    in either engine — cross-script folding stays a locale-aware
    downstream pass). Output: one row per normalized family with >= 2
    members — (norm_hash, n_docs, rep_id = min id, n_exact_distinct =
    distinct RAW md5s inside the family; a family with
    n_exact_distinct > 1 is exactly the mass byte-exact dedup missed),
    ordered by norm_hash.
    """
    from calp_cva_tracking_pipeline_spark.functions.text import (
        ASCII_PUNCT_CLASS,
        unicode_fold,
    )

    lowered = F.lower(F.col(text_col))
    if unicode:
        lowered = unicode_fold(lowered)
    norm = F.regexp_replace(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(lowered, ASCII_PUNCT_CLASS, ""),
                "\\s+",
                " ",
            )
        ),
        "\\s+",
        " ",
    )
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.md5(norm).alias("norm_hash"),
        F.md5(F.col(text_col)).alias("__raw"),
    )
    return (
        base.groupBy("norm_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("__id").alias("rep_id"),
            F.countDistinct("__raw").cast("bigint").alias(
                "n_exact_distinct"
            ),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("norm_hash")
    )


def duplicate_run_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    max_docs_per_gram: int = 64,
    max_grams_per_doc: int | None = 8192,
) -> DataFrame:
    """Cross-document duplicate-RUN spans — the ACTIONABLE form of
    exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better": remove repeated substrings, not
    whole near-dup documents): every token position covered by a
    k-gram that ALSO appears in at least one other document, merged
    into maximal per-document runs. Downstream span-removal consumes
    (doc, span_start, span_end) directly; ``winnow_overlap_pairs``
    answers WHO overlaps, this answers WHERE to cut.

    Scale shape (round-14 rework — VERDICT r13 ask #4): tokens
    materialize once (the interpreted-HOF discipline); per-doc gram
    emission is CAPPED at ``max_grams_per_doc`` starts (a pathological
    multi-megabyte doc no longer fans out unboundedly — the dd_winnow
    / boilerplate-tier bounded-emission discipline; spans past the cap
    go unaudited by contract, and the SQL twin mirrors the cap). The
    gram table (id, i, h) is exploded + md5-hashed ONCE, exchanged
    ONCE on the gram hash, and lineage-cut — the previous shape
    consumed the gram frame twice (distinct-doc count + position
    join-back), and Spark replans a derived frame per consumer, so the
    explode + per-gram md5 ran twice over two full-gram exchanges
    (the dedup.minhash self-join lesson). On the h-partitioned cut
    both the cross-doc count (grams in more than ``max_docs_per_gram``
    docs drop as boilerplate — the standard cap, they'd dominate every
    span) and the join-back are exchange-free. Runs then merge with
    the gaps-and-islands window over ONE doc-keyed exchange (gram
    starts within k of each other overlap or touch, so they fuse).
    Same-doc-only repeats do NOT mark (repetition is T11's job; this
    is cross-document contamination). Output: (doc_id, span_start,
    span_end — 1-based inclusive token indexes — n_grams), ordered.
    Docs shorter than k tokens carry no grams by contract.
    """
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            word_tokens(F.col(text_col)).alias("__toks"),
        )
        .filter(F.size("__toks") >= k)
    )
    h60 = (
        "CAST(conv(substring(md5(array_join("
        f"slice(__toks, __i + 1, {k}), ' ')), 1, 15), 16, 10) AS BIGINT)"
    )
    last_start = F.size("__toks") - k
    if max_grams_per_doc is not None:
        last_start = F.least(last_start, F.lit(max_grams_per_doc - 1))
    grams = toks.select(
        "__id",
        "__toks",
        F.explode(F.sequence(F.lit(0), last_start)).alias("__i"),
    ).select("__id", "__i", F.expr(h60).alias("__h"))
    grams = cut(grams.repartition(F.col("__h")))
    dup = (
        grams.groupBy("__h")
        .agg(F.countDistinct("__id").alias("__nd"))
        .filter(
            (F.col("__nd") >= 2) & (F.col("__nd") <= max_docs_per_gram)
        )
        .select("__h")
    )
    pos = grams.join(dup, "__h").select("__id", "__i")
    w = Window.partitionBy("__id").orderBy("__i")
    isl = (
        pos.withColumn("__prev", F.lag("__i").over(w))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull()
                | (F.col("__i") - F.col("__prev") > k),
                1,
            ).otherwise(0),
        )
        .withColumn("__island", F.sum("__new").over(w))
    )
    return (
        isl.groupBy(F.col("__id").alias(id_col), "__island")
        .agg(
            (F.min("__i") + 1).cast("bigint").alias("span_start"),
            (F.max("__i") + k).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        )
        .select(id_col, "span_start", "span_end", "n_grams")
        .orderBy(id_col, "span_start")
    )


def ngram_coverage(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Eval-set n-gram coverage by a training corpus -- the audit
    BETWEEN decontamination and novelty: decontam (T12) finds and
    removes matches, this QUANTIFIES how much of each eval document's
    k-gram surface the corpus already covers (high coverage means the
    benchmark measures memorization, not generalization -- the
    standard pretrain-eval hygiene number). Per eval doc: total
    k-grams, k-grams present anywhere in the corpus, coverage ppm.

    Scale shape: corpus grams collapse to ONE distinct 60-bit hash set
    (map-side combined -- the big side never carries positions); eval
    grams (small side by contract) left-semi-count against it via one
    hash equi-join. Same md5-derived gram hash as T180, so the two
    audits compose. Docs shorter than k tokens report zero grams
    (coverage NULL, not 0 -- nothing to cover is not full coverage).
    Output: (id, n_grams, n_covered, coverage_ppm), ordered.
    """
    def grams(df: DataFrame) -> DataFrame:
        toks = (
            df.filter(F.col(text_col).isNotNull())
            .select(
                F.col(id_col).alias("__id"),
                word_tokens(F.col(text_col)).alias("__toks"),
            )
            .filter(F.size("__toks") >= k)
        )
        h60 = (
            "CAST(conv(substring(md5(array_join("
            f"slice(__toks, __i + 1, {k}), ' ')), 1, 15), 16, 10)"
            " AS BIGINT)"
        )
        return toks.select(
            "__id",
            "__toks",
            F.explode(
                F.sequence(F.lit(0), F.size("__toks") - k)
            ).alias("__i"),
        ).select("__id", F.expr(h60).alias("__h"))

    cg = grams(corpus).select("__h").distinct()
    eg = grams(eval_df)
    per_doc = eg.groupBy("__id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    hits = (
        eg.join(cg, "__h", "left_semi")
        .groupBy("__id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_covered"))
    )
    return (
        per_doc.join(hits, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_grams",
            F.coalesce("n_covered", F.lit(0))
            .cast("bigint")
            .alias("n_covered"),
            F.expr(
                "CAST(1000000 * coalesce(n_covered, 0) div n_grams"
                " AS BIGINT)"
            ).alias("coverage_ppm"),
        )
        .orderBy(id_col)
    )


def lsh_recall_eval(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_eval_id: int,
    threshold_micro: int = 500_000,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    max_bucket_docs: int | None = 64,
) -> DataFrame:
    """MinHash+LSH candidate RECALL against exact ground truth — the
    dedup sibling of ann_recall_eval: the banding parameters
    (num_hashes, bands) fix a probabilistic S-curve, and this measures
    what they actually deliver on YOUR corpus before a release trusts
    the near-dup census. On a BOUNDED eval slice (``id < max_eval_id``
    — a driver constant, so the all-pairs ground truth is plan-time
    bounded, the eval-operator contract shared with ann_recall_eval):
    exact k-gram Jaccard over all rep pairs (exact dups pre-collapsed
    to min-id reps, the same collapse the candidate path applies — a
    recall denominator the candidates can actually reach), truth =
    pairs ≥ ``threshold_micro`` (floor micro-units, empty-shingle pairs
    score 0), candidates = ``minhash_lsh_candidates`` on the same
    slice with the same parameters.

    Output ONE row: (n_docs, n_true_pairs, n_cand_pairs, n_hit,
    recall_ppm, precision_ppm) — integer-exact, NULL ppm when its
    denominator is zero (never a divide-by-zero, never a silent 100%).
    Every corner is a 1-row global aggregate cross-joined together, so
    the row shape survives empty inputs on both engines.
    """
    sl = df.filter(
        (F.col(id_col) < max_eval_id) & F.col(text_col).isNotNull()
    ).select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    # r15: reps feeds both pair sides and the doc count, truth feeds
    # the hit join and its own count, cand likewise — un-cut, the
    # shingle projection, the all-pairs Jaccard and the full LSH
    # candidate pipeline each re-executed per consumer (14 fact scans
    # in the executed plan, 5.4s at sf0.1). One lazy cut per shared
    # frame; all three are bounded by the eval-slice contract.
    reps = cut(
        sl.groupBy(F.md5("__t").alias("__dig"), "__t")
        .agg(F.min("__id").alias("__id"))
        .select(
            "__id", shingles(F.col("__t"), k=k, distinct=True).alias("__sh")
        )
    )
    a = reps.select(
        F.col("__id").alias("id_a"), F.col("__sh").alias("__sha")
    )
    b = reps.select(
        F.col("__id").alias("id_b"), F.col("__sh").alias("__shb")
    )
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    uni = (
        F.size("__sha") + F.size("__shb")
        - F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    )
    truth = cut(
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.when(uni > 0, F.expr("CAST(1000000 AS BIGINT)") * inter)
            .otherwise(F.lit(0))
            .alias("__num"),
            F.when(uni > 0, uni).otherwise(F.lit(1)).alias("__den"),
        )
        .filter(
            F.expr("__num div __den") >= F.lit(int(threshold_micro))
        )
        .select("id_a", "id_b")
    )
    cand = cut(minhash_lsh_candidates(
        df.filter(F.col(id_col) < max_eval_id),
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        k=k,
        pre_collapse_exact=True,
        max_bucket_docs=max_bucket_docs,
    ).select("id_a", "id_b"))
    hit = truth.join(cand, ["id_a", "id_b"])
    n_docs = reps.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    n_true = truth.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true_pairs")
    )
    n_cand = cand.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cand_pairs")
    )
    n_hit = hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    return (
        n_docs.crossJoin(n_true)
        .crossJoin(n_cand)
        .crossJoin(n_hit)
        .select(
            "n_docs",
            "n_true_pairs",
            "n_cand_pairs",
            "n_hit",
            F.when(
                F.col("n_true_pairs") > 0,
                F.expr(
                    "CAST(1000000 * n_hit div n_true_pairs AS BIGINT)"
                ),
            ).alias("recall_ppm"),
            F.when(
                F.col("n_cand_pairs") > 0,
                F.expr(
                    "CAST(1000000 * n_hit div n_cand_pairs AS BIGINT)"
                ),
            ).alias("precision_ppm"),
        )
    )


def embedding_decontam(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Train/eval contamination audit in EMBEDDING space: for every eval
    vector, the single most-similar training vector and whether it
    crosses ``threshold`` cosine — the semantic sibling of the n-gram
    ``decontaminate`` pass (paraphrased leakage survives token-level
    screens; cosine against the training corpus catches it). Reports the
    evidence (nearest id + cosine), not just a verdict, so flagged rows
    are auditable.

    Scale design: the eval suite is bounded by contract (benchmarks are
    thousands of rows, the corpus is billions), so the eval side is
    BROADCAST and the training corpus is scanned exactly once, never
    shuffled. The per-eval argmax folds as a partial ``max(struct(
    cosine, -train_id))`` aggregate — map-side combine reduces each
    partition to |eval| rows, so the exchange carries |eval| ×
    n_partitions rows, not |train| × |eval|. Ties break to the LOWEST
    train id (the struct max sees the negated id). Cosines are rounded
    to 6 dp before comparison so the DuckDB oracle reproduces the argmax
    exactly.
    """
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        dot,
        norm,
    )

    # norms fold once per eval row / train row instead of once per
    # (train x eval) pair (the r12 knn_graph pattern; bit-identical:
    # cosine = dot/(ne*nt) is the same IEEE expression — identical
    # sqrt folds, unchanged multiplication order)
    ev = eval_df.select(
        F.col(id_col).alias("eval_id"), F.col(vec_col).alias("__evec")
    ).withColumn("__enrm", norm(F.col("__evec")))
    tr = train.select(
        F.col(id_col).alias("__tid"), F.col(vec_col).alias("__tvec")
    ).withColumn("__tnrm", norm(F.col("__tvec")))
    scored = tr.crossJoin(F.broadcast(ev)).select(
        "eval_id",
        F.struct(
            F.round(
                dot(F.col("__evec"), F.col("__tvec"))
                / (F.col("__enrm") * F.col("__tnrm")),
                6,
            ).alias("cosine"),
            (-F.col("__tid")).alias("neg_id"),
        ).alias("__best"),
    )
    return (
        scored.groupBy("eval_id")
        .agg(F.max("__best").alias("b"))
        .select(
            "eval_id",
            (-F.col("b.neg_id")).alias("train_id"),
            F.col("b.cosine").alias("cosine"),
            (F.col("b.cosine") >= F.lit(threshold)).alias("contaminated"),
        )
        .orderBy("eval_id")
    )


BLOOM_K_HASHES = 3


def bloom_prescreen(
    history: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    k_hashes: int = BLOOM_K_HASHES,
) -> DataFrame:
    """Bloom-filter novelty prescreen audit: size a Bloom filter to the
    HISTORY digest set (m = 2^bitlen(8·n) bits — ~3–6% target fp at
    k=3), push the INCOMING batch through it, and measure what the
    cheap screen would have done against exact membership — bloom hits,
    true duplicates, FALSE POSITIVES and the realized fp ppm. This is
    the go/no-go audit for the standard 100 TB dedup fast path (a
    broadcast bit-array screens out provably-novel documents before the
    expensive digest join touches state): the fp rate is measured on
    YOUR corpus, not assumed from the textbook formula. Digest-level
    (md5 of raw text): duplicate rows collapse first on both sides.

    Engine-exact by construction: bit positions are md5-derived stable
    hashes of ``digest || ':' || i`` mod m, m derives from the history
    count by integer bit-length (both engines render bin() identically
    — no libm log2 at pow2 edges), and membership is exact relational
    algebra over the position set. Scale shape: the bit set is ≤ m rows
    (filter metadata, not corpus), built by one distinct over k·n
    positions; the incoming probe joins on position (bounded by m) and
    the exact check is one digest semi-join — nothing quadratic.
    Output: one row (n_history, n_incoming, m_bits, n_bits_set,
    fill_ppm, bloom_hits, exact_dups, false_positives, fp_ppm — fp over
    the truly-novel incoming population).
    """
    # the two digest frames feed 4 resp. 3 consumers each (bit build,
    # membership count, exact semi-join, fp anti-join / probe, exact,
    # incoming count) — without cuts every consumer replans the
    # corpus scan + md5 + distinct exchange (r15 static plan: 20
    # source scans for ONE audit row). Lazy cuts store each digest set
    # once (16-byte rows); the downstream frames are m-bounded filter
    # metadata chaining off the cut RDDs.
    h = cut(
        history.filter(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col)).alias("__dig"))
        .distinct()
    )
    inc = cut(
        incoming.filter(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col)).alias("__dig"))
        .distinct()
    )
    m = h.agg(F.count("*").alias("n_history")).select(
        "n_history",
        F.expr(
            "CAST(shiftleft(CAST(1 AS BIGINT),"
            " length(bin(8 * n_history))) AS BIGINT)"
        ).alias("m_bits"),
    )

    def positions(df):
        out = df.crossJoin(F.broadcast(m))
        pos = [
            F.expr(
                f"pmod(CAST(conv(substring(md5(concat(__dig, ':{i}')),"
                f" 1, 15), 16, 10) AS BIGINT), m_bits)"
            ).alias(f"__p{i}")
            for i in range(k_hashes)
        ]
        return out.select(
            "__dig",
            F.explode(F.array(*pos)).alias("__pos"),
        )

    # bits feeds the probe semi-join AND the fill census; probe feeds
    # the hit count AND the fp anti-join — each replan re-runs a k·n
    # position explode + distinct off the digest RDDs. Both outputs
    # are m-bounded (bit positions / hit digests): cut once.
    bits = cut(positions(h).select("__pos").distinct())
    probe = cut(
        positions(inc)
        .join(bits, "__pos", "left_semi")
        .groupBy("__dig")
        .agg(F.count("*").alias("__nhit"))
        .filter(F.col("__nhit") >= k_hashes)
        .select("__dig")
    )
    exact = inc.join(h, "__dig", "left_semi")
    fp = probe.join(h, "__dig", "left_anti")
    stats = (
        m.crossJoin(
            F.broadcast(
                inc.agg(F.count("*").cast("bigint").alias("n_incoming"))
            )
        )
        .crossJoin(
            F.broadcast(
                bits.agg(
                    F.count("*").cast("bigint").alias("n_bits_set")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                probe.agg(
                    F.count("*").cast("bigint").alias("bloom_hits")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                exact.agg(
                    F.count("*").cast("bigint").alias("exact_dups")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                fp.agg(
                    F.count("*").cast("bigint").alias("false_positives")
                )
            )
        )
    )
    return stats.select(
        F.col("n_history").cast("bigint"),
        "n_incoming",
        F.col("m_bits").cast("bigint"),
        "n_bits_set",
        F.expr(
            "CAST(1000000 * n_bits_set div m_bits AS BIGINT)"
        ).alias("fill_ppm"),
        "bloom_hits",
        "exact_dups",
        "false_positives",
        F.when(
            F.col("n_incoming") > F.col("exact_dups"),
            F.expr(
                "CAST(1000000 * false_positives"
                " div (n_incoming - exact_dups) AS BIGINT)"
            ),
        ).alias("fp_ppm"),
    )


def chunk_dedup_census(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    group_col: str = "source",
    chunk_tokens: int = 16,
) -> DataFrame:
    """Chunk-level duplication census — the RAG-prep readout document-
    level dedup misses: retrieval corpora chunk documents before
    embedding, and two distinct documents sharing a boilerplate chunk
    put IDENTICAL vectors in the index (wasted embedding spend,
    degraded retrieval diversity). Per group: chunk instances, chunk
    instances whose exact digest occurs more than once ANYWHERE in the
    corpus (global duplication — chrome is shared across sites), chunk
    instances whose digest spans ≥2 groups, and the dup mass in exact
    ppm. Chunks are NON-overlapping ``chunk_tokens`` windows (the
    dedup operating point: overlapping windows would make every
    neighbor pair a manufactured near-dup) via the same tokenizer as
    the chunking front end.

    Shape: one explode to chunk rows, ONE md5-digest-keyed exchange
    for the global (count, group-count) table window-attached back —
    never a self-join (the boilerplate_spans discipline), then one
    group aggregate. Output: (group, n_chunks, dup_chunks,
    cross_group_chunks, dup_ppm).
    """
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        chunk_documents,
    )

    chunks = chunk_documents(
        docs.filter(F.col(text_col).isNotNull()),
        id_col,
        text_col=text_col,
        max_tokens=chunk_tokens,
        overlap=0,
    )
    inst = chunks.join(
        docs.select(id_col, F.col(group_col).alias("__g")), id_col
    ).select("__g", F.md5(F.col("chunk_text")).alias("__dig"))
    wd = Window.partitionBy("__dig")
    flagged = inst.select(
        "__g",
        F.count("*").over(wd).alias("__n"),
        F.size(F.collect_set("__g").over(wd)).alias("__ng"),
    )
    return (
        flagged.groupBy(F.col("__g").alias(group_col))
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("__n") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("dup_chunks"),
            F.sum(F.when(F.col("__ng") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("cross_group_chunks"),
        )
        .withColumn(
            "dup_ppm",
            F.expr("CAST(1000000 * dup_chunks div n_chunks AS BIGINT)"),
        )
        .orderBy(group_col)
    )


def lsh_banding_tuner(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_eval_id: int,
    threshold_micro: int = 500_000,
    num_hashes: int = 16,
    band_configs: tuple[int, ...] = (2, 4, 8),
    k: int = 3,
    max_bucket_docs: int | None = 64,
) -> DataFrame:
    """MinHash banding-parameter sweep — the OPERATING CURVE behind the
    single point ``lsh_recall_eval`` measures: for each (bands,
    rows-per-band) split of the SAME ``num_hashes`` signature, the
    candidate volume, recall and precision against exact k-gram Jaccard
    ground truth on the bounded eval slice. More bands with shorter
    keys slides the S-curve left (higher recall, more candidates);
    this prints the actual trade so the census picks its banding from
    MEASUREMENT, not the textbook 1−(1−s^r)^b formula (whose iid
    assumption real shingle distributions violate). One row per
    config, ordered by bands.

    The ground-truth pair table is computed ONCE (exact-dup collapsed
    reps, broadcast all-pairs Jaccard — plan-time bounded by
    ``max_eval_id``, the shared eval-operator contract); each config
    re-runs only the banding + bucket join, which is the thing being
    measured. Output: (bands, rows_per_band, n_true_pairs,
    n_cand_pairs, n_hit, recall_ppm, precision_ppm), NULL ppm on empty
    denominators.
    """
    for b in band_configs:  # every config checked before any job runs
        _check_bands(num_hashes, b)
    sl = df.filter(
        (F.col(id_col) < max_eval_id) & F.col(text_col).isNotNull()
    ).select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    # r15: the docstring's "computed ONCE" contract is now enforced by
    # lazy cuts — un-cut, truth re-executed its broadcast all-pairs
    # Jaccard once per consumer (n_true + one hit join per config) and
    # each config's candidate pipeline ran twice (count + hit): 36
    # fact scans in the executed plan, 5.8s at sf0.1. All cut frames
    # are bounded by the eval-slice contract.
    reps = cut(
        sl.groupBy(F.md5("__t").alias("__dig"), "__t")
        .agg(F.min("__id").alias("__id"))
        .select(
            "__id", shingles(F.col("__t"), k=k, distinct=True).alias("__sh")
        )
    )
    a = reps.select(
        F.col("__id").alias("id_a"), F.col("__sh").alias("__sha")
    )
    b_ = reps.select(
        F.col("__id").alias("id_b"), F.col("__sh").alias("__shb")
    )
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    uni = (
        F.size("__sha") + F.size("__shb")
        - F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    )
    truth = cut(
        a.join(F.broadcast(b_), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.when(uni > 0, F.expr("CAST(1000000 AS BIGINT)") * inter)
            .otherwise(F.lit(0))
            .alias("__num"),
            F.when(uni > 0, uni).otherwise(F.lit(1)).alias("__den"),
        )
        .filter(
            F.expr("__num div __den") >= F.lit(int(threshold_micro))
        )
        .select("id_a", "id_b")
    )
    n_true = truth.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true_pairs")
    )
    out = None
    for bands in band_configs:
        cand = cut(minhash_lsh_candidates(
            df.filter(F.col(id_col) < max_eval_id),
            id_col,
            text_col,
            num_hashes=num_hashes,
            bands=bands,
            k=k,
            pre_collapse_exact=True,
            max_bucket_docs=max_bucket_docs,
        ).select("id_a", "id_b"))
        hit = truth.join(cand, ["id_a", "id_b"])
        row = (
            n_true.crossJoin(
                cand.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_cand_pairs")
                )
            )
            .crossJoin(
                hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
            )
            .select(
                F.lit(bands).cast("int").alias("bands"),
                F.lit(num_hashes // bands).cast("int").alias(
                    "rows_per_band"
                ),
                "n_true_pairs",
                "n_cand_pairs",
                "n_hit",
                F.when(
                    F.col("n_true_pairs") > 0,
                    F.expr(
                        "CAST(1000000 * n_hit div n_true_pairs"
                        " AS BIGINT)"
                    ),
                ).alias("recall_ppm"),
                F.when(
                    F.col("n_cand_pairs") > 0,
                    F.expr(
                        "CAST(1000000 * n_hit div n_cand_pairs"
                        " AS BIGINT)"
                    ),
                ).alias("precision_ppm"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("bands")


def semdedup_incremental(
    batch: DataFrame,
    members: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """INCREMENTAL SemDeDup — the embedding-space sibling of
    ``dedup_incremental``/``near_dup_incremental`` that completes the
    incremental family: a new ingest batch is screened against the
    PERSISTED admitted-member store (``members``: (cell, id, vec),
    bucketed by cell at rest) without ever re-scoring the store against
    itself. Verdicts per batch row:

    - ``store_dup``: some same-cell store member matches at
      round(cosine, 6) ≥ threshold — the row duplicates content the
      corpus already admitted;
    - ``batch_dup``: not a store dup, but a SMALLER-ID same-cell batch
      peer matches — ``semantic_dedup``'s EXISTS discipline (one hop,
      no transitive closure: the peer's own fate does not re-qualify
      the row — the documented divergence bound shared with the
      band-store resident);
    - ``admitted``: neither — append (cell, id, vec) to the store.

    Scale shape: ONE broadcast-centroid assignment of the batch (the
    IVF map-side argmin; the store is NEVER re-assigned), one
    cell-keyed join batch×store and one batch×batch — both bounded by
    the SemDeDup Σcell² contract under the auto_n_centroids cell-
    sizing rule, with norms folded once per row, never per pair.
    Output: (id, cell, verdict), ordered by id. Engine addition; no
    reference counterpart.
    """
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        assign_cells,
        dot,
        norm,
    )

    # the assigned-batch frame feeds FOUR consumers (store probe, both
    # sides of the batch self-join, and the final verdict join) — a
    # self-join of a derived frame replans the centroid-crossJoin argmin
    # assignment per consumer with zero exchange reuse (the documented
    # emb_knn_graph/dd_semantic cell-assignment lesson, 4ff56e2; this
    # r15-wave operator had missed the cut — static plan read 31 source
    # scans). One lazy cut stores the assigned batch once.
    b = cut(
        assign_cells(
            batch.select(
                F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
            ),
            centroids,
            "__id",
            "__vec",
        )
        .select(
            "__id", "__vec", "__cell", norm(F.col("__vec")).alias("__nrm")
        )
    )
    m = members.select(
        F.col("cell").alias("__mcell"),
        F.col("id").alias("__mid"),
        F.col("vec").alias("__mvec"),
    ).withColumn("__mnrm", norm(F.col("__mvec")))
    cos_ms = F.round(
        dot(F.col("__vec"), F.col("__mvec"))
        / (F.col("__nrm") * F.col("__mnrm")),
        6,
    )
    store_dropped = (
        b.join(m, F.col("__cell") == F.col("__mcell"))
        .filter(cos_ms >= threshold)
        .select(F.col("__id").alias("__sd"))
        .distinct()
    )
    l, r = b.alias("l"), b.alias("r")
    cos_bb = F.round(
        dot(F.col("l.__vec"), F.col("r.__vec"))
        / (F.col("l.__nrm") * F.col("r.__nrm")),
        6,
    )
    batch_dropped = (
        l.join(
            r,
            (F.col("l.__cell") == F.col("r.__cell"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .filter(cos_bb >= threshold)
        .select(F.col("r.__id").alias("__bd"))
        .distinct()
    )
    return (
        b.join(store_dropped, F.col("__id") == F.col("__sd"), "left")
        .join(batch_dropped, F.col("__id") == F.col("__bd"), "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("__cell").cast("long").alias("cell"),
            F.when(F.col("__sd").isNotNull(), F.lit("store_dup"))
            .when(F.col("__bd").isNotNull(), F.lit("batch_dup"))
            .otherwise(F.lit("admitted"))
            .alias("verdict"),
        )
        .orderBy(id_col)
    )
