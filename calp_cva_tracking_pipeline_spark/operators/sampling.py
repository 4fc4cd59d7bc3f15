"""Training-data sampling utilities (SURVEY.md §2.11 M2-adjacent).

The reference's classifier training job (offline, out of engine scope)
dedups text, stratifies an 80/20 split with a fixed seed, and weights the
loss by inverse class frequency
(classifier_code/train_flow_classifier_weighted.py:103-148). The engine owns
the data-preparation half of that: deterministic stratified splits and class
weights computed as DataFrame aggregates, so a 100 TB corpus is split and
weighted without leaving the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.functions.hashing import stable_hash64
from calp_cva_tracking_pipeline_spark.session import cut


def stratified_split(
    df: DataFrame,
    label_col: str,
    train_fraction: float = 0.8,
    seed: int = 42,
    id_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic per-label train/test split → (train, test).

    Hash-based rather than ``sampleBy``: a row's assignment depends only on
    (label, key, seed) via ``xxhash64``, never on partitioning or scan
    order — re-runs and re-partitions reproduce the identical split, which
    sampleBy's per-partition RNG does not guarantee when the input's
    partitioning changes. Stratification is in-expectation per label (the
    hash is uniform within each label's rows), the same guarantee as the
    reference's sklearn stratify at 80/20.
    """
    key = F.col(id_col) if id_col else F.xxhash64(*df.columns)
    bucket = F.pmod(
        F.xxhash64(F.col(label_col), key.cast("string"), F.lit(seed)),
        F.lit(10_000),
    )
    is_train = bucket < int(train_fraction * 10_000)
    train = df.filter(is_train)
    test = df.filter(~is_train)
    return train, test


def class_weights(
    df: DataFrame, label_col: str
) -> DataFrame:
    """(label, n, weight) with weight = total / n — the inverse-frequency
    class weighting of the reference trainer
    (classifier_code/train_flow_classifier_weighted.py:139-148). One
    aggregation pass; broadcast the result into the training job.

    Fully lazy: the total rides in as a broadcast cross join of the
    per-label counts re-aggregated (a handful of rows), not an eager
    ``df.count()`` — composing this into a larger plan triggers no
    driver-side action."""
    counts = df.groupBy(label_col).agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn(
            "weight", F.col("__total").cast("double") / F.col("n")
        )
        .drop("__total")
    )


def classification_metrics(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """Per-class evaluation of a prediction table → one row per class:
    (label, support, predicted, tp, precision, recall, f1).

    ONE scan, ONE shuffle: every row unpivots to an 'actual' record
    (class = label, carrying the match flag) and a 'predicted' record
    (class = pred), and a single ``groupBy(class)`` derives support /
    predicted / tp with map-side partial aggregation — the exploded rows
    collapse to at most 2·classes entries per partition before the
    exchange. (The tempting alternative — a (label, pred) confusion
    matrix re-aggregated per side and self-joined — references its
    upstream twice, and Spark plans that as TWO full input scans with no
    exchange reuse; the same trap minhash_lsh_candidates documents for
    self-joins.) A class never predicted keeps null precision, a class
    never seen keeps null recall, and f1 is null unless both are defined
    and their sum positive — ANSI-safe, no division by zero. Covers the
    metric block of the reference trainer
    (classifier_code/train_flow_classifier_weighted.py:155-159:
    accuracy/F1/precision/recall) as a cluster job over 100 TB of
    predictions; overall accuracy is the one-liner
    ``sum(tp) / sum(support)`` over this output.
    """
    rec = F.explode(
        F.array(
            F.struct(
                F.lit("a").alias("role"),
                F.col(label_col).alias("class"),
                (F.col(pred_col) == F.col(label_col)).alias("match"),
            ),
            F.struct(
                F.lit("p").alias("role"),
                F.col(pred_col).alias("class"),
                F.lit(False).alias("match"),
            ),
        )
    )
    agg = (
        df.select(rec.alias("__r"))
        .select("__r.role", "__r.class", "__r.match")
        .groupBy(F.col("class").alias("label"))
        .agg(
            F.count(F.when(F.col("role") == "a", 1)).alias("support"),
            F.count(F.when(F.col("role") == "p", 1)).alias("predicted"),
            F.count(
                F.when((F.col("role") == "a") & F.col("match"), 1)
            ).alias("tp"),
        )
    )
    precision = F.when(
        F.col("predicted") > 0, F.col("tp") / F.col("predicted")
    )
    recall = F.when(F.col("support") > 0, F.col("tp") / F.col("support"))
    agg = agg.withColumns({"precision": precision, "recall": recall})
    return agg.withColumn(
        "f1",
        F.when(
            F.col("precision").isNotNull()
            & F.col("recall").isNotNull()
            & (F.col("precision") + F.col("recall") > 0),
            2 * F.col("precision") * F.col("recall")
            / (F.col("precision") + F.col("recall")),
        ),
    )


def sample_per_key(
    df: DataFrame,
    key_col: str,
    n: int,
    seed: int = 42,
    id_col: str | None = None,
    portable: bool = False,
) -> DataFrame:
    """At most ``n`` rows per key, chosen by a seeded hash — the
    distributed, deterministic replacement for per-group reservoir
    sampling (balance a source- or language-skewed corpus, cap a
    dominant class before training).

    Each row's rank depends only on (key, row identity, seed): window
    row_number over the hash order, so the SAME rows survive under any
    partitioning or re-run, and a different seed redraws the sample.
    One keyed exchange + per-group sort; per-group state is O(1) (the
    running rank), so a 100 TB key group streams — no reservoir buffer.
    Ties on the hash (hash collisions) break by the hash input column,
    keeping the order total and the result partition-independent.

    PRECONDITION for partition-independence: ``id_col`` values must be
    unique per key (or, with ``id_col=None``, duplicate FULL rows are the
    only repeats). Two DISTINCT rows sharing an id get identical
    (hash, tie-break) ordering keys, so row_number picks an arbitrary
    survivor that can change across partitionings — dedup the id or pass
    ``id_col=None`` (whole-row hash) when ids can repeat.

    ``portable=True`` swaps the xxhash64 draw for the md5-derived
    ``stable_hash64`` over a ``key|id|seed`` serialization — slower per
    row but reproducible by ANY engine with md5 (the mx_strata_sample
    oracle verifies the sample row-for-row in DuckDB).
    """
    if n <= 0:
        raise ValueError(f"n must be positive: {n}")
    from pyspark.sql import Window

    key = F.col(id_col) if id_col else F.xxhash64(*df.columns)
    if portable:
        # md5-derived ordering hash with a documented SQL twin
        # (functions.hashing.stable_hash64) so an external engine can
        # reproduce — and an oracle can verify — the exact sample.
        # '|'-joined serialization: keys/ids containing '|' could
        # collide serializations; fine for numeric/categorical keys.
        from calp_cva_tracking_pipeline_spark.functions.hashing import (
            stable_hash64,
        )

        h = stable_hash64(
            F.concat_ws(
                "|",
                F.col(key_col).cast("string"),
                key.cast("string"),
                F.lit(str(seed)),
            )
        )
    else:
        h = F.xxhash64(
            F.col(key_col).cast("string"),
            key.cast("string"),
            F.lit(seed),
        )
    w = Window.partitionBy(key_col).orderBy(
        h, key.cast("string")
    )
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= n)
        .drop("__rank")
    )


def mixture_sample(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    id_col: str,
    seed: int = 42,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic data-mixture sampling: keep each key's rows at its
    target fraction — the "data recipe" step that turns raw source
    proportions into a training mixture (upweight curated sources,
    cap crawl).

    Membership is a pure function of (id, seed): keep iff
    ``stable_hash64(id || ':' || seed) % 1e6 < fraction * 1e6`` — so the
    sample is reproducible under any partitioning/re-run, monotone in the
    fraction (raising 0.2 → 0.3 only ADDS rows — incremental recipe
    changes don't resample the corpus), and engine-portable: the
    md5-derived hash has an exact DuckDB twin, so the sample is
    oracle-verifiable row-for-row (catalog ``mx_mixture``), unlike
    RNG-based ``sample()`` whose draw depends on partition layout.

    Keys absent from ``fractions`` keep ``default_fraction`` (0.0 = drop
    unlisted sources, 1.0 = pass through). Fractions are exact in
    expectation over the hash's uniformity; for million-row sources the
    realized fraction is within ~0.1% of target.

    Scale shape: one narrow filter projection — no shuffle, no state;
    the when-chain over sources compiles into the scan filter.
    """
    for k, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction out of [0,1] for {k!r}: {f}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"default_fraction out of [0,1]: {default_fraction}")
    frac = F.lit(default_fraction)
    for k, f in fractions.items():
        frac = F.when(F.col(key_col) == k, F.lit(f)).otherwise(frac)
    bucket = stable_hash64(
        F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))
    ) % F.lit(1_000_000)
    return df.filter(bucket < (frac * 1_000_000).cast("long"))


def temperature_weights(
    df: DataFrame,
    key_col: str,
    tau: float = 0.5,
) -> DataFrame:
    """Temperature-based mixture reweighting (the multilingual-training
    standard, XLM-R/mT5 style): per-key corpus shares p_k = n_k/N are
    flattened to q_k ∝ p_k^τ, and ``sample_weight`` = q_k/p_k is the
    per-row multiplier that realizes the new mixture → (key, n_docs,
    share, temp_share, sample_weight). τ=1 keeps natural proportions,
    τ=0 is uniform over keys; head sources get weights < 1, tail
    sources > 1. Feed the weights to ``mixture_sample`` fractions or a
    loss-weighting column.

    Determinism: p_k is one exact-integer division; p_k^τ (libm pow)
    rounds to 9 dp then scales to integer parts-per-billion, so the
    normalizing sum is an ORDER-EXACT integer sum cross-engine; the
    final shares/weights are single double divisions rounded to 6 dp.

    Scale shape: one map-side-combined count per key (key-cardinality
    output), one scalar total, and a key-cardinality normalization —
    nothing corpus-sized past the first aggregation.
    """
    counts = df.groupBy(key_col).agg(F.count("*").alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("__N"))
    p = F.col("n_docs") / F.col("__N")
    t_ppb = F.round(
        F.round(F.pow(p, F.lit(float(tau))), 9) * 1e9, 0
    ).cast("long")
    with_t = counts.crossJoin(F.broadcast(total)).withColumn(
        "__t", t_ppb
    )
    denom = with_t.agg(F.sum("__t").alias("__D"))
    q = F.col("__t") / F.col("__D")
    return (
        with_t.crossJoin(F.broadcast(denom))
        .select(
            key_col,
            "n_docs",
            F.round(p, 6).alias("share"),
            F.round(q, 6).alias("temp_share"),
            F.round(q / p, 6).alias("sample_weight"),
        )
    )


def curriculum_order(
    df: DataFrame,
    id_col: str,
    difficulty_col: str,
    n_bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Curriculum sort keys: ``(… , band int, draw long)`` — band = which
    of ``n_bands`` exact difficulty quantile-bands the row falls in
    (0 = easiest), draw = seeded portable hash of the id. Ordering the
    corpus by ``(band, draw, id)`` yields the standard curriculum-training
    layout: difficulty bands in sequence, rows deterministically shuffled
    WITHIN a band (Bengio et al. 2009's staged curriculum; the shuffle
    keeps within-stage batches i.i.d.). A different seed reshuffles every
    band without moving rows across bands; descending ``band`` gives the
    anti-curriculum (hard-first) variant.

    Deliberately emits SORT KEYS, not a global rank column: a global
    row_number is a single-partition window (the 100 TB-killer the
    percentile kernel's docstring rules out), while orderBy on the keys
    is a range exchange — the same total-order discipline as
    plans.corpus.deterministic_shuffle, which this composes with (band
    becomes the leading key). Band boundaries are EXACT corpus quantiles
    via the two-phase histogram (operators.profiling.exact_percentiles),
    broadcast as one row; ties sit in the lower band via strict > on
    both engines. The draw is the md5-derived ``stable_hash64(id:seed)``
    — the same portable-draw discipline as ``mixture_sample``, so the
    full ordering is reproducible row-for-row by any engine with md5.
    """
    if n_bands < 2:
        raise ValueError(f"n_bands must be >= 2: {n_bands}")
    from calp_cva_tracking_pipeline_spark.functions.hashing import (
        stable_hash64,
    )
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        exact_percentiles,
    )

    ps = [i / n_bands for i in range(1, n_bands)]
    qs = exact_percentiles(df, [difficulty_col], ps)
    b = qs.agg(
        *[
            F.min(F.when(F.col("p") == p, F.col("value"))).alias(f"__q{i}")
            for i, p in enumerate(ps)
        ]
    )
    band = sum(
        (F.col(difficulty_col) > F.col(f"__q{i}")).cast("int")
        for i in range(len(ps))
    )
    draw = stable_hash64(
        F.concat_ws(
            ":", F.col(id_col).cast("string"), F.lit(str(seed))
        )
    )
    return df.crossJoin(F.broadcast(b)).select(
        *df.columns,
        band.alias("band"),
        draw.alias("draw"),
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 0,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–Spirakis
    A-ES one-pass reduction [IPL 2006]: each row draws a uniform u from
    the PORTABLE hash of (id, seed) and gets the key ln(u)/w — the top-k
    keys are exactly a weight-proportional without-replacement sample.
    Heavier rows pull keys toward 0, but every positive-weight row can
    win: the selection is a true probabilistic sample, not a top-k by
    weight (``temperature_weights`` + this = the standard corpus
    subsample recipe).

    Scale/determinism: one scan + TakeOrderedAndProject (per-partition
    top-k, tiny merge — no global sort, no full shuffle; same plan
    discipline as tx_vocab, pinned in tests/test_plan_shapes.py). The
    hash-derived u makes the draw deterministic, partition-independent,
    seed-redrawable, and bit-reproducible by the SQL oracle; the key is
    rounded to 9 dp with an id tie-break so cross-engine libm ln noise
    cannot reorder the cut. Rows with weight ≤ 0 or null never
    qualify. Returns (id, weight, draw_key) for the k winners.
    """
    u = (stable_hash64(
        F.concat(F.col(id_col).cast("string"), F.lit(f"#{seed}"))
    ) + F.lit(1)) / F.lit(float(1 << 60))
    w = F.col(weight_col).cast("double")
    key = F.round(F.log(u) / w, 9)
    return (
        df.filter(w > 0)
        .select(
            F.col(id_col),
            F.round(w, 9).alias("weight"),
            key.alias("draw_key"),
        )
        .orderBy(F.col("draw_key").desc(), F.col(id_col))
        .limit(k)
    )


def group_split(
    df: DataFrame,
    entity_col: str,
    splits: dict[str, float],
    seed: int = 42,
) -> DataFrame:
    """Leakage-safe train/validation/test assignment: the split is a
    pure function of the ENTITY (user, document source, session), never
    the row — every row of an entity lands in the same split, so no
    entity's data straddles train and eval. This is the group-aware
    split every dedup-aware training pipeline needs: row-level random
    splits leak near-duplicate rows of one entity across the boundary
    and inflate eval scores.

    ``splits`` maps name → fraction (must sum to 1). The entity's
    portable draw ``stable_hash64(entity || ':' || seed) % 1e6`` is cut
    against the cumulative fraction boundaries, so assignment is
    reproducible under any partitioning, engine-portable (exact SQL
    twin), and STABLE UNDER RESIZING in the holdout direction: growing
    the first-listed split only moves entities forward across one
    boundary, it never reshuffles entities between untouched splits.

    Scale shape: one narrow projection — no shuffle, no state, no
    entity table materialized; the assignment column computes inside
    the scan's codegen stage.
    """
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    bucket = stable_hash64(
        F.concat(F.col(entity_col).cast("string"), F.lit(f":{seed}"))
    ) % F.lit(1_000_000)
    assign = None
    acc = 0.0
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name]
        hi = int(round(acc * 1_000_000))
        assign = (
            F.when(bucket < hi, F.lit(name))
            if assign is None
            else assign.when(bucket < hi, F.lit(name))
        )
    assign = (
        assign.otherwise(F.lit(names[-1]))
        if assign is not None
        else F.lit(names[-1])
    )
    return df.withColumn("split", assign)


def quota_cap(
    df: DataFrame,
    group_col: str,
    order_cols,
    n_per_group: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Per-group quota sampling: keep the best ``n_per_group`` rows of
    every group under a caller-supplied total order — the C4-style
    per-domain cap (no single host may dominate the corpus) and the
    general "top-N per key" curation primitive.

    The rank predicate sits directly on a row_number window, which the
    optimizer executes as WindowGroupLimit: a partial top-N runs BELOW
    the group exchange, so a mega-group (one spam domain with 10⁸ pages)
    ships ``n_per_group`` rows per upstream partition, never its whole
    population — the same bounded-group discipline as posting lists and
    session paths. The order must be total (include a unique id) or the
    cut is partition-order-dependent.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= n_per_group)
    )


def interleave_sources(
    df: DataFrame,
    source_col: str,
    id_col: str,
    sources: list[str],
) -> DataFrame:
    """Deterministic round-robin training order across sources — the
    fair-interleave layout a mixture recipe wants AFTER sampling picked
    WHAT to train on: consecutive positions cycle through the declared
    ``sources`` so no contiguous stretch is single-source (the
    batch-homogeneity failure mode of sorting by source), without any
    global sort.

    Every row gets position = rank_within_source · |sources| + lane,
    where rank is the portable-hash shuffle order WITHIN its source
    (stable_hash64 of the id — same portable draw as shuffle_corpus)
    and lane is the source's index in ``sources``. Positions are unique
    by construction and computable with ONE source-keyed window — the
    global interleaved order exists WITHOUT a global exchange, because
    position is a pure function of (lane, within-source rank); a sink
    that wants physical order sorts by it per output partition
    (sortWithinPartitions after range-partitioning on position).
    Sources exhaust independently (unequal sizes leave holes in the
    position sequence, preserving relative cadence — by design: a
    dense renumbering would need the global sort this avoids).

    Rows whose source is not in ``sources`` are dropped (declare every
    lane explicitly — silent lanes would shift every position).

    Output: input columns + ``position`` (bigint). Engine addition.
    """
    from calp_cva_tracking_pipeline_spark.functions.hashing import (
        stable_hash64,
    )

    lane = None
    for i, s in enumerate(sources):
        c = F.when(F.col(source_col) == s, F.lit(i))
        lane = c if lane is None else lane.when(
            F.col(source_col) == s, F.lit(i)
        )
    w = Window.partitionBy(source_col).orderBy(
        stable_hash64(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__lane", lane)
        .filter(F.col("__lane").isNotNull())
        .withColumn(
            "position",
            (
                (F.row_number().over(w) - F.lit(1))
                * F.lit(len(sources))
                + F.col("__lane")
            ).cast("bigint"),
        )
        .drop("__lane")
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    id_col: str,
    n_target: int,
    seed: int = 42,
) -> DataFrame:
    """Variance-optimal (Neyman) stratified sampling readout: allocate a
    total budget of ``n_target`` rows across strata proportionally to
    N_h·S_h — high-variance strata get MORE than their population share,
    which minimizes the variance of the stratified mean estimator at
    fixed budget (the textbook improvement over proportional
    allocation) — then draw each stratum deterministically at its
    allocated rate with the portable md5 hash (replayable, partition-
    independent, engine-portable).

    Exactness: per-stratum N and whole-unit integer moment sums give
    S_h in a fixed double expression order; the allocation share and
    the per-stratum sampling rate pin to PPM integers before the draw
    predicate (hash % 1e6 < rate_ppm), so the sampled set is a pure
    function of (id, seed, data). Rates clamp to 1e6 (a stratum whose
    allocation exceeds its size is taken whole). Physical shape: one
    moment pass (stratum-cardinality exchange), rates broadcast back,
    one filter scan, one realized-sample aggregate. Output per stratum:
    (N, sd, alloc_ppm_of_budget, rate_ppm, n_sampled, mean_sampled),
    6 dp, ordered. Engine addition; no reference counterpart.
    """
    enc = df.filter(
        F.col(value_col).isNotNull() & F.col(stratum_col).isNotNull()
    ).select(
        F.col(stratum_col).alias("__st"),
        F.col(id_col).cast("string").alias("__id"),
        F.round(F.col(value_col).cast("double")).cast("bigint").alias(
            "__x"
        ),
    )
    mom = enc.groupBy("__st").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__x").cast("bigint").alias("__s1"),
        F.sum(F.col("__x") * F.col("__x")).cast("bigint").alias("__s2"),
    )
    nD = F.col("__n").cast("double")
    var_ = F.when(
        F.col("__n") > 1,
        (
            nD * F.col("__s2").cast("double")
            - F.col("__s1").cast("double") * F.col("__s1").cast("double")
        )
        / (nD * (nD - 1.0)),
    ).otherwise(F.lit(0.0))
    stats = mom.select(
        "__st", "__n", F.sqrt(var_).alias("__sd")
    ).withColumn("__ns", nD * F.col("__sd"))
    # allocation shares pin to PPM off the total N·S mass (one
    # unpartitioned window over the stratum-cardinality frame)
    tot_w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    alloc = stats.select(
        "__st",
        "__n",
        "__sd",
        F.when(
            F.sum("__ns").over(tot_w) > 0,
            F.round(
                F.col("__ns") / F.sum("__ns").over(tot_w) * F.lit(1e6)
            ).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("alloc_ppm"),
    ).withColumn(
        "rate_ppm",
        F.least(
            F.lit(1_000_000).cast("bigint"),
            F.round(
                F.lit(float(n_target))
                * F.col("alloc_ppm").cast("double")
                / F.lit(1e6)
                / F.col("__n").cast("double")
                * F.lit(1e6)
            ).cast("bigint"),
        ),
    )
    # no broadcast hint: rates are stratum-cardinality and strata can
    # scale with data; AQE broadcasts when it fits.
    drawn = enc.join(alloc.select("__st", "rate_ppm"), "__st")
    sampled = drawn.filter(
        stable_hash64(
            F.concat(F.col("__id"), F.lit(f"|ney{seed}"))
        )
        % 1_000_000
        < F.col("rate_ppm")
    ).groupBy("__st").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum("__x").cast("bigint").alias("__ssum"),
    )
    return (
        alloc.join(sampled, "__st", "left")
        .select(
            F.col("__st").alias(stratum_col),
            F.col("__n").alias("N"),
            F.round("__sd", 6).alias("sd"),
            "alloc_ppm",
            "rate_ppm",
            F.coalesce("n_sampled", F.lit(0)).cast("bigint").alias(
                "n_sampled"
            ),
            F.when(
                F.col("n_sampled") > 0,
                F.round(
                    F.col("__ssum").cast("double")
                    / F.col("n_sampled").cast("double"),
                    6,
                ),
            ).alias("mean_sampled"),
        )
        .orderBy(stratum_col)
    )


def shard_shuffle(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    seed: int = 42,
) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training-data
    export: every training job wants its corpus (a) split into a fixed
    number of shard files and (b) read back in an order uncorrelated
    with ingest order (curriculum-free runs assume IID batches; a
    source-sorted corpus gives each early epoch a distribution skew).
    Randomized-but-reproducible comes from the portable draw ``h =
    stable_hash64(id || ':' || seed)``: shard = h % n_shards, position
    within the shard = rank by (h, id) — the exact write order a
    sharded export produces and a training loader replays. Changing
    ``seed`` redraws the permutation; any engine with md5 reproduces
    it bit-for-bit (exact SQL twin).

    Output: (id, shard, pos), pos 0-based within shard. Scale shape:
    one narrow projection for the draw (inside the scan's codegen
    stage) + ONE shard-keyed exchange carrying (id, h) pairs for the
    rank window — the same shuffle the physical shard write itself
    needs, so the assignment costs nothing extra at export time. The
    (h, id) order key is total (ids are unique), so positions are
    partition-order-independent.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1: {n_shards}")
    h = stable_hash64(
        F.concat(
            F.col(id_col).cast("string"), F.lit(":"), F.lit(str(seed))
        )
    )
    drawn = df.select(
        F.col(id_col),
        h.alias("__h"),
        (h % F.lit(n_shards)).cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("__h"), F.col(id_col)
    )
    return drawn.select(
        id_col,
        "shard",
        (F.row_number().over(w) - 1).cast("bigint").alias("pos"),
    )


def time_split(
    df: DataFrame,
    ts_col: str,
    boundaries_ppm: tuple[int, int] = (700000, 850000),
    embargo_s: int = 86400,
) -> DataFrame:
    """Leakage-safe TEMPORAL train/val/test split with purge gaps — the
    time-axis sibling of ``group_split``: entity hashing stops entity
    leakage, but models with lagged features / delayed labels also leak
    ACROSS TIME at a split boundary (a label computed from the day
    after the train cut peeks into val). The standard remedy (purged
    splits, Lopez de Prado 2018) drops an ``embargo_s`` horizon after
    each boundary.

    Cut instants are the exact interpolated ppm-quantiles of the time
    axis via the two-phase histogram kernel (``exact_percentiles`` —
    driver-bounded, no row-sized global sort); rows at most
    ``embargo_s`` after a cut land in the audit bucket 'embargo'
    rather than silently vanishing. Output: (split, n_rows, min_ts,
    max_ts) for train / embargo / val / test, ordered by split —
    the audit readout a pipeline gates on before export (per-row
    assignment is the same CASE projection, exact SQL twin).
    """
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        exact_percentiles,
    )

    lo_ppm, hi_ppm = boundaries_ppm
    if not (0 < lo_ppm < hi_ppm < 1_000_000):
        # unordered boundaries would assign splits silently wrong
        raise ValueError(
            f"boundaries_ppm must satisfy 0 < lo < hi < 1e6: "
            f"{boundaries_ppm}"
        )
    micros = df.select(
        F.unix_micros(F.col(ts_col)).cast("double").alias("__t")
    )
    cut_rows = exact_percentiles(
        micros, ["__t"], [lo_ppm / 1e6, hi_ppm / 1e6], round_to=6
    ).collect()
    spark = df.sparkSession
    schema = (
        "split string, n_rows bigint, min_ts timestamp, max_ts timestamp"
    )
    cuts = {round(r["p"] * 1e6): r["value"] for r in cut_rows}
    if (
        not cut_rows
        or cuts.get(lo_ppm) is None
        or cuts.get(hi_ppm) is None
    ):
        # an all-NULL time axis yields NULL quantile cuts — return the
        # empty audit frame, same as the zero-row input
        return spark.createDataFrame([], schema)
    c1, c2 = float(cuts[lo_ppm]), float(cuts[hi_ppm])
    e = float(embargo_s) * 1e6
    t = F.unix_micros(F.col(ts_col)).cast("double")
    split = (
        F.when(t <= F.lit(c1), F.lit("train"))
        .when(t <= F.lit(c1 + e), F.lit("embargo"))
        .when(t <= F.lit(c2), F.lit("val"))
        .when(t <= F.lit(c2 + e), F.lit("embargo"))
        .otherwise(F.lit("test"))
    )
    return (
        df.filter(F.col(ts_col).isNotNull())
        .select(split.alias("split"), F.col(ts_col).alias("__ts"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("__ts").alias("min_ts"),
            F.max("__ts").alias("max_ts"),
        )
        .orderBy("split")
    )


def token_budget_select(
    df: DataFrame,
    id_col: str,
    group_col: str,
    tokens_col: Column,
    order_col: Column,
    budget: int,
) -> DataFrame:
    """Budgeted quota fill: within each group, rank documents by
    (``order_col`` desc, id asc) and keep the prefix whose CUMULATIVE
    token count fits ``budget`` — the "fill each domain's token quota
    with its best documents" step of a training-data recipe (the
    mixture weights say how many tokens each domain gets; this says
    WHICH documents supply them). The running total is monotone along
    the rank order, so `cum <= budget` is a true prefix and the
    selection is deterministic under any partitioning (the rank order
    is total).

    One group-keyed exchange: rank + running-sum windows share it, the
    group-cardinality readout aggregates it. Output per group:
    (group, n_docs, n_kept, tokens_total, tokens_kept, fill_ppm =
    1e6 · tokens_kept / budget), ordered by group.
    """
    w = Window.partitionBy("__grp").orderBy(
        F.col("__ord").desc(), F.col("__id").asc()
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(group_col).alias("__grp"),
        tokens_col.cast("long").alias("__tok"),
        order_col.alias("__ord"),
    ).filter(F.col("__tok").isNotNull() & F.col("__grp").isNotNull())
    cum = base.withColumn("__cum", F.sum("__tok").over(w))
    keep = F.col("__cum") <= budget
    return (
        cum.groupBy(F.col("__grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(keep.cast("long")).cast("bigint").alias("n_kept"),
            F.sum("__tok").cast("bigint").alias("tokens_total"),
            F.coalesce(
                F.sum(F.when(keep, F.col("__tok"))), F.lit(0)
            ).cast("bigint").alias("tokens_kept"),
            F.round(
                F.coalesce(F.sum(F.when(keep, F.col("__tok"))), F.lit(0))
                .cast("double")
                * 1e6
                / F.lit(float(budget)),
                0,
            ).cast("bigint").alias("fill_ppm"),
        )
        .orderBy(group_col)
    )


def epoch_plan(
    df: DataFrame,
    group_col: str,
    tokens_col: Column,
    weights: dict[str, float],
    budget_tokens: int,
    max_epochs_milli: int = 10000,
) -> DataFrame:
    """Per-source epoch plan for a token-budget mixture — the last
    planning step of a data recipe: the mixture ``weights`` say what
    fraction of ``budget_tokens`` each source supplies; this reports
    how many PASSES over each source that implies (epochs =
    budget·weight / source_tokens) and caps it at
    ``max_epochs_milli``/1000 passes (repeating a tiny source dozens of
    times memorizes it — the D4/Muennighoff repeated-epochs ceiling),
    surfacing the token shortfall the cap leaves unfilled.

    Epochs are integer MILLI-passes (floor), so the plan — and the
    shortfall arithmetic — is engine-exact. Output per source:
    (group, source_tokens, target_tokens, epochs_milli, capped,
    shortfall_tokens), ordered. Sources absent from ``weights`` get
    weight 0 (reported, zero target); weights need not sum to 1 (the
    caller's mixture normalization is their policy).

    One group-cardinality aggregation + a literal weight map — no
    joins, no driver actions.
    """
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive: {budget_tokens}")
    w_expr = F.lit(0.0)
    for k in sorted(weights):
        w_expr = F.when(
            F.col(group_col) == k, F.lit(float(weights[k]))
        ).otherwise(w_expr)
    agg = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.coalesce(F.sum(tokens_col.cast("long")), F.lit(0))
            .cast("bigint")
            .alias("source_tokens")
        )
    )
    target = F.round(w_expr * budget_tokens, 0).cast("bigint")
    t = agg.select(
        group_col,
        "source_tokens",
        target.alias("target_tokens"),
    )
    # both products in DECIMAL(38,0) with exact integral `div`: a
    # bigint target_tokens × 1000 (or epochs_milli × a web-scale
    # source_tokens) overflows int64 long before the divide, while the
    # 24-digit decimal products fit with room to spare and `div` on
    # decimals is exact floor for non-negative operands. The final
    # values (epochs ≤ cap, shortfall ≤ target_tokens) fit bigint.
    raw_milli = F.when(
        F.col("source_tokens") > 0,
        F.expr(
            "CAST((CAST(target_tokens AS DECIMAL(38, 0)) * 1000)"
            " div source_tokens AS BIGINT)"
        ),
    ).otherwise(F.lit(0))
    epochs = F.least(raw_milli, F.lit(max_epochs_milli))
    supplied = F.expr(
        "(CAST(epochs_milli AS DECIMAL(38, 0)) * source_tokens)"
        " div 1000"
    )
    return (
        t.select(
            group_col,
            "source_tokens",
            "target_tokens",
            epochs.alias("epochs_milli"),
        )
        .select(
            "*",
            (F.col("epochs_milli") == max_epochs_milli).alias("capped"),
            F.greatest(
                F.col("target_tokens") - supplied, F.lit(0)
            ).cast("bigint").alias("shortfall_tokens"),
        )
        .orderBy(group_col)
    )


def mixture_reweight(
    df: DataFrame,
    group_col: str,
    target_ppm: dict[str, int],
    clamp_max_milli: int = 8000,
) -> DataFrame:
    """Importance multipliers correcting an EMPIRICAL mixture toward a
    TARGET one (the DoReMi-style mixture-correction step a sampler
    consumes): per group, weight = target_share / empirical_share in
    integer MILLI-units with exact decimal division, clamped at
    ``clamp_max_milli`` (an over-boosted tiny domain repeats into
    memorization -- the epoch_plan ceiling discipline, surfaced by the
    ``clamped`` flag). Groups absent from ``target_ppm`` get target 0
    (weight 0 = drop); target shares need not sum to 1e6 (the caller's
    normalization is their policy).

    One group-cardinality aggregation + a one-row broadcast total; the
    weight arithmetic runs in DECIMAL(38,0) (target_ppm x total
    overflows int64 for web-scale corpora). Output per group:
    (group, n_rows, emp_ppm, target_ppm, weight_milli, clamped),
    ordered.
    """
    t_expr = F.lit(0)
    for k in sorted(target_ppm):
        t_expr = F.when(
            F.col(group_col) == k, F.lit(int(target_ppm[k]))
        ).otherwise(t_expr)
    emp = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    total = emp.agg(F.sum("n_rows").cast("bigint").alias("__tot"))
    raw = F.expr(
        "CAST((CAST(target_ppm AS DECIMAL(38, 0)) * __tot)"
        " div (CAST(1000 AS BIGINT) * n_rows) AS BIGINT)"
    )
    return (
        emp.crossJoin(F.broadcast(total))
        .select(
            group_col,
            "n_rows",
            F.expr("CAST(1000000 * n_rows div __tot AS BIGINT)").alias(
                "emp_ppm"
            ),
            t_expr.cast("bigint").alias("target_ppm"),
            "__tot",
        )
        .select(
            group_col,
            "n_rows",
            "emp_ppm",
            "target_ppm",
            F.least(raw, F.lit(int(clamp_max_milli)))
            .cast("bigint")
            .alias("weight_milli"),
            (raw > clamp_max_milli).alias("clamped"),
        )
        .orderBy(group_col)
    )


def split_balance_audit(
    df: DataFrame,
    split_col: str,
    label_col: str,
) -> DataFrame:
    """Stratification audit of a train/val/test split: per (split,
    label) cell, the label's share WITHIN the split vs its share in the
    whole population, and the delta — both in exact integer ppm. A
    group-hashed split (group_split) is leakage-safe but NOT
    stratification-safe: a label concentrated in few entities can land
    lopsided, and every eval metric computed on the skewed slice
    silently shifts. This is the post-split gate that catches it
    (chi2_independence says IF the split correlates with labels; this
    says WHICH label is over/under-represented WHERE).

    NULL labels are a real category (the psi/chi2 NULL discipline) —
    they group under the sentinel label '<NULL>'; NULL splits drop by
    contract (no split = not in the release). ONE (split, label) cell
    aggregation (map-side combined; shuffle = cells), split and global
    totals derived from the cells and broadcast back. Output: (split,
    label, n, split_ppm, global_ppm, delta_ppm), ordered.
    """
    # the cell frame is (splits × labels)-bounded and consumed FOUR
    # times (itself + split/label/grand totals) — checkpoint-cut so the
    # row-scaled aggregation underneath runs once (the dd_cluster_pick
    # bounded-frame discipline; un-cut this plan re-scans the input 4×)
    cells = cut(
        df.filter(F.col(split_col).isNotNull())
        .select(
            F.col(split_col).alias("split"),
            F.coalesce(
                F.col(label_col).cast("string"), F.lit("<NULL>")
            ).alias("label"),
        )
        .groupBy("split", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n")),
        eager=True,
    )
    split_tot = cells.groupBy("split").agg(
        F.sum("n").cast("bigint").alias("__st")
    )
    label_tot = cells.groupBy("label").agg(
        F.sum("n").cast("bigint").alias("__lt")
    )
    grand = cells.agg(F.sum("n").cast("bigint").alias("__g"))
    return (
        cells.join(F.broadcast(split_tot), "split")
        .join(F.broadcast(label_tot), "label")
        .crossJoin(F.broadcast(grand))
        .select(
            "split",
            "label",
            "n",
            # ppm products in DECIMAL(38,0): 1e6·n overflows int64 past
            # ~9e12 rows (the epoch-plan overflow lesson)
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n div __st"
                " AS BIGINT)"
            ).alias("split_ppm"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * __lt div __g"
                " AS BIGINT)"
            ).alias("global_ppm"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n div __st"
                " - CAST(1000000 AS DECIMAL(38,0)) * __lt div __g"
                " AS BIGINT)"
            ).alias("delta_ppm"),
        )
        .orderBy("split", "label")
    )


def contrastive_triplets(
    df: DataFrame, id_col: str, label_col: str
) -> DataFrame:
    """Deterministic (anchor, positive, negative) triplet sampling from
    a labeled corpus — the data plane of metric/contrastive training
    (triplet loss, SimCSE-style supervised pairs): every labeled row
    anchors one triplet whose positive shares its label and whose
    negative provably does not. Fully deterministic (no RNG): the
    positive is the label's NEXT member in id order (cyclic, so every
    member of a ≥2 label participates); the negative label is the next
    label in label order (cyclic), and the negative is that label's
    member at the anchor's ordinal position modulo the label's size —
    a fixed bijective-ish assignment both engines reproduce exactly.
    Single-member labels emit no triplet (no in-label positive exists);
    single-label corpora emit nothing (no negative label exists);
    NULL labels are excluded by contract.

    Scale shape: two label-keyed window passes (position + cyclic
    lead), a broadcast label index (distinct labels are schema-scale),
    and ONE (label, position)-keyed equi-join for the negatives — no
    similarity computation, no pair explosion: exactly one output row
    per anchor.
    """
    base = df.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("label"),
    )
    w = Window.partitionBy("label").orderBy("anchor_id")
    wall = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    m = base.select(
        "anchor_id",
        "label",
        (F.row_number().over(w) - 1).alias("pos"),
        F.coalesce(
            F.lead("anchor_id", 1).over(w),
            F.first("anchor_id").over(wall),
        ).alias("positive_id"),
        F.count("*").over(wall).alias("sz"),
    )
    lw = Window.orderBy("label")
    lwall = lw.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # cyclic next-label map; the filter empties it on single-label
    # corpora (labels are distinct, so self-pairs only arise there)
    nxt = (
        base.select("label")
        .distinct()
        .select(
            "label",
            F.coalesce(
                F.lead("label", 1).over(lw),
                F.first("label").over(lwall),
            ).alias("neg_label"),
        )
        .filter(F.col("neg_label") != F.col("label"))
    )
    anchors = m.filter(F.col("sz") >= 2).join(F.broadcast(nxt), "label")
    members = m.select(
        F.col("label").alias("neg_label"),
        F.col("pos").alias("neg_pos"),
        F.col("sz").alias("neg_sz"),
        F.col("anchor_id").alias("negative_id"),
    )
    return (
        anchors.join(
            members,
            (anchors["neg_label"] == members["neg_label"])
            & (members["neg_pos"]
               == anchors["pos"] % members["neg_sz"]),
        )
        .select(
            "anchor_id",
            "positive_id",
            "negative_id",
            "label",
            members["neg_label"].alias("negative_label"),
        )
        .orderBy("anchor_id")
    )


def waterfill_allocation(
    supply: DataFrame,
    key_col: str,
    supply_col: str,
    budget_ppm: int = 950_000,
) -> DataFrame:
    """Water-filling token-budget allocation: spread a total budget
    (``budget_ppm`` of the aggregate supply) across sources by raising
    one common water level — every source gets min(supply, level), so
    small sources are fully taken and large ones are truncated at the
    SAME ceiling (the max-min-fair allocation; a pro-rata split would
    starve small high-value sources, a uniform split wastes budget on
    sources that can't absorb it). Exact to the single token: the
    satisfied set is the maximal sorted prefix fundable at full supply
    (the water-filling condition s_j·(remaining sources) ≤ remaining
    budget is monotone along the (supply, key) sort, so the set IS a
    prefix), the level is an integer floor division of the remaining
    budget, and the remainder distributes +1 token to the first
    ``rem`` truncated sources in sort order. Σ alloc = budget exactly;
    both engines replay the arithmetic bit-for-bit.

    Scale shape: supply is a per-source aggregate (vocabulary-sized —
    one row per source, not per document), so the sort window and the
    two broadcast scalars (budget, cut index) are metadata-scale; the
    row-scale work is only whatever aggregation BUILT the supply table.
    NULL supplies are excluded by contract. Output: (key, supply,
    alloc, satisfied) with satisfied = alloc ≥ supply.
    """
    s = supply.filter(F.col(supply_col).isNotNull()).select(
        F.col(key_col).alias("__k"),
        F.col(supply_col).cast("bigint").alias("__s"),
    )
    w = Window.orderBy("__s", "__k")
    ranked = s.select(
        "__k",
        "__s",
        F.row_number().over(w).alias("__j"),
        F.sum("__s").over(w).alias("__pfx"),
    )
    totals = ranked.agg(
        F.count("*").cast("bigint").alias("__n"),
        F.max("__pfx").cast("bigint").alias("__total"),
    ).select(
        "__n",
        "__total",
        F.expr(
            f"CAST(__total * {int(budget_ppm)} div 1000000 AS BIGINT)"
        ).alias("__budget"),
    )
    flagged = ranked.crossJoin(F.broadcast(totals)).withColumn(
        "__fundable",
        F.expr(
            "__s * (__n - __j + 1) <= __budget - (__pfx - __s)"
        ),
    )
    cut = flagged.agg(
        F.max(F.when(F.col("__fundable"), F.col("__j")))
        .alias("__c"),
        F.max(
            F.when(F.col("__fundable"), F.col("__pfx"))
        ).alias("__pc"),
    ).select(
        F.coalesce("__c", F.lit(0)).cast("bigint").alias("__c"),
        F.coalesce("__pc", F.lit(0)).cast("bigint").alias("__pc"),
    )
    return (
        flagged.crossJoin(F.broadcast(cut))
        .select(
            F.col("__k").alias(key_col),
            F.col("__s").alias("supply"),
            F.when(F.col("__j") <= F.col("__c"), F.col("__s"))
            .otherwise(
                F.expr(
                    "CAST((__budget - __pc) div (__n - __c)"
                    " + (CASE WHEN __j - __c"
                    "      <= pmod(__budget - __pc, __n - __c)"
                    "      THEN 1 ELSE 0 END) AS BIGINT)"
                )
            )
            .alias("alloc"),
        )
        .withColumn("satisfied", F.col("alloc") >= F.col("supply"))
        .orderBy(key_col)
    )


def calibration_audit(
    df: DataFrame,
    conf_col: str,
    correct_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram table for classifier confidences — the
    calibration audit a training pipeline runs before TRUSTING model
    scores as routing thresholds (the reference routes flows to manual
    review on a confidence cut, reference classifier_code/
    flow_inference.py — a mis-calibrated cut silently shifts the
    review workload): per fixed confidence bin, the sample count, mean
    claimed confidence vs empirical accuracy (both integer ppm) and the
    absolute gap — ECE is the share-weighted gap sum, computable from
    these rows.

    Engine-exactness: confidences scale to integer ppm per row
    (round half-up, exact for milli-grained stub scores), so the
    per-bin mean is an integer floor division and the gap is integer
    subtraction — no float accumulation order anywhere. NULL
    confidences drop (unscored rows are a coverage question, not a
    calibration one). One bins-bounded aggregation; the share column's
    total comes from a window over ≤ n_bins rows. Output: (bin, n,
    share_ppm, mean_conf_ppm, acc_ppm, gap_ppm), ordered by bin.
    """
    return calibration_from_cells(
        calibration_cells(df, conf_col, correct_col, n_bins=n_bins)
    )


def calibration_cells(
    df: DataFrame,
    conf_col: str,
    correct_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Per-batch (bin, n, conf ppm sum, correct count) calibration cells
    — the map half of the streaming calibration resident. All three
    counters are plain integer sums under FIXED bin edges, so cells
    fold ADDITIVELY across micro-batches; foreachBatch ledger +
    ``calibration_from_cells`` ≡ the one-shot ``calibration_audit``
    (the psi/conversion-CI discipline, tests/test_streaming.py)."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2: {n_bins}")
    base = df.filter(F.col(conf_col).isNotNull()).select(
        F.least(
            F.floor(F.col(conf_col) * n_bins).cast("int"),
            F.lit(n_bins - 1),
        ).alias("bin"),
        F.round(F.col(conf_col) * 1_000_000, 0).cast("long").alias("__c"),
        F.col(correct_col).cast("int").alias("__ok"),
    )
    return base.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__c").cast("bigint").alias("sc"),
        F.coalesce(F.sum("__ok"), F.lit(0)).cast("bigint").alias("sok"),
    )


def calibration_from_cells(cells: DataFrame) -> DataFrame:
    """Reliability readout from a PRE-AGGREGATED (bin, n, sc, sok)
    ledger — the streaming-foldable half of ``calibration_audit``:
    re-collapse the append ledger by summation, then the integer-ppm
    means/accuracies/gaps (nonlinear in the counters, so the resident
    folds counters and recomputes the readout)."""
    cells = cells.groupBy("bin").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sc").cast("bigint").alias("__sc"),
        F.sum("sok").cast("bigint").alias("__sok"),
    )
    w_all = Window.partitionBy()
    return (
        cells.select(
            "bin",
            "n",
            F.expr("CAST(__sc div n AS BIGINT)").alias("mean_conf_ppm"),
            F.expr("CAST(1000000 * __sok div n AS BIGINT)").alias(
                "acc_ppm"
            ),
        )
        .withColumn("__tot", F.sum("n").over(w_all))
        .withColumn(
            "share_ppm",
            F.expr("CAST((1000000 * n) div __tot AS BIGINT)"),
        )
        .select(
            "bin",
            "n",
            "share_ppm",
            "mean_conf_ppm",
            "acc_ppm",
            F.abs(F.col("mean_conf_ppm") - F.col("acc_ppm")).alias(
                "gap_ppm"
            ),
        )
        .orderBy("bin")
    )


def kfold_assign(
    df: DataFrame, group_col: str, k: int, seed: int = 42
) -> DataFrame:
    """Append a leakage-safe ``fold`` column: every row of a group lands
    in the same fold (portable hash of the group key mod k — the
    cross-validation sibling of ``group_split``'s single train/test
    cut), deterministic across engines/partitionings, reshuffled by
    seed. NULL groups get a NULL fold (an unkeyed row cannot be
    leakage-assigned; callers decide)."""
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    h = stable_hash64(
        F.concat(
            F.lit(f"fold:{seed}:{k}:"),
            F.col(group_col).cast("string"),
        )
    )
    return df.withColumn("fold", (h % k).cast("int"))


def kfold_audit(
    df: DataFrame, group_col: str, k: int, seed: int = 42
) -> DataFrame:
    """Per-fold census of the k-fold assignment: (fold, n_groups,
    n_rows, rows_ppm) — the balance sheet that validates a CV plan
    before k training runs are paid for (a hash-degenerate or
    skew-grouped assignment shows up here as a lopsided rows_ppm, and
    group counts prove no group straddles folds by construction). One
    group-cardinality aggregation after the fold projection; the ppm
    denominator is a window over ≤ k+1 rows."""
    lab = kfold_assign(df, group_col, k, seed=seed)
    # the NULL group counts as ONE group (advisor r13: a bare
    # countDistinct ignores NULLs, so the NULL fold reported n_groups=0
    # beside nonzero n_rows — an untruthful balance sheet); chr(1) is
    # the sentinel on BOTH engines (DuckDB VARCHAR cannot hold NUL, so
    # the SQL twin uses chr(1) — a native chr(0) would alias a real
    # '\\x00' key differently across the twins; advisor r13)
    cells = lab.groupBy("fold").agg(
        F.countDistinct(
            F.coalesce(F.col(group_col).cast("string"), F.lit("\x01"))
        )
        .cast("bigint")
        .alias("n_groups"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    w_all = Window.partitionBy()
    return (
        cells.withColumn("__tot", F.sum("n_rows").over(w_all))
        .withColumn(
            "rows_ppm",
            F.expr("CAST((1000000 * n_rows) div __tot AS BIGINT)"),
        )
        .select("fold", "n_groups", "n_rows", "rows_ppm")
        .orderBy(F.asc_nulls_first("fold"))
    )


def uncertainty_sample(
    df: DataFrame,
    id_col: str,
    conf_col: str,
    class_col: str,
    per_class_k: int = 10,
) -> DataFrame:
    """Active-learning batch selection: per predicted class, the k rows
    the model is LEAST sure about (binary margin |conf − 0.5|,
    ascending) — the labeling queue that buys the most model
    improvement per annotation dollar, and the reference's
    manual-review routing (its CC4 cascade sends low-confidence flows
    to humans) generalized into a budgeted per-class queue so one
    high-volume class cannot monopolize the annotators.

    Engine-exactness: the margin scales to integer ppm per row (exact
    for milli-grained stub scores), ranks break ties on id, so the cut
    is deterministic cross-engine. One class-keyed rank window over
    rows that survive the NULL-confidence drop; output is
    classes·k-bounded. Output: (id, class, conf, uncertainty_ppm,
    rank), ordered by (class, rank).
    """
    if per_class_k < 1:
        raise ValueError(f"per_class_k must be >= 1: {per_class_k}")
    base = df.filter(F.col(conf_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(class_col).alias("class"),
        F.col(conf_col).alias("conf"),
        F.round(F.abs(F.col(conf_col) - 0.5) * 1_000_000, 0)
        .cast("bigint")
        .alias("uncertainty_ppm"),
    )
    w = Window.partitionBy("class").orderBy(
        F.col("uncertainty_ppm"), F.col("id")
    )
    return (
        base.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= per_class_k)
        .select("id", "class", "conf", "uncertainty_ppm", "rank")
        .orderBy("class", "rank")
    )
