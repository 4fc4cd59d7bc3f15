"""Join operators (SURVEY.md §2.4).

Every reference dimension is tiny (≤19k rows — BASELINE.md), so all
enrichment joins broadcast: the 100 TB fact side is never shuffled for a
dimension lookup. The fuzzy/substring matchers (J10/J11) — per-row loops in
the reference — become set-wise cross joins of two *small, pre-aggregated*
name lists, then deterministic window tie-breaks; the cross join is
broadcast-nested-loop over ≤ a few thousand names each side, never the fact
table.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.functions.text import regex_quote
from calp_cva_tracking_pipeline_spark.session import cut


def join_with_fallback(
    fact: DataFrame,
    dim: DataFrame,
    keys: list[str],
    fallback_dim: DataFrame,
    fallback_keys: list[str],
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """J4 — left join on full key; rows that miss fall back to a coarser
    dimension (reference: deflator by (iso3, year), else ISO=='DAC' by year —
    code/04_fts_curated_flows.R:117-118). Two broadcast joins + coalesce;
    the fact table is read once and never shuffled.
    """
    out_col = out_col or value_col
    primary = dim.select(
        *keys, F.col(value_col).alias("__primary")
    )
    fallback = fallback_dim.select(
        *fallback_keys, F.col(value_col).alias("__fallback")
    )
    return (
        fact.join(F.broadcast(primary), keys, "left")
        .join(F.broadcast(fallback), fallback_keys, "left")
        .withColumn(out_col, F.coalesce("__primary", "__fallback"))
        .drop("__primary", "__fallback")
    )


def fuzzy_name_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_rel_dist: float = 0.2,
    exclude_equal: bool = False,
) -> DataFrame:
    """J10 — nearest-name join under a relative Levenshtein threshold.

    For each left name: candidates are right names with
    edit_distance <= max(1, ceil(max_rel_dist * len(left)));
    the best (min distance, then lexicographic right name) wins.
    Reference semantics: code/10_global_cva_analysis.R:129-158 (threshold
    ceil(0.2*nchar), min distance tie-break; lexicographic replaces the
    loop's first-index tie-break to stay order-independent).

    ``exclude_equal=True`` drops exact-equal pairs before ranking (the
    reference runs the exact-match stage first and fuzzy-matches only the
    remainder, code/10:117-129).

    Output: (left_col, matched_name, distance).
    """
    l = left.select(F.col(left_col).alias("__l")).distinct()
    r = right.select(F.col(right_col).alias("__r")).distinct()
    dist = F.levenshtein(F.col("__l"), F.col("__r"))
    threshold = F.greatest(
        F.lit(1), F.ceil(F.length(F.col("__l")) * F.lit(max_rel_dist))
    )
    cand = l.crossJoin(F.broadcast(r)).filter(dist <= threshold)
    if exclude_equal:
        cand = cand.filter(F.col("__l") != F.col("__r"))
    w = Window.partitionBy("__l").orderBy(dist.asc(), F.col("__r").asc())
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__l").alias(left_col),
            F.col("__r").alias("matched_name"),
            dist.alias("distance"),
        )
    )


def substring_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    contained: str = "left_in_right",
) -> DataFrame:
    """J11 — word-boundary containment match; shortest container wins.

    ``contained='left_in_right'``: left name appears as whole words inside
    the right name (reference subgrant ⊂ org, code/10:161-176); flip for the
    second pass (code/10:195-210). Regex metacharacters in the needle are
    quoted (reference quotemeta, code/10:88-91).

    Output: (left_col, matched_name, match_length).
    """
    l = left.select(F.col(left_col).alias("__l")).distinct()
    r = right.select(F.col(right_col).alias("__r")).distinct()
    if contained == "left_in_right":
        needle_name, hay_name = "__l", "__r"
    else:
        needle_name, hay_name = "__r", "__l"
    cand = (
        l.crossJoin(F.broadcast(r))
        .withColumn(
            "__pat",
            F.concat(F.lit("\\b"), regex_quote(F.col(needle_name)), F.lit("\\b")),
        )
        .filter(F.length(F.col(needle_name)) > 0)
        .filter(F.expr(f"rlike({hay_name}, __pat)"))
    )
    w = Window.partitionBy("__l").orderBy(
        F.length(F.col(hay_name)).asc(), F.col("__r").asc()
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__l").alias(left_col),
            F.col("__r").alias("matched_name"),
            F.length(F.col(hay_name)).alias("match_length"),
        )
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    keys: list[str],
    how: str = "inner",
    salt_buckets: int = 16,
    hot_keys: list | None = None,
) -> DataFrame:
    """Skew-resilient equi-join: the skewed side gets a deterministic salt
    in [0, salt_buckets); the other side is replicated once per salt value;
    the join runs on (keys..., salt) so one hot key spreads over
    ``salt_buckets`` reducers instead of melting a single task.

    Reach for this only when AQE's skew-join splitting can't help — e.g.
    the hot key's partitions exceed what post-shuffle splitting can
    rebalance, or stats hide the skew. The salt is a hash of the whole
    row's key columns plus ``monotonically_increasing_id`` is avoided on
    purpose: ``F.rand(seed)`` would be partition-order-dependent, so the
    salt derives from xxhash64 over the key AND a per-row uniquifier the
    caller already has; with none available, spreading uses the row's
    other columns. Here we hash all columns, which is deterministic for
    identical rows (identical rows land together — acceptable: true
    duplicates joined to the same dimension rows produce identical output
    regardless of spread).

    Only skewed-side-preserving join types are allowed: the OTHER side is
    replicated once per salt value, so 'right'/'full'/'right_semi' would
    emit each unmatched other-side row ``salt_buckets`` times. For those,
    swap the sides (salt the right side) or use AQE skew handling.

    ``hot_keys`` (single-column keys only) targets the salt: ONLY rows
    whose key is in the list salt/replicate — the cold majority keeps
    salt 0 and pays no replication. Feed it from the engine's own
    diagnostics: ``profiling.key_skew_report`` says whether the key is
    skewed at all, ``sketch.heavy_hitters`` says which keys carry the
    mass. With hot_keys=None every row salts and the whole other side
    replicates ``salt_buckets``× — correct, but only worth it when skew
    is endemic rather than a handful of hot keys.
    """
    allowed = {"inner", "left", "leftouter", "leftsemi", "semi",
               "leftanti", "anti"}
    if how.lower().replace("_", "") not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} would duplicate unmatched rows of the "
            f"replicated side; allowed: {sorted(allowed)} (plus underscore "
            "variants)"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(salt_buckets))
    all_salts = F.sequence(F.lit(0), F.lit(salt_buckets - 1))
    if hot_keys is not None:
        if len(keys) != 1:
            raise ValueError(
                "salted_join: hot_keys targeting needs a single-column key "
                f"(got {keys})"
            )
        hot = F.array(*[F.lit(k) for k in hot_keys])
        is_hot = F.array_contains(hot, F.col(keys[0]))
        salt = F.when(is_hot, salt).otherwise(F.lit(0).cast("long"))
        rsalts = F.when(is_hot, all_salts).otherwise(F.array(F.lit(0)))
    else:
        rsalts = all_salts
    left = skewed.withColumn("__salt", salt)
    right = other.withColumn(
        "__salt", F.explode(rsalts)
    ).withColumn("__salt", F.col("__salt").cast("long"))
    out = left.join(right, [*keys, "__salt"], how)
    return out.drop("__salt")


def anti_waterfall_union(
    sources: list[DataFrame], keys: list[str]
) -> DataFrame:
    """J14 — priority union: row from source i only if its key is absent
    from every earlier source (reference FX waterfall OECD→WB→IFS,
    code/util_exchange_rates.R:62,77). Left-anti joins against the
    accumulated keys — each anti join is a broadcast when the accumulated
    key set is dimension-sized.
    """
    result = sources[0]
    for src in sources[1:]:
        # the accumulated-keys frame replans the ENTIRE waterfall built
        # so far, and source i's subtree re-enters every later step's
        # key set — plan growth is exponential in the source count
        # (r15 static-plan audit: 7 scans for 3 sources). The lazy cut
        # on the keys-only, dimension-sized frame bounds each step to
        # one distinct over the prior RDD — growth linear.
        # Storage bound (r15 advice): each step pins one keys-only
        # DISTINCT frame (<= the union of all source keys, dimension-
        # sized by the waterfall contract) in executor block storage
        # for the job's duration — n_sources-1 such frames total, not
        # unpersisted mid-plan because every later anti-join's lineage
        # still references them; without a checkpoint dir the blocks
        # are lost with an executor, which re-fails the job rather than
        # corrupting it (no partial lineage replay).
        seen = cut(
            result.select(*keys)
            .distinct()
        )
        result = result.unionByName(
            src.join(F.broadcast(seen), keys, "left_anti"),
            allowMissingColumns=True,
        )
    return result


def grid_scaffold(
    keys: DataFrame,
    key_col: str,
    start: int,
    end: int,
    seq_col: str,
    values: DataFrame,
) -> DataFrame:
    """J15 — dense (key × integer range) grid left-joined to sparse values
    (reference: iso3 × 1950–2025 FX grid, code/util_exchange_rates.R:30,83).
    The range is generated with ``sequence`` + explode (no driver loop)."""
    grid = (
        keys.select(key_col)
        .distinct()
        .withColumn(
            seq_col, F.explode(F.sequence(F.lit(start), F.lit(end)))
        )
    )
    return grid.join(values, [key_col, seq_col], "left")


def _jaro_winkler_py(s: str, t: str) -> float:
    """Classic Jaro–Winkler (Winkler 1990): prefix bonus p=0.1 up to 4
    chars, applied only above the 0.7 boost threshold. Matches DuckDB's
    ``jaro_winkler_similarity`` bit-for-bit (fuzz-tested, including its
    convention that ''≡'' scores 0.0, not 1.0)."""
    ls, lt = len(s), len(t)
    if ls == 0 or lt == 0:
        return 0.0
    if s == t:
        return 1.0
    window = max(ls, lt) // 2 - 1
    if window < 0:
        window = 0
    match_s = [False] * ls
    match_t = [False] * lt
    m = 0
    for i, c in enumerate(s):
        lo = 0 if i < window else i - window
        hi = min(lt, i + window + 1)
        for j in range(lo, hi):
            if not match_t[j] and t[j] == c:
                match_s[i] = match_t[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    k = 0
    trans = 0
    for i in range(ls):
        if match_s[i]:
            while not match_t[k]:
                k += 1
            if s[i] != t[k]:
                trans += 1
            k += 1
    trans //= 2
    j = (m / ls + m / lt + (m - trans) / m) / 3
    if j > 0.7:
        pre = 0
        for a, b in zip(s[:4], t[:4]):
            if a != b:
                break
            pre += 1
        j += pre * 0.1 * (1 - j)
    return j


def jaro_winkler_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    threshold: float = 0.8,
    block_chars: int = 1,
    round_to: int = 6,
    max_block_names: int | None = None,
) -> DataFrame:
    """Blocked fuzzy similarity join under Jaro–Winkler — the
    record-linkage matcher for short name-like strings, where
    Levenshtein (J10) over-penalizes transpositions and under-rewards
    shared prefixes.

    Physical shape is the standard blocking design, NOT all-pairs: each
    side reduces to its DISTINCT names (names repeat heavily in fact
    data; a million-row fact side with 10³ distinct names contributes
    10³ rows to matching), pairs form only WITHIN a blocking key — the
    first ``block_chars`` characters, the classic cheap block for
    prefix-weighted JW, since a sub-threshold pair differing in char 1
    is overwhelmingly likely rejected anyway — and the similarity UDF
    runs per candidate pair, never per row-pair. Swap the blocking
    expression for soundex/minhash blocks for fuzzier recall; the
    equi-join on the block key is the scalable part (hash-shuffles or
    broadcasts like any join), the JW evaluation cost is
    pairs-per-block-bounded.

    The similarity itself is an Arrow-batched pandas UDF of the classic
    O(|s|·|t|)-windowed scan — a per-PAIR scalar kernel with no builtin
    Spark equivalent. Scores round to ``round_to`` (the float-discipline
    rule for any value crossing a Python/JVM boundary).

    ``max_block_names`` is the skew guard (the same family as LSH's
    ``max_bucket_docs``): a block of B distinct names emits O(B²)
    candidate pairs, so one hot first character over a 10⁷-name corpus
    would pin a single task on a quadratic block. Blocks whose DISTINCT-
    name population (counted over the union of both sides, so left and
    right always agree on every name's final key) exceeds the cap are
    re-blocked on ``block_chars + 1`` prefix characters — deterministic,
    mirrored into the catalog oracle, and recall-safe for the
    prefix-weighted JW regime: a pair scoring ≥ ~0.8 under the Winkler
    prefix bonus almost always shares its leading characters, so the
    pairs a widened block forfeits are overwhelmingly sub-threshold.
    ONE widening level (the cheap, SQL-mirrorable form); a corpus whose
    (block_chars+1)-prefix blocks are still above the cap needs a larger
    ``block_chars`` or a different blocking key (soundex/minhash), not a
    deeper cascade. The hot-prefix set is dimension-sized (≤ distinct
    prefixes) and broadcast.

    Output: (name_a, name_b, jw) for distinct unordered pairs
    name_a < name_b with jw ≥ threshold.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None
                if x is None or y is None
                else round(_jaro_winkler_py(x, y), round_to)
                for x, y in zip(a, b)
            ],
            dtype="float64",
        )

    l = (
        left.select(F.col(left_col).alias("name_a"))
        .filter(F.col("name_a").isNotNull())
        .distinct()
        .withColumn("__blk", F.substring("name_a", 1, block_chars))
    )
    r = (
        right.select(F.col(right_col).alias("name_b"))
        .filter(F.col("name_b").isNotNull())
        .distinct()
        .withColumn("__blk", F.substring("name_b", 1, block_chars))
    )
    if max_block_names is not None:
        hot = (
            l.select(F.col("name_a").alias("__n"))
            .union(r.select(F.col("name_b").alias("__n")))
            .distinct()
            .groupBy(F.substring("__n", 1, block_chars).alias("__blk"))
            .agg(F.count("*").alias("__bn"))
            .filter(F.col("__bn") > max_block_names)
            .select("__blk", F.lit(True).alias("__hot"))
        )

        def _widen(df, name_col):
            return (
                df.join(F.broadcast(hot), "__blk", "left")
                .withColumn(
                    "__blk",
                    F.when(
                        F.col("__hot"),
                        F.substring(name_col, 1, block_chars + 1),
                    ).otherwise(F.col("__blk")),
                )
                .drop("__hot")
            )

        l = _widen(l, "name_a")
        r = _widen(r, "name_b")
    pairs = l.join(r, "__blk").filter(F.col("name_a") < F.col("name_b"))
    return (
        pairs.withColumn("jw", jw_udf(F.col("name_a"), F.col("name_b")))
        .filter(F.col("jw") >= threshold)
        .select("name_a", "name_b", "jw")
    )
