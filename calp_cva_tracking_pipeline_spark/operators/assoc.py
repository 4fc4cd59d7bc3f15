"""Market-basket association mining: pairwise rules with support,
confidence and lift.

Not in the reference (its aggregations stop at grouped sums — SURVEY.md
§2.5); an engine addition for the co-occurrence tier next to PMI
collocations (``textops.pmi_collocations``, which scores ADJACENT token
bigrams): here the unit is an unordered ITEM PAIR co-occurring anywhere
inside a basket, the classic a-priori setting (Agrawal & Srikant 1994).

Scale design:

- **A-priori prefilter before any pair is formed**: an item below the
  support floor cannot appear in a frequent pair, so infrequent items
  are dropped with one join BEFORE pair expansion (the same join
  attaches each survivor's frequency for the later rule math). The
  frequent-item set is bounded by total_rows / min_item_count members —
  a bound LINEAR in the corpus, so the join is deliberately left
  unhinted: AQE broadcasts it when the survivor set is actually small
  and falls back to a key-partitioned shuffle when a 100 TB corpus
  makes it dimension-table-sized no more (round-8 advisor finding —
  the same vocabulary-scales-with-corpus reason jaccard_join refuses
  to broadcast its shingle frequencies).
- **Pair expansion without a self-join**: a within-basket self-join
  would plan the (distinct + frequent-filter) upstream TWICE (measured:
  Spark never fires exchange reuse for derived self-joins — SCALE.md);
  instead pairs are ``dedup.bucket_pairs`` with the basket as the
  bucket — one exchange, upstream planned once. Per-basket cost is
  C(|basket|, 2); a degenerate mega-basket (one basket holding the
  whole catalog) would emit a quadratic pair list, so ``max_basket`` is
  the kernel's bucket cap, which drops larger baskets before anything
  is collected — the dedup tiers' explicit volume guard, and a cap the
  a-priori literature applies routinely (oversized baskets carry
  near-zero signal per pair).
- **Exact integer counts end to end**: support/confidence/lift are
  ratios of 64-bit counts evaluated in one IEEE double division each
  and rounded to 6 dp — bit-identical across engines, so the DuckDB
  oracle (written as the naive self-join) checks every rule's numbers,
  proving the no-self-join formulation emits exactly the same pairs.

Output is BOTH directions of each qualifying pair (a→b and b→a share
support and lift but not confidence), sized by the rule count — never
by the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.operators.dedup import bucket_pairs


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_item_count: int = 5,
    min_pair_count: int = 3,
    max_basket: int = 1000,
) -> DataFrame:
    """Pairwise association rules over (basket, item) rows.

    Returns one row per DIRECTED rule antecedent→consequent whose
    unordered pair co-occurs in ≥ ``min_pair_count`` baskets (both items
    individually in ≥ ``min_item_count`` baskets):
    ``(antecedent, consequent, pair_n, support, confidence, lift)`` with
    support = pair_n / n_baskets, confidence = pair_n / antecedent_n,
    lift = pair_n · n_baskets / (antecedent_n · consequent_n), each
    rounded to 6 dp. ``n_baskets`` counts baskets BEFORE the frequency
    and size filters — support stays a corpus-level probability.
    Baskets with more than ``max_basket`` distinct frequent items are
    dropped (volume guard, see module docstring).
    """
    bi = (
        df.filter(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
        .select(
            F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
        )
        .distinct()
    )
    n_baskets = bi.groupBy().agg(
        F.count_distinct("__b").alias("__nb")
    )
    freq = bi.groupBy("__i").agg(F.count(F.lit(1)).alias("__in")).filter(
        F.col("__in") >= min_item_count
    )
    # Item frequencies ride INTO the baskets here (inner join — no
    # broadcast hint: the frequent set scales linearly with the corpus,
    # so AQE picks broadcast only when it is genuinely small), sit
    # inside the collected structs through pair expansion, and come
    # back out as max() — constants per item — in the pair aggregation:
    # no post-hoc enrichment joins, so the expensive basket pipeline and
    # the pair table are each planned exactly ONCE (Spark re-plans a
    # derived frame per consumer — SCALE.md), and the whole operator
    # touches the input three linear times (basket total, item counts,
    # pair pipeline).
    kept = bi.join(freq, "__i").select("__b", "__i", "__in")
    pairs = (
        bucket_pairs(kept, ["__b"], ["__i", "__in"], max_basket)
        .groupBy(F.col("__i_a").alias("ia"), F.col("__i_b").alias("ic"))
        .agg(
            F.count(F.lit(1)).alias("pair_n"),
            F.max("__in_a").alias("__an"),
            F.max("__in_b").alias("__cn"),
        )
        .filter(F.col("pair_n") >= min_pair_count)
    )
    both = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("ia").alias("a"),
                    F.col("ic").alias("c"),
                    F.col("__an").alias("an"),
                    F.col("__cn").alias("cn"),
                ),
                F.struct(
                    F.col("ic").alias("a"),
                    F.col("ia").alias("c"),
                    F.col("__cn").alias("an"),
                    F.col("__an").alias("cn"),
                ),
            )
        ).alias("__r"),
        "pair_n",
    ).select("__r.*", "pair_n")
    pD = F.col("pair_n").cast("double")
    return both.crossJoin(F.broadcast(n_baskets)).select(
        F.col("a").alias("antecedent"),
        F.col("c").alias("consequent"),
        "pair_n",
        F.round(pD / F.col("__nb"), 6).alias("support"),
        F.round(pD / F.col("an"), 6).alias("confidence"),
        F.round(
            pD * F.col("__nb") / (F.col("an") * F.col("cn")), 6
        ).alias("lift"),
    )
