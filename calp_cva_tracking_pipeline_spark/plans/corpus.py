"""Corpus curation — the training-data pipeline composed end-to-end.

The scale-tier operators (text features, exact dedup, MinHash+LSH near-dup)
exist to be chained into exactly this program: raw documents → quality/
language gates → exact dedup → verified near-dup removal → shard-balanced
output. Each stage is one of the already-oracle-verified operators; this
module contributes the composition and the survivor policy, mirroring how
plans.pipelines composes the reference's CVA chain (EP1/EP2).

Shape at 100 TB: the gates are scan-speed projections; dedup shuffles
digests and band keys only; the near-dup drop set is candidate-sized
(≪ corpus) and broadcast into an anti-join, so the corpus itself is
never shuffled until the final shard write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_candidates,
    ngram_jaccard,
)
from calp_cva_tracking_pipeline_spark.operators.textops import (
    add_text_features,
)
from calp_cva_tracking_pipeline_spark.session import cut


def near_dup_drop_set(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    max_bucket_docs: int | None = 64,
    survivor_policy: str = "greedy",
) -> DataFrame:
    """ids to drop among verified near-dup pairs.

    ``survivor_policy="greedy"`` (default; the standard large-corpus
    choice, as in MinHashLSH-based crawl dedup) drops the HIGHER id of
    every pair independently: a doc is dropped if ANY confirmed near-twin
    has a smaller id. Deliberately not a transitive closure — in a chain
    A~B~C without A~C, B and C both drop even though B's own survivor (A)
    differs from C's (B): one anti-join instead of an iterative fixpoint,
    and over-dropping is bounded by chain length, which the Jaccard
    threshold keeps short.

    ``survivor_policy="components"`` resolves exact clusters first
    (operators.dedup.connected_components — min-id label propagation over
    the candidate-sized pair set) and drops every non-minimum member, so
    each near-dup CLUSTER keeps exactly its min id. Same drop set as
    greedy on chains (one survivor either way); differs on graphs where
    greedy's pairwise view and the transitive clustering disagree — pay
    the O(diameter) iteration only when cluster-consistent labeling
    matters (e.g. attributing which survivor each drop maps to).
    """
    pairs = minhash_lsh_candidates(
        docs,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        k=k,
        pre_collapse_exact=True,
        max_bucket_docs=max_bucket_docs,
    )
    verified = ngram_jaccard(pairs, docs, id_col, text_col, k=k).filter(
        F.round(F.col("jaccard"), 6) >= jaccard_threshold
    )
    if survivor_policy == "components":
        from calp_cva_tracking_pipeline_spark.operators.dedup import (
            connected_components,
        )

        comp = connected_components(verified)
        return (
            comp.filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias(id_col))
        )
    if survivor_policy != "greedy":
        raise ValueError(
            f"survivor_policy must be 'greedy' or 'components', "
            f"got {survivor_policy!r}"
        )
    return verified.select(F.col("id_b").alias(id_col)).distinct()


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    languages: list[str] | None = None,
    min_tokens: int = 5,
    jaccard_threshold: float = 0.8,
    benchmark: DataFrame | None = None,
    bench_text_col: str | None = None,
    decontam_ngram: int = 13,
    redact_pii: bool = False,
) -> DataFrame:
    """documents → curated training corpus.

    optional PII scrub (``redact_pii=True`` — FIRST, so dedup keys and
    features see the scrubbed text and two docs differing only in
    redacted spans collapse as the duplicates they are) →
    quality/language/length gates (scan-speed projections, evaluated
    BEFORE any dedup so the expensive stages see only keepable docs) →
    exact dedup (min-id survivor) → near-dup removal (LSH candidates,
    exact-Jaccard verified, lower-id survives) → optional benchmark
    decontamination (pass ``benchmark`` to drop docs sharing any
    ``decontam_ngram``-gram with the eval set — operators.decontam; last
    because it must see the FINAL surviving text, and its train-side scan
    is cheapest on the already-shrunk corpus). Returns the surviving rows
    with the text-feature columns attached, plus ``n_bpe_tokens`` (the
    GPT-2-style pre-token count — the budget column training loaders
    sum when packing sequences; whitespace ``n_tokens`` undercounts
    punctuation-heavy text).
    """
    from calp_cva_tracking_pipeline_spark.functions.text import (
        bpe_token_count,
    )

    if redact_pii:
        from calp_cva_tracking_pipeline_spark.operators.textops import (
            pii_redact,
        )

        docs = docs.withColumn(text_col, pii_redact(F.col(text_col)))
    feats = add_text_features(docs, text_col).withColumn(
        "n_bpe_tokens", bpe_token_count(F.col(text_col))
    )
    gated = feats.filter(
        (F.col("quality") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
    )
    if languages is not None:
        gated = gated.filter(F.col("lang_pred").isin(languages))
    exact = dedup_exact(gated, text_col, id_col)
    drops = near_dup_drop_set(
        exact, id_col, text_col, jaccard_threshold=jaccard_threshold
    )
    out = exact.join(F.broadcast(drops), [id_col], "left_anti")
    if benchmark is not None:
        from calp_cva_tracking_pipeline_spark.operators.decontam import (
            decontaminate,
        )

        out = decontaminate(
            out,
            benchmark,
            id_col,
            text_col,
            bench_text_col=bench_text_col,
            n=decontam_ngram,
        )
    return out


def corpus_release_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    min_quality: float = 0.5,
    min_tokens: int = 5,
    jaccard_threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_docs: int | None = 64,
    n_shards: int = 8,
) -> DataFrame:
    """Per-source release audit of the FULL curation recipe — the
    oracle-checkable projection of ``curate_corpus`` (the pk_pack_audit
    trick: the pipeline's invariants as a bounded summary a SQL twin
    can recompute). Runs the same stages on the same operators —
    quality/length gates → exact dedup (min-id survivor) → LSH
    candidates + exact-Jaccard-verified greedy near-dup drop — then
    labels every document with its terminal status and reduces to one
    row per source: (source, n_raw, n_gate_drop, n_exact_drop,
    n_neardup_drop, n_kept, kept_tokens, shards_touched), with
    n_raw = n_gate_drop + n_exact_drop + n_neardup_drop + n_kept by
    construction. ``shards_touched`` replays the shard manifest with
    the PORTABLE hash (stable_hash64 mod n_shards — the
    oracle-recomputable stand-in for ``write_training_shards``'s
    hash-repartition; same uniformity contract, engine-checkable).

    Scale shape: one text-feature scan; the gate/status columns are
    projections; exact-dedup survivorship is one digest window; the
    near-dup drop set is candidate-sized and broadcast back; the final
    reduce is one sources-bounded aggregation. The corpus is never
    shuffled whole — identical to the production recipe's shape.
    """
    from calp_cva_tracking_pipeline_spark.functions.hashing import (
        stable_hash64,
    )

    feats = add_text_features(docs, text_col)
    # base and exact each feed several consumers (gate path, status
    # labeling, the LSH candidate pass, the Jaccard verify's two
    # text-fetch joins); without lineage cuts Catalyst re-plans the
    # regex-heavy feature scan per consumer (r15 plan audit: 11
    # documents.parquet scans in one audit plan). Lazy cuts
    # materialize each once inside the single output job.
    base = cut(feats.select(
        id_col,
        source_col,
        text_col,
        "n_tokens",
        # NULL text ⇒ NULL quality/n_tokens ⇒ NULL gate; coalesce to
        # FALSE so unscoreable docs report gate_drop rather than
        # falling through the NOT-gate arm (which skips on NULL) into
        # exact_drop — both engines misattributed identically before
        # the coalesce, so parity held but the audit column lied
        # (round-13 advisor catch; SQL twin coalesces the same way)
        F.coalesce(
            (F.col("quality") >= min_quality)
            & (F.col("n_tokens") >= min_tokens),
            F.lit(False),
        ).alias("__gate"),
    ))
    gated = base.filter(F.col("__gate")).select(
        id_col, source_col, text_col, "n_tokens"
    )
    exact = cut(dedup_exact(gated, text_col, id_col))
    drops = near_dup_drop_set(
        exact,
        id_col,
        text_col,
        jaccard_threshold=jaccard_threshold,
        num_hashes=num_hashes,
        bands=bands,
        max_bucket_docs=max_bucket_docs,
    )
    lab = (
        base.join(
            exact.select(F.col(id_col), F.lit(1).alias("__ex")),
            [id_col],
            "left",
        )
        .join(
            F.broadcast(drops.withColumn("__dr", F.lit(1))),
            [id_col],
            "left",
        )
        .select(
            source_col,
            "n_tokens",
            F.when(~F.col("__gate"), F.lit("gate_drop"))
            .when(F.col("__ex").isNull(), F.lit("exact_drop"))
            .when(F.col("__dr") == 1, F.lit("neardup_drop"))
            .otherwise(F.lit("kept"))
            .alias("__status"),
            stable_hash64(
                F.concat(
                    F.lit("shard:"), F.col(id_col).cast("string")
                )
            ).alias("__h"),
        )
    )
    kept = F.col("__status") == "kept"
    return (
        lab.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_raw"),
            F.sum((F.col("__status") == "gate_drop").cast("int"))
            .cast("bigint")
            .alias("n_gate_drop"),
            F.sum((F.col("__status") == "exact_drop").cast("int"))
            .cast("bigint")
            .alias("n_exact_drop"),
            F.sum((F.col("__status") == "neardup_drop").cast("int"))
            .cast("bigint")
            .alias("n_neardup_drop"),
            F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
            F.countDistinct(
                F.when(kept, F.col("__h") % n_shards)
            )
            .cast("bigint")
            .alias("shards_touched"),
        )
        .orderBy(source_col)
    )


def shuffle_corpus(
    df: DataFrame, id_col: str = "doc_id", seed: int = 42
) -> DataFrame:
    """Deterministic global shuffle for training order.

    Orders by a seeded hash of the id — the standard trick for a
    reproducible full-corpus shuffle without materializing random keys:
    same (corpus, seed) → same order on any cluster/partitioning, and a
    different seed reshuffles for the next epoch. Global orderBy plans a
    range exchange + sort; at 100 TB this is the one unavoidable
    total-order shuffle and it replaces the dataloader-side shuffle
    buffer (which can't span shards).
    """
    from calp_cva_tracking_pipeline_spark.functions.hashing import (
        stable_hash64,
    )

    key = stable_hash64(
        F.concat(F.lit(f"shuffle:{seed}:"), F.col(id_col).cast("string"))
    )
    return df.orderBy(key, F.col(id_col))


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    shard_key: str = "doc_id",
) -> None:
    """Persist the curated corpus as ``n_shards`` size-balanced parquet
    shards.

    Hash-repartition on ``shard_key`` (uniform for id/hash keys) so every
    shard carries ~|corpus|/n_shards rows — training loaders stream shards
    round-robin and skew would serialize the tail. One shuffle, at write
    time, exactly once.
    """
    df.repartition(n_shards, F.col(shard_key)).write.mode(
        "overwrite"
    ).parquet(path)


def release_audit_cells(
    batch: DataFrame,
    digest_store: DataFrame,
    band_store: DataFrame,
    survivor_texts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    min_quality: float = 0.5,
    min_tokens: int = 5,
    jaccard_threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    n_shards: int = 8,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Per-batch half of the INCREMENTAL release audit (VERDICT r13 ask
    #7 — corpus_release_report's T18 recipe given the foreachBatch fold
    treatment): runs gates → incremental exact dedup → incremental
    near-dup (verified against the survivor store) on ONE ingest batch,
    and emits additively-foldable (source, shard) counter cells plus
    the three store deltas.

    Returns ``(cells, new_digests, new_bands, new_survivors)``:

    - ``cells``: (source, shard, n_raw, n_gate_drop, n_exact_drop,
      n_neardup_drop, n_kept, kept_tokens) — all plain integer sums, so
      an append-ledger of batch cells re-collapses by summation
      (``release_audit_from_cells``), the pf_calibration / psi / dq
      discipline. Non-kept counters ride shard = -1; kept rows land on
      their portable-hash shard, so the distinct-shard census folds too.
    - ``new_digests`` / ``new_bands`` / ``new_survivors``: append these
      to the three stores after the batch commits (the
      content_digest_store / lsh_band_store update law; survivors carry
      (id, text) because near-dup verification is EXACT Jaccard against
      stored exact-survivors — candidates-only reads at join time).

    Batch ≡ one-shot contract (pinned in tests/test_streaming.py):
    folding ordered batches (ids ascending across batches — arrival
    order IS id order, the stream_attribution_join time-ordered-batch
    protocol) reproduces corpus_release_report bit-for-bit, because
    min-id exact survivorship equals first-arrival and every greedy
    near-dup drop targets the later (= larger-id, = newer) side. Two
    declared divergence bounds: a band bucket that exceeds
    ``max_bucket_docs`` in the ONE-SHOT view is cap-suppressed there
    but was pair-expanded incrementally while still small (equality
    holds while caps stay unsaturated — re-run the capped one-shot
    periodically, the neardup_incremental contract); and unordered
    ingest changes which twin of a pair survives (counts shift between
    batches, totals match).
    """
    from calp_cva_tracking_pipeline_spark.functions.hashing import (
        stable_hash64,
    )
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        content_digest_store,
        dedup_incremental,
        lsh_band_store,
        neardup_incremental,
    )

    feats = add_text_features(batch, text_col)
    base = cut(feats.select(
        id_col,
        source_col,
        text_col,
        "n_tokens",
        F.coalesce(
            (F.col("quality") >= min_quality)
            & (F.col("n_tokens") >= min_tokens),
            F.lit(False),
        ).alias("__gate"),
    ))
    gated = base.filter(F.col("__gate")).select(
        id_col, source_col, text_col, "n_tokens"
    )
    survivors = cut(dedup_incremental(gated, digest_store, text_col, id_col))
    cand = neardup_incremental(
        survivors,
        band_store,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        k=k,
        pre_collapse_exact=False,
    )
    # verification corpus: this batch's exact survivors + the stored
    # exact survivors (text pulled only for candidate ids by the join)
    verify_docs = survivors.select(id_col, text_col).unionByName(
        survivor_texts.select(id_col, text_col)
    )
    verified = ngram_jaccard(
        cand.select("id_a", "id_b"),
        verify_docs,
        id_col,
        text_col,
        k=k,
    ).filter(F.round(F.col("jaccard"), 6) >= jaccard_threshold)
    # greedy policy, later side drops — under ordered ingest that is
    # always the LARGER id (cross pairs: new id_a > stored id_b; intra
    # pairs: id_a < id_b by construction), so greatest() covers both
    drops = (
        verified.select(
            F.greatest(F.col("id_a"), F.col("id_b")).alias(id_col)
        )
        .distinct()
        .withColumn("__dr", F.lit(1))
    )
    lab = (
        base.join(
            survivors.select(F.col(id_col), F.lit(1).alias("__ex")),
            [id_col],
            "left",
        )
        .join(F.broadcast(drops), [id_col], "left")
        .select(
            source_col,
            "n_tokens",
            F.when(~F.col("__gate"), F.lit("gate_drop"))
            .when(F.col("__ex").isNull(), F.lit("exact_drop"))
            .when(F.col("__dr") == 1, F.lit("neardup_drop"))
            .otherwise(F.lit("kept"))
            .alias("__status"),
            stable_hash64(
                F.concat(F.lit("shard:"), F.col(id_col).cast("string"))
            ).alias("__h"),
        )
    )
    kept = F.col("__status") == "kept"
    cells = (
        lab.select(
            source_col,
            F.when(kept, F.col("__h") % n_shards)
            .otherwise(F.lit(-1))
            .cast("bigint")
            .alias("shard"),
            F.lit(1).alias("__raw"),
            (F.col("__status") == "gate_drop").cast("int").alias("__g"),
            (F.col("__status") == "exact_drop").cast("int").alias("__e"),
            (F.col("__status") == "neardup_drop")
            .cast("int")
            .alias("__n"),
            kept.cast("int").alias("__k"),
            F.when(kept, F.col("n_tokens")).otherwise(0).alias("__t"),
        )
        .groupBy(source_col, "shard")
        .agg(
            F.sum("__raw").cast("bigint").alias("n_raw"),
            F.sum("__g").cast("bigint").alias("n_gate_drop"),
            F.sum("__e").cast("bigint").alias("n_exact_drop"),
            F.sum("__n").cast("bigint").alias("n_neardup_drop"),
            F.sum("__k").cast("bigint").alias("n_kept"),
            F.sum("__t").cast("bigint").alias("kept_tokens"),
        )
    )
    new_digests = content_digest_store(survivors, text_col)
    new_bands = lsh_band_store(
        survivors, id_col, text_col, num_hashes=num_hashes, bands=bands, k=k
    )
    new_survivors = survivors.select(id_col, text_col)
    return cells, new_digests, new_bands, new_survivors


def release_audit_from_cells(
    cells: DataFrame, source_col: str = "source"
) -> DataFrame:
    """Readout half of the incremental release audit: re-collapse the
    append ledger of per-batch (source, shard) cells by summation and
    reduce to corpus_release_report's exact output shape — counters are
    plain sums; ``shards_touched`` counts distinct kept shards (kept
    rows are the only ones landing on shard >= 0)."""
    folded = cells.groupBy(source_col, "shard").agg(
        F.sum("n_raw").alias("n_raw"),
        F.sum("n_gate_drop").alias("n_gate_drop"),
        F.sum("n_exact_drop").alias("n_exact_drop"),
        F.sum("n_neardup_drop").alias("n_neardup_drop"),
        F.sum("n_kept").alias("n_kept"),
        F.sum("kept_tokens").alias("kept_tokens"),
    )
    return (
        folded.groupBy(source_col)
        .agg(
            F.sum("n_raw").cast("bigint").alias("n_raw"),
            F.sum("n_gate_drop").cast("bigint").alias("n_gate_drop"),
            F.sum("n_exact_drop").cast("bigint").alias("n_exact_drop"),
            F.sum("n_neardup_drop")
            .cast("bigint")
            .alias("n_neardup_drop"),
            F.sum("n_kept").cast("bigint").alias("n_kept"),
            F.sum("kept_tokens").cast("bigint").alias("kept_tokens"),
            F.countDistinct(
                F.when(
                    (F.col("shard") >= 0) & (F.col("n_kept") > 0),
                    F.col("shard"),
                )
            )
            .cast("bigint")
            .alias("shards_touched"),
        )
        .orderBy(source_col)
    )


def release_diff(
    prev: DataFrame,
    curr: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-release corpus DIFF audit — the CDC readout for training
    data: given the previous and the candidate release, per source the
    added / removed / changed / unchanged document counts by content
    digest, so a release gate can assert "this rebuild touched only
    the sources it was supposed to" before 100 TB ships. Changed =
    present in both with different digests (NULL text coalesces to a
    sentinel, so text-dropped-vs-text-added reports as changed, never
    as silently equal).

    Scale shape: each release reduces to (id, source, digest) at scan
    speed; the two tag-columned projections UNION into ONE
    (id, source)-keyed aggregation (never a full-outer self-join that
    would replan a shared upstream twice — the dedup pair-expansion
    lesson), then a source-bounded counter aggregation. Output:
    (source, n_prev, n_curr, n_added, n_removed, n_changed,
    n_unchanged), ordered by source. Engine addition; no reference
    counterpart.
    """
    def tagged(df: DataFrame, a: int) -> DataFrame:
        return df.select(
            F.col(id_col).alias("__id"),
            F.col(source_col).alias("__src"),
            F.coalesce(F.md5(F.col(text_col)), F.lit("\x00")).alias(
                "__dig"
            ),
            F.lit(a).alias("__ina"),
            F.lit(1 - a).alias("__inb"),
        )

    both = tagged(prev, 1).unionByName(tagged(curr, 0))
    per_doc = both.groupBy("__id", "__src").agg(
        F.max("__ina").alias("a"),
        F.max("__inb").alias("b"),
        F.max(F.when(F.col("__ina") == 1, F.col("__dig"))).alias("da"),
        F.max(F.when(F.col("__inb") == 1, F.col("__dig"))).alias("db"),
    )
    cls = (
        F.when((F.col("a") == 0) & (F.col("b") == 1), F.lit("added"))
        .when((F.col("a") == 1) & (F.col("b") == 0), F.lit("removed"))
        .when(F.col("da") != F.col("db"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        per_doc.select(
            F.col("__src").alias(source_col),
            F.col("a"),
            F.col("b"),
            cls.alias("__cls"),
        )
        .groupBy(source_col)
        .agg(
            F.sum("a").cast("bigint").alias("n_prev"),
            F.sum("b").cast("bigint").alias("n_curr"),
            F.sum((F.col("__cls") == "added").cast("int"))
            .cast("bigint")
            .alias("n_added"),
            F.sum((F.col("__cls") == "removed").cast("int"))
            .cast("bigint")
            .alias("n_removed"),
            F.sum((F.col("__cls") == "changed").cast("int"))
            .cast("bigint")
            .alias("n_changed"),
            F.sum((F.col("__cls") == "unchanged").cast("int"))
            .cast("bigint")
            .alias("n_unchanged"),
        )
        .orderBy(source_col)
    )
