"""Golden-pipeline property tests (SURVEY.md §5, FIXTURES.md invariants).

The driver's DuckDB oracle proves Spark↔SQL agreement; these tests pin the
REFERENCE semantics themselves on adversarial fixtures the synthetic star
schema never produces: messy packed strings, precedence collisions,
non-positive growth factors, regex metacharacters.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.functions.text import regex_quote
from calp_cva_tracking_pipeline_spark.operators.aggregate import (
    sum_clamped_percentage,
)
from calp_cva_tracking_pipeline_spark.operators.cascade import (
    apply_patch_map,
    cva_amount_cascade,
    manual_review_routing,
    relevance_with_ml,
    sector_method_cluster_relevance,
    training_append,
    when_cascade,
)
from calp_cva_tracking_pipeline_spark.operators.dedup import priority_dedup
from calp_cva_tracking_pipeline_spark.operators.joins import (
    anti_waterfall_union,
    substring_join,
)
from calp_cva_tracking_pipeline_spark.operators.reshape import (
    split_rows_equal,
)
from calp_cva_tracking_pipeline_spark.operators.windows import (
    cumulative_product,
)

CASH_CLUSTERS = ["Multi-Purpose Cash Assistance (MPCA)", "Basic Needs"]


# --- X1: equal-split explode preserves sums ---------------------------------


def test_x1_sum_preservation_random_packed(spark):
    rng = random.Random(42)
    rows = []
    for i in range(200):
        n_parts = rng.randint(1, 6)
        parts = [f"v{rng.randint(0, 9)}" for _ in range(n_parts)]
        packed = "; ".join(parts) if rng.random() < 0.5 else ";".join(parts)
        rows.append((i, packed, rng.uniform(0.01, 1e6)))
    df = spark.createDataFrame(rows, "id long, packed string, amt double")
    out = split_rows_equal(df, "packed", ["amt"])
    # part count == 1 + separator count (code/02:10)
    counts = {
        r["id"]: r["n"]
        for r in out.groupBy("id").agg(F.count("*").alias("n")).collect()
    }
    for i, packed, _ in rows:
        assert counts[i] == 1 + packed.count(";")
    # Σ amt preserved per source row (floating point)
    sums = {
        r["id"]: r["s"]
        for r in out.groupBy("id").agg(F.sum("amt").alias("s")).collect()
    }
    for i, _, amt in rows:
        assert sums[i] == pytest.approx(amt, rel=1e-9)
    # parts are trimmed
    assert not [
        r for r in out.select("packed").collect() if r["packed"] != r["packed"].strip()
    ]


# --- D1: priority dedup prefers incoming ------------------------------------


def test_d1_prefers_incoming(spark):
    rows = [
        (1, "internal"), (1, "incoming"),   # both -> keep incoming
        (2, "internal"), (2, "internal"),   # no incoming -> keep internal
        (3, "incoming"),
    ]
    df = spark.createDataFrame(rows, "id long, boundary string")
    pri = when_cascade(
        F.lit(2),
        [(F.col("boundary") == "incoming", F.lit(0)),
         (F.col("boundary") == "internal", F.lit(1))],
    )
    out = priority_dedup(df, ["id"], pri, ["boundary"])
    got = {r["id"]: r["boundary"] for r in out.collect()}
    assert got == {1: "incoming", 2: "internal", 3: "incoming"}
    assert out.count() == 3  # exactly one row per id


# --- A1: clamp at 100 --------------------------------------------------------


def test_a1_clamp(spark):
    df = spark.createDataFrame(
        [(1, 60.0), (1, 70.0), (2, 30.0)], "pid long, pct double"
    )
    out = {
        r["pid"]: r["cva_percentage"]
        for r in sum_clamped_percentage(df, "pid", "pct").collect()
    }
    assert out[1] == 1.0  # 130 clamped to 100 -> 1.0
    assert out[2] == pytest.approx(0.3)


# --- CC1: Partial overrides Full (precedence table) --------------------------


@pytest.mark.parametrize(
    "method,cluster,expected",
    [
        ("Cash transfer programming (CTP)", "", "Full"),
        ("Traditional aid", "Basic Needs", "Full"),
        # multi-cluster containing a cash cluster DOWNGRADES Full -> Partial
        ("Cash transfer programming (CTP)",
         "Basic Needs; Health", "Partial"),
        ("Traditional aid", "Health; Basic Needs", "Partial"),
        ("Traditional aid", "Health", "None"),
        ("Traditional aid", "", "None"),
        # the reference's grepl treats names as raw regex (code/08:128):
        # the '(MPCA)' name matches its parens-stripped text, not its
        # literal spelling — exact membership still catches the literal
        ("Traditional aid",
         "Health; Multi-Purpose Cash Assistance MPCA", "Partial"),
        ("Traditional aid",
         "Health; Multi-Purpose Cash Assistance (MPCA)", "None"),
        ("Traditional aid",
         "Multi-Purpose Cash Assistance (MPCA)", "Full"),
    ],
)
def test_cc1_precedence(spark, method, cluster, expected):
    df = spark.createDataFrame([(method, cluster)], "method string, cluster string")
    out = df.withColumn(
        "rel",
        sector_method_cluster_relevance(
            F.col("method"), F.col("cluster"), CASH_CLUSTERS
        ),
    )
    assert out.collect()[0]["rel"] == expected


# --- CC2: ML fires only on still-None inference rows -------------------------


@pytest.mark.parametrize(
    "cc1,pct,kw,pcva,pred,exp_rel,exp_meth",
    [
        ("Full", None, False, False, "Partial", "Full", "Sector/Method/Cluster"),
        ("None", 0.9, False, False, "Partial", "Full", "Project CVA Percentage"),
        ("None", 0.5, True, False, "Full", "Partial", "Project CVA Percentage"),
        ("None", None, True, False, "Full", "Full", "Keyword + ML"),
        ("None", None, False, True, "Partial", "Partial", "Project API + ML"),
        # not sent to ML: method keeps the unconditional init (code/08:140)
        ("None", None, False, False, "Full", "None", "Sector/Method/Cluster"),
        ("None", 0.0, True, False, "Full", "Full", "Keyword + ML"),  # pct 0 != sent
        # BOTH flags: the later sequential assignment wins (code/08:175-182)
        ("None", None, True, True, "Partial", "Partial", "Project API + ML"),
    ],
)
def test_cc2_precedence(spark, cc1, pct, kw, pcva, pred, exp_rel, exp_meth):
    df = spark.createDataFrame(
        [(cc1, pct, kw, pcva, pred)],
        "cc1 string, pct double, kw boolean, pcva boolean, pred string",
    )
    rel, meth = relevance_with_ml(
        F.col("cc1"), F.col("pct"), F.col("kw"), F.col("pcva"), F.col("pred")
    )
    row = df.withColumn("rel", rel).withColumn("meth", meth).collect()[0]
    assert (row["rel"], row["meth"]) == (exp_rel, exp_meth)


# --- CC3: later rules fire only where amount still 0 -------------------------


def test_cc3_order_dependence(spark):
    rows = [
        # relevance, amount, clusters, pct, conf, common, manual -> expected
        ("Full", 100.0, 2, 0.5, 0.9, True, True, 100.0, "Sector, method, cluster"),
        ("Partial", 100.0, 4, None, 0.0, False, False, 25.0, "Partial cluster"),
        ("None", 100.0, 1, 0.3, 0.9, True, False, 30.0, "Project CVA percentage"),
        ("None", 100.0, 1, None, 0.9, True, False, 100.0, "ML high predicted relevance"),
        ("None", 100.0, 1, None, 0.9, False, True, 100.0, "Manual"),
        ("None", 100.0, 1, None, 0.2, False, False, 0.0, ""),
        # Partial with zero clusters -> null amount (R: Inf, dropped by F7)
        ("Partial", 100.0, 0, None, 0.0, False, False, None, "Partial cluster"),
    ]
    df = spark.createDataFrame(
        [r[:7] for r in rows],
        "rel string, amt double, nc int, pct double, conf double,"
        " cw boolean, man boolean",
    )
    amount, atype = cva_amount_cascade(
        F.col("rel"), F.col("amt"), F.col("nc"), F.col("pct"),
        F.col("conf"), F.col("cw"), F.col("man"),
    )
    got = df.withColumn("a", amount).withColumn("t", atype).collect()
    for row, exp in zip(got, rows):
        assert row["a"] == (pytest.approx(exp[7]) if exp[7] is not None else None)
        assert row["t"] == exp[8]


# --- CC4: routing band + anti-join + training append -------------------------


def test_cc4_routing(spark):
    flows = spark.createDataFrame(
        [
            (1, 0.0, 0.6, False),   # uncertain -> queue
            (2, 0.0, 0.9, True),    # high band + common words -> auto, no queue
            (3, 0.0, 0.9, False),   # high conf but no common words -> queue
            (4, 0.0, 0.4, False),   # below band -> no queue
            (5, 50.0, 0.6, False),  # already has amount -> no queue
            (6, 0.0, 0.7, True),    # uncertain but previously reviewed
        ],
        "id long, CVAamount double, predicted_confidence double,"
        " common_words_match boolean",
    )
    prior = spark.createDataFrame([(6,)], "id long")
    queue = manual_review_routing(flows, prior)
    assert {r["id"] for r in queue.collect()} == {1, 3}

    existing = spark.createDataFrame([("seen text",)], "text string")
    accepted = spark.createDataFrame(
        [("seen text",), ("new text",)], "text string"
    )
    appended = training_append(existing, accepted)
    assert [r["text"] for r in appended.collect()] == ["new text"]

    # the reference's DOUBLE exclusion (code/09:79-80): a known id with
    # altered text is dropped by the id pass; a new id with known text is
    # dropped by the text pass; only (new id, new text) survives
    existing = spark.createDataFrame(
        [(10, "seen text")], "id long, text string"
    )
    accepted = spark.createDataFrame(
        [(10, "altered text"), (11, "seen text"), (12, "brand new")],
        "id long, text string",
    )
    appended = training_append(existing, accepted)
    assert [(r["id"], r["text"]) for r in appended.collect()] == [
        (12, "brand new")
    ]


# --- CC6: patch map overrides only mapped keys -------------------------------


def test_cc6_patch_map(spark):
    df = spark.createDataFrame(
        [("WBG",), ("FRA",), ("Russia",)], "iso string"
    )
    out = apply_patch_map(df, "iso", [("WBG", "PSE"), ("Russia", "RUS")])
    assert {r["iso"] for r in out.collect()} == {"PSE", "FRA", "RUS"}


def test_cc6_patch_map_repeated_from_maps_once(spark):
    """A repeated ``from`` key maps each row once, to its last target: a
    join against the patch table would emit one row per matching patch."""
    df = spark.createDataFrame([("WBG",), ("FRA",)], "iso string")
    out = apply_patch_map(
        df, "iso", [("WBG", "XXX"), ("WBG", "PSE")], out_col="iso_fixed"
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        ("FRA", "FRA"), ("WBG", "PSE")
    ]
    assert apply_patch_map(df, "iso", []).collect() == df.collect()


# --- W1: non-positive factors poison the running product ---------------------


def test_w1_nonpositive_guard(spark):
    df = spark.createDataFrame(
        [(1, 1, 1.1), (1, 2, 0.0), (1, 3, 1.2), (2, 1, 1.5), (1, 0, -2.0)],
        "g long, i int, v double",
    )
    out = cumulative_product(df, "v", ["g"], ["i"], "cum")
    got = {(r["g"], r["i"]): r["cum"] for r in out.collect()}
    # group 1 ordered i=0,1,2,3: factor -2.0 at i=0 poisons everything after
    assert got[(1, 0)] is None and got[(1, 1)] is None
    assert got[(1, 2)] is None and got[(1, 3)] is None
    assert got[(2, 1)] == pytest.approx(1.5)


def test_w1_positive_factors_compound(spark):
    df = spark.createDataFrame(
        [(1, 1, 2.0), (1, 2, 3.0), (1, 3, 4.0)], "g long, i int, v double"
    )
    out = cumulative_product(df, "v", ["g"], ["i"], "cum")
    got = {r["i"]: r["cum"] for r in out.collect()}
    assert got == {1: pytest.approx(2.0), 2: pytest.approx(6.0),
                   3: pytest.approx(24.0)}


# --- C6/J11: metacharacter needles are quoted, not interpreted ---------------


def test_regex_quote_metachars(spark):
    df = spark.createDataFrame(
        [("a+b (x)",), ("[set]",), ("plain",)], "s string"
    )
    out = df.select(
        F.col("s"), regex_quote(F.col("s")).alias("q")
    ).collect()
    quoted = {r["s"]: r["q"] for r in out}
    assert quoted["a+b (x)"] == "a\\+b \\(x\\)"
    assert quoted["[set]"] == "\\[set\\]"
    assert quoted["plain"] == "plain"


def test_substring_join_metachar_needle(spark):
    needles = spark.createDataFrame(
        [("a+b",), ("core",)], "needle string"
    )
    hay = spark.createDataFrame(
        [("contains a+b here",), ("aab would match unquoted",),
         ("the core value",)],
        "name string",
    )
    out = substring_join(needles, hay, "needle", "name")
    got = {r["needle"]: r["matched_name"] for r in out.collect()}
    # 'a+b' must match ONLY the literal text, not the regex a+b (aab)
    assert got["a+b"] == "contains a+b here"
    assert got["core"] == "the core value"


# --- LSH skew guards: mass duplicates don't explode the pair count -----------


def test_lsh_skew_guard(spark):
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    docs = [(i, "the exact same page content repeated verbatim everywhere")
            for i in range(500)]
    docs += [(1000 + i, f"unique document number {i} with its own words here")
             for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    unguarded = minhash_lsh_candidates(
        df, "doc_id", "text", pre_collapse_exact=False
    ).count()
    assert unguarded >= 500 * 499 // 2  # O(n^2) blow-up from one cluster

    guarded = minhash_lsh_candidates(
        df, "doc_id", "text", pre_collapse_exact=True, max_bucket_docs=64
    ).count()
    # the duplicate cluster collapses to ONE representative -> no intra-
    # cluster pairs survive; only (rare) cross-text collisions remain
    assert guarded < 50


def test_embed_neardup_skew_guard(spark):
    # same hazard, embedding tier: k byte-identical vectors share every
    # hyperplane bucket and emit k(k-1)/2 pairs each at cosine 1.0 — the
    # emission itself is quadratic in the duplication factor. The exact
    # pre-collapse (default on) reduces them to one representative.
    import random

    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        embedding_near_dup_candidates,
    )

    rng = random.Random(7)
    dup_vec = [rng.uniform(-1, 1) for _ in range(16)]
    rows = [(i, dup_vec) for i in range(200)]
    rows += [
        (1000 + j, [rng.uniform(-1, 1) for _ in range(16)])
        for j in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    unguarded = embedding_near_dup_candidates(
        df, "vec_id", "embedding", dim=16, threshold=0.9,
        pre_collapse_exact=False,
    ).count()
    assert unguarded >= 200 * 199 // 2  # quadratic in the duplicate count

    guarded = embedding_near_dup_candidates(
        df, "vec_id", "embedding", dim=16, threshold=0.9,
    )
    assert guarded.count() < 20  # representatives only
    # the surviving representative is the min id of the duplicate group
    assert not [
        r for r in guarded.collect() if 0 < r["id_a"] < 1000
        or 0 < r["id_b"] < 1000
    ]


def test_connected_components_chain_star_disjoint(spark):
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),          # chain: all -> 1
            (10, 11), (10, 12), (10, 13),    # star: all -> 10
            (20, 21),                        # pair: -> 20
        ],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20,
    }


def test_connected_components_vs_greedy_drop(spark):
    # the documented difference (plans/corpus.py near_dup_drop_set): in a
    # chain A~B~C with no direct A~C pair, greedy drops B and C (B because
    # of A, C because of B); components keep exactly one survivor per
    # cluster — the same outcome here, but consistently labeled, and the
    # label IS the survivor id.
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    comp = connected_components(pairs)
    survivors = {
        r["node"] for r in comp.filter("node = component").collect()
    }
    assert survivors == {1}
    # reverse-ordered edges converge to the same labels (undirected)
    rev = spark.createDataFrame([(3, 2), (2, 1)], "id_a long, id_b long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(rev).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}


def test_connected_components_max_iters_raises(spark):
    import pytest as _pytest

    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        connected_components,
    )

    # a 6-chain needs ~5 propagation rounds; max_iters=2 must raise, not
    # return partial labels
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=2)


# --- J14: waterfall keeps first-source rows only -----------------------------


def test_j14_waterfall_priority(spark):
    s1 = spark.createDataFrame([(1, "a1"), (2, "a2")], "k long, v string")
    s2 = spark.createDataFrame([(2, "b2"), (3, "b3")], "k long, v string")
    s3 = spark.createDataFrame([(3, "c3"), (4, "c4")], "k long, v string")
    out = anti_waterfall_union([s1, s2, s3], ["k"])
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "a1", 2: "a2", 3: "b3", 4: "c4"}


# --- language ID: char-trigram profiles --------------------------------------


def test_lang_id_char_ngram(spark):
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        lang_id_char_ngram,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumped over the lazy dog and ran"),
            (2, "le gouvernement de la France a annoncé que les mesures"),
            (3, "el gobierno de España anunció que las medidas económicas"),
            (4, "zzz qqq xxx"),
        ],
        "id long, text string",
    )
    out = {
        r["id"]: r["lang"]
        for r in df.select(
            "id", lang_id_char_ngram(F.col("text")).alias("lang")
        ).collect()
    }
    assert out[1] == "en"
    assert out[2] == "fr"
    assert out[3] == "es"
    assert out[4] == "unk"


def test_bpe_pretokenizer(spark):
    """GPT-2-style regex pre-tokenization: contractions split off, letter /
    digit / punctuation runs each absorb one leading space, whitespace runs
    count once. Expected values hand-derived from the published pattern."""
    from calp_cva_tracking_pipeline_spark.functions.text import (
        bpe_pretokens,
        bpe_token_count,
    )

    df = spark.createDataFrame(
        [
            (1, "I'll pay $1,250 now!"),
            (2, "hello   world"),
            (3, ""),
            (4, "   "),
            (5, "état café 123"),
        ],
        "id long, text string",
    )
    out = {
        r["id"]: (r["toks"], r["n"])
        for r in df.select(
            "id",
            bpe_pretokens(F.col("text")).alias("toks"),
            bpe_token_count(F.col("text")).alias("n"),
        ).collect()
    }
    assert out[1][0] == ["I", "'ll", " pay", " $", "1", ",", "250", " now", "!"]
    assert out[1][1] == 9
    # the inter-word run splits as residual-whitespace + space-absorbed word
    assert out[2][0] == ["hello", "  ", " world"]
    assert out[2][1] == 3
    assert out[3][1] == 0 and out[4][1] == 0  # blank-safe
    # \p{L} covers accented letters — no ASCII-only tokenization
    assert out[5][0] == ["état", " café", " 123"]
    # count always equals the extracted-token count
    mismatch = df.filter(
        bpe_token_count(F.col("text")) != F.size(bpe_pretokens(F.col("text")))
    ).filter(F.trim(F.col("text")) != "")
    assert mismatch.count() == 0


# --- X1 under hypothesis: arbitrary packed strings ---------------------------


def test_x1_hypothesis_packed_strings(spark):
    from hypothesis import given, settings, strategies as st

    part = st.text(
        alphabet="abc XY9", min_size=0, max_size=8
    ).map(lambda s: s.replace(";", " "))
    packed_rows = st.lists(
        st.tuples(st.lists(part, min_size=1, max_size=5),
                  st.floats(min_value=0.01, max_value=1e9,
                            allow_nan=False, allow_infinity=False)),
        min_size=1, max_size=20,
    )

    @settings(max_examples=10, deadline=None)
    @given(packed_rows)
    def run(case):
        rows = [
            (i, ";".join(parts), amt)
            for i, (parts, amt) in enumerate(case)
        ]
        df = spark.createDataFrame(rows, "id long, packed string, amt double")
        out = split_rows_equal(df, "packed", ["amt"]).collect()
        by_id = {}
        for r in out:
            by_id.setdefault(r["id"], []).append(r)
        for i, (parts, amt) in enumerate(case):
            got = by_id[i]
            assert len(got) == len(parts)          # count = 1 + separators
            assert sum(r["amt"] for r in got) == pytest.approx(amt, rel=1e-9)
            assert [r["packed"] for r in got] == [p.strip() for p in parts]

    run()


# --- corpus stats: sketch aggregates in one scan -----------------------------


def test_corpus_stats(spark, sf_dir):
    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        corpus_stats,
    )

    d = T(spark, sf_dir, "documents")
    row = corpus_stats(d).collect()[0]
    n = d.count()
    assert row["n_docs"] == n
    # HLL estimate within its error band of the true distinct count
    true_distinct = d.select("text").distinct().count()
    assert abs(row["approx_distinct_docs"] - true_distinct) / true_distinct < 0.1
    p50, p95 = row["token_quantiles"]
    assert 0 < p50 <= p95
    assert 0.0 <= row["mean_quality"] <= 1.0


# --- salted join: skew spread without changing results -----------------------


def test_salted_join_matches_plain_join(spark):
    from calp_cva_tracking_pipeline_spark.operators.joins import salted_join

    # one hot key (90% of rows) + a tail
    left = spark.range(2000).select(
        F.when(F.col("id") < 1800, F.lit(7)).otherwise(F.col("id") % 50)
        .alias("k"),
        F.col("id").alias("row_id"),
    )
    right = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("dim_val")
    )
    plain = left.join(right, "k").groupBy("k").agg(
        F.count("*").alias("n"), F.sum("dim_val").alias("s")
    )
    salted = salted_join(left, right, ["k"]).groupBy("k").agg(
        F.count("*").alias("n"), F.sum("dim_val").alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )

    # join types that don't preserve the salted side are rejected: the
    # other side is replicated per salt value, so 'right'/'full' would
    # emit each unmatched right row salt_buckets times
    for bad in ("right", "full", "full_outer", "right_semi", "RIGHT_OUTER"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(left, right, ["k"], how=bad)
    # ...while every Spark alias of the skew-side-preserving types passes
    # validation ('semi'/'anti' are accepted Spark spellings too)
    for ok in ("semi", "anti", "left_semi", "leftanti", "Left_Outer"):
        salted_join(left, right, ["k"], how=ok)
    semi_n = salted_join(left, right, ["k"], how="semi").count()
    assert semi_n == left.join(right, "k", "semi").count()


def test_table_cache_resolves_once_and_invalidates(spark, sf_dir):
    from calp_cva_tracking_pipeline_spark.catalog.common import (
        _TABLES,
        T,
        invalidate_tables,
    )

    a = T(spark, sf_dir, "orders")
    b = T(spark, sf_dir, "orders")
    assert a is b  # same resolved plan object: no re-inference
    assert T(spark, sf_dir, "lineitem") is not a  # keyed per table
    invalidate_tables(spark)
    c = T(spark, sf_dir, "orders")
    assert c is not a  # cache dropped -> fresh resolution
    assert c.schema == a.schema


# --- spread guard: parallelizes scans, never touches wide plans ------------


def test_spread_widens_single_split_scan(spark, sf_dir):
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1  # single row group → one split
    spread = spread_small_input(docs)
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # result-neutral
    assert spread.count() == docs.count()


def test_spread_bytes_per_task_caps_width(spark, sf_dir):
    # light per-row stages pass bytes_per_task so a few-MiB input is cut
    # into work-sized tasks, not defaultParallelism slivers; the cap comes
    # from the optimizer's size estimate and never exceeds the uncapped
    # target, never goes below 2
    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    est = int(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    full = spark.sparkContext.defaultParallelism
    capped = spread_small_input(docs, bytes_per_task=est)  # ~1 task of bytes
    assert capped.rdd.getNumPartitions() == 2  # floor
    wide = spread_small_input(docs, bytes_per_task=max(1, est // (4 * full)))
    assert wide.rdd.getNumPartitions() == full  # cap never exceeds target
    assert capped.count() == docs.count()


def test_spread_is_noop_on_wide_plans(spark, sf_dir):
    # probing .rdd below a shuffle materializes AQE stages (upstream work
    # would run twice) — the guard must return such plans unchanged
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.operators.partitioning import (
        spread_small_input,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for wide in (
        docs.groupBy("lang").count(),
        docs.join(docs.select("doc_id"), "doc_id"),
        docs.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("lang")
                .orderBy("doc_id")
            ),
        ),
        docs.repartition(4),
    ):
        assert spread_small_input(wide) is wide


def test_declared_embedding_dim_matches_testdata(spark, sf_dir):
    # EMB_DIM is a declared schema constant (plans never probe data for
    # it); this is the one place the declaration meets the actual data
    from calp_cva_tracking_pipeline_spark.catalog.scale import EMB_DIM

    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(F.size("embedding").alias("d"))
        .first()
    )
    assert row["d"] == EMB_DIM


def test_minhash_estimates_true_jaccard(spark):
    """Statistical contract of the MinHash signature: for documents with a
    known shingle overlap, the fraction of agreeing signature slots is an
    unbiased estimate of the true k-shingle Jaccard. With 64 hashes the
    standard error is ~sqrt(J(1-J)/64) <= 0.063, so a +/-0.2 tolerance per
    pair is ~3 sigma — deterministic given the fixed hash params and seed
    (no flakiness: everything is seeded/LCG-derived)."""
    import itertools

    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        minhash_signatures,
    )

    # deterministic corpus: words drawn from a small vocab with controlled
    # overlap, duplicated words removed so Python's set Jaccard over
    # 3-shingles is the exact reference value
    base = "the quick brown fox jumps over a lazy dog near riverbank".split()
    docs = {
        "a": " ".join(base),
        "b": " ".join(base[:8] + ["swift", "red"]),  # high overlap with a
        "c": " ".join(base[:4] + ["entirely", "different", "tail", "words"]),
        "d": " ".join(["unrelated", "tokens", "everywhere", "nothing",
                       "shared", "at", "all", "here"]),
    }

    def k3(text):
        w = text.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    rows = [(i, t) for i, t in docs.items()]
    df = spark.createDataFrame(rows, ["doc_id", "body"])
    sig = {
        r["__id"]: r["__sig"]
        for r in minhash_signatures(
            df, "doc_id", "body", num_hashes=64
        ).collect()
    }

    for x, y in itertools.combinations(docs, 2):
        true_j = len(k3(docs[x]) & k3(docs[y])) / len(k3(docs[x]) | k3(docs[y]))
        est = sum(
            1 for a, b in zip(sig[x], sig[y]) if a == b
        ) / 64.0
        assert abs(est - true_j) <= 0.2, (
            f"pair ({x},{y}): true J={true_j:.3f} est={est:.3f}"
        )


def test_pii_redact_planted_spans(spark):
    from calp_cva_tracking_pipeline_spark.operators.textops import pii_redact

    df = spark.createDataFrame(
        [
            ("mail me at jane.doe+spam@sub.example.co.uk thanks",),
            ("server at 192.168.10.250 went down",),
            ("call +44 (020) 7946-0958 or 555-123-4567",),
            ("no pii in this sentence at all",),
        ],
        "text string",
    )
    got = [r["red"] for r in df.select(
        pii_redact(F.col("text")).alias("red")
    ).collect()]
    assert got[0] == "mail me at <EMAIL> thanks"
    assert got[1] == "server at <IP> went down"
    assert "<PHONE>" in got[2] and "0958" not in got[2]
    assert "4567" not in got[2]
    assert got[3] == "no pii in this sentence at all"


def test_repetition_stats_boilerplate_scores_high(spark):
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        repetition_stats,
    )

    spam = "\n".join(["click here to win"] * 9 + ["unique closing line"])
    clean = "every word in this sentence differs from all the others"
    df = spark.createDataFrame([(1, spam), (2, clean)], "i int, text string")
    dl, dw = repetition_stats(F.col("text"))
    rows = {
        r["i"]: (r["dl"], r["dw"])
        for r in df.select("i", dl.alias("dl"), dw.alias("dw")).collect()
    }
    assert rows[1][0] == 0.8  # 8 of 10 lines are repeats
    assert rows[1][1] > 0.7  # words heavily repeated too
    assert rows[2] == (0.0, 0.0)


def test_chunk_documents_overlap_reconstruction(spark):
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        chunk_documents,
    )

    words = [f"w{i}" for i in range(25)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, ""), (3, "short doc")],
        "doc_id bigint, text string",
    )
    chunks = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(
            df, "doc_id", max_tokens=10, overlap=4
        ).collect()
    }
    # doc 1: 25 tokens, step 6 -> starts 0,6,12,18 (a start at 24 would
    # add nothing beyond the overlap) -> 4 chunks
    assert (1, 4) not in chunks
    doc1 = [chunks[(1, i)] for i in range(4)]
    assert [c[0] for c in doc1] == [10, 10, 10, 7]
    # consecutive chunks share exactly the 4-token overlap
    for a, b in zip(doc1, doc1[1:]):
        assert a[1].split()[-4:] == b[1].split()[:4]
    # dropping each chunk's leading overlap (after the first) rebuilds
    # the doc exactly
    rebuilt = doc1[0][1].split()
    for c in doc1[1:]:
        rebuilt += c[1].split()[4:]
    assert rebuilt == words
    assert chunks[(2, 0)] == (1, "")  # empty doc still yields one chunk
    assert chunks[(3, 0)] == (2, "short doc")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, "doc_id", max_tokens=8, overlap=8)


def test_semantic_dedup_cells_and_survivors(spark):
    # Hand-built geometry: two well-separated directions (centroid init =
    # two lowest ids, one per direction), satellites close to each become
    # within-cell drops, an orthogonal vector shares cell 0 but clears no
    # threshold and keeps.
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        semantic_dedup,
    )

    def v(*xs):
        return list(xs) + [0.0] * (4 - len(xs))

    rows = [
        (0, v(1.0)),          # centroid 0, keeps
        (1, v(-1.0)),         # centroid 1, keeps
        (10, v(0.9, 0.1)),    # cell 0, cos≈0.994 vs id 0 -> drop
        (11, v(0.8, -0.2)),   # cell 0, cos≈0.970 vs id 0 -> drop
        (20, v(-0.9, 0.05)),  # cell 1, cos≈0.998 vs id 1 -> drop
        (30, v(0.05, 1.0)),   # cell 0 but near-orthogonal -> keep
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in semantic_dedup(
            df, "vec_id", "embedding", n_centroids=2, threshold=0.9
        ).collect()
    }
    assert out == {
        0: (0, True),
        1: (1, True),
        10: (0, False),
        11: (0, False),
        20: (1, False),
        30: (0, True),
    }

    # Deterministic under arbitrary input partitioning.
    out_rep = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in semantic_dedup(
            df.repartition(7), "vec_id", "embedding",
            n_centroids=2, threshold=0.9,
        ).collect()
    }
    assert out_rep == out

    # Passing an externally trained quantizer (the persisted-IVF-index
    # path) gives the identical verdict.
    from calp_cva_tracking_pipeline_spark.operators.similarity import (
        train_centroids,
    )

    cent = train_centroids(df, "vec_id", "embedding", 2)
    out_reuse = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in semantic_dedup(
            df, "vec_id", "embedding", n_centroids=2, threshold=0.9,
            centroids=cent,
        ).collect()
    }
    assert out_reuse == out


def test_semantic_dedup_exists_rule_is_not_transitive_closure(spark):
    # a~b and b~c but a!~c: b drops (a exists), and c drops because the
    # smaller-id b is within threshold — b's own drop does NOT requalify c
    # (EXISTS semantics, documented; connected_components gives closure).
    import math

    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        semantic_dedup,
    )

    def rot(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0, 0.0]

    df = spark.createDataFrame(
        [(0, rot(0)), (1, rot(25)), (2, rot(50))],
        "vec_id long, embedding array<double>",
    )
    # one cell (n_centroids=1) isolates the survivor rule; cos 25 deg ~
    # 0.906 >= 0.9, cos 50 deg ~ 0.64 < 0.9
    out = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", n_centroids=1, threshold=0.9
        ).collect()
    }
    assert out == {0: True, 1: False, 2: False}


def test_semantic_dedup_exact_collapse_guard(spark):
    # 100 byte-identical vectors produce ONE verdict row (the min-id
    # representative) — the same duplicate-mass guard as the LSH tiers;
    # exact copies are the exact tier's output, not quadratic pair fuel.
    import random

    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        semantic_dedup,
    )

    rng = random.Random(3)
    dup = [rng.uniform(-1, 1) for _ in range(8)]
    rows = [(i, dup) for i in range(100)]
    rows += [(500 + j, [rng.uniform(-1, 1) for _ in range(8)]) for j in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(
        df, "vec_id", "embedding", n_centroids=2, threshold=0.99
    )
    ids = [r["vec_id"] for r in out.collect()]
    assert len(ids) == 11  # 1 representative + 10 distinct
    assert 0 in ids and not any(0 < i < 500 for i in ids)


def test_salted_join_equals_plain_join(spark):
    import pytest

    from calp_cva_tracking_pipeline_spark.operators.joins import salted_join

    # hot key 7 carries half the left side; right has matched and
    # unmatched rows plus a null-key row on each side
    left = spark.createDataFrame(
        [(7, f"l{i}") for i in range(50)]
        + [(i, f"c{i}") for i in range(10)]
        + [(None, "lnull")],
        "k int, lv string",
    )
    right = spark.createDataFrame(
        [(7, "hot_r1"), (7, "hot_r2"), (3, "r3"), (99, "unmatched"),
         (None, "rnull")],
        "k int, rv string",
    )
    key = lambda r: repr(r)  # noqa: E731 — None-safe sort key
    for how in ("inner", "left"):
        plain = sorted(map(tuple, left.join(right, "k", how).collect()),
                       key=key)
        salted = sorted(
            map(
                tuple,
                salted_join(
                    left, right, ["k"], how=how, salt_buckets=4,
                    hot_keys=[7, 99],
                ).collect(),
            ),
            key=key,
        )
        assert salted == plain, how

    # hot-key targeting needs a single-column key
    with pytest.raises(ValueError, match="single-column"):
        salted_join(left, right, ["k", "lv"], hot_keys=[7])
