"""Conditional-update cascades (SURVEY.md §2.10).

The reference's most distinctive operator: ordered, mutually-overwriting
conditional assignments (CC1-CC3). In an eager engine those are sequential
in-place updates; under lazy evaluation they must compile to ONE
deterministic expression per column. ``when_cascade`` does that: rules are
given in application order (later rules override earlier ones), and the
builder emits a single when/otherwise chain checking the LAST rule first —
exactly equivalent to sequential overwrites as long as conditions reference
only input columns (the CC3 "remaining == 0" guards are encoded by callers
as explicit negations of prior-rule predicates).

Single-projection, no shuffle, whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def when_cascade(init: Column, rules: list[tuple[Column, Column]]) -> Column:
    """Sequential-overwrite semantics as one expression.

    ``rules`` in application order; row value = value of the LAST rule whose
    condition holds, else ``init``.
    """
    expr = None
    for cond, value in reversed(rules):
        expr = F.when(cond, value) if expr is None else expr.when(cond, value)
    return init if expr is None else expr.otherwise(init)


# --- CC1: sector/method/cluster relevance ---------------------------------
# Reference: code/08_fts_keyword_searching_cash.R:121-128. The subtle rule:
# a multi-cluster list *containing* a cash cluster downgrades Full → Partial
# (the last rule overrides).

CASH_METHOD = "Cash transfer programming (CTP)"


def sector_method_cluster_relevance(
    method: Column, cluster: Column, cash_clusters: list[str]
) -> Column:
    """CC1. The multi-cluster rule reproduces the reference's grepl with
    the UNESCAPED name alternation (code/08:128): cluster names are treated
    as regex, so a name containing metacharacters — e.g.
    'Multi-Purpose Cash Assistance (MPCA)' — matches the parens-stripped
    text 'Multi-Purpose Cash Assistance MPCA', NOT its own literal
    spelling. R's TRE and Java's regex agree on this, so rlike is the
    faithful translation; a quotemeta'd literal-contains would implement
    the intent but diverge from the code (tests pin the quirk)."""
    exact_cash = cluster.isin(cash_clusters)
    multi = cluster.contains(";")
    contains_cash = cluster.rlike("|".join(cash_clusters))
    return when_cascade(
        F.lit("None"),
        [
            (method == CASH_METHOD, F.lit("Full")),
            (exact_cash, F.lit("Full")),
            (multi & contains_cash, F.lit("Partial")),
        ],
    )


# --- CC2: relevance / relevance_method with ML override --------------------
# Reference: code/08_fts_keyword_searching_cash.R:139-148,175-182. Two output
# columns driven by one precedence order: CC1 result → project-percentage
# bands → ML prediction, where ML applies ONLY to rows still 'None' that
# were sent to inference (keyword_match | project_cva).


def relevance_with_ml(
    cc1_relevance: Column,
    pct: Column,
    keyword_match: Column,
    project_cva: Column,
    predicted_class: Column,
) -> tuple[Column, Column]:
    """Returns (relevance, relevance_method) as two parallel when-chains.

    Rules in application order (later overrides earlier), reproducing the
    reference's sequential assignments EXACTLY — including two quirks:
    ``relevance_method`` initializes to 'Sector/Method/Cluster' for EVERY
    row (code/08:140, even rows whose relevance stays 'None'), and a row
    flagged by BOTH keyword and project gets 'Project API + ML' because
    that assignment comes later (code/08:175-182).

    1. init: relevance from CC1; method 'Sector/Method/Cluster' always.
    2. pct >= 0.75            → Full,    'Project CVA Percentage'
    3. 0 < pct < 0.75         → Partial, 'Project CVA Percentage'
    4. on rows STILL None after 1-3, prediction ∈ {Partial, Full}:
       keyword_match → 'Keyword + ML'; project_cva → 'Project API + ML'
       (later, so it wins when both flags hold); relevance = prediction.
    """
    pred_ok = predicted_class.isin("Partial", "Full")
    kw = keyword_match & pred_ok
    api = project_cva & pred_ok
    # rules 2-3 override CC1; rule 4 fires only where 1-3 left None
    pct_full = pct.isNotNull() & (pct >= 0.75)
    pct_partial = pct.isNotNull() & (pct > 0) & (pct < 0.75)
    none_after_3 = (cc1_relevance == "None") & ~pct_full & ~pct_partial
    relevance = when_cascade(
        cc1_relevance,
        [
            (pct_full, F.lit("Full")),
            (pct_partial, F.lit("Partial")),
            (none_after_3 & (kw | api), predicted_class),
        ],
    )
    method = when_cascade(
        F.lit("Sector/Method/Cluster"),
        [
            (pct_full, F.lit("Project CVA Percentage")),
            (pct_partial, F.lit("Project CVA Percentage")),
            (none_after_3 & kw, F.lit("Keyword + ML")),
            (none_after_3 & api, F.lit("Project API + ML")),
        ],
    )
    return relevance, method


# --- CC3: CVA amount cascade ----------------------------------------------
# Reference: code/09_calculate_cva.R:29-54,84-86. Each later rule fires only
# where all earlier rules left the amount at 0 — encoded as accumulated
# negations so the chain stays a single expression.


def cva_amount_cascade(
    relevance: Column,
    amount: Column,
    cluster_count: Column,
    pct: Column,
    confidence: Column,
    common_words: Column,
    manual_accept: Column,
) -> tuple[Column, Column]:
    """Returns (CVAamount, CVAamount_type) columns.

    ``relevance`` is CC1's sector/method/cluster relevance — the reference
    indexes ``sector_method_cluster_relevance`` here (code/09:32-41), not
    CC2's ML-augmented column.

    The reference's later rules guard on the RUNNING amount
    (``CVAamount == 0``); this chain encodes rule-fired flags instead,
    with the pct rule requiring ``pct > 0``. The two are amount-equivalent:
    the only rows where "rule fired" and "amount still 0" diverge are
    pct == 0 rows (amount*0 == 0, so the reference lets ML/manual rules
    still fire — and so does this chain, because ``pct > 0`` keeps the pct
    rule from claiming them) and amountUSD == 0 rows, where every branch
    assigns 0 anyway. Label-column note: the reference re-evaluates its row
    index AFTER the amount write (code/09:44-48), which strands the type
    label on rows whose amount became nonzero; this chain labels at
    rule-application time — a deliberate, documented divergence visible
    only in the degenerate cases above.

    The Partial branch divides by ``cluster_count``; a Partial row with zero
    clusters yields null (R would produce Inf, which the pipeline's
    positive-finite filter F7 drops anyway, code/09:89 — null reaches the
    same fate without tripping ANSI division errors or diverging across
    engines on Inf handling).
    """
    r_full = relevance == "Full"
    r_partial = relevance == "Partial"
    taken = r_full | r_partial
    pct_rule = ~taken & pct.isNotNull() & (pct > 0)
    taken2 = taken | pct_rule
    ml_rule = ~taken2 & (confidence >= 0.8) & common_words
    taken3 = taken2 | ml_rule
    manual_rule = ~taken3 & manual_accept

    amount_col = when_cascade(
        F.lit(0.0),
        [
            (r_full, amount),
            (r_partial, F.when(cluster_count > 0, amount / cluster_count)),
            (pct_rule, amount * pct),
            (ml_rule, amount),
            (manual_rule, amount),
        ],
    )
    type_col = when_cascade(
        F.lit(""),
        [
            (r_full, F.lit("Sector, method, cluster")),
            (r_partial, F.lit("Partial cluster")),
            (pct_rule, F.lit("Project CVA percentage")),
            (ml_rule, F.lit("ML high predicted relevance")),
            (manual_rule, F.lit("Manual")),
        ],
    )
    return amount_col, type_col


# --- CC4: manual-review routing --------------------------------------------
# Reference: code/09_calculate_cva.R:59-86. Flows the amount cascade left at
# zero but with mid-band ML confidence are routed to a human review queue,
# minus ids already reviewed; accepted prior decisions fold back into CC3's
# last rule, and accepted rows with novel text append to the classifier
# training set.


def manual_review_routing(
    flows: DataFrame,
    prior_decisions: DataFrame,
    id_col: str = "id",
    amount_col: str = "CVAamount",
    confidence_col: str = "predicted_confidence",
    common_words_col: str = "common_words_match",
) -> DataFrame:
    """Returns the review queue: rows still at amount 0 whose confidence is
    in the uncertain band [0.5, ·) excluding the auto-accepted high band
    (confidence >= 0.8 & common-words), anti-joined against ids already
    reviewed (code/09:59-71).

    The anti join broadcasts the (small, human-generated) decision table, so
    the fact side is never shuffled. Fold-back of accepted decisions is
    CC3's ``manual_accept`` input; training-append is ``training_append``.
    """
    uncertain = (
        (F.col(amount_col) == 0)
        & (F.col(confidence_col) >= 0.5)
        & ~((F.col(confidence_col) >= 0.8) & F.col(common_words_col))
    )
    queue = flows.filter(uncertain)
    return queue.join(
        F.broadcast(prior_decisions.select(id_col)), id_col, "left_anti"
    )


def training_append(
    existing: DataFrame,
    accepted: DataFrame,
    text_col: str = "text",
    id_col: str = "id",
) -> DataFrame:
    """CC4's second half — append accepted-review rows that are new to the
    classifier training corpus (code/09:72-86). The reference excludes rows
    whose id OR text already exists (code/09:79-80: ``!id %in%
    classifier_data$id`` then ``!text %in% classifier_data$text``) — an
    accepted row with a known id but altered text must NOT re-enter. Two
    broadcast anti joins in that order; ``id_col`` applies when both sides
    carry it (the reference's corpus always does). Returns the rows to
    append (caller unions them in)."""
    out = accepted
    if id_col in accepted.columns and id_col in existing.columns:
        out = out.join(
            F.broadcast(existing.select(id_col).distinct()),
            id_col,
            "left_anti",
        )
    return out.join(
        F.broadcast(existing.select(text_col).distinct()),
        text_col,
        "left_anti",
    )


# --- CC6: ISO / org-name patch maps ----------------------------------------
# Reference: WEO WBG→PSE (code/03_deflators.R:57), OECD country-name fixes
# (code/util_exchange_rates.R:43-48), ~20 manual org matches
# (code/10_global_cva_analysis.R:226-285).


def apply_patch_map(
    df: DataFrame,
    key_col: str,
    patches: list[tuple[str, str]],
    out_col: str | None = None,
) -> DataFrame:
    """Override values via a small (from, to) patch list: a literal map
    lookup, ``coalesce(patch[key], key)``. The list is human-curated and
    tiny, so it travels inside the expression — no join, the 100 TB side
    never moves, and a repeated ``from`` key maps once, to its last
    target (``dict`` order), never multiplying the row."""
    hit = F.try_element_at(
        F.create_map(*(F.lit(s) for kv in dict(patches).items() for s in kv)),
        F.col(key_col),
    )
    return df.withColumn(out_col or key_col, F.coalesce(hit, F.col(key_col)))


def multi_destination_collapse(
    name: Column, iso3: Column
) -> tuple[Column, Column]:
    """CC5 — '; '-packed destination country → MULTI sentinel
    (code/04_fts_curated_flows.R:97-98)."""
    is_multi = name.contains(";")
    return (
        F.when(is_multi, F.lit("Multi-destination_org_country")).otherwise(name),
        F.when(is_multi, F.lit("MULTI")).otherwise(iso3),
    )
