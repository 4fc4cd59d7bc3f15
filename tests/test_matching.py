"""EP3 matcher waterfall + double-count removal (code/10:86-324)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.plans.matching import (
    match_org_names,
    subtract_subgrants,
)


def test_match_waterfall_stages(spark):
    subgrants = spark.createDataFrame(
        [
            ("World Food Programme",),      # exact (after canonicalize)
            ("Wrold Food Programme",),      # fuzzy (1 transposition... 2 edits)
            ("Oxfam",),                     # substring_a: inside 'oxfam gb'
            ("Save the Children Fund UK",), # substring_b: contains 'save the children'
            ("wfp",),                       # manual override
            ("Unknown",),                   # sentinel -> dropped
            ("Totally Unrelated Org",),     # no match
        ],
        "name string",
    )
    orgs = spark.createDataFrame(
        [
            ("World Food Programme",),
            ("Oxfam GB",),
            ("Save the Children",),
        ],
        "org string",
    )
    out = match_org_names(
        subgrants,
        orgs,
        manual_overrides=[("wfp", "world food programme")],
    )
    got = {
        r["name"]: (r["matched_name"], r["match_method"])
        for r in out.collect()
    }
    assert "unknown" not in got  # sentinel dropped
    assert got["world food programme"] == ("world food programme", "exact")
    assert got["wrold food programme"] == ("world food programme", "fuzzy")
    assert got["oxfam"] == ("oxfam gb", "substring_a")
    assert got["save the children fund uk"] == (
        "save the children", "substring_b"
    )
    assert got["wfp"] == ("world food programme", "manual")
    assert got["totally unrelated org"] == (None, None)


def test_fuzzy_veto(spark):
    subgrants = spark.createDataFrame([("drc",)], "name string")
    orgs = spark.createDataFrame([("nrc",)], "org string")
    # without the veto, 'drc' would fuzzy-match 'nrc' (distance 1)
    no_veto = match_org_names(subgrants, orgs)
    assert no_veto.collect()[0]["matched_name"] == "nrc"
    vetoed = match_org_names(subgrants, orgs, fuzzy_veto=["drc"])
    assert vetoed.collect()[0]["matched_name"] is None


def test_empty_right_list_matches_nothing_but_overrides_apply(spark):
    subgrants = spark.createDataFrame(
        [("Oxfam",), ("wfp",), ("Unknown",)], "name string"
    )
    orgs = spark.createDataFrame([], "org string")
    out = match_org_names(
        subgrants, orgs, manual_overrides=[("wfp", "world food programme")]
    )
    got = {
        r["name"]: (r["matched_name"], r["match_method"])
        for r in out.collect()
    }
    assert got == {
        "oxfam": (None, None),
        "wfp": ("world food programme", "manual"),
    }


def test_empty_left_list_yields_no_rows(spark):
    subgrants = spark.createDataFrame([], "name string")
    orgs = spark.createDataFrame([("Oxfam GB",)], "org string")
    out = match_org_names(
        subgrants, orgs, manual_overrides=[("wfp", "world food programme")]
    )
    assert out.collect() == []


def test_duplicate_override_maps_once_to_the_last_target(spark):
    """Repeated (from, to) entries keep one mapping row per name, the
    last entry's target (the reference assigns them in order), so the
    subtraction counts each sub-grant once."""
    subgrants = spark.createDataFrame([("WFP",)], "name string")
    orgs = spark.createDataFrame(
        [("World Food Programme",), ("UNICEF",)], "org string"
    )
    mapping = match_org_names(
        subgrants,
        orgs,
        manual_overrides=[
            ("wfp", "unicef"),
            ("wfp", "world food programme"),
            ("wfp", "world food programme"),
        ],
    )
    assert [tuple(r) for r in mapping.collect()] == [
        ("wfp", "world food programme", "manual")
    ]
    cva_agg = spark.createDataFrame(
        [("world food programme", 2023, "FALSE", "UN", 10.0)],
        "clean_org string, Year int, newMoney string, Org_type string,"
        " `PC.USD.m` double",
    )
    sub_grants = spark.createDataFrame(
        [("WFP", 2023, 3.0)], "recipient_name string, Year int, amount double"
    )
    pc_tv = spark.createDataFrame(
        [(2023, 1.0)], "Year int, PC_average_used double"
    )
    undoubled, _ = subtract_subgrants(cva_agg, sub_grants, mapping, pc_tv)
    (row,) = undoubled.collect()
    assert row["PC.USD.m_subgrant"] == 3.0
    assert row["PC.USD.m_undoubled"] == 7.0


def test_matcher_job_ceiling(spark, tmp_path):
    """The matcher runs as one pass: ~100 x 120 parquet-backed names map
    in 4 Spark jobs (one shuffle per name list, the org-list broadcast and
    the result)."""
    orgs = [f"Org {i} Relief Fund" for i in range(120)]
    spark.createDataFrame([(o,) for o in orgs], "org string").write.parquet(
        str(tmp_path / "right")
    )
    spark.createDataFrame(
        [(o if i % 3 else o[:-1],) for i, o in enumerate(orgs[:100])],
        "name string",
    ).write.parquet(str(tmp_path / "left"))
    # read (and infer the schemas, which runs jobs of its own) first
    left = spark.read.parquet(str(tmp_path / "left"))
    right = spark.read.parquet(str(tmp_path / "right"))
    sc = spark.sparkContext
    group = "ep3-matcher-job-ceiling"
    sc.setJobGroup(group, group)
    try:
        rows = match_org_names(
            left,
            right,
            manual_overrides=[("org 7 relief fund", "org 8 relief fund")],
        ).collect()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 100
    assert len(jobs) <= 4, len(jobs)


def test_subtract_subgrants_floor_and_rollup(spark):
    cva_agg = spark.createDataFrame(
        [
            ("org a", 2023, "FALSE", "NGO", 10.0),
            ("org b", 2023, "FALSE", "NGO", 5.0),
            ("org c", 2023, "TRUE", "UN", 7.0),   # newMoney TRUE: no subtract
        ],
        "clean_org string, Year int, newMoney string, Org_type string,"
        " `PC.USD.m` double",
    )
    sub_grants = spark.createDataFrame(
        [
            ("Org A!", 2023, 4.0),
            ("Org A!", 2023, 2.0),   # sums to 6
            ("Org B", 2023, 99.0),   # floor clamps 5-99 to 0
            ("org c", 2023, 1.0),    # maps, but cva row is newMoney TRUE
        ],
        "recipient_name string, Year int, amount double",
    )
    mapping = spark.createDataFrame(
        [("org a", "org a"), ("org b", "org b"), ("org c", "org c")],
        "name string, matched_name string",
    )
    pc_tv = spark.createDataFrame(
        [(2023, 0.5)], "Year int, PC_average_used double"
    )
    undoubled, rollup = subtract_subgrants(
        cva_agg, sub_grants, mapping, pc_tv
    )
    u = {r["clean_org"]: r["PC.USD.m_undoubled"] for r in undoubled.collect()}
    assert u["org a"] == pytest.approx(4.0)   # 10 - 6
    assert u["org b"] == 0.0                  # floored
    assert u["org c"] == 7.0                  # newMoney mismatch: untouched
    r = {(x["Year"], x["Org_type"]): x for x in rollup.collect()}
    assert r[(2023, "NGO")]["PC.USD.m"] == pytest.approx(4.0)
    assert r[(2023, "NGO")]["TV.USD.m"] == pytest.approx(2.0)
    assert r[(2023, "UN")]["TV.USD.m"] == pytest.approx(3.5)


def test_reference_constants_drop_in(spark):
    """The shipped curated constants drive the matcher end-to-end."""
    from calp_cva_tracking_pipeline_spark.plans.constants import (
        FUZZY_VETO,
        MANUAL_ORG_OVERRIDES,
        MANUAL_ORG_PATTERN_OVERRIDES,
    )

    subgrants = spark.createDataFrame(
        [("WFP",), ("World Vision Malawi",), ("Spanish Red Cross",),
         ("drc",), ("Dan Church Aid",)],
        "name string",
    )
    orgs = spark.createDataFrame(
        [("World Food Programme",), ("NRC",)], "org string"
    )
    out = match_org_names(
        subgrants,
        orgs,
        manual_overrides=MANUAL_ORG_OVERRIDES,
        manual_pattern_overrides=MANUAL_ORG_PATTERN_OVERRIDES,
        fuzzy_veto=FUZZY_VETO,
    )
    got = {r["name"]: r["matched_name"] for r in out.collect()}
    assert got["wfp"] == "world food programme"
    assert got["world vision malawi"] == "world vision international"
    assert got["spanish red cross"] == "red cross and red crescent movement"
    assert got["drc"] == "danish refugee council"  # manual, fuzzy vetoed
    assert got["dan church aid"] == "dca"


def test_reference_cash_terms(spark):
    from calp_cva_tracking_pipeline_spark.functions.text import keyword_flag
    from calp_cva_tracking_pipeline_spark.plans.constants import (
        ALL_CASH_TERMS,
    )

    df = spark.createDataFrame(
        [(1, "Distribution d'espèces aux familles"),
         (2, "ESSN programme continuation"),
         (3, "essn lowercased still matches (code behavior)"),
         (4, "food basket delivery only")],
        "id long, text string",
    )
    out = {
        r["id"]: r["hit"]
        for r in df.select(
            "id", keyword_flag(F.col("text"), ALL_CASH_TERMS).alias("hit")
        ).collect()
    }
    assert out[1] is True    # French 'espèces'
    assert out[2] is True    # acronym
    assert out[3] is True    # lowercased acronym matches too (code/08:94,131)
    assert out[4] is False
