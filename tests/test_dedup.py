

def test_dedup_normalized_unicode_merges_reencodings(spark):
    """unicode=True folds diacritic/smart-quote/NBSP re-encodings into
    one family where the ASCII tier sees distinct texts; CJK stays
    unfolded (documented pass-through, not silent merging)."""
    rows = [
        (1, "Project Résumé — café data"),
        (2, "project resume -- cafe data"),
        (3, "project resume ‘cafe’ data"),
        (4, "straße details"),
        (5, "strasse details"),
        (6, "中文 文本"),
        (7, "中文 文本"),
        (8, "unrelated document entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        dedup_normalized,
    )

    ascii_fams = dedup_normalized(df, "doc_id", "text").collect()
    # ASCII tier: only the byte-identical CJK pair groups
    assert len(ascii_fams) == 1 and ascii_fams[0].rep_id == 6

    uni = {r.rep_id: r for r in dedup_normalized(
        df, "doc_id", "text", unicode=True
    ).collect()}
    assert set(uni) == {1, 4, 6}
    assert uni[1].n_docs == 3 and uni[1].n_exact_distinct == 3
    assert uni[4].n_docs == 2  # straße == strasse
    assert uni[6].n_docs == 2 and uni[6].n_exact_distinct == 1


def test_lsh_banding_rejects_bands_that_do_not_divide_the_signature(spark):
    """A band count above ``num_hashes`` made every band key ``''`` (all
    pairs became candidates); one that does not divide it dropped the
    tail hashes. Every banded operator refuses both, and 0, at plan
    time."""
    import pytest

    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        lsh_band_store,
        minhash_lsh_candidates,
        neardup_incremental,
    )

    df = spark.createDataFrame(
        [(i, f"unrelated words number {i} here x{i} y{i}") for i in range(4)],
        "doc_id long, text string",
    )
    store = lsh_band_store(df, "doc_id", "text", num_hashes=16, bands=4)
    for bands in (32, 5, 0):
        with pytest.raises(ValueError, match="must divide"):
            minhash_lsh_candidates(
                df, "doc_id", "text", num_hashes=16, bands=bands
            )
        with pytest.raises(ValueError, match="must divide"):
            lsh_band_store(df, "doc_id", "text", num_hashes=16, bands=bands)
        with pytest.raises(ValueError, match="must divide"):
            neardup_incremental(
                df, store, "doc_id", "text", num_hashes=16, bands=bands
            )
