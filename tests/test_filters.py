"""Tests for operators/filters.py."""

from __future__ import annotations


def test_mad_approx_tier_matches_exact_fences(spark, sf_small):
    """The approx scale tier's per-group med/MAD fences agree with the
    exact form within the sketch's rank-error budget at test scale (a
    GK sketch with acc=10k on a few thousand rows is near-exact)."""
    from ndl_core_data_pipeline_spark.operators import filters

    exact = {
        r["event_type"]: (r["med"], r["mad"])
        for r in filters.mad_outliers(spark, sf_small)
        .select("event_type", "med", "mad")
        .distinct()
        .collect()
    }
    approx = {
        r["event_type"]: (r["med"], r["mad"])
        for r in filters.mad_outliers_approx(spark, sf_small)
        .select("event_type", "med", "mad")
        .distinct()
        .collect()
    }
    assert set(approx) == set(exact)
    for et, (med_a, mad_a) in approx.items():
        med_e, mad_e = exact[et]
        assert abs(med_a - med_e) <= 0.05 * max(abs(med_e), 1.0)
        assert abs(mad_a - mad_e) <= 0.05 * max(abs(mad_e), 1.0)
