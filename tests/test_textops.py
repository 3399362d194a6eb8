"""Tests for operators/textops.py: PMI, TF-IDF pairs and the Zipf fit.
Token entropy, BM25 against pure Python and URL canonicalization are
pinned in tests/test_round6_ops.py."""

from __future__ import annotations


def test_pmi_pairs_respect_support_floor(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.textops import (
        PMI_MIN_COOC,
        cooccur_pmi,
    )

    rows = cooccur_pmi(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["n_ab"] >= PMI_MIN_COOC
        assert r["term_a"] < r["term_b"]


def test_tfidf_pairs_cosine_bounds(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.textops import (
        PAIR_MIN_COS,
        tfidf_doc_pairs,
    )

    rows = tfidf_doc_pairs(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert PAIR_MIN_COS <= r["cos_sim"] <= 1.0 + 1e-9


def test_zipf_slope_is_negative(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.textops import text_zipf_fit

    row = text_zipf_fit(spark, sf_small).collect()[0]
    assert row["n_terms"] > 10  # sf0.001 vocab is ~31 terms
    assert row["zipf_slope"] < 0  # frequency decreases with rank
