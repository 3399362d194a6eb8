"""Tests for operators/sorts.py."""

from __future__ import annotations


def test_pareto_front_matches_bruteforce(spark, sf_small):
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.sorts import pareto_front

    got = {
        r["o_orderkey"] for r in pareto_front(spark, sf_small).collect()
    }
    rows = [
        (r["o_orderkey"], r["o_orderdate"], r["o_totalprice"])
        for r in load(spark, sf_small, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .collect()
    ]
    expect = set()
    for k, d, p in rows:
        dominated = any(
            (d2 <= d and p2 <= p and (d2 < d or p2 < p))
            for _, d2, p2 in rows
        )
        if not dominated:
            expect.add(k)
    assert got == expect
