"""Tests for operators/joins.py against naive formulations: the interval
overlap join against a pure-Python brute force, so a misunderstanding
shared by a query and its DuckDB oracle still gets caught. The salted,
range-binned and merge-upsert joins are pinned in tests/test_round6_ops.py."""

from __future__ import annotations


def test_interval_overlap_matches_bruteforce(spark, sf_small):
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.joins import (
        OVERLAP_WINDOW_DAYS,
        interval_overlap_join,
    )

    got = {
        (r["l_orderkey"], r["l_linenumber"], r["o_orderkey"]): r["overlap_days"]
        for r in interval_overlap_join(spark, sf_small).collect()
    }
    li = [
        (r["l_orderkey"], r["l_linenumber"], r["l_shipdate"].date())
        for r in load(spark, sf_small, "lineitem")
        .filter("l_orderkey % 97 = 0")
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .collect()
    ]
    orders = [
        (r["o_orderkey"], r["o_orderdate"].date())
        for r in load(spark, sf_small, "orders")
        .filter("o_orderkey % 89 = 0")
        .select("o_orderkey", "o_orderdate")
        .collect()
    ]
    import datetime

    expect = {}
    for lk, ln, ship in li:
        a_s, a_e = ship, ship + datetime.timedelta(days=7 + ln % 14)
        for ok, od in orders:
            b_s, b_e = od, od + datetime.timedelta(days=OVERLAP_WINDOW_DAYS)
            if a_s <= b_e and b_s <= a_e:
                expect[(lk, ln, ok)] = (min(a_e, b_e) - max(a_s, b_s)).days + 1
    assert got == expect
