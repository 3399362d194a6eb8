"""Tests for operators/checks.py: the constraint rules flag bad data and
share one pass over each table."""

from __future__ import annotations

import __spark_entry__ as contract

QUERIES = contract.queries()


def test_constraint_report_detects_violations(spark, tmp_path):
    """The suite must actually FLAG bad data, not just pass on clean
    fixtures: run the single-table rules against a frame seeded with a
    null key, a duplicate key, a bad status, and a negative price."""
    from ndl_core_data_pipeline_spark.operators.checks import (
        _table_report,
        accepted_values,
        non_negative,
        not_null,
        unique,
    )

    bad = spark.createDataFrame(
        [
            (1, "O", 10.0),
            (1, "F", 20.0),      # duplicate key
            (None, "O", 5.0),    # null key
            (3, "X", 1.0),       # bad status
            (4, "P", -2.0),      # negative price
        ],
        "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE",
    )
    rules = [
        not_null("o_orderkey"),
        unique("o_orderkey"),
        accepted_values("o_orderstatus", ("O", "F", "P")),
        non_negative("o_totalprice"),
    ]
    got = {r["rule"]: (r["n_violations"], r["passed"]) for r in _table_report(bad, rules).collect()}
    assert got["not_null(o_orderkey)"] == (1, False)
    assert got["unique(o_orderkey)"] == (1, False)
    assert got["accepted_values(o_orderstatus)"] == (1, False)
    assert got["non_negative(o_totalprice)"] == (1, False)


def test_vector_elements_valid_rule(spark):
    """The corrupt-vector rule (r11 element-null probe): flags non-NULL
    arrays containing a NULL, NaN, or Inf element; whole-NULL vectors
    are the not_null rule's business and pass; clean vectors pass."""
    from ndl_core_data_pipeline_spark.operators.checks import (
        _table_report,
        vector_elements_valid,
    )

    rows = [
        (1, [1.0, 2.0]),            # clean
        (2, None),                  # whole-NULL: not this rule's violation
        (3, [1.0, None]),           # NULL element
        (4, [float("nan"), 2.0]),   # NaN element
        (5, [float("inf"), 2.0]),   # Inf element
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    got = {
        r["rule"]: (r["n_violations"], r["passed"])
        for r in _table_report(
            df, [vector_elements_valid("embedding")]
        ).collect()
    }
    assert got["vector_elements_valid(embedding)"] == (3, False)


def test_constraint_report_single_pass_plan(spark, sf_small):
    # the 4 orders rules must share ONE scan/aggregation of orders, not 4
    from ndl_core_data_pipeline_spark.plans.audit import explain_formatted

    df = QUERIES["quality_constraint_report"](spark, sf_small)
    plan = explain_formatted(df)
    assert plan.count("orders.parquet") <= 3  # 1 rules pass + 2 FK sides
