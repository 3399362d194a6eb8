"""Tests for operators/aggregates.py beyond oracle parity: the weekly
trend, the two-level cube shape with NULL keys and the int128-safe
correlation oracle. NULL-key distinct counts and the histogram and mode
invariants are pinned in tests/test_round6_ops.py."""

from __future__ import annotations

import __spark_entry__ as contract


def test_trend_first_week_has_no_wow(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.aggregates import trend_weekly_growth

    rows = sorted(
        trend_weekly_growth(spark, sf_small).collect(), key=lambda r: r["week"]
    )
    assert rows[0]["wow_pct"] is None
    assert abs(rows[0]["ma4_revenue"] - rows[0]["revenue"]) < 1e-6
    for a, b in zip(rows, rows[1:]):
        assert (b["week"] - a["week"]).days % 7 == 0


def test_two_level_cube_equals_direct_with_null_keys(spark):
    """Guard for the round-9 base-cuboid cube/rollup shape: the two-level
    form must equal Spark's direct cube INCLUDING when group keys contain
    real NULLs (data-NULL rows fold into the same output groups as the
    superaggregate NULLs in both forms — pin it rather than reason about
    it)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", None, 2.0), (None, "x", 4.0),
         (None, None, 8.0), ("b", "x", 16.0)],
        "k1 string, k2 string, v double",
    )
    direct = (
        df.cube("k1", "k2")
        .agg(F.sum(F.col("v").cast("decimal(25,6)")).cast("double").alias("s"),
             F.count("*").alias("c"))
    )
    base = df.groupBy("k1", "k2").agg(
        F.sum(F.col("v").cast("decimal(25,6)")).alias("s0"),
        F.count("*").alias("c0"),
    )
    two = base.cube("k1", "k2").agg(
        F.sum("s0").cast("double").alias("s"), F.sum("c0").alias("c")
    )
    key = lambda r: (r["k1"] or "", r["k2"] or "", r["s"], r["c"])  # noqa: E731
    assert sorted(map(key, direct.collect())) == sorted(map(key, two.collect()))


def test_corr_pairs_oracle_uses_int128_safe_factors():
    """(18,4)×(18,4) multiplies in int64 in DuckDB and overflows at
    unscaled 3.05e12²; (25,4) factors admitted values the engine NULLs
    and hit the DECIMAL(38) cap. The registered oracle must widen the
    1e14-guarded factor to (19,4) for an int128 multiply."""
    import __spark_entry__ as contract

    sql = contract.oracle_sql()["agg_corr_pairs"]
    assert "AS DECIMAL(19,4))" in sql
    assert "AS DECIMAL(25,4))" not in sql
