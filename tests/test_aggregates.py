"""Tests for operators/aggregates.py beyond oracle parity: NULL-key
semantics, bucket and mode invariants, and the two-level cube shape."""

from __future__ import annotations

import __spark_entry__ as contract

QUERIES = contract.queries()


def test_approx_distinct_excludes_null_keys(spark, tmp_path):
    """The dedupe-first rewrite must keep COUNT(DISTINCT l_partkey)'s
    NULL semantics: a NULL key survives the keys-only distinct as its
    own row, but the exact count (and the oracle's COUNT(DISTINCT))
    excludes it — the second review caught the rewrite counting rows
    instead of keys."""
    rows = [("A", 1), ("A", 1), ("A", 2), ("A", None), ("R", None), ("R", 7)]
    spark.createDataFrame(
        rows, "l_returnflag STRING, l_partkey BIGINT"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        r["l_returnflag"]: (r["exact_parts"], r["approx_within_bound"])
        for r in QUERIES["agg_approx_distinct"](spark, str(tmp_path)).collect()
    }
    assert got == {"A": (2, True), "R": (1, True)}


def test_histogram_partitions_all_rows(spark, sf_small):
    from ndl_core_data_pipeline_spark.io import load

    hist = QUERIES["agg_value_histogram"](spark, sf_small).collect()
    total = load(spark, sf_small, "events").count()
    assert sum(r["n"] for r in hist) == total
    for r in hist:
        assert 0 <= r["bucket"] <= 19
        assert r["hi"] - r["lo"] == 25.0


def test_mode_matches_collected_counts(spark, sf_small):
    from collections import Counter

    from ndl_core_data_pipeline_spark.io import load

    got = {
        r["c_mktsegment"]: (r["mode_nationkey"], r["mode_count"])
        for r in QUERIES["agg_mode_per_group"](spark, sf_small).collect()
    }
    rows = load(spark, sf_small, "customer").select("c_mktsegment", "c_nationkey").collect()
    by_seg: dict[str, Counter] = {}
    for r in rows:
        by_seg.setdefault(r["c_mktsegment"], Counter())[r["c_nationkey"]] += 1
    for seg, counts in by_seg.items():
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        assert got[seg] == best


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
