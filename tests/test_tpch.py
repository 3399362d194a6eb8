"""Tests for operators/tpch.py."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_q11_total_is_exact_sum_of_part_partials(spark, sf_small):
    """r19: q11's nation-wide total derives from the checkpointed
    per-part DECIMAL partials instead of a second pass over the fact
    join. Decimal addition is exact and associative, so the derived
    total must equal the direct aggregate BITWISE (cast to double),
    including when some parts' values are NULL-only groups."""
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators._util import dsum

    l = load(spark, sf_small, "lineitem")
    s = load(spark, sf_small, "supplier")
    n = load(spark, sf_small, "nation").filter(F.col("n_name") == "NATION_3")
    value = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    national = l.join(s, l.l_suppkey == s.s_suppkey).join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    )
    direct = national.agg(dsum(value, "t")).collect()[0]["t"]
    from ndl_core_data_pipeline_spark.operators._util import DEC, dcast

    derived = (
        national.groupBy("l_partkey")
        .agg(F.sum(dcast(value, DEC)).alias("_pv"))
        .agg(F.sum("_pv").cast("double").alias("t"))
        .collect()[0]["t"]
    )
    assert derived == direct
