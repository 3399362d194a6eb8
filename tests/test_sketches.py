"""Tests for operators/sketches.py: HLL, count-min and bottom-k error
bounds, and the HLL register parts against a pure-Python model."""

from __future__ import annotations

import hashlib

import duckdb
from pyspark.sql import functions as F


def test_hll_estimate_accuracy(spark, sf_small):
    """256 registers → ~6.5% standard error; assert a loose 25% bound
    per group so the test pins correctness, not luck."""
    from ndl_core_data_pipeline_spark.operators.sketches import hll_distinct

    for r in hll_distinct(spark, sf_small).collect():
        assert r["n_exact"] > 0
        rel = abs(r["hll_estimate"] - r["n_exact"]) / r["n_exact"]
        assert rel < 0.25, f"{r['event_type']}: {r['hll_estimate']} vs {r['n_exact']}"


def test_countmin_never_underestimates(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.sketches import countmin_estimates

    rows = countmin_estimates(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["n_est"] >= r["n_exact"]


def test_bottomk_quantile_estimates_are_close(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.sketches import (
        bottomk_sample_quantiles,
    )

    rows = bottomk_sample_quantiles(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["n_sample"] <= 256
        for p in ("p50", "p95"):
            exact, est = r[f"{p}_exact"], r[f"{p}_est"]
            assert abs(est - exact) / exact < 0.30, (r["o_orderpriority"], p)


def test_hll_merge_is_exact(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.sketches import hll_merge_proof

    row = hll_merge_proof(spark, sf_small).collect()[0]
    assert row["merge_exact"] is True
    assert row["est_whole"] == row["est_merged"]


def _py_hll_parts(v: int) -> tuple[int, int]:
    hx = hashlib.md5(str(v).encode()).hexdigest()
    bucket = int(hx[:4], 16) % 256
    w = int(hx[4:12], 16)
    rho = 33 if w == 0 else 33 - w.bit_length()
    return bucket, rho


def test_hll_parts_spark_and_duckdb_match_python(spark):
    from ndl_core_data_pipeline_spark.operators.sketches import _hll_parts

    ids = list(range(0, 4000, 7)) + [10**12 + 7, 2**62]
    df = spark.createDataFrame([(i,) for i in ids], "user_id bigint")
    bucket, rho = _hll_parts(F.col("user_id"))
    got = {
        r["user_id"]: (r["bucket"], r["rho"])
        for r in df.select("user_id", bucket, rho).collect()
    }
    expect = {i: _py_hll_parts(i) for i in ids}
    assert got == expect
    con = duckdb.connect()
    try:
        rows = con.execute(
            """
            SELECT v,
                   CAST('0x' || substring(md5(CAST(v AS VARCHAR)), 1, 4)
                        AS BIGINT) % 256 AS bucket,
                   CASE WHEN CAST('0x' || substring(md5(CAST(v AS VARCHAR)),
                                               5, 8) AS BIGINT) = 0 THEN 33
                        ELSE 33 - length(bin(CAST('0x' ||
                             substring(md5(CAST(v AS VARCHAR)), 5, 8)
                             AS BIGINT))) END AS rho
            FROM (SELECT UNNEST(?) AS v)
            """,
            [ids],
        ).fetchall()
    finally:
        con.close()
    assert {v: (b, r) for v, b, r in rows} == expect
