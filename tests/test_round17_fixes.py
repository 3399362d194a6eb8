"""Pre-fix-failing pins for the round-17 finds.

Two sources: (a) the rebuilt extreme-double gate (`scripts/sweep.py
--axis double_extreme`) re-adjudicated the 24 r16 "comparator-band"
residuals under the new 2-ULP relative tolerance and exposed five REAL
divergences the absolute-tolerance noise had masked; (b) the duprow
interaction probe (hotkey × duprows × nulls) found the positional-flag
re-sort class in four lag-flag→running-sum oracles.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ndl_core_data_pipeline_spark.operators._util import (
    guard_nonfinite_decimal_casts,
    round6_det,
)


def test_round6_det_is_identity_above_long_range(spark):
    """Spark's floor(double)→LONG clamps at ±(2^63−1): before the fix
    every round6_det output past |x·1e6| ≈ 9.2e18 came back as
    ±9223372036854.775807 (rolling stats / CUSUM drift / weekly trend,
    extreme-double gate). At |y| ≥ 2^52 IEEE floor(y) is y, so the
    helper must be the double-arithmetic identity there."""
    vals = [1.414285714285714e18, -5.185948361469709e18, 2.475e18, 9.9e18]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = [r[0] for r in df.select(round6_det(F.col("v")).alias("r")).collect()]
    for v, r in zip(vals, out):
        assert r == (v * 1e6 + 0.5) / 1e6, (v, r)  # the oracle's FLOOR path
        assert abs(r) > 1e13, "long-clamp regression"


def test_round6_det_unchanged_in_normal_band(spark):
    df = spark.createDataFrame(
        [(1.2345675,), (-1.2345675,), (0.0,), (101211.99,)], "v double"
    )
    out = [r[0] for r in df.select(round6_det(F.col("v")).alias("r")).collect()]
    import math

    for v, r in zip([1.2345675, -1.2345675, 0.0, 101211.99], out):
        assert r == math.floor(v * 1e6 + 0.5) / 1e6


def test_decimal_to_double_guard_wraps_decimal_sums_only():
    """DuckDB's DECIMAL→DOUBLE cast mis-rounds by 1 ULP on 27% of
    16–30-digit decimals (measured; stats_linreg's intercept drifted by
    1.6 through the amplification); the guard routes such casts through
    VARCHAR. It must fire ONLY for decimal-bearing exprs — the VARCHAR
    trip DISTORTS float32 exprs (first redo flipped 4 vector oracles)."""
    g = guard_nonfinite_decimal_casts(
        "SELECT CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) FROM t"
    )
    assert "AS VARCHAR) AS DOUBLE)" in g
    # plain double expr: untouched
    g2 = guard_nonfinite_decimal_casts("SELECT CAST(a + b AS DOUBLE) FROM t")
    assert "VARCHAR" not in g2
    # idempotent
    assert guard_nonfinite_decimal_casts(g) == g


def test_corr_pairs_oracle_uses_int128_safe_factors():
    """(18,4)×(18,4) multiplies in int64 in DuckDB and overflows at
    unscaled 3.05e12²; (25,4) factors admitted values the engine NULLs
    and hit the DECIMAL(38) cap. The registered oracle must widen the
    1e14-guarded factor to (19,4) for an int128 multiply."""
    import __spark_entry__ as contract

    sql = contract.oracle_sql()["agg_corr_pairs"]
    assert "AS DECIMAL(19,4))" in sql
    assert "AS DECIMAL(25,4))" not in sql


@pytest.mark.parametrize(
    "name",
    ["events_debounce", "window_sessionize", "events_session_window",
     "events_session_paths"],
)
def test_flag_resort_tiebreak_present(name):
    """The lag-flag→running-sum oracles re-sort between passes; a tie
    group of key-identical rows carries DIFFERENT positional flags
    (head 1, rest 0) and the re-sort can move the 1 mid-group, splitting
    a burst/session (duprow-interaction find: events_debounce split a
    3-row burst 2+1). The second pass must order flag-first within
    ties, reconstructing pass 1 (which is how Spark's single Window
    operator evaluates both)."""
    import __spark_entry__ as contract

    sql = contract.oracle_sql()[name]
    assert (", is_start DESC" in sql) or (", brk DESC" in sql), name


def test_debounce_flag_resort_fixture(spark, tmp_path):
    """The exact (25, 'signup') shape from the interaction fixture:
    one early event, then three payload-copies at one instant with
    NULLed event_ids (two of them value-NULLed) — one burst of 3, not
    2+1. Verified engine-vs-oracle value-for-value."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import datetime

    from tests.oracle import run_compare
    import __spark_entry__ as contract

    d = tmp_path / "sf"
    d.mkdir()
    t0 = datetime.datetime(2024, 1, 8, 4, 16, 44, 140250)
    t1 = datetime.datetime(2024, 1, 30, 21, 42, 34, 314270)
    rows = {
        "event_id": [2399, None, None, None, None],
        "ts": [t0, t1, t1, t1, None],
        "user_id": [25, 25, 25, 25, 25],
        "event_type": ["signup"] * 5,
        "value": [3.86, None, None, 27.0, 44.67],
        "props": [None] * 5,
    }
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    pq.write_table(pa.table(rows, schema=schema), d / "events.parquet")
    # duckdb_conn registers views over EVERY driver table eagerly —
    # link the other tables from the small fixture dir
    import os

    from tests.conftest import SF_SMALL

    for f in os.listdir(SF_SMALL):
        if f.endswith(".parquet") and f != "events.parquet":
            os.symlink(os.path.join(SF_SMALL, f), d / f)
    name = "events_debounce"
    problems = run_compare(
        spark, name, contract.queries()[name], contract.oracle_sql()[name], str(d)
    )
    assert problems == []
    out = contract.queries()[name](spark, str(d)).collect()
    bursts = sorted((r["burst_n"], r["burst_value"]) for r in out)
    assert bursts == [(1, 3.86), (1, 44.67), (3, 27.0)]


def test_dcast_exact_integer_contract(spark):
    """≥2^53 doubles are exact integers; Spark's native cast renders
    Java 17 FloatingDecimal digits (sometimes one digit more than
    shortest — JDK-4511638, irreproducible outside the JVM), so dcast
    converts by the EXACT BINARY VALUE via a lossless hi/lo split.
    Probed natives: 9.09999999999999e18 natively casts to …989800
    (17-digit form) while 9.89999999999999e18 casts to …990000 (its
    15-digit shortest) — no single rule covers both; exactness does."""
    from decimal import Decimal

    from ndl_core_data_pipeline_spark.operators._util import dcast

    vals = [9.09999999999999e18, 9.89999999999999e18, 9.399999999999977e18,
            -9.200000000000004e18, 2.5e17, 9.007199254740992e15,
            101211.99, 0.1, float("nan"), float("inf"), None, 1e300]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = [r[0] for r in df.select(dcast(F.col("v")).alias("d")).collect()]
    for v, got in zip(vals, out):
        if v is None or v != v or abs(v) == float("inf") or abs(v) >= 1e19:
            assert got is None, (v, got)  # NULL semantics preserved
        elif abs(v) >= 9007199254740992.0:
            assert got == Decimal(v).quantize(Decimal("0.000001")), (v, got)
        else:
            # below 2^53 the native cast stands — unchanged behavior
            assert got == df.sparkSession.createDataFrame(
                [(v,)], "v double"
            ).select(F.col("v").cast("decimal(25,6)")).collect()[0][0]


def test_guard_emits_exact_branch_for_big_doubles():
    from ndl_core_data_pipeline_spark.operators._util import (
        guard_nonfinite_decimal_casts as g,
    )

    out = g("SELECT SUM(CAST(x AS DECIMAL(25,6))) FROM t")
    assert "printf('%.24e'" in out and ">= 9007199254740992.0" in out
    # and the DuckDB side of the contract really is exact there
    import duckdb

    con = duckdb.connect()
    got = con.execute(
        "SELECT CAST(printf('%.24e', CAST(2.5e17 AS DOUBLE)) AS DECIMAL(25,6))"
        "::VARCHAR"
    ).fetchone()[0]
    assert got == "250000000000000000.000000"
    # the native DuckDB cast is NOT exact (it scales in double first) —
    # this pin documents why the guard must never fall back to it
    nat = con.execute(
        "SELECT CAST(CAST(2.5e17 AS DOUBLE) AS DECIMAL(25,6))::VARCHAR"
    ).fetchone()[0]
    assert nat != got
