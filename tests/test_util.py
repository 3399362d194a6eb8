"""Tests for operators/_util.py: the cross-engine rounding and cast
helpers (round6_det, dcast, sql_str_to_bigint, hash48), the DuckDB-side
decimal-cast guard (guard_nonfinite_decimal_casts) and the driver-side
split cache behind rebalance_narrow_scan."""

from __future__ import annotations

import math
import random

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ndl_core_data_pipeline_spark import io as nio
from ndl_core_data_pipeline_spark.operators import _util
from ndl_core_data_pipeline_spark.operators._util import (
    _contains_decimal_cast,
    _toplevel_decimal_cast,
    dcast,
    guard_nonfinite_decimal_casts,
    round6_det,
    sql_r6,
)

from .reference_forms import _py_hash48


def _py_round6(x: float) -> float:
    """The IEEE model of round6_det: same three double ops."""
    return math.floor(x * 1000000.0 + 0.5) / 1000000.0


@settings(max_examples=300, deadline=None)
@given(
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    )
)
def test_round6_det_duckdb_matches_python_model(x):
    con = duckdb.connect()
    try:
        got = con.sql(f"SELECT {sql_r6(f'CAST({x!r} AS DOUBLE)')}").fetchone()[0]
    finally:
        con.close()
    assert got == _py_round6(x)


def test_round6_det_spark_matches_python_model(spark):
    rng = random.Random(42)
    xs = [rng.uniform(-1e6, 1e6) for _ in range(500)] + [
        -0.0158145,  # the shortest-repr half-boundary from the wild
        0.0000005,
        -0.0000005,
        123.4567895,
    ]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [
        r["y"] for r in df.select(round6_det(F.col("x")).alias("y")).collect()
    ]
    assert got == [_py_round6(x) for x in xs]


def test_hash48_spark_matches_python(spark):
    from ndl_core_data_pipeline_spark.operators._util import hash48 as _hash48

    vals = [str(i) for i in range(0, 3000, 11)] + ["", "a b", "ünïcode"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select("s", _hash48(F.col("s")).alias("h")).collect()
    }
    assert got == {v: _py_hash48(v) for v in vals}


def test_round6_det_half_boundary_cross_engine(spark):
    """Pins the rounding class found via the IVF-PQ residual codebook:
    for a double whose shortest decimal repr ends in ...5 at the 7th
    place, Spark's ROUND (HALF_UP on the shortest repr) and arithmetic
    floor-rounding disagree — so ROUND(double, 6) is not a cross-engine-
    stable projection, and round6_det (floor(x*1e6+0.5)/1e6, pure IEEE
    ops) is the deliberate idiom: it yields the identical double in
    Spark and DuckDB."""
    import duckdb

    from pyspark.sql import functions as F

    from ndl_core_data_pipeline_spark.operators._util import round6_det, sql_r6

    x = -0.0158145  # shortest repr ends in 5 at 1e-7; binary value is below
    row = spark.range(1).select(
        F.round(F.lit(x), 6).alias("spark_round"),
        round6_det(F.lit(x)).alias("spark_det"),
    ).collect()[0]
    con = duckdb.connect()
    try:
        duck_det = con.sql(
            f"SELECT {sql_r6(f'CAST({x!r} AS DOUBLE)')}"
        ).fetchone()[0]
    finally:
        con.close()
    assert row["spark_det"] == duck_det == -0.015814
    assert row["spark_round"] == -0.015815  # the class this guards against


def test_sql_str_to_bigint_mirrors_spark_truncation(spark):
    """Pins the string→BIGINT cast class (r14 ADVICE): DuckDB
    TRY_CAST('3.5' AS BIGINT) ROUNDS to 4 where Spark's non-ANSI cast
    truncates toward zero to 3, so JSON-extracted numeric strings need
    sql_str_to_bigint on the oracle side. The helper extracts sign +
    integer-part digits TEXTUALLY (the r15 trunc(DOUBLE) bridge parsed
    '1e2'→100 and rounded huge fractionals at 2^53) after stripping
    Spark's probed edge-trim class [\\x00-\\x20\\x7F] (r15 ADVICE:
    DuckDB trim() only strips spaces, so '\\t42' diverged)."""
    import duckdb

    from ndl_core_data_pipeline_spark.io import ensure_session_defaults
    from ndl_core_data_pipeline_spark.operators._util import sql_str_to_bigint

    # the engine's permissive cast semantics are a session default set by
    # load(); a bare Spark-4 session has ANSI ON where CAST('3.5' AS
    # BIGINT) throws — pin the real query-path configuration explicitly
    # so this test is order-independent
    ensure_session_defaults(spark)
    cases = ["3.5", "-3.5", "2.5", "3", " 42 ", "abc",
             "9223372036854775807", "9007199254740993", None,
             # round-15 review: scientific notation is NULL on Spark
             # (UTF8String rejects 'e'), huge fractionals truncate
             # TEXTUALLY (no 2^53 double rounding), '.5' is 0
             "1e2", "3.5e1", "9007199254740993.5", "3.", ".5", "+3.5",
             "  -7.9  ", "123abc", "٣٤",
             # round-16 (r15 ADVICE): control-padded strings — Spark's
             # cast edge-trims [\x00-\x20\x7F]; DuckDB trim() is
             # space-only, so the oracle must strip the full class.
             # NBSP and thin space are NOT in the class (stay NULL);
             # interior controls still reject.
             "\t42", "\x0b42", "\x7f42", "\r\n42\r\n", "\x0b3.5",
             "\x1f-7", "\xa042", " 42", "4\x0c2", "\x0b"]
    con = duckdb.connect()
    try:
        for s in cases:
            lit = "NULL" if s is None else f"'{s}'"
            duck = con.sql(f"SELECT {sql_str_to_bigint(lit)}").fetchone()[0]
            sp = spark.sql(f"SELECT CAST({lit} AS BIGINT)").first()[0]
            assert duck == sp, f"{s!r}: duck={duck} spark={sp}"
        # the class this guards against
        assert con.sql("SELECT TRY_CAST('3.5' AS BIGINT)").fetchone()[0] == 4
    finally:
        con.close()


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


# the ADVICE's lossiness class, pinned concretely: a double in
# [1e12,1e14] whose (18,4) decimal carries 18 significant digits — the
# r17 printf('%.16e') outer wrap re-rendered it through DOUBLE and
# moved the oracle by 8e-3
LOSSY_X = 67993249254868.22


def test_nested_decimal_widening_left_unwrapped():
    """CAST(<decimal-typed expr> AS DECIMAL(p,s)) widening must emit a
    plain exact CAST: decimals are always finite (isfinite vacuous) and
    a widening cannot overflow, while the printf wrap is lossy."""
    g = guard_nonfinite_decimal_casts(
        "SUM(CAST(CAST(x AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS s"
    )
    # the inner (double->decimal) cast gets the full guard; the outer
    # (decimal->decimal) widening must not be printf-wrapped
    assert g.count("printf('%.24e'") == 1  # inner only
    assert g.rstrip().endswith("AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS s")
    assert guard_nonfinite_decimal_casts(g) == g  # idempotent


def test_nested_decimal_widening_is_lossless_in_duckdb():
    import duckdb

    sql = (
        "SELECT CAST(CAST(x AS DECIMAL(18,4)) AS DECIMAL(19,4)) AS v "
        "FROM t"
    )
    g = guard_nonfinite_decimal_casts(sql)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE t AS SELECT {LOSSY_X!r}::DOUBLE AS x")
        v = con.execute(g).fetchone()[0]
        inner = con.execute(
            "SELECT "
            + guard_nonfinite_decimal_casts("CAST(x AS DECIMAL(18,4))")
            + " FROM t"
        ).fetchone()[0]
    finally:
        con.close()
    # exact widening: outer value IS the inner decimal (r17's printf
    # wrap returned ...868.2270 here instead of ...868.2190)
    assert v == inner
    assert str(v) == "67993249254868.2190"


def test_nested_decimal_narrowing_keeps_null_on_overflow(spark):
    """A narrowing decimal->decimal cast must mirror Spark's non-ANSI
    NULL-on-overflow (DuckDB's native cast raises) via an exact
    decimal-compare magnitude guard — integer literal bound, no double
    promotion, no printf."""
    import duckdb

    sql_body = "CAST(CAST(x AS DECIMAL(25,6)) AS DECIMAL(10,2))"
    g = guard_nonfinite_decimal_casts(sql_body)
    assert "THEN printf" not in g.split("AS DECIMAL(10,2))")[-2].rsplit(
        "CASE WHEN abs", 1
    )[-1][:40]
    assert guard_nonfinite_decimal_casts(g) == g  # idempotent
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE t AS SELECT * FROM (VALUES "
            "(12345678.91::DOUBLE), (123456789.5::DOUBLE)) v(x)"
        )
        rows = con.execute(f"SELECT {g} FROM t ORDER BY 1 NULLS LAST").fetchall()
    finally:
        con.close()
    # engine sessions run non-ANSI (io.py:27); a bare Spark-4 test
    # session defaults ANSI ON where this cast THROWS instead of NULLing
    spark.conf.set("spark.sql.ansi.enabled", "false")
    sdf = spark.createDataFrame(
        [(12345678.91,), (123456789.5,)], "x double"
    ).selectExpr("CAST(CAST(x AS DECIMAL(25,6)) AS DECIMAL(10,2)) AS v")
    got = sorted(
        [r[0] for r in sdf.collect()], key=lambda v: (v is None, v)
    )
    assert [r[0] for r in rows] == got
    assert rows[-1][0] is None  # 1.23e8 overflows (10,2) -> NULL both sides


def test_contains_decimal_cast_skip_region_aware():
    assert _contains_decimal_cast("CAST(x AS DECIMAL(18,4)) + y")
    assert _contains_decimal_cast("cast(x as decimal (18, 4))")
    # quoted literal / comment occurrences are text, not structure
    assert not _contains_decimal_cast("concat(y, ' AS DECIMAL(18,4))x')")
    assert not _contains_decimal_cast("y -- AS DECIMAL(18,4)\n + z")
    assert not _contains_decimal_cast('y + "AS DECIMAL(18,4)"')


def test_toplevel_decimal_cast_detector():
    assert _toplevel_decimal_cast("CAST(x AS DECIMAL(18,4))") == (18, 4)
    assert _toplevel_decimal_cast("  cast( f(a,b) as decimal( 25, 6 ) ) ") == (25, 6)
    # not spanning the whole expr -> None (a product is not a single cast)
    assert (
        _toplevel_decimal_cast(
            "CAST(a AS DECIMAL(18,4)) * CAST(b AS DECIMAL(18,4))"
        )
        is None
    )
    assert _toplevel_decimal_cast("CAST(x AS DOUBLE)") is None
    assert _toplevel_decimal_cast("abs(x)") is None


def test_double_branch_not_triggered_by_literal():
    g = guard_nonfinite_decimal_casts(
        "CAST(concat(y, ' AS DECIMAL(18,4))x') AS DOUBLE)"
    )
    assert "VARCHAR" not in g


def test_dcast_ceiling_raises_value_error():
    """python -O strips asserts; the decomposition-exactness ceiling
    must fail loudly regardless (ADVICE r17 low)."""
    import pyspark.sql.functions as F

    with pytest.raises(ValueError, match="dcast decomposition"):
        dcast(F.lit(1.0), "decimal(38,0)")


def _narrowing_probe(spark, xs, sql_body, spark_body=None):
    """Run the same nested narrowing cast through Spark (non-ANSI, as
    engine sessions run) and through the guarded-oracle DuckDB form;
    return (spark_values, duck_values) in input order."""
    import duckdb

    g = guard_nonfinite_decimal_casts(sql_body)
    assert guard_nonfinite_decimal_casts(g) == g  # idempotent
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t (i INTEGER, x DOUBLE)")
        for i, x in enumerate(xs):
            con.execute("INSERT INTO t VALUES (?, ?)", [i, x])
        rows = con.execute(f"SELECT {g} FROM t ORDER BY i").fetchall()
    finally:
        con.close()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    sdf = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "i int, x double"
    ).selectExpr(f"{spark_body or sql_body} AS v", "i")
    got = [r["v"] for r in sdf.orderBy("i").collect()]
    return got, [r[0] for r in rows]


def test_narrowing_rounds_half_up_not_truncates(spark):
    """Scale-reducing nested cast: Spark rounds HALF_UP, so the oracle
    must too — the old native-cast emission truncated (1.999 -> 1.99)."""
    xs = [1.999, -1.995, 2.675, 1.994]
    got, want = _narrowing_probe(
        spark, xs, "CAST(CAST(x AS DECIMAL(20,3)) AS DECIMAL(10,2))"
    )
    assert got == want
    assert str(got[0]) == "2.00"  # the truncation would say 1.99
    assert str(got[1]) == "-2.00"  # half-away-from-zero on negatives


def test_narrowing_null_on_rounded_carry(spark):
    """A value whose HALF_UP rounding carries ACROSS the magnitude
    bound (99999999.999 -> 100000000.00 at (10,2)) must go NULL on both
    sides; the old pre-round guard admitted it truncated."""
    xs = [99999999.999, 99999999.994, 123456789.5]
    got, want = _narrowing_probe(
        spark, xs, "CAST(CAST(x AS DECIMAL(25,3)) AS DECIMAL(10,2))"
    )
    assert got == want
    assert got[0] is None  # rounded carry overflows (10,2)
    assert str(got[1]) == "99999999.99"  # just below the bound stays
    assert got[2] is None  # plain overflow


def test_narrowing_guard_refuses_volatile():
    """Double-evaluating a volatile expr inside the narrowing guard is
    semantics-visible (r18 verdict #7): refuse loudly."""
    with pytest.raises(ValueError, match="volatile"):
        guard_nonfinite_decimal_casts(
            "CAST(CAST(random() AS DECIMAL(25,6)) AS DECIMAL(10,2))"
        )


def test_dcast_nan_inf_stay_null(spark):
    """NaN passes abs(x) >= 2^53 under Spark's NaN-greatest ordering
    (the r18 comment claimed the opposite); it is excluded solely by
    abs(x) < bound. Pin the ordering fact and the NULL outcome for
    NaN/+Inf/-Inf so a future bound refactor cannot route NaN into the
    hi/lo decomposition silently."""
    spark.conf.set("spark.sql.ansi.enabled", "false")
    df = spark.createDataFrame(
        [(float("nan"),), (float("inf"),), (float("-inf"),), (1.5,)],
        "x double",
    )
    # the ordering invariant the dcast comment relies on
    assert (
        df.filter(F.isnan("x"))
        .select((F.abs("x") >= F.lit(2.0**53)).alias("b"))
        .collect()[0]["b"]
        is True
    )
    vals = [
        r["v"]
        for r in df.select(
            dcast(F.col("x"), "decimal(25,6)").alias("v"),
            F.col("x"),
        )
        .orderBy("x")
        .collect()
    ]
    # orderBy double: -Inf, 1.5, Inf, NaN (NaN greatest)
    assert vals[0] is None and vals[2] is None and vals[3] is None
    assert str(vals[1]) == "1.500000"


def test_split_cache_evicts_prior_application_entries(spark, sf_small):
    _util._SPLIT_CACHE.clear()
    stale = ("app-from-a-previous-session", "plan", (), 8)
    _util._SPLIT_CACHE[stale] = 1
    docs = nio.load(spark, sf_small, "documents").select("text")
    _util.rebalance_narrow_scan(docs, spark)
    assert stale not in _util._SPLIT_CACHE
    assert all(
        k[0] == spark.sparkContext.applicationId for k in _util._SPLIT_CACHE
    )


def test_split_cache_does_not_mix_plan_shapes(spark, sf_small):
    """ADVICE r19: a repartitioned df over the SAME files must not
    inherit the bare scan's memoized split count (the old file-set key
    would silently skip the rebalance)."""
    _util._SPLIT_CACHE.clear()
    target = spark.sparkContext.defaultParallelism
    docs = nio.load(spark, sf_small, "documents").select("text")
    out1 = _util.rebalance_narrow_scan(docs, spark)
    assert out1.rdd.getNumPartitions() >= min(
        target, max(docs.rdd.getNumPartitions(), 1)
    )
    wide = docs.repartition(target * 2)
    out2 = _util.rebalance_narrow_scan(wide, spark)
    # the wide df is already >= target partitions: must come back
    # unchanged, NOT re-repartitioned off the bare scan's cached count
    assert out2 is wide
    # and the two shapes occupy distinct cache entries
    shapes = {k[1] for k in _util._SPLIT_CACHE}
    assert len(shapes) == 2
