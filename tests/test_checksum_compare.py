"""Pin tests for the aggregate-checksum comparator (tests/oracle.py
checksum_compare — round-17 verdict item 2).

The comparator exists for results too large to collect (join_theta_range
at sf1 emits an O(n²) multiset that crashed collectToPython in r16); it
must (a) agree with the collect-based run_compare on results both can
check, (b) catch every divergence class the collect-based path catches —
dropped rows, duplicated rows, value edits, NULL flips — via the per-key
count + dual hash-sum digest, and (c) never materialize either side on
the driver (the digest frames are the only thing collected).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as contract
from tests.oracle import checksum_compare, run_compare

THETA_SQL = (
    "SELECT p_partkey, s_suppkey, p_retailprice, s_acctbal FROM part "
    "JOIN supplier ON p_retailprice >= s_acctbal/10.0 "
    "AND p_retailprice < s_acctbal/5.0"
)


def _theta(spark, sf_dir):
    return contract.queries()["join_theta_range"](spark, sf_dir)


def test_theta_checksum_green_matches_run_compare(spark, sf_medium):
    """Positive control at the driver's own scale: the collect-based and
    checksum-based comparisons must both pass on the same query."""
    assert run_compare(spark, "join_theta_range", _theta, THETA_SQL, sf_medium) == []
    assert (
        checksum_compare(
            spark, "join_theta_range", _theta, THETA_SQL, sf_medium, key=["p_partkey"]
        )
        == []
    )


def test_theta_checksum_green_global_digest(spark, sf_small):
    assert checksum_compare(spark, "join_theta_range", _theta, THETA_SQL, sf_small) == []


@pytest.mark.parametrize(
    "bad_sql, what",
    [
        # dropped rows — per-key cnt catches it
        (THETA_SQL + " AND p_partkey % 7 != 0", "dropped rows"),
        # duplicated rows — counts double, hash sums double
        (f"SELECT * FROM ({THETA_SQL}) t UNION ALL SELECT * FROM ({THETA_SQL}) t2",
         "duplicated rows"),
        # value edit that preserves row count — only the hash sums catch it
        ("SELECT p_partkey, s_suppkey, p_retailprice + 0.01 AS p_retailprice, "
         "s_acctbal FROM part JOIN supplier ON p_retailprice >= s_acctbal/10.0 "
         "AND p_retailprice < s_acctbal/5.0", "value edit"),
        # NULL flip that preserves row count
        ("SELECT p_partkey, s_suppkey, CAST(NULL AS DOUBLE) AS p_retailprice, "
         "s_acctbal FROM part JOIN supplier ON p_retailprice >= s_acctbal/10.0 "
         "AND p_retailprice < s_acctbal/5.0", "NULL flip"),
    ],
)
def test_theta_checksum_catches_divergence(spark, sf_small, bad_sql, what):
    problems = checksum_compare(
        spark, "join_theta_range", _theta, bad_sql, sf_small, key=["p_partkey"]
    )
    assert problems != [], f"checksum comparator missed: {what}"


def test_checksum_catches_column_mismatch(spark, sf_small):
    sql = THETA_SQL.replace("s_acctbal FROM", "s_acctbal AS balance FROM")
    problems = checksum_compare(spark, "join_theta_range", _theta, sql, sf_small)
    assert problems and "column mismatch" in problems[0]


def test_checksum_digest_columns_are_exact_strings(spark, sf_small):
    """The cnt/xx_sum/mm_sum digests must compare exactly (string path),
    not through float(Decimal) + REL_TOL — at sum magnitudes ~1e22 the
    float path discards the low ~6 digits (ADVICE r17 low)."""
    from tests.oracle import checksum_compare

    def q(s, d):
        return s.read.parquet(f"{d}/nation.parquet").selectExpr(
            "n_nationkey", "n_name"
        )

    sql = "SELECT n_nationkey, n_name FROM nation"
    assert checksum_compare(spark, "digest_pin", q, sql, sf_small) == []
    # a single-row value edit at the bottom digits MUST be caught: with
    # the r17 float compare a sub-1e-16-relative digest perturbation
    # would have slipped through REL_TOL
    bad = sql + " WHERE n_nationkey != 0 UNION ALL SELECT 0, 'XX'"
    assert checksum_compare(spark, "digest_pin_bad", q, bad, sf_small) != []
