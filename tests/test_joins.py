"""Tests for operators/joins.py against naive Spark formulations (the
salted join against the plain join, the binned range join against the
crossJoin it avoids), so a misunderstanding shared by a query and its
DuckDB oracle still gets caught."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as contract

QUERIES = contract.queries()


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_salted_join_equals_plain_join(spark, sf_small):
    from ndl_core_data_pipeline_spark.io import load

    ev = load(spark, sf_small, "events")
    profile = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("user_value"),
    )
    plain = (
        ev.filter(F.col("event_type") == "purchase")
        .join(profile, "user_id")
        .select("event_id", "user_id", "n_events", "user_value")
    )
    salted = QUERIES["join_skew_salted"](spark, sf_small)
    assert rows_set(salted) == rows_set(plain)


def test_range_binned_equals_naive_interval_join(spark, sf_small):
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.joins import RANGE_BIN_US

    ev = load(spark, sf_small, "events")
    us = F.unix_micros(F.col("ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us.alias("p_us")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"), F.col("value").alias("v_value"), us.alias("v_us")
    )
    naive = (
        p.join(v, F.abs(p.p_us - v.v_us) <= RANGE_BIN_US, "left")
        .groupBy("event_id", "user_id")
        .agg(
            F.count("v_id").alias("n_views_1h"),
            F.coalesce(
                F.sum(F.col("v_value").cast("decimal(25,6)")).cast("double"),
                F.lit(0.0),
            ).alias("view_value_1h"),
        )
    )
    binned = QUERIES["join_range_binned"](spark, sf_small)
    assert rows_set(binned) == rows_set(naive)


def test_range_binned_null_ts_rows(spark, tmp_path):
    """NULL-ts rows (absent from shipped testdata, real on cluster data):
    the oracle's LEFT JOIN keeps a NULL-ts purchase with (0, 0.0) — its
    ON condition is NULL — and a NULL-ts view matches nothing. The
    prefix-sum form must do the same, and in particular a NULL bucket
    must never leak into the offset scan (NULLS FIRST would otherwise
    corrupt every real bucket's offset)."""
    rows = [
        # (event_id, ts, user_id, event_type, value)
        (1, "2024-01-01 10:00:00", 1, "view", 5.0),
        (2, "2024-01-01 10:30:00", 2, "purchase", 9.0),
        (3, None, 3, "purchase", 7.0),   # NULL-ts purchase: keep, zeros
        (4, None, 4, "view", 100.0),     # NULL-ts view: matches nothing
        (5, "2024-01-02 10:00:00", 5, "purchase", 1.0),  # no views ±1h
    ]
    df = spark.createDataFrame(
        rows, "event_id BIGINT, ts STRING, user_id BIGINT, "
        "event_type STRING, value DOUBLE"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "CAST(NULL AS STRING) AS props"
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["event_id"]: (r["n_views_1h"], r["view_value_1h"])
        for r in QUERIES["join_range_binned"](spark, str(tmp_path)).collect()
    }
    assert got == {2: (1, 5.0), 3: (0, 0.0), 5: (0, 0.0)}


def test_merge_upsert_semantics(spark, sf_small):
    from ndl_core_data_pipeline_spark.io import load

    merged = QUERIES["merge_upsert_latest"](spark, sf_small)
    rows = {r["key"]: r for r in merged.collect()}
    base = {
        r["o_orderkey"]: r
        for r in load(spark, sf_small, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .collect()
    }
    assert set(k for k in rows if k >= 0) == set(base)
    n_ins = n_upd = 0
    for key, r in rows.items():
        if key < 0:
            assert r["row_op"] == "insert" and r["status"] == "N"
            assert (-key) % 97 == 0 and (-key) in base
            n_ins += 1
        elif key % 7 == 0:
            assert r["row_op"] == "update" and r["status"] == "U"
            restated = round(
                float(base[key]["o_totalprice"]) * 1.10, 2
            )
            assert abs(r["totalprice"] - restated) < 0.02  # decimal vs float tie
            n_upd += 1
        else:
            assert r["row_op"] == "keep"
            assert r["status"] == base[key]["o_orderstatus"]
            assert r["totalprice"] == base[key]["o_totalprice"]
    assert n_ins > 0 and n_upd > 0


def test_merge_upsert_empty_changeset_is_identity(spark, sf_small):
    """Merge machinery sanity: a full-outer merge with ZERO updates must
    return the base unchanged with every row tagged 'keep'."""
    from pyspark.sql import functions as F

    from ndl_core_data_pipeline_spark.io import load

    o = load(spark, sf_small, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("totalprice"),
    )
    empty = o.filter(F.lit(False)).select(
        "key",
        F.col("status").alias("u_status"),
        F.col("totalprice").alias("u_totalprice"),
    )
    merged = o.join(empty, "key", "full_outer").select(
        "key",
        F.coalesce(F.col("u_status"), F.col("status")).alias("status"),
        F.coalesce(F.col("u_totalprice"), F.col("totalprice")).alias("totalprice"),
        F.when(F.col("u_status").isNull(), "keep").otherwise("update").alias("row_op"),
    )
    assert merged.filter(F.col("row_op") != "keep").count() == 0
    assert rows_set(merged.drop("row_op")) == rows_set(o)


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
