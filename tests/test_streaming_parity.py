"""Streaming/batch parity on the REAL events table: the same
window()/session_window() expressions, run once through the batch
operators (oracle-certified) and once through Structured Streaming
micro-batches, must produce identical results. This pins the §2.12
claim that the batch oracle rows certify the streaming plans."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ndl_core_data_pipeline_spark.operators.eventwindows import (
    session_window_per_user,
    tumbling_window,
)
from ndl_core_data_pipeline_spark.streaming.jobs import (
    sessionized_stream,
    watermarked_tumbling_agg,
)

# arrival-typed schema (Spark 4.1 reads parquet TIMESTAMP(NANOS) as NTZ);
# the cast to session-TZ timestamp mirrors io.load's events branch
_STREAM_DDL = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


@pytest.fixture(
    scope="module",
    params=["clean", "nullheavy", "compound", "duprow", "duprow_compound"],
)
def twin_dirs(request, tmp_path_factory, sf_small):
    """(sf_dir, landing_dir) per tier. Clean = the real sf0.001 events
    table, always. The three hostile tiers (round-17 verdict item 5 —
    the fixtures that found the last 30 batch bugs, never before run
    through the streaming twins) build via their sweeps' own ensure
    functions and are gated behind SPARK_GRAFT_HOSTILE_TWINS=1."""
    import os
    import shutil

    if request.param == "clean":
        sf_dir = sf_small
    else:
        if not os.environ.get("SPARK_GRAFT_HOSTILE_TWINS"):
            pytest.skip(
                "set SPARK_GRAFT_HOSTILE_TWINS=1 for hostile-fixture twin runs"
            )
        import sweep

        sf_dir = sweep.ensure(request.param)
    # the file stream source requires a directory; stage the events file
    d = tmp_path_factory.mktemp(f"events_landing_{request.param}")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return sf_dir, str(d)


def _events_stream(spark, landing_dir):
    s = spark.readStream.schema(_STREAM_DDL).parquet(landing_dir)
    return s.withColumn("ts", F.col("ts").cast("timestamp"))


def _run_complete(df, name):
    q = (
        df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_stream_matches_batch(spark, twin_dirs):
    sf_dir, events_landing = twin_dirs
    batch = {
        (r["window_start"], r["event_type"], r["n_events"], r["sum_value"])
        for r in tumbling_window(spark, sf_dir).collect()
    }
    q = _run_complete(
        watermarked_tumbling_agg(_events_stream(spark, events_landing)),
        "tumb_parity",
    )
    try:
        streamed = {
            (r["window_start"], r["event_type"], r["n_events"], r["sum_value"])
            for r in spark.table("tumb_parity").collect()
        }
    finally:
        q.stop()
    assert streamed == batch and len(batch) > 0


def test_session_stream_matches_batch(spark, twin_dirs):
    sf_dir, events_landing = twin_dirs
    batch = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in session_window_per_user(spark, sf_dir).collect()
    }
    q = _run_complete(
        sessionized_stream(_events_stream(spark, events_landing)), "sess_parity"
    )
    try:
        streamed = {
            (r["user_id"], r["session_start"], r["n_events"])
            for r in spark.table("sess_parity").collect()
        }
    finally:
        q.stop()
    assert streamed == batch and len(batch) > 0


def test_funnel_batch_stream_parity(spark, twin_dirs):
    """The streaming stage machine over the real (in-order-per-batch)
    events table must reach exactly the batch operator's funnel_stage for
    every user that entered the funnel."""
    from ndl_core_data_pipeline_spark.operators.eventwindows import funnel_steps
    from ndl_core_data_pipeline_spark.streaming.jobs import stateful_funnel

    sf_dir, events_landing = twin_dirs
    batch = {
        r["user_id"]: r["funnel_stage"]
        for r in funnel_steps(spark, sf_dir).collect()
    }
    q = (
        stateful_funnel(_events_stream(spark, events_landing))
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_parity")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)  # False = still running → stale read
    finally:
        q.stop()
    stream = {
        r["user_id"]: r["stage"]
        for r in spark.sql(
            "SELECT user_id, MAX(funnel_stage) AS stage FROM funnel_parity "
            "GROUP BY user_id"
        ).collect()
    }
    assert stream == batch


def test_stream_dedup_matches_batch(spark, twin_dirs):
    """Round-18 (verdict item 3): streaming dropDuplicates([key, ts])
    under a watermark vs the batch dropDuplicates on the same table —
    the kept KEY SET must match (payload choice among duplicates is
    nondeterministic in both engines, so only keys are the contract).
    NULL keys group together in batch (groupBy semantics); NULL-ts rows
    must survive the watermark path too."""
    from ndl_core_data_pipeline_spark.streaming.jobs import stream_dedup

    sf_dir, events_landing = twin_dirs
    batch_df = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .dropDuplicates(["event_id", "ts"])
    )
    batch = {(r["event_id"], r["ts"]) for r in batch_df.collect()}
    q = (
        stream_dedup(_events_stream(spark, events_landing))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_parity")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    rows = spark.sql("SELECT event_id, ts FROM dedup_parity").collect()
    streamed = {(r["event_id"], r["ts"]) for r in rows}
    assert len(rows) == len(streamed), "stream emitted duplicate keys"
    assert streamed == batch and len(batch) > 0


def test_running_totals_match_batch(spark, twin_dirs):
    """applyInPandasWithState running totals vs the batch contract:
    n_events = COUNT(*), total_value = ROUND(SUM of finite-or-null-
    skipped values, 6) with 0.0 for value-less users (the accumulator
    starts at 0.0 and pandas' skipna sum ignores both NULL and NaN —
    indistinguishable in a float64 block). NULL user_id is a real group
    in batch groupBy and must surface from the NaN pandas key."""
    from ndl_core_data_pipeline_spark.streaming.jobs import stateful_running_totals

    sf_dir, events_landing = twin_dirs
    batch = {
        r["user_id"]: (r["n"], r["t"])
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.coalesce(
                    F.sum(F.when(~F.isnan("value"), F.col("value"))), F.lit(0.0)
                ),
                6,
            ).alias("t"),
        )
        .collect()
    }
    q = (
        stateful_running_totals(_events_stream(spark, events_landing))
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("totals_parity")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT user_id, n_events, total_value FROM ("
        " SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id "
        "   ORDER BY n_events DESC) AS rk FROM totals_parity) WHERE rk = 1"
    ).collect()
    stream = {r["user_id"]: (r["n_events"], r["total_value"]) for r in rows}
    assert set(stream) == set(batch)
    for u, (n, t) in batch.items():
        sn, st = stream[u]
        assert sn == n, (u, sn, n)
        # float accumulation order differs (pandas pairwise vs Spark
        # sequential-merge); 6-dp rounding leaves <=2e-6 of legal play
        assert abs(st - t) <= 2e-6, (u, st, t)


def test_stream_stream_join_matches_batch(spark, twin_dirs):
    """Time-bounded stream-stream inner join vs the identical batch
    join: view->click attribution within 30 minutes. availableNow on a
    single staged file = one micro-batch with an epoch watermark, so no
    row is late and the MULTISETS must match exactly (duprow fixtures
    multiply matches; NULL user_id / NULL ts drop on both sides by
    equality-join and range-predicate semantics)."""
    from ndl_core_data_pipeline_spark.streaming.jobs import stream_stream_join

    sf_dir, events_landing = twin_dirs
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    bl = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("left_id"), F.col("ts").alias("left_ts")
    )
    br = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("r_user_id"),
        F.col("event_id").alias("right_id"),
        F.col("ts").alias("right_ts"),
    )
    from collections import Counter

    batch = Counter(
        tuple(r)
        for r in bl.join(
            br,
            F.expr(
                "user_id = r_user_id AND right_ts >= left_ts "
                "AND right_ts <= left_ts + interval 30 minutes"
            ),
        )
        .select("user_id", "left_id", "right_id", "left_ts", "right_ts")
        .collect()
    )
    views = _events_stream(spark, events_landing).filter(
        F.col("event_type") == "view"
    )
    clicks = _events_stream(spark, events_landing).filter(
        F.col("event_type") == "click"
    )
    q = (
        stream_stream_join(views, clicks, max_delay="30 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_parity")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    stream = Counter(
        tuple(r)
        for r in spark.sql(
            "SELECT user_id, left_id, right_id, left_ts, right_ts "
            "FROM ssj_parity"
        ).collect()
    )
    assert stream == batch and len(batch) > 0


def test_transform_with_state_profile_matches_batch(spark, twin_dirs):
    """transformWithStateInPandas profile vs the batch contract:
    n_events = COUNT(*), total_value as in the running-totals twin,
    n_event_types = COUNT(DISTINCT event_type) — NULL event types are
    not a type (batch countDistinct skips NULL; the MapState must not
    count a 'None' string key for them)."""
    # round 19: no longer protobuf-gated — the from-spec shim
    # (streaming/protoshim.py) backs the state-server protocol where
    # the real runtime is absent; conftest exports it pre-JVM for the
    # driver-side schema worker
    from ndl_core_data_pipeline_spark.streaming.protoshim import (
        ensure_protobuf_runtime,
    )

    assert ensure_protobuf_runtime(spark) in ("real", "shim")
    from ndl_core_data_pipeline_spark.streaming.jobs import (
        transform_with_state_profile,
    )

    sf_dir, events_landing = twin_dirs
    batch = {
        r["user_id"]: (r["n"], r["t"], r["k"])
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.coalesce(
                    F.sum(F.when(~F.isnan("value"), F.col("value"))), F.lit(0.0)
                ),
                6,
            ).alias("t"),
            F.countDistinct("event_type").alias("k"),
        )
        .collect()
    }
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    q = (
        transform_with_state_profile(_events_stream(spark, events_landing))
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("tws_parity")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    rows = spark.sql(
        "SELECT user_id, n_events, total_value, n_event_types FROM ("
        " SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id "
        "   ORDER BY n_events DESC) AS rk FROM tws_parity) WHERE rk = 1"
    ).collect()
    stream = {
        r["user_id"]: (r["n_events"], r["total_value"], r["n_event_types"])
        for r in rows
    }
    assert set(stream) == set(batch)
    for u, (n, t, k) in batch.items():
        sn, st, sk = stream[u]
        assert sn == n, (u, sn, n)
        assert abs(st - t) <= 2e-6, (u, st, t)
        assert sk == k, (u, sk, k)
