"""Tests for operators/eventwindows.py: RFM ranks against ntile, funnel
and cohort invariants, debounce bursts against a pure-Python reference,
Markov rows and CUSUM drift."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

import __spark_entry__ as contract

QUERIES = contract.queries()


def test_rfm_keyed_ranks_equal_ntile_with_null_keys(spark, tmp_path):
    """The keyed two-level-rank RFM must stay bit-identical to the global
    ntile(5) windows it replaced, INCLUDING users whose total_value or
    last_ts aggregates to NULL (all values / all ts NULL — absent from
    shipped testdata, real on cluster data). The round-close review
    caught the rank's broadcast-offset equi-join silently dropping those
    users; the lookup is now null-safe and NULL groups rank where desc
    NULLS LAST puts them in both engines."""
    rows = []
    for u in range(1, 21):
        for j in range(u % 3 + 1):
            rows.append(
                (
                    u * 100 + j,
                    None if u % 7 == 0 else f"2024-01-{u:02d} 00:00:{j:02d}",
                    u,
                    "view",
                    None if u % 5 == 0 else float(u * 10 + j),
                )
            )
    df = spark.createDataFrame(
        rows, "event_id BIGINT, ts STRING, user_id BIGINT, "
        "event_type STRING, value DOUBLE"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "CAST(NULL AS STRING) AS props"
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["user_id"]: (r["n_events"], r["total_value"], r["r_score"],
                       r["f_score"], r["m_score"])
        for r in QUERIES["events_rfm_scores"](spark, str(tmp_path)).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["total_value"], r["r_score"],
                       r["f_score"], r["m_score"])
        for r in spark.sql(
            """WITH s AS (
                 SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS n_events,
                        CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
                          AS total_value
                 FROM {ev} GROUP BY user_id)
               SELECT user_id, n_events, total_value,
                 CAST(ntile(5) OVER (ORDER BY last_ts DESC, user_id) AS BIGINT)
                   AS r_score,
                 CAST(ntile(5) OVER (ORDER BY n_events DESC, user_id) AS BIGINT)
                   AS f_score,
                 CAST(ntile(5) OVER (ORDER BY total_value DESC, user_id) AS BIGINT)
                   AS m_score
               FROM s""",
            ev=df,
        ).collect()
    }
    assert len(got) == 20 and got == want


def test_rfm_adaptive_monetary_buckets_continuous_totals(spark, tmp_path):
    """ADVICE r10: floor(total_value) groups can approach user count on
    wide/continuous totals, regressing the monetary histogram scan
    toward a users-scale global window. The bucket width now adapts to
    the observed range (floor(total / B), B from a broadcast min/max
    probe, <= ~64Ki buckets for any distribution); any positive B is a
    monotone coarsening, so scores stay bit-identical to ntile(5) even
    with continuous values, exact-tie clusters, a huge range outlier,
    and NULL totals."""
    rows = []
    for u in range(1, 41):
        val = {
            0: None,             # NULL total user
            1: 7.25,             # exact-tie cluster across users
            2: u * 0.000123 + 0.5,   # continuous sub-unit totals
            3: u * 9876.54321,       # continuous wide totals
        }[u % 4]
        rows.append((u * 100, f"2024-01-01 00:00:{u % 60:02d}", u, "view", val))
    rows.append((9999, "2024-01-02 00:00:00", 999, "view", 1.0e9))  # outlier
    df = spark.createDataFrame(
        rows, "event_id BIGINT, ts STRING, user_id BIGINT, "
        "event_type STRING, value DOUBLE"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "CAST(NULL AS STRING) AS props"
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["user_id"]: (r["r_score"], r["f_score"], r["m_score"])
        for r in QUERIES["events_rfm_scores"](spark, str(tmp_path)).collect()
    }
    want = {
        r["user_id"]: (r["r_score"], r["f_score"], r["m_score"])
        for r in spark.sql(
            """WITH s AS (
                 SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS n_events,
                        CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
                          AS total_value
                 FROM {ev} GROUP BY user_id)
               SELECT user_id,
                 CAST(ntile(5) OVER (ORDER BY last_ts DESC, user_id) AS BIGINT)
                   AS r_score,
                 CAST(ntile(5) OVER (ORDER BY n_events DESC, user_id) AS BIGINT)
                   AS f_score,
                 CAST(ntile(5) OVER (ORDER BY total_value DESC, user_id) AS BIGINT)
                   AS m_score
               FROM s""",
            ev=df,
        ).collect()
    }
    assert len(got) == 41 and got == want


def test_funnel_ordering_invariants(spark, sf_small):
    rows = QUERIES["events_funnel_steps"](spark, sf_small).collect()
    assert rows
    stages = {1: 0, 2: 0, 3: 0}
    for r in rows:
        stages[r["funnel_stage"]] += 1
        if r["click_ts"] is not None:
            assert r["click_ts"] > r["view_ts"]
        if r["purchase_ts"] is not None:
            assert r["click_ts"] is not None
            assert r["purchase_ts"] > r["click_ts"]
        assert r["funnel_stage"] == 1 + (r["click_ts"] is not None) + (
            r["purchase_ts"] is not None
        )
    assert stages[3] > 0  # at sf0.001 some user completes the funnel


def test_cohort_day_zero_counts_all_users(spark, sf_small):
    from ndl_core_data_pipeline_spark.io import load

    rows = QUERIES["events_cohort_retention"](spark, sf_small).collect()
    day0 = sum(r["n_users"] for r in rows if r["day_offset"] == 0)
    n_users = load(spark, sf_small, "events").select("user_id").distinct().count()
    assert day0 == n_users  # every user is active on their cohort day
    assert all(r["day_offset"] >= 0 for r in rows)


def test_debounce_bursts_partition_events(spark, sf_small):
    """Burst sizes add back to the per-(user, type) event counts, and
    bursts are separated by > 60 s."""
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.eventwindows import events_debounce

    bursts = events_debounce(spark, sf_small).collect()
    per_key = {}
    for r in bursts:
        per_key.setdefault((r["user_id"], r["event_type"]), []).append(r)
    ev_counts = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in load(spark, sf_small, "events")
        .groupBy("user_id", "event_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert {k: sum(b["burst_n"] for b in v) for k, v in per_key.items()} == ev_counts
    for v in per_key.values():
        starts = sorted(b["burst_start"] for b in v)
        for a, b in zip(starts, starts[1:]):
            assert (b - a).total_seconds() > 60


def test_markov_rows_sum_to_one(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.eventwindows import (
        events_markov_transitions,
    )

    rows = events_markov_transitions(spark, sf_small).collect()
    assert rows
    by_prev = {}
    for r in rows:
        by_prev.setdefault(r["prev_type"], []).append(r["p"])
    for prev, ps in by_prev.items():
        assert abs(sum(ps) - 1.0) < 1e-4, prev


def test_cusum_tracks_injected_shift(spark):
    """A series with a mean shift at its midpoint must put t_at_max at
    the change point."""
    import datetime

    rows = []
    base = datetime.datetime(2020, 1, 1)
    for i in range(200):
        val = 10.0 if i < 100 else 20.0
        rows.append((i, base + datetime.timedelta(minutes=i), 1, "shift", val))
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        # minimal sf_dir with just events
        from ndl_core_data_pipeline_spark.operators.eventwindows import (
            window_cusum_drift,
        )

        out = {r["event_type"]: r for r in window_cusum_drift(spark, d).collect()}
    r = out["shift"]
    assert r["n"] == 200
    assert r["t_at_max"] == 100  # |S_t| peaks exactly at the change point


def _py_debounce(events, gap_us):
    """Pure reference: per (user, type) chain-collapse bursts."""
    from collections import defaultdict

    by_key = defaultdict(list)
    for e in events:
        by_key[(e["user_id"], e["event_type"])].append(e)
    out = {}
    for key, evs in by_key.items():
        evs.sort(key=lambda e: (e["ts"], e["event_id"]))
        bursts = []
        for e in evs:
            us = int(e["ts"].timestamp() * 1_000_000)
            if not bursts or us - bursts[-1]["last_us"] > gap_us:
                bursts.append(
                    {"start": e["ts"], "n": 0, "val": 0.0, "last_us": us}
                )
            b = bursts[-1]
            b["n"] += 1
            b["val"] += e["value"]
            b["last_us"] = us
        for i, b in enumerate(bursts, 1):
            out[key + (i,)] = (b["start"], b["n"], round(b["val"], 6))
    return out


def test_debounce_matches_python_reference(spark, tmp_path):
    import datetime

    from ndl_core_data_pipeline_spark.operators.eventwindows import (
        DEBOUNCE_US,
        events_debounce,
    )

    rng = random.Random(7)
    base = datetime.datetime(2021, 3, 1, tzinfo=datetime.timezone.utc)
    rows = []
    t = 0
    for i in range(400):
        # mixture of sub-minute bursts and longer gaps
        t += rng.choice([5, 20, 55, 61, 300, 4000])
        rows.append(
            {
                "event_id": i,
                "ts": base + datetime.timedelta(seconds=t),
                "user_id": rng.randint(1, 5),
                "event_type": rng.choice(["view", "click"]),
                "value": round(rng.uniform(0, 10), 6),
            }
        )
    df = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], r["event_type"], r["value"]) for r in rows],
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {
        (r["user_id"], r["event_type"], r["burst_id"]): (
            r["burst_start"].replace(tzinfo=datetime.timezone.utc),
            r["burst_n"],
            round(r["burst_value"], 6),
        )
        for r in events_debounce(spark, str(tmp_path)).collect()
    }
    expect = _py_debounce(rows, DEBOUNCE_US)
    assert got == expect


def test_funnel_checkpoints_keep_stage_semantics(spark, sf_small):
    """r19: funnel's views/clicks lazy checkpoints must not change the
    row set or stages — spot-pin a user with all three stages and the
    anchor row count against a direct recomputation."""
    import __spark_entry__ as contract

    out = contract.queries()["events_funnel_steps"](spark, sf_small)
    rows = {r["user_id"]: r for r in out.collect()}
    from ndl_core_data_pipeline_spark.io import load

    ev = load(spark, sf_small, "events")
    n_view_users = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id")
        .distinct()
        .count()
    )
    assert len(rows) == n_view_users
    for r in rows.values():
        expected = (
            1
            + (r["click_ts"] is not None)
            + (r["purchase_ts"] is not None)
        )
        assert r["funnel_stage"] == expected
