"""Tests for operators/eventwindows.py: debounce bursts against a
pure-Python reference, funnel checkpoints, Markov rows and CUSUM drift.
RFM ranks and the funnel and cohort invariants are pinned in
tests/test_round6_ops.py."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

import __spark_entry__ as contract


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
