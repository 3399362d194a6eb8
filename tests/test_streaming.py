"""Structured Streaming tests: AvailableNow file ingest (discovery →
exactly-once materialization → incremental restart), streaming dedup, and
watermarked window aggs verified against their batch-identical forms."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from ndl_core_data_pipeline_spark.streaming import (
    available_now_ingest,
    sessionized_stream,
    stream_dedup,
    watermarked_tumbling_agg,
)
from ndl_core_data_pipeline_spark.streaming.jobs import EVENTS_DDL


def _force_batch_order(src_a, src_b):
    """FileStreamSource orders same-trigger files by modification time;
    two writes landing in one mtime granule could flip micro-batch order
    and violate the in-order state contract the cross-batch parity tests
    exercise (ADVICE r9). Force every src_b file strictly after src_a."""
    import os as _os

    newest_a = max(p.stat().st_mtime for p in src_a.iterdir())
    for p in src_b.iterdir():
        _os.utime(p, (p.stat().st_atime, max(p.stat().st_mtime, newest_a + 2)))


def _write_events(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


EVENTS_A = [
    {"event_id": 1, "ts": "2024-01-01T10:00:00.000Z", "user_id": 1, "event_type": "view", "value": 1.5, "props": "{}"},
    {"event_id": 2, "ts": "2024-01-01T10:10:00.000Z", "user_id": 1, "event_type": "click", "value": 2.0, "props": "{}"},
    {"event_id": 3, "ts": "2024-01-01T11:05:00.000Z", "user_id": 2, "event_type": "view", "value": 0.5, "props": "{}"},
]
EVENTS_B = [
    {"event_id": 4, "ts": "2024-01-01T11:30:00.000Z", "user_id": 2, "event_type": "view", "value": 1.0, "props": "{}"},
]


def test_available_now_ingest_and_restart(spark, tmp_path):
    landing = tmp_path / "landing"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()
    _write_events(landing / "batch_a.json", EVENTS_A)

    q = available_now_ingest(spark, str(landing), str(out), str(ckpt)).start()
    q.awaitTermination(120)
    assert spark.read.parquet(str(out)).count() == 3

    # land one more file; the restarted stream must process ONLY the new one
    _write_events(landing / "batch_b.json", EVENTS_B)
    q = available_now_ingest(spark, str(landing), str(out), str(ckpt)).start()
    q.awaitTermination(120)
    got = spark.read.parquet(str(out))
    assert got.count() == 4  # exactly-once: no batch_a reprocessing
    assert got.select(F.countDistinct("event_id")).collect()[0][0] == 4


def _streaming_events(spark, tmp_path, rows, name="s"):
    d = tmp_path / name
    d.mkdir()
    _write_events(d / "events.json", rows)
    return spark.readStream.format("json").schema(EVENTS_DDL).load(str(d))


def test_stream_dedup(spark, tmp_path):
    dup = EVENTS_A + [EVENTS_A[0]]  # event 1 delivered twice
    stream = _streaming_events(spark, tmp_path, dup, "dedup")
    out = tmp_path / "dedup_out"
    ckpt = tmp_path / "dedup_ckpt"
    q = (
        stream_dedup(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(str(out)).count() == 3


def test_watermarked_tumbling_matches_batch(spark, tmp_path):
    stream = _streaming_events(spark, tmp_path, EVENTS_A + EVENTS_B, "tumble")
    # NB: append mode would emit nothing for a finite input (the watermark
    # never passes the last window's end) — complete mode into the memory
    # sink shows the full state, which is what we compare against batch
    q = (
        watermarked_tumbling_agg(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumble_result")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"].isoformat(), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tumble_result").collect()
    }
    # batch-identical expectation
    assert got[("2024-01-01T10:00:00", "view")] == (1, 1.5)
    assert got[("2024-01-01T10:00:00", "click")] == (1, 2.0)
    assert got[("2024-01-01T11:00:00", "view")] == (2, 1.5)


def test_sessionized_stream(spark, tmp_path):
    stream = _streaming_events(spark, tmp_path, EVENTS_A + EVENTS_B, "sess")
    q = (
        sessionized_stream(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_result")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sess_result").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r["n_events"])
    # user 1: 10:00+10:10 one session; user 2: 11:05+11:30 gap 25min < 30 → one session
    assert sorted(by_user[1]) == [2]
    assert sorted(by_user[2]) == [2]


def test_stateful_running_totals_across_batches(spark, tmp_path):
    from ndl_core_data_pipeline_spark.streaming.jobs import stateful_running_totals

    d = tmp_path / "stateful"
    d.mkdir()
    _write_events(d / "a.json", EVENTS_A)
    stream = spark.readStream.format("json").schema(EVENTS_DDL).option(
        "maxFilesPerTrigger", 1
    ).load(str(d))
    _write_events(d / "b.json", EVENTS_B)
    q = (
        stateful_running_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("running_totals")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT user_id, MAX(n_events) AS n, MAX(total_value) AS t "
        "FROM running_totals GROUP BY user_id"
    ).collect()
    got = {r["user_id"]: (r["n"], r["t"]) for r in rows}
    # user 1: events 1+2 (1.5+2.0); user 2: events 3+4 (0.5+1.0) —
    # state must accumulate ACROSS the two single-file micro-batches
    assert got[1] == (2, 3.5)
    assert got[2] == (2, 1.5)


def test_stream_static_enrich(spark, tmp_path):
    from ndl_core_data_pipeline_spark.streaming.jobs import stream_static_enrich

    stream = _streaming_events(spark, tmp_path, EVENTS_A, "enrich")
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id BIGINT, tier STRING"
    )
    q = (
        stream_static_enrich(stream, dim)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["event_id"]: r["tier"] for r in spark.sql("SELECT * FROM enriched").collect()}
    assert rows == {1: "gold", 2: "gold", 3: "silver"}


def test_foreach_batch_writer_idempotent_layout(spark, tmp_path):
    from ndl_core_data_pipeline_spark.streaming.jobs import foreach_batch_writer

    d = tmp_path / "fb_landing"
    d.mkdir()
    _write_events(d / "a.json", EVENTS_A + EVENTS_A)  # duplicate rows in-batch
    stream = spark.readStream.format("json").schema(EVENTS_DDL).load(str(d))
    out, ckpt = tmp_path / "fb_out", tmp_path / "fb_ckpt"
    q = foreach_batch_writer(
        stream, str(out), str(ckpt), dedup_key="event_id"
    ).start()
    q.awaitTermination(120)
    got = spark.read.parquet(str(out))
    # in-batch duplicates collapsed; batch_id partition column present
    assert got.count() == 3
    assert "batch_id" in got.columns


def test_stream_stream_join_time_bounded(spark, tmp_path):
    from ndl_core_data_pipeline_spark.streaming import stream_stream_join

    rows = [
        # view at 10:00 → clicks at 10:10 (in window) and 11:05 (outside 30m)
        {"event_id": 10, "ts": "2024-01-01T10:00:00.000Z", "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 11, "ts": "2024-01-01T10:10:00.000Z", "user_id": 1, "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 12, "ts": "2024-01-01T11:05:00.000Z", "user_id": 1, "event_type": "click", "value": 1.0, "props": "{}"},
        # other user's click in-window but wrong key: must not match
        {"event_id": 13, "ts": "2024-01-01T10:05:00.000Z", "user_id": 2, "event_type": "click", "value": 1.0, "props": "{}"},
    ]
    d = tmp_path / "ssj"
    d.mkdir()
    _write_events(d / "events.json", rows)

    def src():
        return spark.readStream.format("json").schema(EVENTS_DDL).load(str(d))

    views = src().filter(F.col("event_type") == "view")
    clicks = src().filter(F.col("event_type") == "click")
    q = (
        stream_stream_join(views, clicks, max_delay="30 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_result")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["left_id"], r["right_id"])
        for r in spark.sql("SELECT * FROM ssj_result").collect()
    }
    assert got == {(1, 10, 11)}


def test_late_data_metrics_counts_watermark_drops(spark, tmp_path):
    import time

    from ndl_core_data_pipeline_spark.streaming import (
        late_data_metrics,
        observed_tumbling_agg,
    )

    d = tmp_path / "late"
    d.mkdir()
    # the watermark a batch FILTERS with is the one derived from data at
    # least one batch earlier (progress reports the advanced value a batch
    # before the filter applies it) — so the straggler goes in file 3:
    # file 1 advances event time to 12:00, file 2 to 12:30, and by file
    # 3's batch the 11:50+ watermark is in force and drops the 09:00 row
    _write_events(
        d / "a_first.json",
        [
            {"event_id": 1, "ts": "2024-01-01T12:00:00.000Z", "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"},
        ],
    )
    time.sleep(1.1)  # distinct mtimes: the file source orders batches by mtime
    _write_events(
        d / "b_second.json",
        [
            {"event_id": 2, "ts": "2024-01-01T12:30:00.000Z", "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"},
        ],
    )
    time.sleep(1.1)
    _write_events(
        d / "c_third.json",
        [
            {"event_id": 3, "ts": "2024-01-01T09:00:00.000Z", "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"},
        ],
    )
    stream = (
        spark.readStream.format("json")
        .schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
    )
    # update mode: late rows behind the watermark are DROPPED (complete
    # mode keeps all state and never drops — no late-data semantics there)
    q = (
        observed_tumbling_agg(stream, watermark="10 minutes")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("late_result")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    m = late_data_metrics(q)
    assert m["n_input"] == 3  # observe() sees every arriving row
    assert m["n_late_dropped"] >= 1  # the 09:00 straggler died at the watermark
    assert len(m["batches"]) >= 3
    # the dropped row never reached the state: no 09:00 window exists
    starts = {
        r["window_start"].isoformat()
        for r in spark.sql("SELECT * FROM late_result").collect()
    }
    assert "2024-01-01T09:00:00" not in starts


def test_stateful_funnel_across_batches(spark, tmp_path):
    """Stage machine accumulates across micro-batches and agrees with the
    batch funnel operator's stage semantics."""
    from ndl_core_data_pipeline_spark.streaming.jobs import stateful_funnel

    a = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00.000Z", "user_id": 1, "event_type": "view", "value": 0.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T10:05:00.000Z", "user_id": 1, "event_type": "click", "value": 0.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T10:00:00.000Z", "user_id": 2, "event_type": "click", "value": 0.0, "props": "{}"},
        {"event_id": 7, "ts": None, "user_id": 3, "event_type": "view", "value": 0.0, "props": "{}"},
    ]
    b = [
        {"event_id": 4, "ts": "2024-01-01T10:30:00.000Z", "user_id": 1, "event_type": "purchase", "value": 0.0, "props": "{}"},
        {"event_id": 5, "ts": "2024-01-01T10:40:00.000Z", "user_id": 2, "event_type": "view", "value": 0.0, "props": "{}"},
        {"event_id": 6, "ts": "2024-01-01T10:41:00.000Z", "user_id": 2, "event_type": "purchase", "value": 0.0, "props": "{}"},
        {"event_id": 8, "ts": "2024-01-01T10:50:00.000Z", "user_id": 3, "event_type": "click", "value": 0.0, "props": "{}"},
    ]
    d = tmp_path / "funnel"
    d.mkdir()
    _write_events(d / "a.json", a)
    stream = spark.readStream.format("json").schema(EVENTS_DDL).option(
        "maxFilesPerTrigger", 1
    ).load(str(d))
    _write_events(d / "b.json", b)
    q = (
        stateful_funnel(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_stream")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT user_id, MAX(funnel_stage) AS stage FROM funnel_stream GROUP BY user_id"
    ).collect()
    got = {r["user_id"]: r["stage"] for r in rows}
    # user 1: view+click in batch A, purchase in batch B → stage 3 across batches
    assert got[1] == 3
    # user 2: click BEFORE any view is ignored; view then purchase WITHOUT a
    # click afterward → stage stays 1 (strict ordering semantics)
    assert got[2] == 1
    # user 3: the only view has NULL ts — the batch funnel still emits
    # the user at stage 1 (the groupBy group row EXISTS with view_ts
    # NULL; r17 hostile-twin find #1 corrected this pin's earlier
    # claim that min()-skipping meant no row), and the later click can
    # never attach (ts > NULL filters it), so the stage stays 1
    assert got[3] == 1


def test_transform_with_state_profile_across_batches(spark, tmp_path):
    # the Spark-4 transformWithState runtime ships state over a protobuf
    # channel; without the protobuf package the driver worker cannot start
    # (env-gated tier, like presidio/sentence-transformers elsewhere)
    pytest.importorskip("google.protobuf.descriptor")
    from ndl_core_data_pipeline_spark.streaming.jobs import (
        transform_with_state_profile,
    )

    d = tmp_path / "tws"
    d.mkdir()
    _write_events(d / "a.json", EVENTS_A)
    stream = spark.readStream.format("json").schema(EVENTS_DDL).option(
        "maxFilesPerTrigger", 1
    ).load(str(d))
    _write_events(d / "b.json", EVENTS_B)
    # transformWithState requires the RocksDB state store provider
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    q = (
        transform_with_state_profile(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("tws_profile")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    rows = spark.sql(
        "SELECT user_id, MAX(n_events) AS n, MAX(total_value) AS t, "
        "MAX(n_event_types) AS k FROM tws_profile GROUP BY user_id"
    ).collect()
    got = {r["user_id"]: (r["n"], r["t"], r["k"]) for r in rows}
    # same corpus as the applyInPandasWithState test: state (ValueState
    # AND MapState contents) must survive across the two micro-batches
    ref = {}
    for e in EVENTS_A + EVENTS_B:
        n, t, types = ref.get(e["user_id"], (0, 0.0, set()))
        types = types | {e["event_type"]}
        ref[e["user_id"]] = (n + 1, round(t + e["value"], 6), types)
    assert got == {u: (n, t, len(s)) for u, (n, t, s) in ref.items()}


@pytest.fixture(
    params=["clean", "dirty", "nullheavy", "compound", "duprow",
            "duprow_compound"]
)
def twin_sf_dir(request, sf_small):
    """The batch↔stream twins run on the REAL clean events table always,
    and additionally on the NULL/NaN/''-injected sf0.01 copy under the
    NULLS tier (VERDICT r11 missing item 4: the registry sweep covers
    the 221 batch queries but the twins' cross-batch state handling of
    NULL keys/timestamps/values was only hand-pinned until now).

    Round 17 (verdict item 5) adds the three HOSTILE fixtures under the
    SPARK_GRAFT_HOSTILE_TWINS tier — null-heavy 30%, compound
    hot×unicode×NULL, and duplicate-row — the exact shapes whose batch
    forms needed totality/temporal fixes in r16; the streaming twins had
    only ever seen clean and 2%-dirty data."""
    if request.param == "clean":
        return sf_small
    import os

    import sweep

    if request.param == "dirty":
        if not os.environ.get("SPARK_GRAFT_NULLS_SWEEP"):
            pytest.skip("set SPARK_GRAFT_NULLS_SWEEP=1 for dirty-events twin runs")
        return sweep.ensure("nulls")
    if not os.environ.get("SPARK_GRAFT_HOSTILE_TWINS"):
        pytest.skip(
            "set SPARK_GRAFT_HOSTILE_TWINS=1 for hostile-fixture twin runs"
        )
    return sweep.ensure(request.param)


def test_debounced_stream_matches_batch(spark, tmp_path, twin_sf_dir):
    """VERDICT r8 item 8: the AvailableNow session-window debounce must
    equal the batch events_debounce rollup on the real events table
    (burst identity compared by start/size/value, not burst_id)."""
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.eventwindows import events_debounce
    from ndl_core_data_pipeline_spark.streaming.jobs import debounced_stream

    # re-land the events table as plain parquet (io.load normalizes the
    # TIMESTAMP(NANOS) column the file source would otherwise trip on)
    src = tmp_path / "debounce_src"
    load(spark, twin_sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    ).write.parquet(str(src))
    stream = spark.readStream.schema(
        "event_id BIGINT, user_id BIGINT, event_type STRING, "
        "ts TIMESTAMP, value DOUBLE"
    ).parquet(str(src))
    q = (
        debounced_stream(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("debounce_result")
        .trigger(availableNow=True)
        .start()
    )
    try:
        # awaitTermination returns False on timeout WITHOUT raising — a
        # slow host must fail here, not on a partial-data value diff
        assert q.awaitTermination(120), "debounce stream did not finish"
    finally:
        q.stop()
    def key(r):
        # None-safe sort key: dirty events carry NULL user_id/value, and
        # Python's sorted() can't compare None with int/float
        vals = (
            r["user_id"], r["event_type"], r["burst_start"], r["burst_n"],
            None if r["burst_value"] is None else round(r["burst_value"], 6),
        )
        return tuple((v is None, v) for v in vals)

    got = sorted(key(r) for r in spark.sql("SELECT * FROM debounce_result").collect())
    want = sorted(
        key(r)
        for r in events_debounce(spark, twin_sf_dir)
        .select("user_id", "event_type", "burst_start", "burst_n", "burst_value")
        .collect()
    )
    assert got and got == want


def test_markov_pairs_stream_matches_batch(spark, tmp_path, twin_sf_dir):
    """Cross-batch state parity: events land time-split across TWO files
    consumed one per micro-batch; the per-user last-event state must
    chain transitions over the batch boundary so the aggregated pairs
    equal the batch events_markov_transitions counts exactly."""
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.eventwindows import (
        events_markov_transitions,
    )
    from ndl_core_data_pipeline_spark.streaming.jobs import markov_pairs_stream

    real = load(spark, twin_sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    # NULL-ts events sort NULLS FIRST in the batch lag() window, i.e.
    # they are an existing user's EARLIEST transitions — the twin's
    # pandas sort must place them first too (ADVICE r10).
    uid = real.agg(F.min("user_id")).first()[0]
    nulls = spark.createDataFrame(
        [(-2, uid, "purchase", None), (-1, uid, "view", None)],
        "event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP",
    )
    ev = real.unionByName(nulls)
    nulls_sf = tmp_path / "markov_sf"
    nulls_sf.mkdir()
    ev.write.parquet(str(nulls_sf / "events.parquet"))
    cut = ev.selectExpr("percentile(unix_micros(ts), 0.5) AS c").first()["c"]
    src = tmp_path / "markov_src"
    src.mkdir()
    # time-ordered files: batch 1 = first half, batch 2 = second half, so
    # cross-batch arrival order matches event-time order (the documented
    # in-order contract, same as stateful_funnel); NULL-ts rows ride in
    # batch 1, matching their NULLS-FIRST event-time position
    ev.filter(
        F.col("ts").isNull() | (F.unix_micros("ts") <= cut)
    ).coalesce(1).write.parquet(
        str(src / "a")
    )
    ev.filter(F.unix_micros("ts") > cut).coalesce(1).write.parquet(
        str(src / "b")
    )
    _force_batch_order(src / "a", src / "b")
    stream = (
        spark.readStream.schema(
            "event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        markov_pairs_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("markov_pairs")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "markov stream did not finish"
    finally:
        q.stop()
    assert q.lastProgress is not None
    got = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in spark.sql(
            "SELECT prev_type, next_type, COUNT(*) AS n FROM markov_pairs "
            "GROUP BY prev_type, next_type"
        ).collect()
    }
    want = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in events_markov_transitions(spark, str(nulls_sf)).collect()
    }
    assert got and got == want


def test_cusum_prefix_stream_matches_batch(spark, tmp_path, twin_sf_dir):
    """Accumulating cross-batch state parity: events land time-split in
    TWO files consumed one per micro-batch; the per-event-type running
    (count, exact micro-unit sum) state must chain over the batch
    boundary so the downstream μ-join drift rollup over the emitted
    prefixes equals batch window_cusum_drift bit-for-bit."""
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.eventwindows import (
        window_cusum_drift,
    )
    from ndl_core_data_pipeline_spark.streaming.jobs import cusum_prefix_stream

    real = load(spark, twin_sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    # NULL-ts rows are real cluster data: Spark's ORDER BY ts is NULLS
    # FIRST, so they occupy the leading positions t of their event_type
    # and shift every later prefix — the twin must agree (ADVICE r10:
    # pandas na_position defaults to 'last'). Two rows in one type pin
    # the event_id secondary order within the NaT block.
    nulls = spark.createDataFrame(
        [(-2, "purchase", None, 3.5), (-1, "purchase", None, -1.25),
         (-3, "view", None, 7.0)],
        "event_id BIGINT, event_type STRING, ts TIMESTAMP, value DOUBLE",
    )
    ev = real.unionByName(nulls)
    nulls_sf = tmp_path / "cusum_sf"
    nulls_sf.mkdir()
    ev.write.parquet(str(nulls_sf / "events.parquet"))
    cut = ev.selectExpr("percentile(unix_micros(ts), 0.5) AS c").first()["c"]
    src = tmp_path / "cusum_src"
    src.mkdir()
    ev.filter(
        F.col("ts").isNull() | (F.unix_micros("ts") <= cut)
    ).coalesce(1).write.parquet(str(src / "a"))
    ev.filter(F.unix_micros("ts") > cut).coalesce(1).write.parquet(str(src / "b"))
    _force_batch_order(src / "a", src / "b")
    stream = (
        spark.readStream.schema(
            "event_id BIGINT, event_type STRING, ts TIMESTAMP, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        cusum_prefix_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cusum_prefix")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "cusum stream did not finish"
    finally:
        q.stop()
    # downstream batch rollup over the emitted prefix table: identical
    # arithmetic to the batch operator (double division of exact
    # micro-units ≡ its decimal→double cast; same μ, same argmax)
    from ndl_core_data_pipeline_spark.operators._util import DEC, round6_det

    mu = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            (F.sum(F.col("value").cast(DEC)).cast("double") / F.count("*")).alias(
                "mu"
            )
        )
    )
    s = (
        spark.sql("SELECT * FROM cusum_prefix")
        .join(F.broadcast(mu), "event_type")
        .withColumn(
            "s_t", F.col("prefix_micro") / F.lit(1000000.0) - F.col("t") * F.col("mu")
        )
    )
    from pyspark.sql import Window

    flagged = s.withColumn(
        "mx", F.max(F.abs("s_t")).over(Window.partitionBy("event_type"))
    )
    got = {
        r["event_type"]: (r["n"], r["drift_max"], r["t_at_max"])
        for r in flagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            round6_det(F.max(F.abs(F.col("s_t")))).alias("drift_max"),
            F.min(F.when(F.abs("s_t") == F.col("mx"), F.col("t")))
            .cast("bigint")
            .alias("t_at_max"),
        )
        .collect()
    }
    want = {
        r["event_type"]: (r["n"], r["drift_max"], r["t_at_max"])
        for r in window_cusum_drift(spark, str(nulls_sf)).collect()
    }
    assert got and got == want


def test_cusum_stream_quantizes_like_spark_cast(spark, tmp_path):
    """The twin's per-value quantization must equal Spark's
    CAST(double AS DECIMAL(25,6)) on adversarial doubles: half-boundary
    values (where the shortest decimal repr rounds HALF_UP but the
    binary expansion sits just under the boundary — Decimal(float(v))
    would round DOWN), and NaN/Infinity (cast to NULL: counted by the
    batch COUNT(*) position t, skipped by its SUM — and must not crash
    the stream)."""
    from ndl_core_data_pipeline_spark.streaming.jobs import cusum_prefix_stream

    vals = [2.0000005, 1.0000015, float("nan"), float("inf"), -0.0000005, 7.25]
    rows = [(i + 1, "purchase", f"2024-01-01 00:00:{i:02d}", v)
            for i, v in enumerate(vals)]
    src = tmp_path / "q_src"
    src.mkdir()
    spark.createDataFrame(
        rows, "event_id BIGINT, event_type STRING, ts STRING, value DOUBLE"
    ).selectExpr(
        "event_id", "event_type", "CAST(ts AS TIMESTAMP) AS ts", "value"
    ).coalesce(1).write.parquet(str(src / "a"))
    stream = (
        spark.readStream.schema(
            "event_id BIGINT, event_type STRING, ts TIMESTAMP, value DOUBLE"
        ).parquet(str(src / "*"))
    )
    q = (
        cusum_prefix_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cusum_quant")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "cusum stream did not finish"
    finally:
        q.stop()
    got = {
        r["event_id"]: (r["t"], r["prefix_micro"])
        for r in spark.sql("SELECT * FROM cusum_quant").collect()
    }
    # ground truth: Spark's own cast + running sum over the same rows
    want = {
        r["event_id"]: (r["t"], r["prefix_micro"])
        for r in spark.sql(
            """SELECT event_id,
                      COUNT(*) OVER w AS t,
                      CAST(COALESCE(SUM(CAST(value AS DECIMAL(25,6))) OVER w,
                                    0) * 1000000 AS BIGINT) AS prefix_micro
               FROM {ev}
               WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING)""",
            ev=spark.read.parquet(str(src / "a")),
        ).collect()
    }
    assert len(got) == len(vals) and got == want


def test_cusum_stream_checkpoint_recovery(spark, tmp_path, sf_small):
    """Restart-from-checkpoint (the exactly-once claim §2.12 maps to):
    run 1 sees ONLY the first time-half and terminates (AvailableNow);
    the second half then lands and run 2 restarts from the SAME
    checkpoint dir into the SAME file sink. The per-type (count, sum)
    GroupState must be restored from the state store — every batch-2
    prefix depends on it — and the combined sink output must equal one
    batch window computation over the union. Uses a parquet sink
    (a memory sink would not survive the restart)."""
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.streaming.jobs import cusum_prefix_stream

    ev = load(spark, sf_small, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    cut = ev.selectExpr("percentile(unix_micros(ts), 0.5) AS c").first()["c"]
    src = tmp_path / "ckpt_src"
    src.mkdir()
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")
    ev.filter(F.unix_micros("ts") <= cut).coalesce(1).write.parquet(str(src / "a"))

    def run_once():
        stream = spark.readStream.schema(
            "event_id BIGINT, event_type STRING, ts TIMESTAMP, value DOUBLE"
        ).option("maxFilesPerTrigger", 1).parquet(str(src / "*"))
        q = (
            cusum_prefix_stream(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120), "stream did not finish"
        finally:
            q.stop()

    run_once()  # run 1: first half only, then the query TERMINATES
    ev.filter(F.unix_micros("ts") > cut).coalesce(1).write.parquet(str(src / "b"))
    _force_batch_order(src / "a", src / "b")
    run_once()  # run 2: restart from checkpoint, state recovered

    got = {
        r["event_id"]: (r["t"], r["prefix_micro"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        r["event_id"]: (r["t"], r["prefix_micro"])
        for r in spark.sql(
            """SELECT event_id,
                      COUNT(*) OVER w AS t,
                      CAST(COALESCE(SUM(CAST(value AS DECIMAL(25,6))) OVER w,
                                    0) * 1000000 AS BIGINT) AS prefix_micro
               FROM {ev}
               WHERE value IS NOT NULL
               WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING)""",
            ev=ev,
        ).collect()
    }
    assert got and got == want


def test_markov_stream_checkpoint_recovery(spark, tmp_path, sf_small):
    """Restart-from-checkpoint for the LAST-ROW-CARRY state shape (the
    cusum twin covers the accumulating shape): run 1 consumes only the
    first time-half and terminates; run 2 restarts from the SAME
    checkpoint into the SAME parquet sink after the second half lands.
    Each user's last event must be restored from the state store so the
    first batch-2 transition chains across the restart — the combined
    sink must equal the batch lag() transition counts exactly."""
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.eventwindows import (
        events_markov_transitions,
    )
    from ndl_core_data_pipeline_spark.streaming.jobs import markov_pairs_stream

    ev = load(spark, sf_small, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    cut = ev.selectExpr("percentile(unix_micros(ts), 0.5) AS c").first()["c"]
    src = tmp_path / "mk_ckpt_src"
    src.mkdir()
    ckpt, sink = str(tmp_path / "mk_ckpt"), str(tmp_path / "mk_sink")
    ev.filter(F.unix_micros("ts") <= cut).coalesce(1).write.parquet(str(src / "a"))

    def run_once():
        stream = spark.readStream.schema(
            "event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP"
        ).option("maxFilesPerTrigger", 1).parquet(str(src / "*"))
        q = (
            markov_pairs_stream(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120), "stream did not finish"
        finally:
            q.stop()

    run_once()  # run 1: first half only, query TERMINATES
    ev.filter(F.unix_micros("ts") > cut).coalesce(1).write.parquet(str(src / "b"))
    _force_batch_order(src / "a", src / "b")
    run_once()  # run 2: restart, per-user last-event state recovered

    got = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in spark.read.parquet(sink)
        .groupBy("prev_type", "next_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    want = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in events_markov_transitions(spark, sf_small).collect()
    }
    assert got and got == want
