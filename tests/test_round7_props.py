"""Cross-engine determinism properties for round-7 primitives.

Three layers per primitive: a pure-Python IEEE model (hypothesis-fuzzed
against DuckDB, cheap), one batched Spark comparison against the model,
and — where a pure reference is natural — full-output equivalence.
"""

from __future__ import annotations

import hashlib
import math
import random

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from ndl_core_data_pipeline_spark.operators._util import round6_det, sql_r6


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


def _py_hash48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def test_hash48_spark_matches_python(spark):
    from ndl_core_data_pipeline_spark.operators._util import hash48 as _hash48

    vals = [str(i) for i in range(0, 3000, 11)] + ["", "a b", "ünïcode"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select("s", _hash48(F.col("s")).alias("h")).collect()
    }
    assert got == {v: _py_hash48(v) for v in vals}


def test_minhash_permutations_spark_match_python(spark):
    """The affine MinHash family h_j(x) = (A_j x + B_j) mod P over the
    48-bit md5 base hash, against a pure-Python reference."""
    from ndl_core_data_pipeline_spark.operators._util import hash48 as minhash_base48
    from ndl_core_data_pipeline_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        N_MINHASH,
        minhash_affine,
    )

    shingles = [f"tok{i} tok{i+1} tok{i+2}" for i in range(50)]
    df = spark.createDataFrame([(s,) for s in shingles], "shingle string")
    # the PRODUCTION expressions, not a copy — drift in minhash_signatures
    # now fails here
    x = minhash_base48(F.col("shingle"))
    cols = [minhash_affine(x, j).alias(f"h{j}") for j in range(N_MINHASH)]
    got = {
        r["shingle"]: tuple(r[f"h{j}"] for j in range(N_MINHASH))
        for r in df.select("shingle", *cols).collect()
    }
    for s in shingles:
        base = _py_hash48(s)
        expect = tuple(
            (MINHASH_A[j] * base + MINHASH_B[j]) % MINHASH_P
            for j in range(N_MINHASH)
        )
        assert got[s] == expect
