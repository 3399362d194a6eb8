"""Execution-config invariance tier (round 13 evidence layer): every
registry query must return the same result multiset when Spark's
execution STRATEGY changes — AQE off, auto-broadcast disabled (every
auto broadcast hash join becomes a sort-merge join), whole-stage
codegen off, a non-UTC session time zone, and a coprime shuffle width
with 1 MiB scan splits (every row of config_sweep.CONFIGS).

A real cluster flips these at runtime: AQE re-plans joins and coalesces
partitions from observed sizes, and a "small" dimension that grows 100x
stops being auto-broadcast. An output that depends on the chosen
strategy — an unordered first()/any_value() whose winner differs
between a BHJ probe order and an SMJ merge order, a float fold whose
grouping changes under AQE coalescing — is a latent wrong answer at
scale that single-config runs can't catch. Runs on the NULL-injected
dirty copy, where injected ties make strategy-dependent orders visible.

Gated with the rest of the dirty evidence: SPARK_GRAFT_NULLS_SWEEP=1.
Batch runner with resume: scripts/config_sweep.py (fresh session per
config; this tier flips the same confs at runtime, which is equivalent
for every row — all are read at query planning time).
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as contract
import sweep
from config_sweep import CONFIGS  # single source of truth

from .oracle import compare


pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_NULLS_SWEEP"),
    reason="set SPARK_GRAFT_NULLS_SWEEP=1 to run the config-invariance sweep",
)

QUERIES = contract.queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_is_execution_config_invariant(spark, name):
    base = sweep.ensure("nulls")
    touched: set[str] = set()
    for confs in CONFIGS.values():
        touched.update(confs)
    saved = {k: spark.conf.get(k, None) for k in touched}
    try:
        a = QUERIES[name](spark, base).toPandas()
        for cfg, confs in CONFIGS.items():
            for k, v in confs.items():
                spark.conf.set(k, v)
            try:
                b = QUERIES[name](spark, base).toPandas()
            finally:
                for k in confs:
                    if saved[k] is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, saved[k])
            problems = compare(a, b)
            assert not problems, f"{name} under {cfg}: " + "; ".join(problems)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# Oracle-side timezone invariance (round 14, VERDICT r13 item 4's DuckDB
# half): the oracles' calendar math runs on tz-naive TIMESTAMPs, so a
# DuckDB session whose TimeZone is not UTC must produce identical
# results. If an oracle ever leaked a timezone-sensitive construct
# (timestamptz cast, epoch conversion through local time, now()-relative
# window), a shared-notebook `SET TimeZone` would silently shift its
# date_trunc/window boundaries away from the engine's UTC-pinned output.
# ---------------------------------------------------------------------------

_CAL_RE = __import__("re").compile(
    r"date_trunc|time_bucket|dayofweek|strftime|EXTRACT|INTERVAL|make_date"
    r"|to_timestamp|epoch",
    __import__("re").IGNORECASE,
)

ORACLES = contract.oracle_sql()
_CAL_ORACLES = sorted(n for n, sql in ORACLES.items() if _CAL_RE.search(sql))


@pytest.mark.parametrize("name", _CAL_ORACLES)
def test_oracle_is_duckdb_timezone_invariant(name):
    from .oracle import _canon, duckdb_conn

    base = sweep.ensure("nulls")
    frames = []
    for tz in (None, "Asia/Tokyo"):
        con = duckdb_conn(base)
        try:
            if tz is not None:
                con.execute(f"SET TimeZone='{tz}'")
            frames.append(_canon(con.execute(ORACLES[name]).df()))
        finally:
            con.close()
    a, b = frames
    assert a.shape == b.shape, f"{name}: shape {a.shape} != {b.shape} under Tokyo tz"
    assert a.astype(str).values.tolist() == b.astype(str).values.tolist(), (
        f"{name}: oracle result shifts under SET TimeZone='Asia/Tokyo'"
    )
