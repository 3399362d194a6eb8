"""Pin tests for the round-16 extreme-timestamp axis finds.

The first run failed 22 queries: 21 were the comparator's own pandas
nanosecond funnel (pinned in test_comparator_temporal.py), and ONE was
a real cross-engine divergence — events_sliding_window's oracle used
DuckDB's sign-preserving % to align window starts, which truncates a
PRE-EPOCH epoch_us toward zero (one slide too late) where Spark's
window() floor-aligns every instant. These tests hold the fix and the
axis' hardest value shapes on tiny synthetic fixtures.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as contract

from .oracle import run_compare
from .test_nullheavy_fixes import _events_table, _fixture_dir, _orders_table

QUERIES = contract.queries()
ORACLES = contract.oracle_sql()


_EV_ROWS = [
    # pre-epoch instants: floor vs trunc-toward-zero alignment bait
    (1, "0001-01-02T03:04:05.678901", 7, "view", 1.0, "{}"),
    (2, "1969-12-31T23:59:59.999999", 7, "view", 2.0, "{}"),
    (3, "1969-12-31T23:10:00", 7, "purchase", 3.0, "{}"),
    # exactly slide-aligned pre-epoch instant (remainder 0 both ways)
    (4, "1969-12-31T23:30:00", 8, "view", 4.0, "{}"),
    (5, "1970-01-01T00:00:00", 8, "purchase", 5.0, "{}"),
    (6, "2024-03-01T10:15:00", 8, "view", 6.0, "{}"),
    (7, "9999-12-31T23:59:59.999999", 9, "purchase", 7.0, "{}"),
    (8, None, 9, "view", 8.0, "{}"),
]


@pytest.fixture(scope="module")
def tsx_events_dir(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("tsxev")
    return _fixture_dir(tmp, "d", "events", _events_table(_EV_ROWS))


@pytest.mark.parametrize(
    "name",
    [
        "events_sliding_window",
        "events_tumbling_window",
        "events_session_window",
        "join_asof_last_view",
        "window_sessionize",
    ],
)
def test_extreme_timestamp_event_parity(spark, tsx_events_dir, name):
    problems = run_compare(spark, name, QUERIES[name], ORACLES[name], tsx_events_dir)
    assert problems == [], problems


def test_sliding_window_floor_aligns_pre_epoch(spark, tsx_events_dir):
    """23:59:59.999999 belongs to the windows starting 23:30 and 23:00 —
    never the 1970-01-01 00:00 window DuckDB's trunc-toward-zero would
    assign; the year-1 instant floor-aligns the same way."""
    starts = {
        r["window_start"].isoformat()
        for r in QUERIES["events_sliding_window"](spark, tsx_events_dir).collect()
    }
    assert "1969-12-31T23:30:00" in starts and "1969-12-31T23:00:00" in starts
    # the only event at/after epoch start in that hour is event 5
    assert "1970-01-01T00:00:00" in starts  # from event 5, not event 2
    assert "0001-01-02T03:00:00" in starts and "0001-01-02T02:30:00" in starts


_ORD_ROWS_DOC = """orders rows carrying year-1 / year-9999 orderdates:
date arithmetic must cross the DateType edge identically (9999-12-31 +
30 days = year 10000 — representable as epoch micros on both sides)."""


def test_date_arithmetic_at_both_year_edges(spark, tmp_path):
    rows = [
        (1, 10, "O", 100.0, "0001-01-01T00:00:00", "1-URGENT"),
        (2, 11, "F", 200.0, "9999-12-31T23:59:59.999999", "2-HIGH"),
        (3, 12, "O", 300.0, "1969-12-31T23:59:59.999999", "3-MEDIUM"),
        (4, 13, "F", 400.0, None, "4-NOT SPECIFIED"),
    ]
    d = _fixture_dir(tmp_path, "tsxord", "orders", _orders_table(rows))
    for name in ("func_date_arithmetic", "func_date_format_iso", "func_date_parse_multi"):
        problems = run_compare(spark, name, QUERIES[name], ORACLES[name], d)
        assert problems == [], (name, problems)
