"""Lint: the positional-flag re-sort class must stay fixed in every
oracle (round-17 duprow-interaction find).

The idiom: pass 1 computes a 0/1 flag from lag()/MAX-over-preceding
(is_start / is_new / brk), pass 2 running-SUMs that flag over an
INDEPENDENT window sort. A tie group of sort-key-identical rows carries
DIFFERENT flags (only its positional head can be 1), so pass 2's
re-sort can move the 1 mid-group and split a burst/session — DuckDB
did exactly that (events_debounce split a 3-row burst 2+1) while Spark
is consistent by construction (both expressions evaluate in ONE Window
operator over one sort). The repair is a flag-DESC final tiebreak in
pass 2's ORDER BY, which reconstructs pass 1's arrangement.

This lint walks every registered oracle, finds every
`SUM(<flag>) OVER (... ORDER BY <keys> ...)` whose summed identifier is
a bare column (the flag idiom — decimal-cast measure sums don't match),
and requires either (a) the flag itself appears in the ORDER BY, or
(b) the site is in the reviewed-total allowlist with a reason why its
sort is already total (unique key per partition, DISTINCT input, or
row_number order).
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as contract

# SUM(bare_identifier) OVER ( ... )  — flags are bare 0/1 columns;
# measure sums in oracles always go through CAST(... AS DECIMAL...)
_FLAG_SUM_RE = re.compile(
    r"SUM\(\s*([A-Za-z_][A-Za-z_0-9]*)\s*\)\s*OVER\s*\(", re.IGNORECASE
)

# Reviewed-total allowlist: (query, flag) -> reason the second sort
# cannot interleave differing payloads.
ALLOWED_TOTAL = {
    # hits' (doc_id, start) is unique per partition by construction
    # (one row per distinct gram position), so the pass-2 sort is total
    ("dedup_substring_spans", "is_new"):
        "ORDER BY start is total: one row per distinct start per doc_id",
    # elbow cut: rnk is a row_number — unique per frame by definition
    ("elbow_cut", "is_cut"):
        "ORDER BY rnk is total: rnk is a row_number",
    # not a flag at all: rev_dec is the weekly revenue measure over a
    # GROUPED (one-row-per-week) input, and the ORDER BY week is total
    ("trend_weekly_growth", "rev_dec"):
        "grouped input, one row per (_wk_nn, _wk): the sort is total",
}


def _over_clause(sql: str, start: int) -> str:
    depth, j = 1, start
    while j < len(sql) and depth:
        c = sql[j]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        j += 1
    return sql[start : j - 1]


def test_every_flag_running_sum_orders_by_the_flag():
    problems = []
    for name, sql in contract.build_registry().oracles.items():
        for m in _FLAG_SUM_RE.finditer(sql):
            flag = m.group(1)
            over = _over_clause(sql, m.end())
            om = re.search(r"ORDER\s+BY\s+(.*)", over, re.IGNORECASE | re.DOTALL)
            if not om:
                continue  # no ORDER BY: whole-partition sum, order-free
            order = om.group(1)
            if re.search(rf"\b{re.escape(flag)}\b", order):
                continue  # flag participates in the sort: safe
            key = (name, flag)
            if key in ALLOWED_TOTAL:
                continue
            problems.append(
                f"{name}: SUM({flag}) OVER (... ORDER BY {order[:60]}...) — "
                f"running-summed flag absent from the ORDER BY and "
                f"({name}, {flag}) not in the reviewed allowlist"
            )
    assert not problems, "\n".join(problems)


def test_allowlist_entries_exist():
    """An allowlist row for a renamed/removed site is stale review —
    every entry must still match a real SUM(flag) OVER site."""
    oracles = contract.build_registry().oracles
    for (name, flag), _reason in ALLOWED_TOTAL.items():
        assert name in oracles, f"allowlist names unknown query {name}"
        assert re.search(
            rf"SUM\(\s*{re.escape(flag)}\s*\)\s*OVER", oracles[name], re.IGNORECASE
        ), f"allowlist ({name}, {flag}) matches no site"


@pytest.mark.parametrize(
    "name",
    ["events_debounce", "window_sessionize", "events_session_window",
     "events_session_paths"],
)
def test_flag_resort_tiebreak_present(name):
    """The lag-flag→running-sum oracles re-sort between passes; a tie
    group of key-identical rows carries DIFFERENT positional flags
    (head 1, rest 0) and the re-sort can move the 1 mid-group, splitting
    a burst/session (duprow-interaction find: events_debounce split a
    3-row burst 2+1). The second pass must order flag-first within
    ties, reconstructing pass 1 (which is how Spark's single Window
    operator evaluates both)."""
    import __spark_entry__ as contract

    sql = contract.oracle_sql()[name]
    assert (", is_start DESC" in sql) or (", brk DESC" in sql), name


def test_debounce_flag_resort_fixture(spark, tmp_path):
    """The exact (25, 'signup') shape from the interaction fixture:
    one early event, then three payload-copies at one instant with
    NULLed event_ids (two of them value-NULLed) — one burst of 3, not
    2+1. Verified engine-vs-oracle value-for-value."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import datetime

    from tests.oracle import run_compare
    import __spark_entry__ as contract

    d = tmp_path / "sf"
    d.mkdir()
    t0 = datetime.datetime(2024, 1, 8, 4, 16, 44, 140250)
    t1 = datetime.datetime(2024, 1, 30, 21, 42, 34, 314270)
    rows = {
        "event_id": [2399, None, None, None, None],
        "ts": [t0, t1, t1, t1, None],
        "user_id": [25, 25, 25, 25, 25],
        "event_type": ["signup"] * 5,
        "value": [3.86, None, None, 27.0, 44.67],
        "props": [None] * 5,
    }
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    pq.write_table(pa.table(rows, schema=schema), d / "events.parquet")
    # duckdb_conn registers views over EVERY driver table eagerly —
    # link the other tables from the small fixture dir
    import os

    from tests.conftest import SF_SMALL

    for f in os.listdir(SF_SMALL):
        if f.endswith(".parquet") and f != "events.parquet":
            os.symlink(os.path.join(SF_SMALL, f), d / f)
    name = "events_debounce"
    problems = run_compare(
        spark, name, contract.queries()[name], contract.oracle_sql()[name], str(d)
    )
    assert problems == []
    out = contract.queries()[name](spark, str(d)).collect()
    bursts = sorted((r["burst_n"], r["burst_value"]) for r in out)
    assert bursts == [(1, 3.86), (1, 44.67), (3, 27.0)]
