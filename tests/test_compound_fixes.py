"""Pin tests for the six round-16 compound-sweep divergences.

The first compound-dirty probe (hot keys 50% × unicode 5% × NULLs 30%
on one sf0.01 copy, `sweep.py --axis compound`) found six cross-engine
gaps that every SINGLE-axis certified tier had passed — each needs the
interaction (hot-key mass duplication × high NULL density) to
materialize. Each test reconstructs the interaction shape on a tiny
synthetic table and pins engine == DuckDB oracle, plus arrival-order
invariance where that was the failure mode:

1. window_sessionize — NULL-ts rows are singleton sessions; the
   session ORDINAL paired with a value arrival-dependently (fix: value
   closes the sort key).
2. agg_mode_per_group — a count tie between the NULL nationkey group
   and a real key resolved NULL-first in the oracle but NULL-last in
   the engine's max_by struct (fix: ORDER BY ... NULLS LAST).
3. agg_ordered_string_concat — an all-NULL group aggregated to '' in
   the engine (collect_list skips NULLs, array_join('') ) but NULL in
   SQL string_agg (fix: NULL on empty collect; a real '' still joins).
4. groupedmap_zscore — NULL n_chars rows in a ZERO-VARIANCE group got
   0.0 from the oracle's bare ELSE branch but NaN from pandas (fix:
   NULL branch first in the oracle CASE).
5. sample_stratified — a stratum whose doc_ids are ALL NULL summed
   `sampled` to NULL in the engine but 0 in the oracle CASE (fix:
   NULL bucket => not sampled, coalesce 0).
6. text_bm25_topk — the merged NULL-doc_id pseudo-doc scored into the
   engine's top-15 while the oracle's JOIN ... USING (doc_id) dropped
   it (fix: identity filter on both sides, the r15 postings rule).
"""

from __future__ import annotations

import pyarrow as pa
import pytest

import __spark_entry__ as contract

from .oracle import run_compare
from .test_nullheavy_fixes import (
    _events_table,
    _fixture_dir,
    _orders_table,
    _rows,
)

QUERIES = contract.queries()
ORACLES = contract.oracle_sql()


# hot user 9 carries a block of NULL-(ts, event_id) rows with
# pairwise-distinct values laid down in descending order — each is its
# own singleton session, so pre-fix WHICH value landed in session k
# followed arrival order
_EV_ROWS = [
    (None, None, 9, "view", float(v), "{}") for v in (50, 40, 30, 20, 10)
] + [
    (90, "2024-03-01T10:00:00", 9, "view", 1.0, "{}"),
    (91, "2024-03-01T10:10:00", 9, "click", 2.0, "{}"),
    (92, "2024-03-01T12:00:00", 9, "purchase", 3.0, "{}"),
]


@pytest.fixture(scope="module")
def sess_dirs(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("compound_events")
    fwd = _fixture_dir(tmp, "fwd", "events", _events_table(_EV_ROWS))
    rev = _fixture_dir(tmp, "rev", "events", _events_table(_EV_ROWS[::-1]))
    return fwd, rev


def test_sessionize_null_ts_singletons_oracle_and_order_invariant(
    spark, sess_dirs
):
    fwd, rev = sess_dirs
    name = "window_sessionize"
    problems = run_compare(spark, name, QUERIES[name], ORACLES[name], fwd)
    assert not problems, problems
    assert _rows(QUERIES[name](spark, fwd)) == _rows(QUERIES[name](spark, rev))


def _customer_table(rows) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table(
        {
            "c_custkey": pa.array(cols[0], pa.int64()),
            "c_name": pa.array(cols[1], pa.string()),
            "c_nationkey": pa.array(cols[2], pa.int64()),
            "c_mktsegment": pa.array(cols[3], pa.string()),
            "c_acctbal": pa.array(cols[4], pa.float64()),
        }
    )


def test_mode_null_group_loses_count_ties(spark, tmp_path):
    # segment S: nationkey 18 twice, NULL twice — a dead tie. The engine's
    # max_by struct orders the NULL key SMALLEST, so 18 must win on both
    # sides (pre-fix the oracle's nulls-first-on-asc pragma made NULL win).
    rows = [
        (1, "a", 18, "S", 1.0),
        (2, "b", 18, "S", 1.0),
        (3, "c", None, "S", 1.0),
        (4, "d", None, "S", 1.0),
    ]
    d = _fixture_dir(tmp_path, "mode", "customer", _customer_table(rows))
    name = "agg_mode_per_group"
    problems = run_compare(spark, name, QUERIES[name], ORACLES[name], d)
    assert not problems, problems
    got = {r.c_mktsegment: r.mode_nationkey for r in QUERIES[name](spark, d).collect()}
    assert got["S"] == 18


def test_string_concat_all_null_group_is_null_not_empty(spark, tmp_path):
    rows = [
        # status X: ALL priorities NULL -> must aggregate to NULL
        (1, 7, "X", 10.0, "1995-01-01T00:00:00", None),
        (2, 7, "X", 11.0, "1995-01-02T00:00:00", None),
        # status Y: one real EMPTY STRING -> must stay '' (not NULLed)
        (3, 7, "Y", 12.0, "1995-01-03T00:00:00", ""),
        # status Z: normal values
        (4, 7, "Z", 13.0, "1995-01-04T00:00:00", "2-HIGH"),
        (5, 7, "Z", 14.0, "1995-01-05T00:00:00", "1-URGENT"),
    ]
    d = _fixture_dir(tmp_path, "concat", "orders", _orders_table(rows))
    name = "agg_ordered_string_concat"
    problems = run_compare(spark, name, QUERIES[name], ORACLES[name], d)
    assert not problems, problems
    got = {r.o_orderstatus: r.priorities for r in QUERIES[name](spark, d).collect()}
    assert got["X"] is None
    assert got["Y"] == ""
    assert got["Z"] == "1-URGENT,2-HIGH"


def _documents_table(rows) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )


def test_zscore_null_length_in_constant_group_is_null(spark, tmp_path):
    # source 'dup' is ZERO-VARIANCE (hot-key duplication shape) and
    # carries a NULL-n_chars row: that row must be NULL/NaN, never 0.0
    rows = [
        (1, "aa", "en", "dup", 10),
        (2, "bb", "en", "dup", 10),
        (3, "cc", "en", "dup", None),
        (4, "dd", "en", "var", 5),
        (5, "ee", "en", "var", 15),
        (6, "ff", "en", "var", None),
    ]
    d = _fixture_dir(tmp_path, "zscore", "documents", _documents_table(rows))
    name = "groupedmap_zscore"
    problems = run_compare(spark, name, QUERIES[name], ORACLES[name], d)
    assert not problems, problems
    import math

    got = {r.doc_id: r.zscore for r in QUERIES[name](spark, d).collect()}
    assert got[1] == 0.0  # real row, constant group
    assert got[3] is None or math.isnan(got[3])  # NULL length


def test_stratified_all_null_id_stratum_samples_zero(spark, tmp_path):
    # lang 'xx': every doc_id NULL -> n_sampled must be 0, not NULL
    rows = [
        (None, "t1", "xx", "s", 2),
        (None, "t2", "xx", "s", 2),
        (10, "t3", "en", "s", 2),
        (11, "t4", "en", "s", 2),
    ]
    d = _fixture_dir(tmp_path, "strat", "documents", _documents_table(rows))
    name = "sample_stratified"
    problems = run_compare(spark, name, QUERIES[name], ORACLES[name], d)
    assert not problems, problems
    got = {r.lang: r.n_sampled for r in QUERIES[name](spark, d).collect()}
    assert got["xx"] == 0


@pytest.mark.parametrize(
    "name",
    ["array_concat_sep", "array_ordered_distinct", "events_pattern_match"],
)
def test_all_null_payload_group_aggregates_to_null(spark, tmp_path_factory, name):
    """The compound-MAX probe's find (80% hot x 50% unicode x 30% NULL,
    artifacts/COMPOUNDMAX_r16.json): a user whose event_types are ALL
    NULL must aggregate to a NULL string like SQL string_agg —
    array_join silently skips NULL elements, so every array_join-over-collect site emitted
    '' instead (the agg_ordered_string_concat class recurring). User 5
    is the all-NULL-payload group; user 6 mixes a NULL with a real type
    (must keep aggregating the real one); user 7 carries a real EMPTY
    STRING type (must stay '', not be NULLed)."""
    rows = [
        (50, "2024-05-01T10:00:00", 5, None, 1.0, "{}"),
        (51, "2024-05-01T10:01:00", 5, None, 2.0, "{}"),
        (60, "2024-05-01T10:00:00", 6, None, 1.0, "{}"),
        (61, "2024-05-01T10:01:00", 6, "view", 2.0, "{}"),
        (70, "2024-05-01T10:00:00", 7, "", 1.0, "{}"),
    ]
    tmp = tmp_path_factory.mktemp(f"allnull_{name}")
    d = _fixture_dir(tmp, "d", "events", _events_table(rows))
    problems = run_compare(spark, name, QUERIES[name], ORACLES[name], d)
    assert not problems, problems
    col = {
        "array_concat_sep": "conversation",
        "array_ordered_distinct": "types_in_order",
        "events_pattern_match": "seq",
    }[name]
    out = {r.user_id: r.asDict() for r in QUERIES[name](spark, d).collect()}
    if name == "events_pattern_match":
        assert out[5]["n_events"] is None
    else:
        assert out[5][col] is None
        assert out[6][col] == "view"
        assert out[7][col] == ""


def test_bm25_excludes_null_doc_pseudo_doc(spark, tmp_path):
    # a NULL-id "document" stuffed with the query terms must not appear
    # in the top-k on either side (identity filter, r15 postings rule)
    rows = [
        (None, "window merge window merge window", "en", "s", 30),
        (1, "window merge things", "en", "s", 19),
        (2, "merge only here", "en", "s", 15),
        (3, "window pane", "en", "s", 11),
        (4, "nothing relevant", "en", "s", 16),
    ]
    d = _fixture_dir(tmp_path, "bm25", "documents", _documents_table(rows))
    name = "text_bm25_topk"
    problems = run_compare(spark, name, QUERIES[name], ORACLES[name], d)
    assert not problems, problems
    ids = [r.doc_id for r in QUERIES[name](spark, d).collect()]
    assert None not in ids and 1 in ids
