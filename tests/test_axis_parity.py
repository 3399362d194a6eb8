"""Hostile-fixture differential tiers: every registered query runs
against each gated axis of scripts/sweep.AXES (2% dirty, 30% NULL,
non-finite doubles, hot-key skew, multibyte text, and the
hot x unicode x NULL compound) and must match its DuckDB oracle
value-for-value. Rows with `sql_overrides` compare those queries
against the harness-only oracle form, as the sweep runner does.

Each axis runs under its row's env gate (full-registry runs, ~8 min
each), e.g.:

    SPARK_GRAFT_NULLS_SWEEP=1 python -m pytest tests/test_axis_parity.py -q

Fixtures build deterministically under .scale/ on first use
(sweep.ensure), so the tiers need no checked-in data.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as contract
from sweep import AXES, ensure

from .oracle import run_compare

QUERIES = contract.queries()
ORACLES = contract.oracle_sql()


@pytest.mark.parametrize(
    "axis,name",
    [
        pytest.param(
            axis, name, id=f"{axis}-{name}",
            marks=pytest.mark.skipif(
                not os.environ.get(row.gate),
                reason=f"set {row.gate}=1 to run the {axis} tier",
            ),
        )
        for axis, row in AXES.items()
        if row.gate
        for name in sorted(QUERIES)
    ],
)
def test_query_matches_oracle(spark, axis, name):
    overrides = AXES[axis].extras.get("sql_overrides", {})
    problems = run_compare(
        spark, name, QUERIES[name], overrides.get(name, ORACLES.get(name)),
        ensure(axis),
    )
    assert not problems, f"{name} on {axis}: " + "; ".join(problems)
