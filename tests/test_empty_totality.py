"""Degenerate-input totality tier (round 13 evidence layer): every
registry query must be TOTAL on zero-row inputs — no exception — and,
where an oracle exists, must match DuckDB on the same empty tables.

At 100 TB zero-row inputs are routine, not exotic: a partition-pruned
scan, a filter matching nothing, a day with no events, an empty delta
in an incremental run. The first sweep of this axis found 7 real
defects: Spark's cube()/rollup()/GROUPING SETS emit ZERO rows on empty
input where the SQL contract emits the grand-total row (fixed by
sourcing the () set from a bare global aggregate); BPE's first-merge
facet indexed an empty merge list; the LSH width sniff raised on
no-vector input AND grabbed the first arriving row unfiltered (a NULL
first vector on dirty data crashed the query — an arrival-order
landmine); and the profile oracle emitted NULL counts where the
engine's literal-anchored form emits 0.

Gated with the rest of the adversarial evidence: SPARK_GRAFT_NULLS_SWEEP=1.
Batch runner with resume: scripts/empty_sweep.py.
"""

from __future__ import annotations

import os
import sys

import pytest

import __spark_entry__ as contract

from .oracle import run_compare

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "scripts"))

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_NULLS_SWEEP"),
    reason="set SPARK_GRAFT_NULLS_SWEEP=1 to run the empty-input totality sweep",
)

_REG = contract._registry()

EMPTY_DIR = os.environ.get(
    "SPARK_GRAFT_EMPTY_SF_DIR", os.path.join(_REPO, ".scale", "empty")
)


@pytest.fixture(scope="session")
def empty_dir(sf_small):
    from empty_sweep import build_empty

    build_empty(sf_small, EMPTY_DIR)
    return EMPTY_DIR


@pytest.mark.parametrize("name", sorted(_REG.queries))
def test_query_is_total_on_empty_input(spark, empty_dir, name):
    problems = run_compare(
        spark, name, _REG.queries[name], _REG.oracles.get(name), empty_dir
    )
    assert not problems, f"{name}: " + "; ".join(problems)
