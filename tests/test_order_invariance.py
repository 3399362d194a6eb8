"""Partition-order invariance tier (round 12 evidence layer): every
registry query must return the same result multiset when its input
tables arrive row-permuted and re-split into different row groups.

At cluster scale, row arrival order and partition composition are
nondeterministic run-to-run, so any output that depends on them — a
rank cutoff under a non-total ORDER BY ... LIMIT (the q21 dirty-name
class from ADVICE r11), a bare first() without an ordered window, an
order-sensitive double fold — is a latent wrong-answer bug even when
every single-run oracle check passes. The sweep runs on the
NULL-injected dirty copy, where injected duplicate/empty values make
order-breaking ties far more likely than clean data ever would.

Gated with the rest of the dirty evidence: SPARK_GRAFT_NULLS_SWEEP=1.
Batch runner with resume: scripts/order_sweep.py.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as contract
import sweep

from .oracle import compare

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_NULLS_SWEEP"),
    reason="set SPARK_GRAFT_NULLS_SWEEP=1 to run the order-invariance sweep",
)

QUERIES = contract.queries()

SHUFFLED_DIR = os.environ.get(
    "SPARK_GRAFT_SHUFFLED_SF_DIR",
    os.path.join(_REPO, ".scale", "shuffled0.01"),
)


@pytest.fixture(scope="session")
def order_dirs():
    base = sweep.ensure("nulls")
    if not os.path.exists(os.path.join(SHUFFLED_DIR, "MANIFEST.json")):
        from order_sweep import build_shuffled

        build_shuffled(base, SHUFFLED_DIR)
    return base, SHUFFLED_DIR


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_is_partition_order_invariant(spark, order_dirs, name):
    base, shuffled = order_dirs
    a = QUERIES[name](spark, base).toPandas()
    b = QUERIES[name](spark, shuffled).toPandas()
    problems = compare(a, b)
    assert not problems, f"{name}: " + "; ".join(problems)
