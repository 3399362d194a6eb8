"""Pin tests for the comparator's float semantics (tests/oracle.py).

Round-17 verdict item 1: the absolute 1e-9 tolerance is below 1 ULP past
~1e15, so two decimal-exact engines agreeing to the last representable
bit were flagged as diffs — 24/24 EXTREME_r16 residuals and 2/3 sf1
parity residuals were exactly this band. The comparator now carries a
finite-only relative branch (REL_TOL = 4e-16 ≈ 2 ULP).

These pins are built FROM the recorded residuals so the acceptance band
is anchored to real engine-vs-oracle evidence, not invented numbers:
  - artifacts/PARITY_SF1_r16.json q1 sum epsilon: 161648331529.85 vs
    161648331529.84998 (relative 1.2e-16)
  - artifacts/EXTREME_r16.json band: decimal-vs-binary summation at
    1e18–1e19, agreeing to ≤ a few ULP.
And the NEGATIVE pins guarantee the new branch cannot mask a real bug:
anything past ~2 ULP still fails, infinities never take the branch, and
small-magnitude semantics are byte-identical to the old comparator.
"""

from __future__ import annotations

import math

import pandas as pd

from tests.oracle import FLOAT_TOL, REL_TOL, compare


def _cmp(a, b):
    return compare(pd.DataFrame({"v": a}), pd.DataFrame({"v": b}))


# ---------- recorded residuals must now PASS ----------


def test_sf1_parity_residual_q1_sum_epsilon_passes():
    # artifacts/PARITY_SF1_r16.json: the q1 sum pair, relative diff 1.2e-16
    assert _cmp([161648331529.85], [161648331529.84998]) == []


def test_extreme_band_one_ulp_at_1e19_passes():
    v = 1.0e19
    assert _cmp([v], [math.nextafter(v, math.inf)]) == []


def test_extreme_band_two_ulp_at_1e18_passes():
    v = 9.9e18
    w = math.nextafter(math.nextafter(v, math.inf), math.inf)
    assert _cmp([v], [w]) == []


def test_negative_magnitudes_take_the_relative_branch():
    v = -1.0e19
    assert _cmp([v], [math.nextafter(v, -math.inf)]) == []


# ---------- the band is TIGHT: real divergence still fails ----------


def test_five_ulp_at_1e19_fails():
    v = 1.0e19
    w = v
    for _ in range(5):
        w = math.nextafter(w, math.inf)
    assert (w - v) / v > REL_TOL  # sanity: outside the band
    assert _cmp([v], [w]) != []


def test_relative_one_in_a_million_fails():
    assert _cmp([1.0e19], [1.0e19 * (1 + 1e-6)]) != []


def test_small_magnitude_semantics_unchanged():
    # Below ~2.5e6 the absolute tolerance is the wider one; the relative
    # branch must not loosen anything there.
    assert _cmp([1.0], [1.0 + 5e-10]) == []          # inside FLOAT_TOL
    assert _cmp([1.0], [1.0 + 5e-9]) != []           # outside both
    assert FLOAT_TOL > REL_TOL * 2e6                 # crossover ≈ 2.25e6


# ---------- non-finite values never take the branch ----------


def test_inf_vs_large_finite_fails():
    assert _cmp([math.inf], [1.0e308]) != []


def test_inf_vs_neg_inf_fails():
    assert _cmp([math.inf], [-math.inf]) != []


def test_equal_infinities_still_pass():
    assert _cmp([math.inf, -math.inf], [math.inf, -math.inf]) == []


def test_nan_pairs_still_pass_and_nan_vs_value_fails():
    assert _cmp([math.nan], [math.nan]) == []
    assert _cmp([math.nan], [1.0e19]) != []


def test_null_vs_value_fails():
    assert _cmp([None], [1.0e19]) != []
