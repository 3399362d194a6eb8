"""The fixture-axis table (scripts/sweep.py) without Spark: every recipe
stage binds to its injector, `ensure` builds stages in order and
rebuilds exactly when the recipe changes, and certify_round reads its
parity checkpoints from the same table."""

from __future__ import annotations

import inspect
import json
import os

import pytest

import certify_round
import sweep


@pytest.mark.parametrize("axis", sorted(sweep.AXES))
def test_every_stage_binds_to_its_injector(axis):
    for fn, params in sweep.AXES[axis].stages:
        inspect.signature(fn).bind("base", "out", **params)


def _fake_injectors(calls):
    def first(base, out, seed):
        calls.append(("first", base, out))
        os.makedirs(out)
        with open(os.path.join(out, "t.txt"), "w") as fh:
            fh.write(f"{base}|{seed}")

    def second(base, out, frac):
        calls.append(("second", base, out))
        os.makedirs(out)
        with open(os.path.join(base, "t.txt")) as fh:
            text = fh.read()
        with open(os.path.join(out, "t.txt"), "w") as fh:
            fh.write(f"{text}|{frac}")

    return first, second


def test_ensure_builds_in_order_and_rebuilds_only_when_stale(tmp_path, monkeypatch):
    calls: list = []
    first, second = _fake_injectors(calls)
    monkeypatch.setattr(sweep, "REPO", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SF_BASE", "base-a")

    def row(seed=1, frac=0.5):
        return sweep.Axis(
            "fake parity", "fx/fake0.01", "fx/fake.json",
            ((first, {"seed": seed}), (second, {"frac": frac})),
        )

    monkeypatch.setitem(sweep.AXES, "fake", row())
    out = sweep.ensure("fake")
    assert out == str(tmp_path / "fx" / "fake0.01")
    stage0, stage1 = out + ".stage0", out + ".stage1"
    assert calls == [("first", "base-a", stage0), ("second", stage0, stage1)]
    assert sorted(os.listdir(tmp_path / "fx")) == ["fake0.01"]
    assert (tmp_path / "fx" / "fake0.01" / "t.txt").read_text() == "base-a|1|0.5"
    with open(os.path.join(out, sweep.RECIPE)) as fh:
        assert json.load(fh) == {
            "base": "base-a",
            "stages": [["first", {"seed": 1}], ["second", {"frac": 0.5}]],
        }

    calls.clear()
    assert sweep.ensure("fake") == out
    assert calls == []  # fresh: skipped

    monkeypatch.setitem(sweep.AXES, "fake", row(frac=0.25))
    sweep.ensure("fake")
    assert [c[0] for c in calls] == ["first", "second"]
    assert (tmp_path / "fx" / "fake0.01" / "t.txt").read_text() == "base-a|1|0.25"

    calls.clear()
    monkeypatch.setenv("SPARK_GRAFT_SF_BASE", "base-b")
    sweep.ensure("fake")
    assert calls[0] == ("first", "base-b", stage0)
    assert sorted(os.listdir(tmp_path / "fx")) == ["fake0.01"]


def test_certify_reads_parity_checkpoints_from_the_table():
    for row in sweep.AXES.values():
        assert certify_round.SWEEP_FILES[row.label] == row.checkpoint
    parity = {lbl for lbl in certify_round.SWEEP_FILES if "parity" in lbl}
    table = {row.label for row in sweep.AXES.values()}
    # the seed-B dirty sweep and the forced-distributed harness have no
    # fixture recipe
    assert parity - table == {
        "dirty parity (seed B)",
        "forced-distributed oracle parity",
    }
