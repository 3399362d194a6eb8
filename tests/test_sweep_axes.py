"""The sweep tooling without Spark: every recipe stage of the
fixture-axis table (scripts/sweep.py) binds to its injector, `ensure`
builds stages in order and rebuilds exactly when the recipe changes,
certify_round reads its parity checkpoints from the same table, and the
one resumable loop (`_sweeplib.run_checks`) resumes, re-runs a
selection, records errors and keeps nested sections apart."""

from __future__ import annotations

import inspect
import json
import os

import pytest

import _sweeplib
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


def _fake_check(calls, fail=()):
    def check(name):
        calls.append(name)
        if name in fail:
            raise RuntimeError(f"boom {name}")
        return {"ok": True, "problems": []}

    return check


def _records(path, outer=None):
    with open(path) as fh:
        data = json.load(fh)
    data.pop(_sweeplib.META_KEY)
    return data[outer] if outer else data


def test_loop_resumes_and_reruns_only_the_selection(tmp_path):
    path = str(tmp_path / "ckpt.json")
    calls: list = []
    check = _fake_check(calls)
    assert _sweeplib.run_checks(path, ["a", "b", "c"], check) == 0
    assert calls == ["a", "b", "c"]

    calls.clear()
    _sweeplib.run_checks(path, ["a", "b", "c"], check)
    assert calls == []  # resumed: every name is finished

    first = _records(path)
    _sweeplib.run_checks(path, ["a", "b", "c"], check, only=frozenset({"b"}))
    assert calls == ["b"]
    after = _records(path)
    assert after["a"] == first["a"] and after["c"] == first["c"]

    calls.clear()
    _sweeplib.run_checks(path, ["a", "b", "c"], check, redo=True)
    assert calls == ["a", "b", "c"]

    # "b" left the registry: the next save drops its record
    calls.clear()
    _sweeplib.run_checks(path, ["a", "c"], check, only=frozenset({"a"}))
    assert calls == ["a"] and sorted(_records(path)) == ["a", "c"]


def test_loop_rejects_an_unknown_name_before_any_write(tmp_path):
    path = tmp_path / "ckpt.json"
    calls: list = []
    with pytest.raises(SystemExit):
        _sweeplib.run_checks(str(path), ["a"], _fake_check(calls), only=frozenset({"typo"}))
    with pytest.raises(SystemExit):
        _sweeplib.select("a,typo".split(","), ["a"])
    assert calls == [] and not path.exists()
    assert _sweeplib.select([""], ["a"]) is None


def test_loop_records_an_error_and_keeps_going(tmp_path):
    path = str(tmp_path / "ckpt.json")
    calls: list = []
    bad = _sweeplib.run_checks(path, ["a", "b", "c"], _fake_check(calls, fail={"b"}))
    assert bad == 1 and calls == ["a", "b", "c"]
    rec = _records(path)["b"]
    assert rec["ok"] is False and rec["error"] == "RuntimeError: boom b"
    assert "boom b" in rec["trace"]
    assert _records(path)["c"]["ok"] is True


def test_checkpoint_carries_the_tree_stamp(tmp_path):
    path = tmp_path / "ckpt.json"
    _sweeplib.run_checks(str(path), ["a"], _fake_check([]))
    meta = json.loads(path.read_text())[_sweeplib.META_KEY]
    assert meta == {"tree": _sweeplib.engine_tree_hash()}

    # another tree's checkpoint is discarded, so every name runs again
    path.write_text(json.dumps({"a": {"ok": True}, _sweeplib.META_KEY: {"tree": "old"}}))
    calls: list = []
    _sweeplib.run_checks(str(path), ["a"], _fake_check(calls))
    assert calls == ["a"]


def test_nested_sections_keep_each_other(tmp_path):
    path = str(tmp_path / "ckpt.json")
    calls: list = []
    check = _fake_check(calls, fail={"y"})
    assert _sweeplib.run_checks(path, ["x", "y"], check, outer="cfg1") == 1
    _sweeplib.run_checks(path, ["x"], check, outer="cfg2", extra={"_audit": [1]})
    assert calls == ["x", "y", "x"]
    data = _records(path)
    assert sorted(data) == ["_audit", "cfg1", "cfg2"]
    assert sorted(data["cfg1"]) == ["x", "y"] and sorted(data["cfg2"]) == ["x"]

    # an empty selection visits a section without running it
    calls.clear()
    assert _sweeplib.run_checks(path, ["x", "y"], check, only=frozenset(), outer="cfg1") == 1
    assert calls == []
