#!/usr/bin/env python
"""One-command round-close certification (VERDICT r11 item 7 / r12 item 2).

Runs the full certification sequence the round protocol prescribes and
prints a COVERAGE-ready summary block, so round-close hygiene is checked
by a script instead of memory — the recurring "round artifacts untracked
at judge time" defect was exactly a memory failure this automates away.

Steps (each skippable via --skip):
  suite      python -m pytest tests/ -q              (full local suite)
  parity     sf0.01 oracle parity — the DRIVER's scale, run AFTER the
             last registry change lands (a query registered after the
             last run has never met the dtype guard)
  bench      python bench.py — checks core_total vs BASELINE (31.8 s)
             and surfaces ratio movers vs the committed bench_detail.json
  artifacts  git must show NO untracked/modified round artifacts
             (BENCH_r*/CORRECTNESS_r*/*_r*.json/bench_detail.json) —
             the defect that recurred five consecutive rounds
  pins       contract._FORCE_FRONT must be inert (self-released) unless
             a pin was placed THIS round; prints the predicted driver
             window composition (first 50 of queries()) by staleness
  sweeps     reports pass counts from the standing determinism-sweep
             checkpoints in .scale/ so COVERAGE can cite them

Exit status is nonzero if any executed step fails.

Usage: python scripts/certify_round.py --round 13 [--skip bench,suite]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sweep import AXES  # noqa: E402

BASELINE_CORE_TOTAL = 31.8  # BASELINE.md: 18 headliners, sf0.1, best-of-2

# any ALL-CAPS round-numbered artifact (BENCH/CORRECTNESS/ORDER/
# STABILITY/CONFIG/SCALE/SCALE_ADVERSARIAL/NULLS/SWEEPS/future ones —
# review finding: an explicit alternation missed SWEEPS_r13.json the
# very round it was introduced) plus the bench detail record
ROUND_ARTIFACT_RE = re.compile(r"^[A-Z_]+_r\d+\.json$|^bench_detail\.json$")

# the fixture-axis parity gates come from sweep.AXES (run with
# python scripts/sweep.py --axis NAME); the rest are harness variants
# with their own runners, plus the recipe-less seed-B dirty sweep
SWEEP_FILES = {
    **{row.label: row.checkpoint for row in AXES.values()},
    "dirty parity (seed B)": ".scale/nulls_sweep_b.json",
    "order invariance (seed A)": ".scale/order_sweep.json",
    "order invariance (seed B)": ".scale/order_sweep_b.json",
    "config invariance": ".scale/config_sweep.json",
    "empty-input totality": ".scale/empty_sweep.json",
    "asymmetric-empty totality": ".scale/asym_empty_sweep.json",
    "oracle stability": ".scale/oracle_stability.json",
    "forced-distributed oracle parity": ".scale/forced_distributed_sweep.json",
    # arrival-order invariance ON the compound fixture (the plain order
    # sweep's 2%-dirty base cannot form compound-scale tie groups — the
    # r16 sessionize find was exactly this blind spot). Runner:
    #   python scripts/order_sweep.py --base .scale/compound0.01 \
    #     --shuffled .scale/compound_shuffled0.01 --seed 424242 \
    #     --out .scale/order_compound_sweep.json
    "order invariance (compound base)": ".scale/order_compound_sweep.json",
    # ANN recall-quality floor at sf1 (the report was always
    # oracle-exact; this gates the recall VALUES against pinned floors).
    # Runner: python scripts/ann_recall_floor.py
    "ANN recall floor (sf1)": ".scale/ann_recall_sf1.json",
    # batch-equals-stream twin pins on the hostile fixtures (first run
    # found two real stateful_funnel bugs).
    # Runner: python scripts/run_hostile_twins.py
    "hostile streaming twins": ".scale/hostile_twins.json",
}

# the tests' tree stamp in a certify report
TESTS_TREE = ("tests/**/*.py",)

# nested {outer: {inner: {ok: ...}}} checkpoint shapes
NESTED_SWEEPS = {"config invariance", "asymmetric-empty totality"}


def _run(cmd: list[str], env: dict | None = None) -> tuple[int, str, float]:
    e = dict(os.environ)
    e.update(env or {})
    t0 = time.monotonic()
    p = subprocess.run(cmd, capture_output=True, text=True, env=e, cwd=REPO)
    dt = time.monotonic() - t0
    return p.returncode, p.stdout + p.stderr, dt


def step_suite(report: dict) -> bool:
    rc, out, dt = _run([sys.executable, "-m", "pytest", "tests/", "-q"])
    m = re.search(r"(\d+) passed(?:.*?(\d+) skipped)?", out.replace("\n", " "))
    failed = re.search(r"(\d+) (?:failed|error)", out)
    report["suite"] = {
        "rc": rc,
        "passed": int(m.group(1)) if m else 0,
        "skipped": int(m.group(2) or 0) if m else 0,
        "failed": int(failed.group(1)) if failed else 0,
        "sec": round(dt, 1),
        "tail": out.strip().splitlines()[-1] if out.strip() else "",
    }
    return rc == 0 and not failed


def step_parity(report: dict) -> bool:
    rc, out, dt = _run(
        [sys.executable, "-m", "pytest", "tests/test_oracle_parity.py", "-q"],
        env={"SPARK_GRAFT_PARITY_SF_DIR": "/root/testdata/sf0.01"},
    )
    m = re.search(r"(\d+) passed", out)
    failed = re.search(r"(\d+) (?:failed|error)", out)
    report["parity"] = {
        "rc": rc,
        "passed": int(m.group(1)) if m else 0,
        "failed": int(failed.group(1)) if failed else 0,
        "sec": round(dt, 1),
        "sf_dir": "/root/testdata/sf0.01",
        "tail": out.strip().splitlines()[-1] if out.strip() else "",
    }
    return rc == 0 and not failed


def step_bench(report: dict) -> bool:
    rc, out, dt = _run([sys.executable, "bench.py"])
    parsed = None
    for line in out.splitlines():
        if line.startswith('{"metric"'):
            try:
                parsed = json.loads(line)
            except ValueError:
                pass
    entry = {"rc": rc, "sec": round(dt, 1)}
    ok = rc == 0 and parsed is not None
    if parsed:
        core = parsed.get("core_total")
        entry["core_total"] = core
        entry["vs_baseline"] = round(core / BASELINE_CORE_TOTAL, 3) if core else None
        entry["within_2x_gate"] = bool(core and core <= 2 * BASELINE_CORE_TOTAL)
        ok = ok and entry["within_2x_gate"]
        # surface the ratio movers bench.py itself just computed against
        # the committed bench_detail.json (single source of truth —
        # review finding: an earlier inline re-implementation here
        # duplicated the threshold and diverged on output shape)
        try:
            with open(os.path.join(REPO, "bench_detail.json")) as fh:
                entry["ratio_movers_vs_committed"] = json.load(fh).get(
                    "ratio_movers_vs_committed", {}
                )
        except (OSError, ValueError):
            pass
    else:
        entry["tail"] = out.strip()[-500:]
    report["bench"] = entry
    return ok


def step_artifacts(report: dict, round_no: int, bench_ran: bool = False) -> bool:
    rc, out, _ = _run(["git", "status", "--porcelain"])
    bad, commit_now = [], []
    for line in out.splitlines():
        status, _, path = line.strip().partition(" ")
        # a rename line reads 'R  old -> new'; both sides must face the
        # regex or a renamed round artifact escapes the hygiene gate
        # (round-14 ADVICE)
        names = [
            os.path.basename(p.strip().strip('"'))
            for p in path.strip().split(" -> ")
        ]
        name = next((n for n in names if ROUND_ARTIFACT_RE.match(n)), None)
        if name is None:
            continue
        # bench.py (run by THIS invocation's bench step) always rewrites
        # bench_detail.json with fresh timings — that modification is the
        # expected round-close state, to be committed with the round's
        # artifacts, not a hygiene failure (review finding: treating it
        # as one made a full certification run structurally unable to
        # pass). Anything else — or a modified detail file when bench
        # did NOT run here — is the real five-round-recurring defect.
        if bench_ran and name == "bench_detail.json" and status in ("M", "MM"):
            commit_now.append(line.strip())
        else:
            bad.append(line.strip())
    # EVERY round-numbered artifact on disk must be tracked — any round,
    # not just this one: the driver writes BENCH_rN/CORRECTNESS_rN after
    # the builder's last commit, so the PRIOR round's files are exactly
    # the ones that recur untracked at judge time (eight consecutive
    # rounds through r15 — round-16 VERDICT item 4). certify now STAGES
    # them itself (git add, no commit) so the round-close commit picks
    # them up mechanically instead of by memory.
    rc2, tracked, _ = _run(["git", "ls-files"])
    tracked_set = set(tracked.splitlines())
    missing = [
        f for f in sorted(os.listdir(REPO))
        if ROUND_ARTIFACT_RE.match(f) and f not in tracked_set
    ]
    staged = []
    for f in missing + [
        line.split(None, 1)[1] for line in commit_now
    ]:
        rc3, _, _ = _run(["git", "add", "--", f])
        if rc3 == 0:
            staged.append(f)
    report["artifacts"] = {
        "untracked_or_modified": bad,
        "staged_for_round_close_commit": staged,
        "commit_with_round_close": commit_now,
    }
    # staging fixes the tree for the NEXT commit, but certification
    # still FAILS while anything beyond the expected bench refresh is
    # dirty: evidence files must be committed, not merely staged, when
    # the judge reads the tree
    return not bad and not missing


def step_pins(report: dict) -> bool:
    from ndl_core_data_pipeline_spark import contract

    last_green = contract._last_green_rounds()
    active = contract._active_pins(last_green)
    reg = contract.build_registry()
    window = list(reg.queries)[:50]
    comp: dict[int, int] = {}
    for n in window:
        comp[last_green.get(n, 0)] = comp.get(last_green.get(n, 0), 0) + 1
    report["pins"] = {
        "active_pins": active,
        "window_staleness_composition": {
            f"r{k}" if k else "never": v for k, v in sorted(comp.items())
        },
        "oracle_less_in_window": [n for n in window if n not in reg.oracles],
    }
    # active pins are fine mid-round (a pin placed this round is active by
    # definition); they only FAIL certification if the pinned query is not
    # actually in the verification window, which would waste the pin
    return all(n in window for n in active)


def _checkpoint(path: str, tree: str) -> tuple[dict | None, str]:
    """A standing checkpoint's records, or None and why they do not
    count: absent evidence fails (the sweep never ran here), and so does
    a checkpoint stamped with another tree (evidence about that tree)."""
    from _sweeplib import META_KEY

    full = os.path.join(REPO, path)
    if not os.path.exists(full):
        return None, "ABSENT (run the harness)"
    with open(full) as fh:
        data = json.load(fh)
    meta = data.pop(META_KEY, None)
    if not isinstance(meta, dict) or meta.get("tree") != tree:
        return None, "STALE (tree stamp != current engine tree — rerun)"
    return data, ""


def step_sweeps(report: dict) -> bool:
    from _sweeplib import engine_tree_hash, passed

    current_tree = engine_tree_hash()
    out = {}
    ok = True
    for label, path in SWEEP_FILES.items():
        data, why = _checkpoint(path, current_tree)
        if data is None:
            out[label] = why
            ok = False
            continue
        if label in NESTED_SWEEPS:  # nested {outer: {query: {...}}} maps
            for outer, res in data.items():
                if outer.startswith("_"):  # audit maps (e.g. _membership)
                    continue
                n_ok = sum(1 for r in res.values() if passed(r))
                out[f"{label} [{outer}]"] = f"{n_ok}/{len(res)}"
                ok = ok and n_ok == len(res)
        else:
            n_ok = sum(1 for r in data.values() if passed(r))
            out[label] = f"{n_ok}/{len(data)}"
            ok = ok and n_ok == len(data)
    report["sweeps"] = out
    return ok


STEPS = {
    "suite": step_suite,
    "parity": step_parity,
    "bench": step_bench,
    "artifacts": step_artifacts,
    "pins": step_pins,
    "sweeps": step_sweeps,
}


def verify_stamp(round_no: int, out_path: str) -> None:
    """Round-close self-consistency check (round-17 verdict item 3): the
    'frozen tree' a certification report stamps must be LITERALLY the
    tree at round close. Two consecutive rounds drifted (r15: a late pin
    test; r16: late axis tooling — both post-certify commits to hashed
    inputs), each benign only after manual git-diff adjudication. This
    mode makes the check mechanical: load the certify report, recompute
    both stamps at the current tree, and fail listing exactly which
    standing checkpoints went stale (their own tree stamps identify
    them), so the closer re-runs only those and re-certifies.

    Run as the FINAL action of a round, after the last commit:
      python scripts/certify_round.py --round N --verify-stamp
    """
    from _sweeplib import engine_tree_hash, tree_hash

    if not os.path.exists(out_path):
        raise SystemExit(f"no certify report at {out_path} — run certification first")
    with open(out_path) as fh:
        report = json.load(fh)
    current = engine_tree_hash()
    tests_now = tree_hash(TESTS_TREE)
    problems = []
    if report.get("engine_tree") != current:
        problems.append(
            f"engine tree drifted since certification: report stamps "
            f"{str(report.get('engine_tree'))[:12]}, HEAD is {current[:12]}"
        )
        stale = [
            f"{label} ({why.split()[0]})"
            for label, path in SWEEP_FILES.items()
            if (why := _checkpoint(path, current)[1])
        ]
        problems.append(
            "stale-stamped checkpoints to re-run: " + (", ".join(stale) or "none")
        )
    if report.get("tests_tree") != tests_now:
        problems.append(
            f"tests tree drifted since certification: report stamps "
            f"{str(report.get('tests_tree'))[:12]}, HEAD is {tests_now[:12]}"
        )
    if problems:
        for p in problems:
            print(f"STAMP DRIFT: {p}")
        sys.exit(1)
    print(
        f"stamps verified: certify_r{round_no} engine_tree {current[:12]} and "
        f"tests_tree {tests_now[:12]} both match the current tree"
    )
    sys.exit(0)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--skip", default="")
    ap.add_argument("--out", default="")
    ap.add_argument(
        "--verify-stamp", action="store_true",
        help="do not run steps; check the existing certify report's tree "
        "stamps against the CURRENT tree and fail on drift (round close)",
    )
    args = ap.parse_args()
    if args.verify_stamp:
        verify_stamp(
            args.round,
            args.out or os.path.join(REPO, ".scale", f"certify_r{args.round}.json"),
        )
        return
    skip = {s for s in args.skip.split(",") if s}
    unknown = skip - set(STEPS)
    if unknown:
        raise SystemExit(f"unknown steps {sorted(unknown)}; have {sorted(STEPS)}")

    report: dict = {"round": args.round}
    # frozen-tree stamps: the engine hash ties this report to the exact
    # sweep-relevant sources; the TESTS hash (round-16 VERDICT item 8)
    # additionally freezes tests/ so a pin test landing after
    # certification is visible as a stamp mismatch instead of silently
    # post-dating the "frozen tree" (the r15
    # test_turkish_i_casing_agrees_without_locale case)
    from _sweeplib import engine_tree_hash, tree_hash

    report["engine_tree"] = engine_tree_hash()
    report["tests_tree"] = tree_hash(TESTS_TREE)
    failures: list[str] = []
    for name, fn in STEPS.items():
        if name in skip:
            report[name] = "skipped"
            continue
        print(f"== {name} ==", flush=True)
        try:
            if name == "artifacts":
                passed = fn(report, args.round, bench_ran="bench" not in skip)
            else:
                passed = fn(report)
        except Exception as e:  # a crashed step is a failed step
            report[name] = {"error": f"{type(e).__name__}: {e}"}
            passed = False
        if not passed:
            failures.append(name)
        print(json.dumps({name: report[name]}, indent=1), flush=True)

    # intra-run drift guard: an engine/tests edit landing WHILE steps ran
    # (a sweep finishing in a parallel shell, a stray editor save) makes
    # the start-of-run stamps a lie — recompute both at the end and fail
    # on mismatch (the --verify-stamp mode covers post-certify commits)
    if (report["engine_tree"], report["tests_tree"]) != (
        engine_tree_hash(), tree_hash(TESTS_TREE)
    ):
        report["tree_drift_during_certification"] = True
        failures.append("tree-drift")
        print("FAIL: engine/tests tree changed during certification — "
              "stamps at start no longer describe the tree; re-run")

    print("\n==== COVERAGE-ready summary ====")
    s = report.get("suite")
    if isinstance(s, dict):
        print(f"suite: {s['passed']} passed / {s['failed']} failed / "
              f"{s['skipped']} skipped ({s['sec']}s)")
    p = report.get("parity")
    if isinstance(p, dict):
        print(f"sf0.01 parity: {p['passed']}/{p['passed'] + p['failed']}")
    b = report.get("bench")
    if isinstance(b, dict) and b.get("core_total"):
        print(f"bench core_total: {b['core_total']} s = {b['vs_baseline']}x baseline"
              f" (gate <=2x: {'PASS' if b['within_2x_gate'] else 'FAIL'})")
        movers = (b.get("ratio_movers_vs_committed") or {}).get("movers")
        if movers:
            print(f"  ratio movers >1.3x vs committed detail: {json.dumps(movers)}")
    for k in ("artifacts", "pins", "sweeps"):
        if isinstance(report.get(k), dict):
            print(f"{k}: {json.dumps(report[k])}")
    print(f"\nresult: {'FAIL ' + str(failures) if failures else 'ALL GREEN'}")

    out_path = args.out or os.path.join(REPO, ".scale", f"certify_r{args.round}.json")
    out_dir = os.path.dirname(out_path)
    if out_dir:  # a bare filename has no directory to create
        os.makedirs(out_dir, exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"report written to {out_path}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
