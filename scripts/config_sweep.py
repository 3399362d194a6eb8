#!/usr/bin/env python
"""Config-invariance sweep (round 13, third determinism axis — VERDICT
r12 item 1): every registry query must return the same result multiset
when Spark's EXECUTION STRATEGY changes, not just when the data's
arrival order (order_sweep.py) does.

On a real cluster the optimizer flips strategies at runtime: AQE
re-plans joins and coalesces partitions from observed sizes, a "small"
dimension that grows 100x stops being auto-broadcast and becomes a
sort-merge join, and codegen can be disabled per-stage by fallback.
A query whose RESULT depends on any of those choices — e.g. an
unordered first()/any_value() whose winner differs between a broadcast
hash join's probe order and an SMJ's merge order, or a float fold whose
grouping differs under AQE partition coalescing — is a latent wrong
answer at scale that no single-config local run can catch.

Phase A runs all queries on the dirty (NULL-injected) copy under the
bench-default config and checkpoints canonical results; phase B re-runs
under each adversarial config in a fresh session and compares multisets
(tests/oracle.compare — the same value-based comparator the other
sweeps use):

  noaqe       spark.sql.adaptive.enabled=false
  nobroadcast spark.sql.autoBroadcastJoinThreshold=-1 AND
              spark.sql.adaptive.autoBroadcastJoinThreshold=-1
              (every AUTO broadcast hash join becomes a sort-merge
              join; explicit broadcast() hints keep BHJ by design —
              those sides are structurally small: single-row
              aggregates, K x dim centroid/codebook tables)
  nocodegen   spark.sql.codegen.wholeStage=false
  tz_tokyo    spark.sql.session.timeZone=Asia/Tokyo (the session STARTS
              on Tokyo time; the engine pins UTC at load — this proves
              the pin covers every query path, round 14)
  tz_london   spark.sql.session.timeZone=Europe/London (a DST gap)
  width       spark.sql.shuffle.partitions=37 (coprime to the baseline's
              16) AND spark.sql.files.maxPartitionBytes=1m: the same
              input under a different reduce-side fan-in and scan split,
              where collect_list order, unordered first()/any_value()
              and float merge order hide

Resumable per query per config, like the sibling sweeps.

Usage: python scripts/config_sweep.py [--dir .scale/nulls0.01]
                                      [--configs noaqe,nobroadcast,nocodegen]
                                      [--out .scale/config_sweep.json]
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CONFIGS: dict[str, dict[str, str]] = {
    "noaqe": {"spark.sql.adaptive.enabled": "false"},
    "nobroadcast": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # AQE has its OWN threshold for runtime re-broadcasts; -1 on the
        # static conf alone still lets AQE convert SMJ back to BHJ.
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    },
    "nocodegen": {"spark.sql.codegen.wholeStage": "false"},
    # round 14 (VERDICT r13 item 4): a shared cluster's ambient session
    # timezone is whatever the platform team set — every date_trunc /
    # window boundary / SCD2 interval / timestamp rendering would shift
    # with it if the engine inherited it. The engine's contract is
    # UTC-pinned-at-load (io.ensure_session_defaults), so results must be
    # byte-identical when the session STARTS on Tokyo time; this column
    # proves the pin actually covers every query path end-to-end
    # (construction, execution, and toPandas timestamp rendering).
    "tz_tokyo": {"spark.sql.session.timeZone": "Asia/Tokyo"},
    # round 18 (VERDICT r17 item 5): Asia/Tokyo has no DST, so the
    # tz_tokyo column never crossed a spring-forward gap — exactly where
    # tumbling/session window alignment, calendar densify and trend
    # alignment can shear if any path leaks the session zone (the
    # extreme-timestamp axis proved pre-epoch alignment bugs exist in
    # this family). Europe/London springs forward 01:00→02:00 (BST) and
    # its offset is negative-history-bearing (LMT -0:01:15 pre-1847),
    # stressing both the gap and the non-integral-offset rendering
    # paths. Same UTC-pinned-at-load contract: results must be
    # byte-identical.
    "tz_london": {"spark.sql.session.timeZone": "Europe/London"},
    # round 12's shuffle-width axis: how many tasks an aggregation/
    # window/join fans into and how partial results merge back. On a
    # real cluster both knobs move run to run (AQE coalescing, dynamic
    # allocation), so dependence on either is a latent wrong answer.
    "width": {
        "spark.sql.shuffle.partitions": "37",
        "spark.sql.files.maxPartitionBytes": "1m",
    },
}


def _session(extra: dict | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=".scale/nulls0.01")
    ap.add_argument("--out", default=".scale/config_sweep.json")
    ap.add_argument("--ckpt", default=".scale/config_base")
    ap.add_argument("--configs", default=",".join(CONFIGS))
    ap.add_argument("--only", default="")
    ap.add_argument("--redo", action="store_true")
    args = ap.parse_args()

    import pandas as pd

    import __spark_entry__ as contract
    from tests.oracle import compare

    queries = contract.queries()
    only = {n for n in args.only.split(",") if n}
    names = [n for n in sorted(queries) if not only or n in only]
    cfg_names = [c for c in args.configs.split(",") if c]
    unknown = [c for c in cfg_names if c not in CONFIGS]
    if unknown:
        raise SystemExit(f"unknown configs {unknown}; choose from {sorted(CONFIGS)}")

    from _sweeplib import ensure_fresh_ckpt_dir, load_results, save_results

    # the phase-A dir carries an engine-tree manifest: baselines pickled
    # on an older tree are wiped rather than silently compared against
    # new-code phase-B results (round-14 ADVICE)
    ensure_fresh_ckpt_dir(args.ckpt)

    def _apath(n: str) -> str:
        return os.path.join(args.ckpt, f"{n}.pkl")

    # phase A: canonical results under the default config, checkpointed
    # per query so any phase-B crash never discards the baseline run
    todo_a = [n for n in names if args.redo or not os.path.exists(_apath(n))]
    if todo_a:
        spark = _session()
        for i, name in enumerate(todo_a):
            try:
                pd.to_pickle(queries[name](spark, args.dir).toPandas(), _apath(name))
            except Exception:
                pd.to_pickle(traceback.format_exc()[-800:], _apath(name))
            print(f"A[{i + 1}/{len(todo_a)}] {name}", flush=True)
        spark.stop()

    # ALWAYS load the existing checkpoint: --redo re-RUNS the selected
    # (config, query) pairs but must not discard results for configs or
    # queries outside the selection (review finding: `--redo --configs
    # noaqe` used to rewrite the file with only noaqe entries, wiping
    # the other configs' completed runs). load_results additionally
    # discards the whole checkpoint when its engine-tree stamp is stale
    # and prunes renamed/removed queries from each config's map.
    out: dict[str, dict] = load_results(args.out, nested_valid_keys=queries)

    for cfg in cfg_names:
        res = out.setdefault(cfg, {})
        todo = [n for n in names if args.redo or only or n not in res]
        if not todo:
            continue
        spark = _session(CONFIGS[cfg])
        for i, name in enumerate(todo):
            a = pd.read_pickle(_apath(name))
            if isinstance(a, str):
                res[name] = {"ok": False, "error": f"phase A failed: {a[:400]}"}
            else:
                try:
                    b = queries[name](spark, args.dir).toPandas()
                    problems = compare(a, b)
                    res[name] = {"ok": not problems, "problems": problems}
                except Exception as e:
                    res[name] = {
                        "ok": False,
                        "error": f"{type(e).__name__}: {str(e)[:400]}",
                        "trace": traceback.format_exc()[-1200:],
                    }
            status = "ok" if res[name]["ok"] else "FAIL"
            print(f"{cfg}[{i + 1}/{len(todo)}] {name}: {status}", flush=True)
            save_results(args.out, out)
        spark.stop()

    for cfg in cfg_names:
        res = out.get(cfg, {})
        n_ok = sum(1 for r in res.values() if r["ok"])
        bad = sorted(n for n, r in res.items() if not r["ok"])
        print(f"{cfg}: {n_ok}/{len(res)} ok" + (f" FAIL={bad}" if bad else ""))


if __name__ == "__main__":
    main()
