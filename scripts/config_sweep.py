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
bench-default config and pickles each result under --ckpt, beside a
tree-stamped manifest; phase B re-runs under each adversarial config in
a fresh session and compares multisets (tests/oracle.compare — the same
value-based comparator the other sweeps use):

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
                                      [--only a,b] [--redo]
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
    # the engine pins UTC at load (io.ensure_session_defaults), so the
    # zone a session starts on must not move any result: Tokyo has no
    # DST; London springs forward 01:00→02:00 and has a non-integral
    # historical offset (LMT -0:01:15), where window alignment, calendar
    # densify and timestamp rendering would shear if a path leaked it
    "tz_tokyo": {"spark.sql.session.timeZone": "Asia/Tokyo"},
    "tz_london": {"spark.sql.session.timeZone": "Europe/London"},
    "width": {
        "spark.sql.shuffle.partitions": "37",
        "spark.sql.files.maxPartitionBytes": "1m",
    },
}


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
    from _sweeplib import run_checks, select, session
    from tests.oracle import compare

    queries = contract.queries()
    names = sorted(queries)
    only = select(args.only.split(","), queries)
    cfg_names = [c for c in args.configs.split(",") if c]
    unknown = [c for c in cfg_names if c not in CONFIGS]
    if unknown:
        raise SystemExit(f"unknown configs {unknown}; choose from {sorted(CONFIGS)}")

    def _apath(n: str) -> str:
        return os.path.join(args.ckpt, f"{n}.pkl")

    # phase A: canonical results under the default config, one pickle
    # per query so any phase-B crash never discards the baseline run. A
    # failed baseline is pickled as its traceback, so phase B never
    # compares against an older tree's pickle. The tree-stamped manifest
    # says which pickles the current tree produced.
    os.makedirs(args.ckpt, exist_ok=True)
    spark = session(16)

    def baseline(name: str) -> dict:
        try:
            a = queries[name](spark, args.dir).toPandas()
        except Exception:
            a = traceback.format_exc()[-800:]
        pd.to_pickle(a, _apath(name))
        return {"ok": not isinstance(a, str)}

    run_checks(
        os.path.join(args.ckpt, "_MANIFEST.json"), names, baseline,
        only=only, redo=args.redo,
    )
    spark.stop()

    # phase B: each adversarial config in a fresh session against the
    # baselines. Every config's section is visited so the exit status
    # covers the whole checkpoint; an unselected one runs nothing.
    bad = 0
    for cfg, conf in CONFIGS.items():
        chosen = cfg in cfg_names
        spark = session(16, conf) if chosen else None

        def versus_baseline(name: str) -> dict:
            a = pd.read_pickle(_apath(name))
            if isinstance(a, str):
                return {"ok": False, "error": f"phase A failed: {a[:400]}"}
            problems = compare(a, queries[name](spark, args.dir).toPandas())
            return {"ok": not problems, "problems": problems}

        bad += run_checks(
            args.out, names, versus_baseline,
            only=only if chosen else frozenset(), redo=args.redo, outer=cfg,
        )
        if spark is not None:
            spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
