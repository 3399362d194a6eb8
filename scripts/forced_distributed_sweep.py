#!/usr/bin/env python
"""Large-path oracle attestation (round 15, VERDICT item 2).

The size-adaptive operators (dedup.connected_components,
bpe.train_bpe_merges) pick their strategy from one
limit(MAX+1) probe; at sf0.01 the probe always lands driver-sized, so
every oracle green row ever recorded attests the DRIVER branch only.
At 100 TB the DISTRIBUTED branches are the only ones that run, and
until this sweep they were attested solely by pin tests
(tests/test_dedup_guards.py:233, tests/test_bpe.py:134) — the DuckDB
oracle had never seen their output.

This sweep forces the distributed branches (thresholds -> 0) and
re-runs the standard run_compare at sf0.01 for every registry query
that routes through a size-adaptive operator. Two loud guards keep the
evidence honest:

1. the driver-path helpers (_union_find_labels, _train_from_freqs) are
   replaced with raisers — if a member query still takes the driver
   branch the sweep FAILS, it cannot silently re-attest the old branch;
2. the adaptive entry points are wrapped with call counters and each
   member query must bump one — a query listed as a member that never
   reaches an adaptive operator is a membership error, not a pass.

Membership is discovered from the registry (source scan for direct
calls to the adaptive entry points), then cross-checked against the
counters at runtime — the same belt-and-braces shape the element-null
probe uses (hand lists go stale; r12 found two escapees that way).

Usage: python scripts/forced_distributed_sweep.py
           [--sf-dir /root/testdata/sf0.01]
           [--out .scale/forced_distributed_sweep.json] [--redo]
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import re
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ADAPTIVE_ENTRY = ("connected_components", "train_bpe_merges")


def discover_members(queries: dict) -> list[str]:
    """Registry queries whose source (one level deep) calls an adaptive
    entry point. Both current members call directly; a future indirect
    caller is caught by the runtime counter cross-check failing its
    membership assertion in the other direction (a query that bumps a
    counter but was not discovered -> the full-registry nulls/unicode
    sweeps would still cover its driver path, and the counter assert in
    tests/test_forced_distributed.py pins the discovered set)."""
    pat = re.compile(r"\b(" + "|".join(ADAPTIVE_ENTRY) + r")\s*\(")
    members = []
    for name, fn in queries.items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            continue
        if pat.search(src):
            members.append(name)
    return sorted(members)


def make_driver_path_guards(dedup_mod, bpe_mod):
    """Replacement driver-path helpers that raise ONLY when handed real
    work: with the thresholds forced to 0, an EMPTY probe result still
    legitimately satisfies len(head) <= 0 and takes the driver branch —
    0 edges / 0 vocab is trivially equivalent on both paths, and raising
    there would misdiagnose empty input as a threshold bypass (review
    finding). Shared with tests/test_forced_distributed.py and
    tests/test_dedup_guards.py."""
    orig_uf = dedup_mod._union_find_labels
    orig_tf = bpe_mod._train_from_freqs

    def uf(a, b):
        if len(a):
            raise AssertionError(
                "driver path taken despite forced-distributed thresholds"
            )
        return orig_uf(a, b)

    def tf(freqs, *a, **k):
        if freqs:
            raise AssertionError(
                "driver path taken despite forced-distributed thresholds"
            )
        return orig_tf(freqs, *a, **k)

    return uf, tf


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=".scale/forced_distributed_sweep.json")
    ap.add_argument("--redo", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as contract
    from pyspark.sql import SparkSession

    from _sweeplib import load_results, save_results
    from ndl_core_data_pipeline_spark.operators import bpe, dedup
    from tests.oracle import run_compare

    queries, oracles = contract.queries(), contract.oracle_sql()
    members = discover_members(queries)
    if not members:
        raise SystemExit("no size-adaptive members discovered — scan broken?")

    # guard 1: driver-path helpers raise on non-empty work
    uf, tf = make_driver_path_guards(dedup, bpe)
    dedup.CC_EDGES_DRIVER_MAX = 0
    bpe.VOCAB_DRIVER_MAX = 0
    dedup._union_find_labels = uf
    bpe._train_from_freqs = tf

    # guard 2: adaptive entry points count calls
    calls = {"n": 0}
    orig_cc, orig_bpe = dedup.connected_components, bpe.train_bpe_merges

    def cc(*a, **k):
        calls["n"] += 1
        return orig_cc(*a, **k)

    def tb(*a, **k):
        calls["n"] += 1
        return orig_bpe(*a, **k)

    dedup.connected_components = cc
    bpe.train_bpe_merges = tb

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    # prune by the CURRENT member set, not the full registry: a stale
    # row for a query that left the membership would otherwise survive
    # the load and keep counting as a live attestation in both this
    # summary and certify_round's sweep count (round-15 ADVICE, low)
    results: dict[str, dict] = load_results(args.out, valid_keys=set(members))
    for i, name in enumerate(members):
        if name in results and not args.redo:
            continue
        before = calls["n"]
        try:
            problems = run_compare(
                spark, name, queries[name], oracles.get(name), args.sf_dir
            )
            entered = calls["n"] > before
            results[name] = {
                "ok": (not problems) and entered,
                "problems": problems
                + ([] if entered else ["never reached an adaptive operator"]),
                "oracle": name in oracles,
                "forced_distributed": True,
            }
        except Exception as e:
            results[name] = {
                "ok": False,
                "error": f"{type(e).__name__}: {str(e)[:400]}",
                "trace": traceback.format_exc()[-1500:],
            }
        status = "ok" if results[name]["ok"] else "FAIL"
        print(f"[{i + 1}/{len(members)}] {name}: {status}", flush=True)
        save_results(args.out, results)
    n_ok = sum(1 for r in results.values() if r["ok"])
    bad = sorted(n for n, r in results.items() if not r["ok"])
    print(
        f"done: {n_ok}/{len(results)} ok, members={members}"
        + (f" FAIL={bad}" if bad else "")
    )
    if bad:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
