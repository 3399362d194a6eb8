#!/usr/bin/env python
"""Partition-order invariance sweep (round 12 evidence layer): every
registry query must return the SAME result multiset when its input
tables arrive row-permuted and split into different row groups. On a
1000-executor cluster, row arrival order and partition composition are
nondeterministic run-to-run — any query whose output depends on them
(a rank cutoff under a non-total ORDER BY ... LIMIT, a bare first()
without an ordered window, an order-sensitive double fold) is broken at
scale even if every single-run oracle check passes. The q21 dirty-name
tiebreak (ADVICE r11) is exactly this class; this sweep hunts the whole
registry for it.

Inputs: the NULL-injected dirty copy (ties are far more likely with
injected duplicate/empty values than on clean data) and a row-shuffled
re-write of it. Resumable like sweep.py.

Usage: python scripts/order_sweep.py [--out .scale/order_sweep.json]
                                     [--base .scale/nulls0.01]
                                     [--shuffled .scale/shuffled0.01]
                                     [--only name1,name2] [--redo]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the engine's table list is the source of truth (same review finding
# as empty_sweep: a local copy silently goes stale when a table lands)
from ndl_core_data_pipeline_spark.io import TABLES  # noqa: E402


def build_shuffled(base: str, out: str, seed: int = 20240815) -> None:
    """Re-write every table with rows permuted and row groups re-split
    (n//7-sized groups), so both the within-file order and the Spark
    partition boundaries differ from the source layout."""
    import numpy as np
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    for t in TABLES:
        tbl = pq.read_table(os.path.join(base, f"{t}.parquet"))
        perm = rng.permutation(len(tbl))
        shuffled = tbl.take(perm)
        pq.write_table(
            shuffled,
            os.path.join(out, f"{t}.parquet"),
            row_group_size=max(1, len(tbl) // 7),
        )
    with open(os.path.join(out, "MANIFEST.json"), "w") as fh:
        json.dump({"base": base, "seed": seed, "mode": "row-shuffle"}, fh)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=".scale/order_sweep.json")
    ap.add_argument("--base", default=".scale/nulls0.01")
    ap.add_argument("--shuffled", default=".scale/shuffled0.01")
    ap.add_argument("--only", default="")
    ap.add_argument("--redo", action="store_true")
    ap.add_argument(
        "--seed",
        type=int,
        default=20240815,
        help="permutation seed (the committed second-seed run used 777)",
    )
    args = ap.parse_args()

    # rebuild if missing OR if the existing directory was built with a
    # DIFFERENT seed than requested (review finding: the second-seed
    # evidence must be reproducible by the named harness, not silently
    # replaced by a default-seed rebuild)
    manifest_path = os.path.join(args.shuffled, "MANIFEST.json")
    needs_build = True
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            needs_build = json.load(fh).get("seed") != args.seed
        if needs_build:
            print(
                f"rebuilding {args.shuffled}: manifest seed != {args.seed}",
                flush=True,
            )
    if needs_build:
        build_shuffled(args.base, args.shuffled, seed=args.seed)

    import __spark_entry__ as contract
    from pyspark.sql import SparkSession

    from tests.oracle import compare

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    from _sweeplib import load_results, save_results

    queries = contract.queries()
    # ALWAYS load the checkpoint: --redo re-runs the selected names but
    # must not discard results outside the selection (a subset
    # `--only x --redo` used to rewrite the file with only x).
    # load_results additionally discards the whole checkpoint when its
    # engine-tree stamp is stale and prunes renamed/removed queries.
    results: dict[str, dict] = load_results(args.out, valid_keys=queries)
    only = {n for n in args.only.split(",") if n}
    names = [n for n in sorted(queries) if not only or n in only]
    for i, name in enumerate(names):
        if name in results and not (only or args.redo):
            continue
        try:
            a = queries[name](spark, args.base).toPandas()
            b = queries[name](spark, args.shuffled).toPandas()
            problems = compare(a, b)
            results[name] = {"ok": not problems, "problems": problems}
        except Exception as e:
            results[name] = {
                "ok": False,
                "error": f"{type(e).__name__}: {str(e)[:400]}",
                "trace": traceback.format_exc()[-1500:],
            }
        status = "ok" if results[name]["ok"] else "FAIL"
        print(f"[{i + 1}/{len(names)}] {name}: {status}", flush=True)
        save_results(args.out, results)
    n_ok = sum(1 for r in results.values() if r["ok"])
    print(f"done: {n_ok}/{len(results)} ok")


if __name__ == "__main__":
    main()
