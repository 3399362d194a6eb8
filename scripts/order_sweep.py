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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the engine's table list: a local copy would miss a table added there
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
        json.dump(shuffle_manifest(base, seed), fh)


def shuffle_manifest(base: str, seed: int) -> dict:
    return {"base": base, "seed": seed, "mode": "row-shuffle"}


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

    import __spark_entry__ as contract

    from _sweeplib import run_checks, select, session
    from tests.oracle import compare

    queries = contract.queries()
    only = select(args.only.split(","), queries)

    # rebuild unless the copy was shuffled from this base with this seed:
    # the second-seed and compound-base runs must not reuse another copy
    manifest = os.path.join(args.shuffled, "MANIFEST.json")
    stale = True
    if os.path.exists(manifest):
        with open(manifest) as fh:
            stale = json.load(fh) != shuffle_manifest(args.base, args.seed)
    if stale:
        print(f"building {args.shuffled} (seed {args.seed})", flush=True)
        build_shuffled(args.base, args.shuffled, seed=args.seed)

    spark = session(16)

    def check(name: str) -> dict:
        a = queries[name](spark, args.base).toPandas()
        b = queries[name](spark, args.shuffled).toPandas()
        problems = compare(a, b)
        return {"ok": not problems, "problems": problems}

    bad = run_checks(args.out, sorted(queries), check, only=only, redo=args.redo)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
