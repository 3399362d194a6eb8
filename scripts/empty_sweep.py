#!/usr/bin/env python
"""Degenerate-input totality sweep (round 13, fourth robustness axis):
every registry query must be TOTAL on zero-row inputs — no exception,
and where an oracle exists, the same result multiset DuckDB produces on
the same empty tables.

At 100 TB this is not a corner case: a partition-pruned scan, a
filter that matches nothing, a day with no events, or an empty delta in
an incremental run all hand every operator a zero-row input. Operators
that crash there (an np.array over an empty collect, a Lloyd iteration
with no points, a quantile over nothing, max() of an empty driver list)
take the whole job down; operators that silently emit the WRONG shape
(a 0-row frame where the aggregate contract says one NULL/zero row, or
vice versa) corrupt downstream joins. The oracle comparison pins the
n=0 contract per query, not just non-crashing.

The empty dataset preserves each table's exact parquet SCHEMA
(including events' TIMESTAMP(NANOS) ts) by writing the sf0.001 schema
with zero rows.

Usage: python scripts/empty_sweep.py [--base /root/testdata/sf0.001]
                                     [--dir .scale/empty]
                                     [--out .scale/empty_sweep.json]
                                     [--only a,b] [--redo]
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the engine's table list is the source of truth — a locally hardcoded
# copy would silently go stale when a table is added (review finding)
from ndl_core_data_pipeline_spark.io import TABLES  # noqa: E402


def build_empty(base: str, out: str) -> None:
    """Zero-row copy of every engine table. Rebuilt on every run (ten
    schema-only files), so a table added to the engine never meets a
    stale fixture and fails as a false totality defect."""
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        src = pq.read_table(os.path.join(base, f"{t}.parquet"))
        pq.write_table(src.slice(0, 0), os.path.join(out, f"{t}.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.001")
    ap.add_argument("--dir", default=".scale/empty")
    ap.add_argument("--out", default=".scale/empty_sweep.json")
    ap.add_argument("--only", default="")
    ap.add_argument("--redo", action="store_true")
    args = ap.parse_args()

    build_empty(args.base, args.dir)

    import __spark_entry__ as contract
    from pyspark.sql import SparkSession

    from tests.oracle import run_compare

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    from _sweeplib import load_results, save_results

    reg = contract.build_registry()
    # load_results discards the whole checkpoint when its engine-tree
    # stamp is stale and prunes queries renamed/removed from the registry
    results: dict[str, dict] = load_results(args.out, valid_keys=reg.queries)
    only = {n for n in args.only.split(",") if n}
    names = [n for n in sorted(reg.queries) if not only or n in only]
    for i, name in enumerate(names):
        if name in results and not (only or args.redo):
            continue
        try:
            problems = run_compare(
                spark, name, reg.queries[name], reg.oracles.get(name), args.dir
            )
            results[name] = {
                "ok": not problems,
                "problems": problems,
                "oracle": name in reg.oracles,
            }
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
    bad = sorted(n for n, r in results.items() if not r["ok"])
    print(f"done: {n_ok}/{len(results)} ok" + (f" FAIL={bad}" if bad else ""))


if __name__ == "__main__":
    main()
