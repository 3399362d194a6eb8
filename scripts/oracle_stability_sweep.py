#!/usr/bin/env python
"""DuckDB oracle-stability sweep (round 12): run every oracle N times on
the dirty dataset and flag any whose result multiset varies run to run.

Motivation: DuckDB 1.0 applies the default_null_order pragma (and even
an explicit NULLS FIRST) inconsistently across window execution paths —
the same window query over the same parquet flips between NULLS-FIRST
and NULLS-LAST outcomes run to run (found via a flaky
trend_weekly_growth dirty-parity test; single-threaded execution is
deterministic but picks the WRONG order). Any oracle that sorts a
NULLABLE key inside an OVER clause or an ORDER BY aggregate is exposed
on dirty data. Clean driver data has no NULL sort keys, so the driver's
own comparisons are unaffected; this sweep is about the dirty tiers.

The fix for flagged oracles is to make sort keys non-null with sentinel
COALESCE (matching Spark's NULLS FIRST position), making DuckDB's null
order irrelevant.

Usage: python scripts/oracle_stability_sweep.py [--dir .scale/nulls0.01]
         [--reps 6] [--out .scale/oracle_stability.json] [--only a,b]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=".scale/nulls0.01")
    ap.add_argument("--reps", type=int, default=6)
    ap.add_argument("--out", default=".scale/oracle_stability.json")
    ap.add_argument("--only", default="")
    ap.add_argument("--redo", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as contract
    from _sweeplib import run_checks, select
    from tests.oracle import _canon, duckdb_conn

    oracles = contract.oracle_sql()
    only = select(args.only.split(","), oracles)

    def check(name: str) -> dict:
        hashes = set()
        for _ in range(args.reps):
            con = duckdb_conn(args.dir)
            try:
                df = con.execute(oracles[name]).df()
            finally:
                con.close()
            hashes.add(hash(tuple(map(tuple, _canon(df).astype(str).values))))
        return {
            "stable": len(hashes) == 1,
            "n_distinct_outcomes": len(hashes),
            "reps": args.reps,
            "error": None,
        }

    # a cached entry only counts if it was produced with AT LEAST the
    # requested rep count (rerunning at higher reps must re-execute, not
    # re-report 6-rep results as a 10-rep certification)
    bad = run_checks(
        args.out, sorted(oracles), check, only=only, redo=args.redo,
        done=lambda r: r.get("reps", 0) >= args.reps,
    )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
