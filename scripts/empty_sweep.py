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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the engine's table list: a local copy would miss a table added there
from ndl_core_data_pipeline_spark.io import TABLES  # noqa: E402


def build_empty(base: str, out: str, empty=TABLES) -> None:
    """Copy of every engine table in `base` with the `empty` ones
    zero-rowed, schema kept. The all-empty fixture is rebuilt on every
    run (ten schema-only files), so a table added to the engine never
    meets a stale fixture and fails as a false totality defect."""
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        src = pq.read_table(os.path.join(base, f"{t}.parquet"))
        if t in empty:
            src = src.slice(0, 0)
        pq.write_table(src, os.path.join(out, f"{t}.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.001")
    ap.add_argument("--dir", default=".scale/empty")
    ap.add_argument("--out", default=".scale/empty_sweep.json")
    ap.add_argument("--only", default="")
    ap.add_argument("--redo", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as contract
    from _sweeplib import parity_sweep, select

    only = select(args.only.split(","), contract.queries())
    build_empty(args.base, args.dir)
    sys.exit(1 if parity_sweep(args.dir, args.out, only=only, redo=args.redo) else 0)


if __name__ == "__main__":
    main()
