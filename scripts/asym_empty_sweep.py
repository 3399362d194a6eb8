#!/usr/bin/env python
"""Asymmetric-emptiness sweep (round 14, fifth robustness axis — VERDICT
r13 "what's missing" #4): every registry query must be correct when
exactly ONE of its input tables is empty while the others carry data.

The all-empty sweep (empty_sweep.py) proved n=0 totality, but it
structurally cannot catch the asymmetric failure classes — a LEFT join
silently behaving as INNER only shows when the right side alone is
empty; an anti-join "skip if exists" must pass EVERYTHING through when
the existing side is empty; a broadcast build side of zero rows, an
empty eval-set in contamination checks, empty embeddings beside
non-empty documents. That is the shape a real 100 TB pipeline hits
daily: one source lands late or a partition-pruned scan matches
nothing, while every other input is live.

Per table T, a fixture dir holds the clean sf0.001 dataset with ONLY T
zero-rowed (schema preserved). Per query, the tables it actually READS
are discovered by spying on DataFrameReader.parquet during one
construction pass (engine modules bind io.load at import time, so the
spy sits below them); the query then runs against each of its tables'
fixture dirs and is compared against DuckDB on the same data — the
oracle pins the correct asymmetric semantics, not just non-crashing.

Output shape: {table: {query: {ok, problems/error}}} plus a _membership
audit map. Resumable per (table, query); checkpoints are engine-tree
stamped (_sweeplib).

Usage: python scripts/asym_empty_sweep.py [--base /root/testdata/sf0.001]
         [--root .scale/asym_empty] [--out .scale/asym_empty_sweep.json]
         [--only q1,q2] [--tables events,orders] [--redo]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from empty_sweep import build_empty  # noqa: E402
from ndl_core_data_pipeline_spark.io import TABLES  # noqa: E402


def build_asym_datasets(base: str, root: str) -> dict[str, str]:
    """One dir per table: all tables copied from base, that table
    zero-rowed. Rebuilds a dir when its manifest is missing or differs
    from the wanted one (sweep.ensure's rule)."""
    dirs = {}
    for empty_t in TABLES:
        out = dirs[empty_t] = os.path.join(root, empty_t)
        manifest = os.path.join(out, "MANIFEST.json")
        want = {"base": base, "mode": "asym-empty", "empty": empty_t,
                "tables": list(TABLES)}
        if os.path.exists(manifest):
            with open(manifest) as fh:
                if json.load(fh) == want:
                    continue
            print(f"rebuilding {out}: manifest is stale", flush=True)
        build_empty(base, out, empty=(empty_t,))
        with open(manifest, "w") as fh:
            json.dump(want, fh)
    return dirs


def table_membership(spark, queries: dict, probe_dir: str) -> dict[str, list[str]]:
    """Which tables does each query READ? One construction pass per query
    with a spy on DataFrameReader.parquet — every engine path loads
    tables through spark.read.parquet(f"{dir}/{name}.parquet"), so the
    observed basenames are exactly the query's input tables. (Grepping
    oracle text would miss engine-only reads and count commented
    mentions; the spy observes the real plan being built.) io.load's
    scan cache is emptied before each query: a cached scan is a read the
    spy would not see."""
    from pyspark.sql.readwriter import DataFrameReader

    from ndl_core_data_pipeline_spark import io

    orig = DataFrameReader.parquet
    seen: set[str] = set()

    def spy(self, *paths, **kw):
        for p in paths:
            name = os.path.basename(str(p))
            if name.endswith(".parquet"):
                seen.add(name[: -len(".parquet")])
        return orig(self, *paths, **kw)

    membership: dict[str, list[str]] = {}
    DataFrameReader.parquet = spy
    try:
        for name, fn in queries.items():
            seen.clear()
            io._SCAN_CACHE.clear()
            try:
                fn(spark, probe_dir)
            except Exception:
                # a constructor that crashes on clean data would be a
                # suite failure elsewhere; record what it read so far
                pass
            membership[name] = sorted(seen & set(TABLES))
    finally:
        DataFrameReader.parquet = orig
    return membership


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.001")
    ap.add_argument("--root", default=".scale/asym_empty")
    ap.add_argument("--out", default=".scale/asym_empty_sweep.json")
    ap.add_argument("--only", default="")
    ap.add_argument("--tables", default="")
    ap.add_argument("--redo", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as contract
    from _sweeplib import parity_check, run_checks, select, session

    queries = contract.queries()
    only = select(args.only.split(","), queries)
    table_sel = {t for t in args.tables.split(",") if t}
    unknown_t = table_sel - set(TABLES)
    if unknown_t:
        raise SystemExit(f"--tables not in io.TABLES: {sorted(unknown_t)}")

    dirs = build_asym_datasets(args.base, args.root)
    spark = session(8)
    membership = table_membership(spark, queries, args.base)

    # one section per table, holding the queries that read it; every
    # section is visited so the exit status covers the whole checkpoint.
    # Choosing tables re-runs their queries (or the --only ones), and an
    # unchosen table runs nothing.
    bad = 0
    for t in TABLES:
        names = [n for n in sorted(queries) if t in membership[n]]
        sel = None
        if table_sel or only:
            chosen = names if not table_sel or t in table_sel else ()
            sel = frozenset(n for n in chosen if only is None or n in only)
        bad += run_checks(
            args.out, names, parity_check(spark, dirs[t]), only=sel,
            redo=args.redo, outer=t, extra={"_membership": membership},
        )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
