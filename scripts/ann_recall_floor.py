#!/usr/bin/env python
"""ANN recall-quality floor at volume — round 17 (verdict r16 stretch
item 9). `vector_ann_recall_report` is oracle-exact on the REPORT
itself (the recall arithmetic is verified value-for-value), but nothing
gated the recall VALUES: an IVF regression that silently probed the
wrong cells would still produce a perfectly correct report of terrible
recall. This runner executes the report at sf1 (the 100x volumetric
fixture, ~20k vectors) and asserts the measured quality against pinned
floors, so ANN quality — not just report correctness — is certified as
data grows.

The floors are `FLOORS` (mean and min recall@10), and every query must
scan a non-empty candidate set. Everything upstream is seeded and the
IVF is label-derived deterministic, so drift means a code change.

Usage: python scripts/ann_recall_floor.py [--out .scale/ann_recall_sf1.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Round 18: re-pinned at the tuned IVF_NPROBE=4 operating point
# (measured mean 0.68 / min 0.60 at sf1; curve in operators/vector.py).
# Floors keep a safety margin for fixture evolution, but a regression
# to the r17 nprobe=2 point (0.46/0.20) fails both.
FLOORS = {"mean_recall": 0.60, "min_recall": 0.40}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=".scale/ann_recall_sf1.json")
    args = ap.parse_args()

    from sweep import ensure

    sf_dir = ensure("sf1")

    import __spark_entry__ as contract
    from pyspark.sql import functions as F

    from _sweeplib import save_results, session

    df = contract.queries()["vector_ann_recall_report"](session(16), sf_dir)
    row = df.agg(
        F.avg("recall_at_k").alias("mean_recall"),
        F.min("recall_at_k").alias("min_recall"),
        F.min("n_candidates").alias("min_candidates"),
        F.count("*").alias("n_queries"),
    ).collect()[0]
    measured = {
        "mean_recall": float(row["mean_recall"]),
        "min_recall": float(row["min_recall"]),
        "min_candidates": int(row["min_candidates"]),
        "n_queries": int(row["n_queries"]),
    }
    ok = (
        measured["mean_recall"] >= FLOORS["mean_recall"]
        and measured["min_recall"] >= FLOORS["min_recall"]
        and measured["min_candidates"] > 0
        and measured["n_queries"] > 0
    )
    # {name: {ok, ...}} shape so certify_round.step_sweeps counts it
    # like every other standing checkpoint
    save_results(
        args.out,
        {"ann_recall_sf1": {"ok": ok, "floors": FLOORS, "measured": measured}},
    )
    print(json.dumps({"ok": ok, "floors": FLOORS, "measured": measured}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
