#!/usr/bin/env python
"""Full-registry Spark-vs-DuckDB parity sweep on one hostile-fixture axis.

`AXES` is the one table of fixture axes: each row names the fixture
directory, the checkpoint certify_round reads, the recipe (an ordered
list of gen_scale injector stages applied to the base), the
parity_sweep extras and the env var gating its tier in
tests/test_axis_parity.py. `ensure(axis)` builds the fixture when its
stored recipe differs from the row's; `main()` runs the resumable,
tree-stamped sweep (`_sweeplib.parity_sweep`) against it.

Axes:
  nulls            2% NULL / 1% NaN / 1% '' in every column (seed 7117)
  nullheavy        30% NULL / 2% NaN / 2% '' (seed 7121)
  nonfinite        2% NULL plus NaN, ±Inf and -0.0 in doubles (seed 7119)
  bigint           extreme in-width integers, ids kept unique (seed 6263)
  timestamp        year 1 / 9999, Gregorian gap, pre-epoch instants
  duprow           30% payload-identical rows under fresh ids
  double_extreme   0.5% extreme finite doubles (seed 6161)
  dblextreme5      the same at 5% (seed 6172)
  hotkey           one value carries ~50% of each skew-relevant column
  unicode          5% multibyte text in string cells
  compound         hotkey -> unicode -> nullheavy on one copy
  duprow_compound  hotkey -> duprow -> nullheavy-density nulls, fresh seeds
  sf1, sf3         gen_scale synthesis at 10x / 30x sf0.1 (checksum tier)

The base is SPARK_GRAFT_SF_BASE (default: the sf0.01 tables listed in
TESTDATA.md); the sf rows scale gen_scale's own source
(SPARK_GRAFT_BASE_SF_DIR).

Usage: python scripts/sweep.py --axis NAME [--only name1,name2] [--redo]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import gen_scale  # noqa: E402
from _sweeplib import CHECKSUM_QUERIES, parity_sweep  # noqa: E402
from gen_scale import (  # noqa: E402
    inject_bigint_extremes,
    inject_double_extremes,
    inject_duprows,
    inject_hotkey,
    inject_nulls,
    inject_timestamp_extremes,
    inject_unicode,
)

from ndl_core_data_pipeline_spark.operators.graphs import (  # noqa: E402
    FUZZY_SQL_CODEPOINT,
)

RECIPE = "RECIPE.json"


def scale(base: str, out: str, mult: int, seed: int, skew: bool, dup_heavy: bool) -> None:
    """gen_scale.gen in the injectors' (base, out, **params) shape: gen
    resamples its value columns from the module-level gen_scale.SRC."""
    gen_scale.SRC = base
    gen_scale.gen(mult, out, seed, skew=skew, dup_heavy=dup_heavy)


@dataclass(frozen=True)
class Axis:
    label: str  # certify_round's report label
    fixture: str  # relative to the repo
    checkpoint: str  # relative to the repo
    stages: tuple  # ((injector, params), ...) applied in order
    extras: dict = field(default_factory=dict)  # parity_sweep keywords
    gate: str | None = None  # env var enabling the pytest tier
    base: str | None = None  # None: SPARK_GRAFT_SF_BASE


NULLS = {
    "seed": 7117,
    "frac_null": 0.02,
    "frac_nan": 0.01,
    "frac_empty": 0.01,
    "frac_inf": 0.0,
    "frac_negzero": 0.0,
}
NULLHEAVY = {**NULLS, "seed": 7121, "frac_null": 0.3, "frac_nan": 0.02, "frac_empty": 0.02}
NONFINITE = {**NULLS, "seed": 7119, "frac_inf": 0.01, "frac_negzero": 0.01}
HOTKEY = {"seed": 1503, "frac": 0.5}
UNICODE = {"seed": 8814, "frac": 0.05}
DUPROW = {"seed": 3141, "frac": 0.3}
SF = {"seed": 4242, "skew": False, "dup_heavy": False}

# DuckDB's levenshtein is byte-based where the engine's is code-point;
# multibyte fixtures compare against the harness's code-point UDF form
CODEPOINT = {"sql_overrides": {"join_fuzzy_name_pairs": FUZZY_SQL_CODEPOINT}}

AXES = {
    "nulls": Axis(
        "dirty parity (seed A)", ".scale/nulls0.01", ".scale/nulls_sweep.json",
        ((inject_nulls, NULLS),), gate="SPARK_GRAFT_NULLS_SWEEP",
    ),
    "nullheavy": Axis(
        "null-heavy parity (30%)", ".scale/nullheavy0.01",
        ".scale/nullheavy_sweep.json", ((inject_nulls, NULLHEAVY),),
        gate="SPARK_GRAFT_NULLHEAVY_SWEEP",
    ),
    "nonfinite": Axis(
        "non-finite doubles parity", ".scale/nonfinite0.01",
        ".scale/nonfinite_sweep.json", ((inject_nulls, NONFINITE),),
        gate="SPARK_GRAFT_NULLS_SWEEP",
    ),
    "bigint": Axis(
        "extreme-BIGINT parity", ".scale/bigint0.01", ".scale/bigint_sweep.json",
        ((inject_bigint_extremes, {"seed": 6263, "frac": 0.005}),),
    ),
    "timestamp": Axis(
        "extreme-timestamp parity", ".scale/tsx0.01", ".scale/timestamp_sweep.json",
        ((inject_timestamp_extremes, {"seed": 9461, "frac": 0.005}),),
    ),
    "duprow": Axis(
        "duplicate-row parity", ".scale/duprow0.01", ".scale/duprow_sweep.json",
        ((inject_duprows, DUPROW),),
    ),
    "double_extreme": Axis(
        "extreme-double parity", ".scale/dblextreme0.01",
        ".scale/double_extreme_sweep.json",
        ((inject_double_extremes, {"seed": 6161, "frac": 0.005}),),
    ),
    "dblextreme5": Axis(
        "extreme-double parity (5% escalation)", ".scale/dblextreme5pct0.01",
        ".scale/dblextreme5_sweep.json",
        ((inject_double_extremes, {"seed": 6172, "frac": 0.05}),),
    ),
    "hotkey": Axis(
        "hot-key skew parity", ".scale/hotkey0.01", ".scale/skew_sweep.json",
        ((inject_hotkey, HOTKEY),), gate="SPARK_GRAFT_NULLS_SWEEP",
    ),
    "unicode": Axis(
        "unicode text parity", ".scale/unicode0.01", ".scale/unicode_sweep.json",
        ((inject_unicode, UNICODE),), extras=CODEPOINT,
        gate="SPARK_GRAFT_NULLS_SWEEP",
    ),
    # hot keys first so concentration applies to real values; unicode
    # before NULLs so string mutation sees full columns
    "compound": Axis(
        "compound hot+unicode+null parity", ".scale/compound0.01",
        ".scale/compound_sweep.json",
        ((inject_hotkey, HOTKEY), (inject_unicode, UNICODE), (inject_nulls, NULLHEAVY)),
        extras=CODEPOINT, gate="SPARK_GRAFT_COMPOUND_SWEEP",
    ),
    # duplicated payloads exist before the null pass, so each copy is
    # dirtied independently: the retry-plus-lossy-re-extraction shape
    "duprow_compound": Axis(
        "duprow-interaction parity", ".scale/duprow_compound0.01",
        ".scale/duprow_compound_sweep.json",
        (
            (inject_hotkey, {**HOTKEY, "seed": 1607}),
            (inject_duprows, {**DUPROW, "seed": 3167}),
            (inject_nulls, {**NULLHEAVY, "seed": 7129}),
        ),
        extras=CODEPOINT,
    ),
    "sf1": Axis(
        "volumetric parity (sf1)", ".scale/sf1", ".scale/sf1_parity.json",
        ((scale, {**SF, "mult": 10}),), extras={"checksum": CHECKSUM_QUERIES},
        base=gen_scale.SRC,
    ),
    # runs last and alone: concurrent sweeps starve the DuckDB oracle of
    # memory at this scale
    "sf3": Axis(
        "volumetric parity (sf3)", ".scale/sf3", ".scale/sf3_parity.json",
        ((scale, {**SF, "mult": 30}),), extras={"checksum": CHECKSUM_QUERIES},
        base=gen_scale.SRC,
    ),
}


def recipe(row: Axis) -> dict:
    """The row's build inputs as stored in the fixture's RECIPE.json."""
    stages = []
    for fn, params in row.stages:
        params = dict(params)
        if fn is inject_unicode:  # the snippet pool is an injection input
            params["snippet_pool"] = gen_scale._snippet_pool_fingerprint()
        stages.append([fn.__name__, params])
    base = row.base or os.environ.get("SPARK_GRAFT_SF_BASE", "/root/testdata/sf0.01")
    return {"base": base, "stages": stages}


def ensure(axis: str) -> str:
    """Path of the axis's fixture, rebuilt first unless its stored recipe
    equals the row's. Stages build into sibling temp dirs and the last
    one is renamed into place, so a failed build leaves no fixture that
    a matching recipe could vouch for."""
    row = AXES[axis]
    out = os.path.join(REPO, row.fixture)
    want = recipe(row)
    path = os.path.join(out, RECIPE)
    if os.path.exists(path):
        with open(path) as fh:
            if json.load(fh) == want:
                return out
        print(f"rebuilding {out}: recipe is stale", flush=True)
    src = want["base"]
    for i, (fn, params) in enumerate(row.stages):
        tmp = f"{out}.stage{i}"
        shutil.rmtree(tmp, ignore_errors=True)
        fn(src, tmp, **params)
        if i:
            shutil.rmtree(src)
        src = tmp
    shutil.rmtree(out, ignore_errors=True)
    os.replace(src, out)
    with open(path, "w") as fh:
        json.dump(want, fh, indent=1)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--axis", required=True, choices=sorted(AXES))
    ap.add_argument("--only", default="")
    ap.add_argument("--redo", action="store_true")
    args = ap.parse_args()

    row = AXES[args.axis]
    only = frozenset(n for n in args.only.split(",") if n)
    n_bad = parity_sweep(
        ensure(args.axis), os.path.join(REPO, row.checkpoint),
        only=only, redo=args.redo, **row.extras,
    )
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
