"""Shared checkpoint plumbing for the determinism-sweep runners.

Round-14 ADVICE (medium): every sweep is resumable and skips
already-completed queries, so after an engine change certification
could print ALL GREEN from sweep results computed on an OLDER tree.
The fix is a content hash of the engine-relevant sources stamped into
each checkpoint at write time; a loader that finds a different stamp
discards the stale results (same pattern as empty_sweep's
manifest-staleness fixture rebuild), and certify_round.step_sweeps
independently refuses to count a mismatched checkpoint as evidence.

The hash covers exactly what determines sweep outcomes: the engine
package, the driver contract (registry + oracle text), the comparator,
the fixture generators, and the sweep runners themselves — NOT
read-only reporting (certify_round, bench) or docs, so those commits
don't invalidate hours of completed sweep work.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

META_KEY = "_meta"  # reserved top-level key inside sweep checkpoints

_HASH_INPUTS = (
    "ndl_core_data_pipeline_spark/**/*.py",
    "__spark_entry__.py",
    "tests/oracle.py",
    # sweep-outcome-determining tooling (review finding: the docstring
    # claimed the hash covered "exactly what determines sweep outcomes"
    # while fixture generators and the sweep-side comparator were
    # outside it — an inject_unicode/snippet edit would have left old
    # fixtures AND old checkpoints counting as live evidence).
    # certify_round.py and bench tooling only READ results, so they are
    # deliberately excluded: a reporting edit must not invalidate hours
    # of completed sweep work.
    "scripts/_sweeplib.py",
    "scripts/gen_scale.py",
    "scripts/sweep.py",
    "scripts/order_sweep.py",
    "scripts/config_sweep.py",
    "scripts/empty_sweep.py",
    "scripts/asym_empty_sweep.py",
    "scripts/oracle_stability_sweep.py",
    "scripts/forced_distributed_sweep.py",
    "scripts/ann_recall_floor.py",
)


def engine_tree_hash() -> str:
    """sha256 over (relative path, content hash) of every engine-relevant
    source file. Content-based, so it is correct on a dirty working tree
    (unlike `git rev-parse HEAD`, which misses uncommitted edits)."""
    h = hashlib.sha256()
    for pattern in _HASH_INPUTS:
        for path in sorted(glob.glob(os.path.join(REPO, pattern), recursive=True)):
            rel = os.path.relpath(path, REPO)
            with open(path, "rb") as fh:
                h.update(rel.encode())
                h.update(b"\0")
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def load_results(path: str, valid_keys=None, nested_valid_keys=None) -> dict:
    """Load a sweep checkpoint, enforcing the three freshness rules:

    1. tree staleness — a checkpoint stamped with a different engine
       tree hash (or none: pre-round-14 format) is DISCARDED entirely;
       its results are evidence about an older tree, not this one.
    2. registry pruning — entries for queries renamed/removed from the
       registry are dropped (``valid_keys``); for nested {config:
       {query: ...}} files pass ``nested_valid_keys`` instead.
    3. the reserved META_KEY never reaches the caller's result dict.
    """
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        data = json.load(fh)
    meta = data.pop(META_KEY, None)
    current = engine_tree_hash()
    if not isinstance(meta, dict) or meta.get("tree") != current:
        print(
            f"DISCARDING {path}: checkpoint tree stamp "
            f"{(meta or {}).get('tree', 'absent')!r:.20} != current engine tree "
            f"{current[:12]} — results were computed on a different tree",
            flush=True,
        )
        return {}
    if valid_keys is not None:
        data = {k: v for k, v in data.items() if k in valid_keys}
    if nested_valid_keys is not None:
        data = {
            cfg: {k: v for k, v in res.items() if k in nested_valid_keys}
            for cfg, res in data.items()
        }
    return data


def save_results(path: str, results: dict) -> None:
    """Write a sweep checkpoint with a fresh tree stamp. The stamp is
    recomputed per save (cheap: ~200 small files) so a mid-sweep engine
    edit marks every subsequent save stale-on-next-load rather than
    inheriting the stamp from sweep start."""
    out = dict(results)
    out[META_KEY] = {"tree": engine_tree_hash()}
    d = os.path.dirname(os.path.abspath(path))
    os.makedirs(d, exist_ok=True)
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)


# Queries whose result multiset is too large to driver-collect at
# volumetric scales (sf1+): routed through tests.oracle.checksum_compare
# (per-key count + dual order-insensitive hash sums, oracle side streamed
# to parquet — nothing collected but the digest frames) instead of
# run_compare. Value = the digest key columns. join_theta_range's band
# predicate emits O(n²) rows (~99.5× output per 10× rows, SCALE_r10);
# collecting it at sf1 crashed collectToPython in r16.
CHECKSUM_QUERIES = {
    "join_theta_range": ["p_partkey"],
    # r18 sf3 residuals (PARITY_SF3_r18 _residuals): both queries'
    # full multisets are collect-infeasible at volumetric scale —
    # join_interval_overlap blew spark.driver.maxResultSize=1g at sf3
    # and join_range_binned's sf1 collect-compare already took 1808 s
    # (largest output in the registry). Digest keys are the join's
    # left-side key column.
    "join_interval_overlap": ["l_orderkey"],
    "join_range_binned": ["user_id"],
}


def parity_sweep(
    data_dir: str,
    out: str,
    only=frozenset(),
    redo: bool = False,
    checksum: dict | None = None,
    sql_overrides: dict | None = None,
) -> int:
    """Full-registry Spark-vs-DuckDB parity run against `data_dir`,
    checkpointed per query into `out` (tree-stamped, resumable). Every
    fixture axis in sweep.py runs through this one loop; only the
    fixture and the extras differ. Returns the number of failing
    queries.

    ``checksum`` maps query names to digest-key column lists: those
    queries compare via tests.oracle.checksum_compare (aggregate digest,
    nothing driver-collected) instead of run_compare — pass
    CHECKSUM_QUERIES for volumetric (sf1+) runs where O(n²) outputs
    cannot be materialized. The entry records ``checksum_digest`` so
    certification shows which comparison tier ran."""
    import time
    import traceback

    import __spark_entry__ as contract
    from pyspark.sql import SparkSession

    from tests.oracle import checksum_compare, run_compare

    checksum = checksum or {}
    sql_overrides = sql_overrides or {}

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    queries, oracles = contract.queries(), contract.oracle_sql()
    results: dict[str, dict] = load_results(out, valid_keys=queries)
    names = [n for n in sorted(queries) if not only or n in only]
    for i, name in enumerate(names):
        if name in results and not (only or redo):
            continue
        t0 = time.monotonic()
        try:
            if name in checksum and oracles.get(name) is not None:
                tm: dict = {}
                problems = checksum_compare(
                    spark, name, queries[name], oracles[name], data_dir,
                    key=checksum[name], timings=tm,
                )
                results[name] = {
                    "ok": not problems,
                    "problems": problems,
                    "checksum_digest": checksum[name],
                }
                if tm:
                    results[name]["secs_split"] = tm
            elif name in sql_overrides:
                # harness-only oracle variant (e.g. the code-point
                # levenshtein UDF registered by duckdb_conn) — records
                # the tier so certification shows which oracle ran
                tm = {}
                problems = run_compare(
                    spark, name, queries[name], sql_overrides[name], data_dir,
                    timings=tm,
                )
                results[name] = {
                    "ok": not problems,
                    "problems": problems,
                    "oracle_override": "harness-udf",
                }
                if tm:
                    results[name]["secs_split"] = tm
            else:
                tm = {}
                problems = run_compare(
                    spark, name, queries[name], oracles.get(name), data_dir,
                    timings=tm,
                )
                results[name] = {"ok": not problems, "problems": problems}
                if tm:
                    results[name]["secs_split"] = tm
        except Exception as e:
            results[name] = {
                "ok": False,
                "error": f"{type(e).__name__}: {str(e)[:400]}",
                "trace": traceback.format_exc()[-1500:],
            }
        # wall seconds per query (round 18: the volumetric sweeps owe a
        # per-query sf-scaling ratio table; recording it here gives every
        # sweep the column for free)
        results[name]["secs"] = round(time.monotonic() - t0, 3)
        status = "ok" if results[name]["ok"] else "FAIL"
        print(f"[{i + 1}/{len(names)}] {name}: {status}", flush=True)
        save_results(out, results)
    n_ok = sum(1 for r in results.values() if r["ok"])
    print(f"done: {n_ok}/{len(results)} ok")
    return len(results) - n_ok


def ensure_fresh_ckpt_dir(path: str) -> None:
    """config_sweep's phase-A pickle directory has the same staleness
    class (round-14 ADVICE, low): a resumed run would compare new-code
    phase-B results against old-code baselines. Record the engine tree
    in a manifest next to the pickles and wipe them when it no longer
    matches."""
    os.makedirs(path, exist_ok=True)
    manifest = os.path.join(path, "_MANIFEST.json")
    current = engine_tree_hash()
    if os.path.exists(manifest):
        with open(manifest) as fh:
            if json.load(fh).get("tree") == current:
                return
    # a mismatched OR MISSING manifest means the pickles' provenance is
    # unknown/stale — wipe them (review finding: the missing-manifest
    # case, i.e. every pre-round-14 checkpoint dir, previously kept old
    # pickles and stamped them as current: the exact stale-evidence
    # class this module exists to close)
    stale = glob.glob(os.path.join(path, "*.pkl"))
    if stale:
        print(
            f"INVALIDATING {len(stale)} phase-A baselines in {path}: "
            "manifest tree stamp missing or != current engine tree",
            flush=True,
        )
        for p in stale:
            os.remove(p)
    with open(manifest, "w") as fh:
        json.dump({"tree": current}, fh)
