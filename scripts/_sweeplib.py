"""Shared plumbing for the determinism-sweep runners: the one resumable
per-name loop (`run_checks`), the one local session (`session`), the
oracle-parity check every fixture axis runs (`parity_check`,
`parity_sweep`) and the tree-stamped checkpoints they write.

Every sweep is resumable and skips already-completed names, so after an
engine change certification could print ALL GREEN from results computed
on an OLDER tree. A content hash of the engine-relevant sources is
stamped into each checkpoint at write time; the loader discards a
checkpoint with a different stamp, and certify_round.step_sweeps
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
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

META_KEY = "_meta"  # reserved top-level key inside sweep checkpoints

_HASH_INPUTS = (
    "ndl_core_data_pipeline_spark/**/*.py",
    "__spark_entry__.py",
    "tests/oracle.py",
    # the tooling that decides sweep outcomes: fixture generators and
    # runners. certify_round.py and bench tooling only READ results, so
    # a reporting edit does not invalidate completed sweep work.
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
    """Tree hash of every engine-relevant source file (`_HASH_INPUTS`)."""
    return tree_hash(_HASH_INPUTS)


def tree_hash(patterns) -> str:
    """sha256 over (relative path, content hash) of the files matching
    `patterns`. Content-based, so it is correct on a dirty working tree
    (unlike `git rev-parse HEAD`, which misses uncommitted edits)."""
    h = hashlib.sha256()
    for pattern in patterns:
        for path in sorted(glob.glob(os.path.join(REPO, pattern), recursive=True)):
            rel = os.path.relpath(path, REPO)
            with open(path, "rb") as fh:
                h.update(rel.encode())
                h.update(b"\0")
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def load_results(path: str) -> dict:
    """Load a sweep checkpoint. A checkpoint stamped with a different
    engine tree hash (or none: pre-round-14 format) is DISCARDED
    entirely: its results are evidence about an older tree, not this
    one. The reserved META_KEY never reaches the caller."""
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


def passed(record: dict) -> bool:
    """A checkpoint record passes when its `ok` is true; the oracle
    stability sweep's records say `stable` instead."""
    return bool(record.get("ok", record.get("stable")))


def select(only, names) -> frozenset | None:
    """The `--only` names as a selection, or None when there are none. A
    name that is not in `names` exits before anything is built or
    written: a typo must fail loudly, not re-print a stale checkpoint's
    summary."""
    only = frozenset(n for n in only if n)
    unknown = only - set(names)
    if unknown:
        raise SystemExit(f"--only names not in the registry: {sorted(unknown)}")
    return only or None


def run_checks(
    path: str,
    names,
    check,
    only: frozenset | None = None,
    redo: bool = False,
    outer: str | None = None,
    done=None,
    extra: dict | None = None,
) -> int:
    """The one resumable per-name loop every sweep runner uses.

    Loads the tree-stamped checkpoint at `path` and prunes its entries
    to `names` (queries renamed or removed from the registry drop out);
    with `outer`, the entries live in the nested section
    ``{outer: {name: record}}`` and other sections are left as they
    are. Then runs ``check(name) -> record`` for every name that has no
    record yet (all of them with `redo`, only the `only` selection when
    one is given, always re-run), turns an exception into an
    ``{"ok": False, "error", "trace"}`` record and keeps going, stamps
    each record with its wall `secs`, prints ``[i/n] name: ok|FAIL`` and
    saves after every name. A finished record for which `done(record)`
    is false is run again; `extra` holds top-level entries (an audit
    map) written with every save. Returns the number of failing records
    in the section, selected or not."""
    names = list(names)
    if only is not None:
        select(only, names)
    data = load_results(path)
    res = {n: r for n, r in (data.get(outer, {}) if outer else data).items() if n in names}
    data = {**data, outer: res} if outer else res
    todo = names if only is None else [n for n in names if n in only]
    tag = f"{outer} " if outer else ""
    for i, name in enumerate(todo, 1):
        fresh = name in res and (done is None or done(res[name]))
        if only is None and not redo and fresh:
            continue
        t0 = time.monotonic()
        try:
            record = check(name)
        except Exception as e:
            record = {
                "ok": False,
                "error": f"{type(e).__name__}: {str(e)[:400]}",
                "trace": traceback.format_exc()[-1500:],
            }
        record["secs"] = round(time.monotonic() - t0, 3)
        res[name] = record
        print(f"[{i}/{len(todo)}] {tag}{name}: {'ok' if passed(record) else 'FAIL'}", flush=True)
        save_results(path, {**data, **(extra or {})})
    bad = sorted(n for n, r in res.items() if not passed(r))
    print(
        f"{outer or 'done'}: {len(res) - len(bad)}/{len(res)} ok"
        + (f" FAIL={bad}" if bad else ""),
        flush=True,
    )
    return len(bad)


def session(cores: int, conf: dict | None = None):
    """The sweep runners' local SparkSession: `cores` task slots and as
    many shuffle partitions, no UI, an 8 GB driver, plus `conf` (the
    config sweep's adversarial settings)."""
    from pyspark.sql import SparkSession

    conf = {
        "spark.sql.shuffle.partitions": str(cores),
        "spark.ui.enabled": "false",
        "spark.driver.memory": "8g",
        **(conf or {}),
    }
    return SparkSession.builder.master(f"local[{cores}]").config(map=conf).getOrCreate()


# Queries whose result multiset is too large to driver-collect at
# volumetric scales (sf1+), compared through tests.oracle.checksum_compare
# (per-key count + dual order-insensitive hash sums; nothing collected
# but the digest frames). Value = the digest key columns.
# join_theta_range's band predicate emits O(n²) rows (its collect
# crashed collectToPython at sf1); join_interval_overlap exceeded
# spark.driver.maxResultSize=1g at sf3; join_range_binned has the
# registry's largest output (an 1808 s collect-compare at sf1).
CHECKSUM_QUERIES = {
    "join_theta_range": ["p_partkey"],
    "join_interval_overlap": ["l_orderkey"],
    "join_range_binned": ["user_id"],
}


def parity_check(spark, data_dir: str, checksum: dict | None = None,
                 sql_overrides: dict | None = None):
    """``check(name) -> record`` comparing one registry query on
    `data_dir` with its DuckDB oracle (tests.oracle.run_compare). The
    record says whether an oracle exists (without one, a pass means the
    query ran). ``checksum`` maps query names to digest-key column lists:
    those queries compare via tests.oracle.checksum_compare (aggregate
    digest, nothing driver-collected) instead, and the record carries
    ``checksum_digest`` so certification shows which comparison tier
    ran. ``sql_overrides`` maps names to a harness-only oracle variant
    (e.g. the code-point levenshtein UDF registered by duckdb_conn),
    recorded as ``oracle_override``."""
    import __spark_entry__ as contract

    from tests.oracle import checksum_compare, run_compare

    queries, oracles = contract.queries(), contract.oracle_sql()
    checksum = checksum or {}
    sql_overrides = sql_overrides or {}

    def check(name: str) -> dict:
        tm: dict = {}
        if name in checksum and oracles.get(name) is not None:
            problems = checksum_compare(
                spark, name, queries[name], oracles[name], data_dir,
                key=checksum[name], timings=tm,
            )
            tier = {"checksum_digest": checksum[name]}
        else:
            problems = run_compare(
                spark, name, queries[name],
                sql_overrides.get(name, oracles.get(name)), data_dir, timings=tm,
            )
            tier = {"oracle_override": "harness-udf"} if name in sql_overrides else {}
        record = {"ok": not problems, "problems": problems,
                  "oracle": name in oracles, **tier}
        if tm:
            # engine / oracle / compare seconds, so volumetric runs give
            # a per-query sf-scaling table
            record["secs_split"] = tm
        return record

    return check


def parity_sweep(
    data_dir: str,
    out: str,
    only: frozenset | None = None,
    redo: bool = False,
    checksum: dict | None = None,
    sql_overrides: dict | None = None,
) -> int:
    """Full-registry Spark-vs-DuckDB parity run against `data_dir`,
    checkpointed per query into `out` (tree-stamped, resumable). Every
    fixture axis in sweep.py and the empty-input sweep run through this
    one call; only the fixture and the `parity_check` extras differ.
    Returns the number of failing queries."""
    import __spark_entry__ as contract

    return run_checks(
        out, sorted(contract.queries()),
        parity_check(session(16), data_dir, checksum, sql_overrides),
        only=only, redo=redo,
    )
