"""Testdata table loaders (TESTDATA.md layout: one parquet per table)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_session_defaults(spark: SparkSession) -> None:
    """Runtime-settable confs the engine's semantics depend on, applied even
    when the caller (e.g. the verify driver) built its own session: UTC
    timestamps for deterministic rendering/hashing, non-ANSI eval so failed
    parses yield NULL (the reference's permissive coercion semantics)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # with ANSI off, size()/cardinality() of NULL defaults to the legacy
    # -1 sentinel; the engine's semantics are NULL-in-NULL-out (matching
    # every oracle's len(NULL) = NULL — on dirty data the -1 leaks into
    # word counts and quality scores as a real-looking value)
    spark.conf.set("spark.sql.legacy.sizeOfNull", "false")
    # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized reader
    # rejects; read as long and truncate to micros (matching DuckDB, which
    # truncates ns→µs when reading the same file)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


# (appId, path, file signature) -> DataFrame. A DataFrame is an immutable
# plan object; reusing it skips the per-call file listing + footer schema
# read (measured 0.10-0.15 s of DRIVER time per spark.read.parquet — q5
# loads six tables, so 0.6 s of its bench seconds was re-listing the same
# static files; guide §7.3 driver-side cost). No DATA is cached: every
# execution of the returned plan still scans parquet. The signature
# (mtime_ns, size) invalidates the entry if a SINGLE-FILE fixture is
# rewritten in-place within one session (every repo fixture is one
# .parquet file); for a directory-style table, rewriting a part file in
# place would NOT bump the directory stat — callers that mutate a
# directory dataset mid-session must use a new path. On insert, entries
# from prior Spark applications and entries for the same path under an
# older signature are evicted, so the cache keeps one plan per live path
# (it would otherwise grow without bound in a long-lived driver).
_SCAN_CACHE: dict = {}


def _scan_sig(path: str):
    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan (reference S1: pq.read_table / pd.read_parquet,
    assets/processing/assets.py:409). Catalyst handles predicate pushdown
    and column pruning on top of this scan."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_session_defaults(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = (spark.sparkContext.applicationId, path, _scan_sig(path))
    cached = _SCAN_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(path)
    if name == "events":
        from pyspark.sql import functions as F

        # events.parquet stores ts as TIMESTAMP(NANOS). How it arrives depends
        # on the Spark version: with spark.sql.legacy.parquet.nanosAsLong in
        # effect it reads as BIGINT nanoseconds; Spark 4.1+ ignores that
        # runtime conf and reads it as TIMESTAMP_NTZ, already truncated to
        # micros. Branch on the actual dtype so both paths yield a session-TZ
        # (UTC) TIMESTAMP matching DuckDB's ns->us truncation of the same file.
        dtype = dict(df.dtypes)["ts"]
        if dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dtype != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    app_id = key[0]
    for k in [k for k in _SCAN_CACHE if k[0] != app_id or k[1] == path]:
        del _SCAN_CACHE[k]
    _SCAN_CACHE[key] = df
    return df
