"""Regression tests for io.load: events ts handling and the scan cache.

events.parquet stores ts as TIMESTAMP(NANOS). Depending on the Spark
version / conf state the column arrives either as BIGINT nanoseconds
(spark.sql.legacy.parquet.nanosAsLong honored) or as TIMESTAMP_NTZ
(Spark 4.1+ ignores the runtime conf). This bug burned rounds 3-4:
io.load must handle BOTH arrival dtypes and produce identical UTC
TIMESTAMP values matching DuckDB's ns->us truncation of the same file.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ndl_core_data_pipeline_spark import io as nio
from ndl_core_data_pipeline_spark.io import load

# nanosecond-precision instants whose sub-microsecond tail exercises the
# ns->us truncation (DuckDB and Spark both truncate toward zero here)
_NS_VALUES = [
    1704067200_123456789,  # 2024-01-01T00:00:00.123456789
    1704067260_000000999,  # tail < 1 us: truncates to .000000
    1704070000_999999000,  # exactly representable in us
]
_EXPECTED_US = [v // 1000 for v in _NS_VALUES]


def _expected_datetimes():
    epoch = datetime.datetime(1970, 1, 1)
    return [epoch + datetime.timedelta(microseconds=us) for us in _EXPECTED_US]


def _write_events(dirpath: str, ts_array: pa.Array) -> str:
    n = len(ts_array)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["view"] * n, pa.string()),
            "value": pa.array([1.5] * n, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    os.makedirs(dirpath, exist_ok=True)
    pq.write_table(table, os.path.join(dirpath, "events.parquet"))
    return dirpath


@pytest.fixture(scope="module")
def nanos_dir(tmp_path_factory):
    """events.parquet with ts as parquet TIMESTAMP(NANOS) (pyarrow ts[ns])."""
    d = tmp_path_factory.mktemp("events_nanos")
    arr = pa.array(_NS_VALUES, pa.int64()).cast(pa.timestamp("ns"))
    return _write_events(str(d), arr)


@pytest.fixture(scope="module")
def bigint_dir(tmp_path_factory):
    """events.parquet with ts already a BIGINT of epoch-nanoseconds."""
    d = tmp_path_factory.mktemp("events_bigint")
    arr = pa.array(_NS_VALUES, pa.int64())
    return _write_events(str(d), arr)


def _loaded_values(spark, sf_dir):
    df = load(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    rows = df.orderBy("event_id").select("ts").collect()
    return [r["ts"] for r in rows]


def test_load_nanos_timestamp_column(spark, nanos_dir):
    assert _loaded_values(spark, nanos_dir) == _expected_datetimes()


def test_load_bigint_nanos_column(spark, bigint_dir):
    assert _loaded_values(spark, bigint_dir) == _expected_datetimes()


def test_both_paths_agree_with_duckdb(spark, nanos_dir):
    duckdb = pytest.importorskip("duckdb")
    oracle = duckdb.sql(
        f"SELECT ts FROM '{nanos_dir}/events.parquet' ORDER BY 1"
    ).fetchall()
    assert [r[0] for r in oracle] == _loaded_values(spark, nanos_dir)


def test_real_testdata_loads(spark, sf_small):
    df = load(spark, sf_small, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.limit(5).count() == 5


def test_scan_cache_evicts_prior_application_entries(spark, sf_small):
    nio._SCAN_CACHE.clear()
    stale = ("app-from-a-previous-session", "/nowhere.parquet", (0, 0))
    nio._SCAN_CACHE[stale] = "stale-plan-object"
    nio.load(spark, sf_small, "events")
    assert stale not in nio._SCAN_CACHE
    assert all(
        k[0] == spark.sparkContext.applicationId for k in nio._SCAN_CACHE
    )


def test_scan_cache_keeps_one_entry_per_path(spark, tmp_path):
    """A fixture rewritten within one application replaces its cached
    scan instead of adding a second entry beside the stale plan."""
    path = str(tmp_path / "nation.parquet")
    pq.write_table(pa.table({"n_nationkey": [0]}), path)
    nio.load(spark, str(tmp_path), "nation")
    pq.write_table(pa.table({"n_nationkey": [0, 1, 2]}), path)
    assert nio.load(spark, str(tmp_path), "nation").count() == 3
    assert [k[1] for k in nio._SCAN_CACHE].count(path) == 1
