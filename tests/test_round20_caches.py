"""r20 pins for the driver-side memo caches (VERDICT r19 item 8 /
ADVICE r19): prior-application entries are evicted, the split cache
keys on the plan shape (a repartitioned df must not inherit a bare
scan's memoized count)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ndl_core_data_pipeline_spark import io as nio
from ndl_core_data_pipeline_spark.operators import _util


def test_scan_cache_evicts_prior_application_entries(spark, sf_small):
    nio._SCAN_CACHE.clear()
    stale = ("app-from-a-previous-session", "/nowhere.parquet", (0, 0))
    nio._SCAN_CACHE[stale] = "stale-plan-object"
    nio.load(spark, sf_small, "events")
    assert stale not in nio._SCAN_CACHE
    assert all(
        k[0] == spark.sparkContext.applicationId for k in nio._SCAN_CACHE
    )


def test_split_cache_evicts_prior_application_entries(spark, sf_small):
    _util._SPLIT_CACHE.clear()
    stale = ("app-from-a-previous-session", "plan", (), 8)
    _util._SPLIT_CACHE[stale] = 1
    docs = nio.load(spark, sf_small, "documents").select("text")
    _util.rebalance_narrow_scan(docs, spark)
    assert stale not in _util._SPLIT_CACHE
    assert all(
        k[0] == spark.sparkContext.applicationId for k in _util._SPLIT_CACHE
    )


def test_split_cache_does_not_mix_plan_shapes(spark, sf_small):
    """ADVICE r19: a repartitioned df over the SAME files must not
    inherit the bare scan's memoized split count (the old file-set key
    would silently skip the rebalance)."""
    _util._SPLIT_CACHE.clear()
    target = spark.sparkContext.defaultParallelism
    docs = nio.load(spark, sf_small, "documents").select("text")
    out1 = _util.rebalance_narrow_scan(docs, spark)
    assert out1.rdd.getNumPartitions() >= min(
        target, max(docs.rdd.getNumPartitions(), 1)
    )
    wide = docs.repartition(target * 2)
    out2 = _util.rebalance_narrow_scan(wide, spark)
    # the wide df is already >= target partitions: must come back
    # unchanged, NOT re-repartitioned off the bare scan's cached count
    assert out2 is wide
    # and the two shapes occupy distinct cache entries
    shapes = {k[1] for k in _util._SPLIT_CACHE}
    assert len(shapes) == 2


def test_union_find_numpy_matches_per_edge_reference():
    """The vectorized min-label propagation must match the classic
    per-edge union-find on random and structured graphs (chains, stars,
    singleton self-loops, duplicate edges, negative ids)."""
    import random

    import numpy as np

    from ndl_core_data_pipeline_spark.operators.dedup import _union_find_labels

    def reference(edge_rows):
        parent = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in edge_rows:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return sorted((n, find(n)) for n in parent)

    rng = random.Random(7)
    cases = [
        [],
        [(5, 5)],
        [(1, 2), (2, 3), (3, 4)],                      # chain
        [(10, k) for k in range(11, 30)],              # star
        [(-3, -9), (-9, 40), (7, 7)],                  # negative ids
        [(1, 2), (1, 2), (2, 1)],                      # duplicates
        [(k, k + 1) for k in range(0, 2000)],          # long path (doubling)
        [(rng.randrange(500), rng.randrange(500)) for _ in range(3000)],
        [(rng.randrange(10**12), rng.randrange(10**12)) for _ in range(2000)],
    ]
    for edges in cases:
        a = np.array([e[0] for e in edges], dtype=np.int64)
        b = np.array([e[1] for e in edges], dtype=np.int64)
        nodes, labels = _union_find_labels(a, b)
        got = list(zip(nodes.tolist(), labels.tolist()))
        assert got == reference(edges), edges[:5]
