"""Warehouse-family unit tests: Misra-Gries candidate guarantee, Morton
spread correctness, bloom no-false-negatives, SCD2 interval invariants.

The oracle-parity sweep (tests/test_oracle_parity.py) certifies end-to-end
values; these pin the algorithmic guarantees the oracles can't see — the
candidate-superset property that makes the heavy-hitter result exact, the
bit-level Morton identity the z-order key relies on, and the structural
invariants of the SCD2 history build.
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ndl_core_data_pipeline_spark.operators import warehouse as wh


# ---------------------------------------------------------------------------
# Misra-Gries candidates


def _run_mg(partitions):
    """Feed token lists through _mg_candidates as one partition per list,
    batching each partition into chunks of 3 docs; return candidate set."""
    out = set()
    for docs in partitions:
        batches = [
            pd.DataFrame({"text": docs[i : i + 3]}) for i in range(0, len(docs), 3)
        ]
        for pdf in wh._mg_candidates(iter(batches)):
            out.update(pdf["token"])
    return out


def _true_heavy(partitions):
    toks = [t for docs in partitions for d in docs for t in d.lower().split()]
    n = len(toks)
    counts: dict[str, int] = {}
    for t in toks:
        counts[t] = counts.get(t, 0) + 1
    thresh_mult = wh._MG_CAPACITY + 1
    return {t for t, c in counts.items() if c * thresh_mult > n}, counts, n


@given(st.integers(0, 2**32 - 1))
@settings(max_examples=30, deadline=None)
def test_mg_candidates_contain_all_heavy_hitters(seed):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(300)]
    # skewed stream: a few tokens get boosted far above N/(C+1)
    heavy = rng.sample(vocab, rng.randint(0, 4))
    docs = []
    for _ in range(rng.randint(5, 40)):
        words = rng.choices(vocab, k=rng.randint(0, 30))
        words += rng.choices(heavy, k=rng.randint(0, 25)) if heavy else []
        docs.append(" ".join(words))
    n_parts = rng.randint(1, 6)
    partitions = [docs[i::n_parts] for i in range(n_parts)]
    cand = _run_mg(partitions)
    true_hh, _, _ = _true_heavy(partitions)
    missed = true_hh - cand
    assert not missed, f"MG summaries missed heavy hitters: {missed}"


def test_mg_summary_is_bounded():
    docs = [" ".join(f"u{i}_{j}" for j in range(50)) for i in range(40)]
    frames = list(
        wh._mg_candidates(iter([pd.DataFrame({"text": docs})]))
    )
    assert len(frames) == 1
    assert len(frames[0]) <= wh._MG_CAPACITY


# ---------------------------------------------------------------------------
# Morton / Z-order bit identity


def _spread16_py(x: int) -> int:
    out = 0
    for i in range(16):
        out |= ((x >> i) & 1) << (2 * i)
    return out


@given(st.integers(0, 65535), st.integers(0, 65535))
@settings(max_examples=60, deadline=None)
def test_spread16_sql_matches_reference(a, b):
    con = duckdb.connect()
    got_a, got_b = con.sql(
        f"SELECT {wh._spread16_sql(str(a))}, {wh._spread16_sql(str(b))}"
    ).fetchone()
    assert got_a == _spread16_py(a)
    assert got_b == _spread16_py(b)
    # interleave is injective: distinct pairs -> distinct z
    z_ab = got_a | (got_b << 1)
    assert (z_ab & 0x55555555) == got_a
    assert ((z_ab >> 1) & 0x55555555) == got_b


# ---------------------------------------------------------------------------
# Bloom probe: no false negatives (Spark-side)


def test_bloom_probe_no_false_negatives(spark, sf_small):
    """Every true build-side supplier key must survive the bitmap probe:
    compare bloom-pruned group keys to the plain semi-join's group keys."""
    from pyspark.sql import functions as F

    from ndl_core_data_pipeline_spark.io import load

    got = {
        r["l_suppkey"]
        for r in wh.join_bloom_pruned(spark, sf_small).select("l_suppkey").collect()
    }
    nat = load(spark, sf_small, "nation").filter(
        F.col("n_name") == wh._BLOOM_NATION
    )
    supp = load(spark, sf_small, "supplier").join(
        nat, F.col("s_nationkey") == F.col("n_nationkey")
    )
    expected = {
        r["l_suppkey"]
        for r in load(spark, sf_small, "lineitem")
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .select("l_suppkey")
        .distinct()
        .collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# SCD2 invariants


def test_scd2_intervals_invariants(spark, sf_small):
    pdf = wh.scd2_intervals(spark, sf_small).toPandas()
    assert (pdf.groupby("user_id")["is_current"].sum() == 1).all()
    for _, grp in pdf.groupby("user_id"):
        g = grp.sort_values("valid_from").reset_index(drop=True)
        # intervals chain: each valid_to equals the next valid_from
        assert (
            g["valid_to"].iloc[:-1].values == g["valid_from"].iloc[1:].values
        ).all()
        assert pd.isna(g["valid_to"].iloc[-1])
        # consecutive states differ (runs were collapsed)
        states = g["state"].tolist()
        assert all(a != b for a, b in zip(states, states[1:]))


def test_zonemap_rows_partition_the_table(spark, sf_small):
    from ndl_core_data_pipeline_spark.io import load

    stats = wh.layout_zonemap_stats(spark, sf_small).toPandas()
    total = load(spark, sf_small, "part").count()
    assert stats["n_rows"].sum() == total
    assert (stats["min_size"] <= stats["max_size"]).all()


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


# ---------------------------------------------------------------------------
# Graph family (operators/graphs.py)


def test_tree_depth_matches_python_walk(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators import graphs

    pdf = graphs.graph_tree_depth_root(spark, sf_small).toPandas()

    def walk(k):
        depth, br = 0, 0
        while k > 0:
            if k in (1, 2):
                br = k
            k = (k - 1) // 2
            depth += 1
        return depth, br

    for row in pdf.itertuples():
        d, br = walk(row.p_partkey)
        assert (row.depth, row.top_branch) == (d, br), row


def test_fuzzy_pairs_are_exact_within_blocks(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators import graphs
    from ndl_core_data_pipeline_spark.io import load

    pdf = graphs.join_fuzzy_name_pairs(spark, sf_small).toPandas()
    names = [r["p_name"] for r in load(spark, sf_small, "part").select("p_name").distinct().collect()]

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    expected = {
        (a, b)
        for a in names
        for b in names
        if a < b and a.split()[-1] == b.split()[-1] and lev(a, b) <= graphs._FUZZY_MAX_DIST
    }
    got = {(r.name_a, r.name_b) for r in pdf.itertuples()}
    assert got == expected
    for r in pdf.itertuples():
        assert r.dist == lev(r.name_a, r.name_b)


# ---------------------------------------------------------------------------
# k-means (operators/vector.py round6b)


def test_kmeans_moves_centroids_and_reduces_inertia(spark, sf_small):
    import numpy as np

    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators import vector as vec

    out = vec.kmeans_centroids(spark, sf_small).toPandas()
    k = out["cell_id"].nunique()
    assert k <= vec.KMEANS_K
    assert len(out) == k * 64  # one row per (cell, dim)

    emb = load(spark, sf_small, "embeddings").toPandas()
    X = np.array([np.array(v, dtype="float64") for v in emb["embedding"]])
    init = X[emb["vec_id"] < vec.KMEANS_K]
    cents = (
        out.sort_values(["cell_id", "pos"])
        .groupby("cell_id")["centroid_val"]
        .apply(lambda s: np.array(s.tolist()))
    )
    C = np.stack(cents.values)

    def inertia(C_):
        d = ((X[:, None, :] - C_[None, :, :]) ** 2).sum(axis=2)
        return d.min(axis=1).sum()

    assert inertia(C) <= inertia(init) + 1e-9  # Lloyd never increases inertia


def test_mg_tokenizer_matches_java_ascii_whitespace():
    # Java's split('\\s+') does not break on NBSP — the candidate
    # generator must not either, or a true heavy hitter containing
    # exotic whitespace could be missed (superset guarantee violated)
    token = "big" + chr(0xA0) + "token"  # NBSP joint, explicit
    docs = pd.DataFrame({"text": [(token + " ") * 50, token + " other words"]})
    out = set()
    for f in wh._mg_candidates(iter([docs])):
        out.update(f["token"])
    assert token in out
    assert "big" not in out and "token" not in out


def test_zordered_write_prunes_better_than_single_dim_sort(spark, tmp_path):
    """Executable evidence for the z-order layout: write part 16-ways (a)
    z-ordered on (p_size, price_bucket) and (b) sorted by p_partkey
    (uncorrelated with both dims), then count how many files a
    two-dimensional predicate's zone maps would have to read. The
    z-ordered layout must touch strictly fewer files. Uses the sf0.01
    table (2000 rows): file-level stats need enough rows per file for
    zone maps to mean anything."""
    sf_small = "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.warehouse import _ZBUCKET, _ZVALUE
    from ndl_core_data_pipeline_spark.sinks import file_zone_maps, write_zordered

    part = load(spark, sf_small, "part").select(
        "p_partkey", "p_size", F.expr(_ZBUCKET).alias("bucket"), "p_retailprice"
    )
    zpath, kpath = str(tmp_path / "zorder"), str(tmp_path / "bykey")
    write_zordered(part, zpath, F.expr(_ZVALUE), 16)
    (
        part.repartitionByRange(16, "p_partkey")
        .sortWithinPartitions("p_partkey")
        .write.mode("overwrite")
        .parquet(kpath)
    )

    def files_touched(path):
        zm = file_zone_maps(spark, path, ["p_size", "bucket"]).collect()
        assert len(zm) == 16
        # predicate: p_size BETWEEN 10 AND 12 AND bucket BETWEEN 100 AND 200
        return sum(
            1
            for r in zm
            if r["min_p_size"] <= 12
            and r["max_p_size"] >= 10
            and r["min_bucket"] <= 200
            and r["max_bucket"] >= 100
        )

    z_touch, k_touch = files_touched(zpath), files_touched(kpath)
    assert z_touch < k_touch, (z_touch, k_touch)


def test_pit_join_exactly_one_state_per_purchase(spark, sf_small):
    """Intervals partition each user's timeline from their first event, so
    every purchase matches exactly one dimension row."""
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.warehouse import (
        join_point_in_time_scd2,
    )

    out = join_point_in_time_scd2(spark, sf_small).collect()
    n_purchases = (
        load(spark, sf_small, "events").filter("event_type = 'purchase'").count()
    )
    assert len(out) == n_purchases
    assert len({r["event_id"] for r in out}) == n_purchases
    for r in out:
        assert r["valid_from"] <= r["ts"]


def test_winsorize_clamps_to_fences(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.warehouse import feature_winsorize

    rows = feature_winsorize(spark, sf_small).collect()
    assert rows
    by_flag = {}
    for r in rows:
        by_flag.setdefault(r["l_returnflag"], []).append(r)
    for flag, rs in by_flag.items():
        clipped = [r for r in rs if r["was_clipped"]]
        kept = [r for r in rs if not r["was_clipped"]]
        assert clipped and kept
        for r in kept:
            assert r["price_w"] == r["price"]
        lo = min(r["price_w"] for r in rs)
        hi = max(r["price_w"] for r in rs)
        for r in clipped:
            assert r["price_w"] in (lo, hi)
            assert r["price"] < lo or r["price"] > hi


def test_profile_columns_nulls_and_entropy_exact(spark):
    """Pin the melted profile shape against hand-computed truth on a
    frame WITH nulls (the registered orders profile has none, so the
    null-count path was previously untested): null cells count into
    n_rows and n_null, stay out of n_distinct, and contribute no
    entropy term — entropy is over the full-row distribution including
    the null bucket's complement, i.e. -(c/N)ln(c/N) summed over
    non-null values only."""
    import math

    import pytest
    from pyspark.sql import functions as F

    from ndl_core_data_pipeline_spark.operators.warehouse import profile_columns

    df = spark.createDataFrame(
        [("a", None), ("a", "x"), ("b", "x"), (None, "x"), (None, None)],
        "c1 string, c2 string",
    )
    got = {
        r["column_name"]: r
        for r in profile_columns(
            df, {"c1": F.col("c1"), "c2": F.col("c2")}
        ).collect()
    }

    def entropy(counts, n):
        return sum(-(c / n) * math.log(c / n) for c in counts)

    assert (got["c1"]["n_rows"], got["c1"]["n_null"], got["c1"]["n_distinct"]) == (5, 2, 2)
    assert got["c1"]["entropy_nats"] == pytest.approx(entropy([2, 1], 5), abs=1e-6)
    assert (got["c2"]["n_rows"], got["c2"]["n_null"], got["c2"]["n_distinct"]) == (5, 2, 1)
    assert got["c2"]["entropy_nats"] == pytest.approx(entropy([3], 5), abs=1e-6)

    # an EMPTY input still profiles to one all-zero row per column (the
    # melt produces no rows; the literal column-name anchor fills them in)
    empty = spark.createDataFrame([], "c1 string, c2 string")
    rows = profile_columns(empty, {"c1": F.col("c1"), "c2": F.col("c2")}).collect()
    assert [tuple(r) for r in rows] == [("c1", 0, 0, 0, 0.0), ("c2", 0, 0, 0, 0.0)]


def test_profile_entropy_bounded_by_log_ndv(spark, sf_small):
    import math

    from ndl_core_data_pipeline_spark.operators.warehouse import profile_table_stats

    rows = profile_table_stats(spark, sf_small).collect()
    assert {r["column_name"] for r in rows} == {
        "o_orderstatus", "o_orderpriority", "o_custkey", "order_dow",
    }
    for r in rows:
        assert r["n_null"] == 0
        assert 0.0 <= r["entropy_nats"] <= math.log(r["n_distinct"]) + 1e-6


def test_diff_snapshots_tags_all_ops(spark):
    from ndl_core_data_pipeline_spark.operators.warehouse import diff_snapshots

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "k bigint, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k bigint, s string, v double",
    )
    got = {
        r["k"]: (r["op"], sorted(r["changed_cols"]))
        for r in diff_snapshots(old, new, "k", ["s", "v"]).collect()
    }
    assert got == {
        1: ("removed", []),
        2: ("unchanged", []),
        3: ("changed", ["v"]),  # NULL -> 30.0 counts as a change
        4: ("added", []),
    }


def test_diff_snapshots_null_key_and_dotted_columns(spark):
    """Review findings: NULL-keyed rows must tag by PRESENCE (a NULL key
    never matches across sides, so an old-only NULL row is 'removed',
    not 'added'), and dotted column names must resolve literally."""
    from ndl_core_data_pipeline_spark.operators.warehouse import diff_snapshots

    old = spark.createDataFrame(
        [(None, "gone")], "k string, s string"
    )
    new = spark.createDataFrame(
        [(None, "fresh")], "k string, s string"
    )
    got = sorted(
        (r["op"],) for r in diff_snapshots(old, new, "k", ["s"]).collect()
    )
    assert got == [("added",), ("removed",)]

    old2 = spark.createDataFrame([(1, 5.0)]).toDF("the.key", "a.b")
    new2 = spark.createDataFrame([(1, 6.0)]).toDF("the.key", "a.b")
    out = diff_snapshots(old2, new2, "the.key", ["a.b"]).collect()
    assert len(out) == 1
    assert out[0]["op"] == "changed" and out[0]["changed_cols"] == ["a.b"]
