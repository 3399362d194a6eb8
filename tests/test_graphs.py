"""Tests for operators/graphs.py: degree-oriented triangle counting
against the naive wedge join, tree depth, and the fuzzy-name and
PageRank oracle forms."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ndl_core_data_pipeline_spark.operators import graphs

from .reference_forms import triangle_count_naive


def _counts(df):
    row = df.collect()[0]
    return row["n_edges"], row["n_triangles"]


def test_oriented_equals_naive_on_testdata(spark, sf_small):
    e = graphs._affinity_edges(spark, sf_small)
    assert _counts(graphs._triangle_count_from_edges(e)) == _counts(
        triangle_count_naive(e)
    )


def test_oriented_triangles_on_skewed_star(spark):
    """A hub star — the shape where naive wedge joins blow up to degree²
    rows on one key — plus known triangles. Hub 0 connects to 1..40;
    triangles are exactly the closed fans (0,1,2), (0,3,4) and the
    hub-free (100,101,102)."""
    edges = (
        [(0, k) for k in range(1, 41)]
        + [(1, 2), (3, 4)]
        + [(100, 101), (100, 102), (101, 102)]
    )
    e = spark.createDataFrame(edges, "part_a bigint, part_b bigint")
    n_edges, n_tri = _counts(graphs._triangle_count_from_edges(e))
    assert n_edges == 45
    assert n_tri == 3
    assert _counts(triangle_count_naive(e)) == (45, 3)


def test_oriented_handles_rank_ties(spark):
    """All-equal degrees (a 4-cycle plus one chord = two triangles) force
    the (degree, id) tie-break path."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)],
        "part_a bigint, part_b bigint",
    )
    assert _counts(graphs._triangle_count_from_edges(e)) == (5, 2)


def test_oriented_wedge_groups_by_low_rank_source(spark):
    """Structural pin: after orientation every out-edge of the hub points
    AWAY from it only toward higher-rank vertices, so the hub (highest
    degree) has out-degree 0 — the property that bounds wedge work."""
    edges = [(0, k) for k in range(1, 21)] + [(1, 2)]
    e = spark.createDataFrame(edges, "part_a bigint, part_b bigint")
    deg = (
        e.select(F.col("part_a").alias("v"))
        .unionAll(e.select(F.col("part_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    hub = deg.orderBy(F.desc("deg")).first()["v"]
    assert hub == 0
    # reproduce the orientation step and check hub out-degree
    ranked = (
        e.join(deg.withColumnRenamed("v", "part_a"), "part_a")
        .withColumnRenamed("deg", "deg_a")
        .join(
            deg.withColumnRenamed("v", "part_b").withColumnRenamed(
                "deg", "deg_b"
            ),
            "part_b",
        )
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("part_a") < F.col("part_b"))
    )
    src = F.when(a_first, F.col("part_a")).otherwise(F.col("part_b"))
    out_deg_hub = ranked.filter(src == hub).count()
    assert out_deg_hub == 0


def test_tree_depth_closed_form_sparse_keys(spark, sf_small, tmp_path):
    """Round-6 ADVICE: the old doubling join dropped nodes whose heap
    ancestors were filtered out of part. The closed form is per-row
    arithmetic — a sparse part table keeps every node, with depths
    matching the recursive definition."""
    from ndl_core_data_pipeline_spark.io import load

    sparse_dir = tmp_path / "sparse"
    sparse_dir.mkdir()
    # keep only odd keys: parents (even keys) are absent from the table
    load(spark, sf_small, "part").filter(
        F.col("p_partkey") % 2 == 1
    ).write.parquet(str(sparse_dir / "part.parquet"))
    out = {
        r["p_partkey"]: (r["depth"], r["top_branch"])
        for r in graphs.graph_tree_depth_root(spark, str(sparse_dir)).collect()
    }
    expected_nodes = {
        r["p_partkey"]
        for r in load(spark, str(sparse_dir), "part").collect()
    }
    assert set(out) == expected_nodes  # nothing silently dropped

    def ref(k):
        d, br = 0, 0
        while k > 0:
            br = k if k in (1, 2) else br
            k = (k - 1) // 2
            d += 1
        return d, br

    for k, got in out.items():
        assert got == ref(k), f"node {k}: {got} != {ref(k)}"


def test_tree_depth_over_edges_sparse_ids(spark):
    """General pointer doubling over an explicit parent table with
    non-contiguous ids and two roots."""
    edges = spark.createDataFrame(
        [
            (10, 10),  # root A
            (20, 10),
            (30, 20),
            (99, 30),
            (500, 10),
            (7000, 7000),  # root B
            (8000, 7000),
        ],
        "node bigint, parent bigint",
    )
    got = {
        r["node"]: (r["root"], r["depth"])
        for r in graphs.tree_depth_over_edges(edges, rounds=3).collect()
    }
    assert got == {
        10: (10, 0),
        20: (10, 1),
        30: (10, 2),
        99: (10, 3),
        500: (10, 1),
        7000: (7000, 0),
        8000: (7000, 1),
    }


def test_fuzzy_codepoint_rewrite_is_word_bounded():
    from ndl_core_data_pipeline_spark.operators import graphs

    assert "lev_cp(" in graphs.FUZZY_SQL_CODEPOINT
    assert not re.search(r"\blevenshtein\(", graphs.FUZZY_SQL_CODEPOINT)
    # the regex leaves other *_levenshtein identifiers alone where the
    # old substring replace would have minted damerau_lev_cp(
    assert (
        re.sub(r"\blevenshtein\(", "lev_cp(", "damerau_levenshtein(a, b)")
        == "damerau_levenshtein(a, b)"
    )


def test_pagerank_oracle_materializes_reused_ctes():
    from ndl_core_data_pipeline_spark.operators.graphs import _pagerank_sql

    sql = _pagerank_sql()
    # every multiply-referenced CTE is pinned MATERIALIZED so DuckDB
    # cannot re-run the items self-join per power iteration (the sf3
    # 79 GB oracle spill, PARITY_SF3_r18 residual)
    for cte in ("items", "edges", "sym", "deg", "nv"):
        assert f"{cte} AS MATERIALIZED (" in sql


def test_codepoint_levenshtein_matches_spark(spark):
    """The harness UDF must mirror Spark's F.levenshtein exactly on the
    multibyte cases where DuckDB's native byte-based levenshtein
    diverges (probed 1.0.0: 'ab'/'aنb'=2, '你好'/'你'=3, '😀'/'x'=4) —
    the basis for lifting the join_fuzzy_name_pairs ascii-subset
    exemption (round-18 item 7)."""
    from tests.oracle import codepoint_levenshtein, duckdb_conn

    cases = [
        ("ab", "aنb"), ("café", "cafe"), ("你好", "你"), ("naïve", "naive"),
        ("é", "e"), ("😀", "x"), ("", "abc"), ("kettle", "kettle"),
        ("Ω大x", "Ω大"), ("aΩb", "ab"),
    ]
    df = spark.createDataFrame(cases, "a string, b string")
    got = [
        r[0]
        for r in df.select(F.levenshtein("a", "b")).collect()
    ]
    assert got == [codepoint_levenshtein(a, b) for a, b in cases]
    # and the registered DuckDB UDF agrees (plus NULL -> NULL passthrough)
    con = duckdb_conn("/root/testdata/sf0.001")
    try:
        for (a, b), want in zip(cases, got):
            assert con.execute("SELECT lev_cp(?, ?)", [a, b]).fetchone()[0] == want
        assert con.execute("SELECT lev_cp(NULL, 'x')").fetchone()[0] is None
        # DuckDB's native function is still byte-based: the day this
        # changes, the override can be retired
        assert con.execute("SELECT levenshtein('ab','aنb')").fetchone()[0] == 2
    finally:
        con.close()
