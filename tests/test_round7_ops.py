"""Round-7 operator tests: degree-oriented triangle counting."""

from __future__ import annotations

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


def test_mad_approx_tier_matches_exact_fences(spark, sf_small):
    """The approx scale tier's per-group med/MAD fences agree with the
    exact form within the sketch's rank-error budget at test scale (a
    GK sketch with acc=10k on a few thousand rows is near-exact)."""
    from ndl_core_data_pipeline_spark.operators import filters

    exact = {
        r["event_type"]: (r["med"], r["mad"])
        for r in filters.mad_outliers(spark, sf_small)
        .select("event_type", "med", "mad")
        .distinct()
        .collect()
    }
    approx = {
        r["event_type"]: (r["med"], r["mad"])
        for r in filters.mad_outliers_approx(spark, sf_small)
        .select("event_type", "med", "mad")
        .distinct()
        .collect()
    }
    assert set(approx) == set(exact)
    for et, (med_a, mad_a) in approx.items():
        med_e, mad_e = exact[et]
        assert abs(med_a - med_e) <= 0.05 * max(abs(med_e), 1.0)
        assert abs(mad_a - mad_e) <= 0.05 * max(abs(mad_e), 1.0)


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


# ---------------------------------------------------------------------------
# Round-7 operator batch: property tests beyond oracle parity


def test_hll_estimate_accuracy(spark, sf_small):
    """256 registers → ~6.5% standard error; assert a loose 25% bound
    per group so the test pins correctness, not luck."""
    from ndl_core_data_pipeline_spark.operators.sketches import hll_distinct

    for r in hll_distinct(spark, sf_small).collect():
        assert r["n_exact"] > 0
        rel = abs(r["hll_estimate"] - r["n_exact"]) / r["n_exact"]
        assert rel < 0.25, f"{r['event_type']}: {r['hll_estimate']} vs {r['n_exact']}"


def test_countmin_never_underestimates(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.sketches import countmin_estimates

    rows = countmin_estimates(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["n_est"] >= r["n_exact"]


def test_jaccard_prefix_join_is_complete(spark, sf_small):
    """The prefix filter must not MISS pairs: compare against a
    brute-force exact Jaccard join over the (small) distinct-name set."""
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.dedup import (
        JACC_TAU_DEN,
        JACC_TAU_NUM,
        jaccard_prefix_join,
    )

    got = {
        (r["name_a"], r["name_b"]): (r["n_common"], r["n_union"])
        for r in jaccard_prefix_join(spark, sf_small).collect()
    }
    names = sorted(
        r["p_name"]
        for r in load(spark, sf_small, "part").select("p_name").distinct().collect()
    )
    expect = {}
    sets = {n: frozenset(t for t in n.split(" ") if t) for n in names}
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            if inter * JACC_TAU_DEN >= uni * JACC_TAU_NUM:
                expect[(a, b)] = (inter, uni)
    assert got == expect


def test_pareto_front_matches_bruteforce(spark, sf_small):
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.sorts import pareto_front

    got = {
        r["o_orderkey"] for r in pareto_front(spark, sf_small).collect()
    }
    rows = [
        (r["o_orderkey"], r["o_orderdate"], r["o_totalprice"])
        for r in load(spark, sf_small, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .collect()
    ]
    expect = set()
    for k, d, p in rows:
        dominated = any(
            (d2 <= d and p2 <= p and (d2 < d or p2 < p))
            for _, d2, p2 in rows
        )
        if not dominated:
            expect.add(k)
    assert got == expect


def test_interval_overlap_matches_bruteforce(spark, sf_small):
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.joins import (
        OVERLAP_WINDOW_DAYS,
        interval_overlap_join,
    )

    got = {
        (r["l_orderkey"], r["l_linenumber"], r["o_orderkey"]): r["overlap_days"]
        for r in interval_overlap_join(spark, sf_small).collect()
    }
    li = [
        (r["l_orderkey"], r["l_linenumber"], r["l_shipdate"].date())
        for r in load(spark, sf_small, "lineitem")
        .filter("l_orderkey % 97 = 0")
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .collect()
    ]
    orders = [
        (r["o_orderkey"], r["o_orderdate"].date())
        for r in load(spark, sf_small, "orders")
        .filter("o_orderkey % 89 = 0")
        .select("o_orderkey", "o_orderdate")
        .collect()
    ]
    import datetime

    expect = {}
    for lk, ln, ship in li:
        a_s, a_e = ship, ship + datetime.timedelta(days=7 + ln % 14)
        for ok, od in orders:
            b_s, b_e = od, od + datetime.timedelta(days=OVERLAP_WINDOW_DAYS)
            if a_s <= b_e and b_s <= a_e:
                expect[(lk, ln, ok)] = (min(a_e, b_e) - max(a_s, b_s)).days + 1
    assert got == expect


def test_pmi_pairs_respect_support_floor(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.textops import (
        PMI_MIN_COOC,
        cooccur_pmi,
    )

    rows = cooccur_pmi(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["n_ab"] >= PMI_MIN_COOC
        assert r["term_a"] < r["term_b"]


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


def test_bottomk_quantile_estimates_are_close(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.sketches import (
        bottomk_sample_quantiles,
    )

    rows = bottomk_sample_quantiles(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["n_sample"] <= 256
        for p in ("p50", "p95"):
            exact, est = r[f"{p}_exact"], r[f"{p}_est"]
            assert abs(est - exact) / exact < 0.30, (r["o_orderpriority"], p)


def test_debounce_bursts_partition_events(spark, sf_small):
    """Burst sizes add back to the per-(user, type) event counts, and
    bursts are separated by > 60 s."""
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.eventwindows import events_debounce

    bursts = events_debounce(spark, sf_small).collect()
    per_key = {}
    for r in bursts:
        per_key.setdefault((r["user_id"], r["event_type"]), []).append(r)
    ev_counts = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in load(spark, sf_small, "events")
        .groupBy("user_id", "event_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert {k: sum(b["burst_n"] for b in v) for k, v in per_key.items()} == ev_counts
    for v in per_key.values():
        starts = sorted(b["burst_start"] for b in v)
        for a, b in zip(starts, starts[1:]):
            assert (b - a).total_seconds() > 60


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


def test_tfidf_pairs_cosine_bounds(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.textops import (
        PAIR_MIN_COS,
        tfidf_doc_pairs,
    )

    rows = tfidf_doc_pairs(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert PAIR_MIN_COS <= r["cos_sim"] <= 1.0 + 1e-9


def test_trend_first_week_has_no_wow(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.aggregates import trend_weekly_growth

    rows = sorted(
        trend_weekly_growth(spark, sf_small).collect(), key=lambda r: r["week"]
    )
    assert rows[0]["wow_pct"] is None
    assert abs(rows[0]["ma4_revenue"] - rows[0]["revenue"]) < 1e-6
    for a, b in zip(rows, rows[1:]):
        assert (b["week"] - a["week"]).days % 7 == 0


def test_round6_det_half_boundary_cross_engine(spark):
    """Pins the rounding class found via the IVF-PQ residual codebook:
    for a double whose shortest decimal repr ends in ...5 at the 7th
    place, Spark's ROUND (HALF_UP on the shortest repr) and arithmetic
    floor-rounding disagree — so ROUND(double, 6) is not a cross-engine-
    stable projection, and round6_det (floor(x*1e6+0.5)/1e6, pure IEEE
    ops) is the deliberate idiom: it yields the identical double in
    Spark and DuckDB."""
    import duckdb

    from pyspark.sql import functions as F

    from ndl_core_data_pipeline_spark.operators._util import round6_det, sql_r6

    x = -0.0158145  # shortest repr ends in 5 at 1e-7; binary value is below
    row = spark.range(1).select(
        F.round(F.lit(x), 6).alias("spark_round"),
        round6_det(F.lit(x)).alias("spark_det"),
    ).collect()[0]
    con = duckdb.connect()
    try:
        duck_det = con.sql(
            f"SELECT {sql_r6(f'CAST({x!r} AS DOUBLE)')}"
        ).fetchone()[0]
    finally:
        con.close()
    assert row["spark_det"] == duck_det == -0.015814
    assert row["spark_round"] == -0.015815  # the class this guards against


def test_sql_str_to_bigint_mirrors_spark_truncation(spark):
    """Pins the string→BIGINT cast class (r14 ADVICE): DuckDB
    TRY_CAST('3.5' AS BIGINT) ROUNDS to 4 where Spark's non-ANSI cast
    truncates toward zero to 3, so JSON-extracted numeric strings need
    sql_str_to_bigint on the oracle side. The helper extracts sign +
    integer-part digits TEXTUALLY (the r15 trunc(DOUBLE) bridge parsed
    '1e2'→100 and rounded huge fractionals at 2^53) after stripping
    Spark's probed edge-trim class [\\x00-\\x20\\x7F] (r15 ADVICE:
    DuckDB trim() only strips spaces, so '\\t42' diverged)."""
    import duckdb

    from ndl_core_data_pipeline_spark.io import ensure_session_defaults
    from ndl_core_data_pipeline_spark.operators._util import sql_str_to_bigint

    # the engine's permissive cast semantics are a session default set by
    # load(); a bare Spark-4 session has ANSI ON where CAST('3.5' AS
    # BIGINT) throws — pin the real query-path configuration explicitly
    # so this test is order-independent
    ensure_session_defaults(spark)
    cases = ["3.5", "-3.5", "2.5", "3", " 42 ", "abc",
             "9223372036854775807", "9007199254740993", None,
             # round-15 review: scientific notation is NULL on Spark
             # (UTF8String rejects 'e'), huge fractionals truncate
             # TEXTUALLY (no 2^53 double rounding), '.5' is 0
             "1e2", "3.5e1", "9007199254740993.5", "3.", ".5", "+3.5",
             "  -7.9  ", "123abc", "٣٤",
             # round-16 (r15 ADVICE): control-padded strings — Spark's
             # cast edge-trims [\x00-\x20\x7F]; DuckDB trim() is
             # space-only, so the oracle must strip the full class.
             # NBSP and thin space are NOT in the class (stay NULL);
             # interior controls still reject.
             "\t42", "\x0b42", "\x7f42", "\r\n42\r\n", "\x0b3.5",
             "\x1f-7", "\xa042", " 42", "4\x0c2", "\x0b"]
    con = duckdb.connect()
    try:
        for s in cases:
            lit = "NULL" if s is None else f"'{s}'"
            duck = con.sql(f"SELECT {sql_str_to_bigint(lit)}").fetchone()[0]
            sp = spark.sql(f"SELECT CAST({lit} AS BIGINT)").first()[0]
            assert duck == sp, f"{s!r}: duck={duck} spark={sp}"
        # the class this guards against
        assert con.sql("SELECT TRY_CAST('3.5' AS BIGINT)").fetchone()[0] == 4
    finally:
        con.close()


def test_markov_rows_sum_to_one(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.eventwindows import (
        events_markov_transitions,
    )

    rows = events_markov_transitions(spark, sf_small).collect()
    assert rows
    by_prev = {}
    for r in rows:
        by_prev.setdefault(r["prev_type"], []).append(r["p"])
    for prev, ps in by_prev.items():
        assert abs(sum(ps) - 1.0) < 1e-4, prev


def test_hll_merge_is_exact(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.sketches import hll_merge_proof

    row = hll_merge_proof(spark, sf_small).collect()[0]
    assert row["merge_exact"] is True
    assert row["est_whole"] == row["est_merged"]


def test_matryoshka_reranks_from_prefix_candidates(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.vector import (
        matryoshka_prefix_topk,
    )

    rows = matryoshka_prefix_topk(spark, sf_small).collect()
    assert len(rows) == 10
    assert all(-1.0 - 1e-9 <= r["cos_sim"] <= 1.0 + 1e-9 for r in rows)
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_zipf_slope_is_negative(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.textops import text_zipf_fit

    row = text_zipf_fit(spark, sf_small).collect()[0]
    assert row["n_terms"] > 10  # sf0.001 vocab is ~31 terms
    assert row["zipf_slope"] < 0  # frequency decreases with rank


def test_cusum_tracks_injected_shift(spark):
    """A series with a mean shift at its midpoint must put t_at_max at
    the change point."""
    import datetime

    rows = []
    base = datetime.datetime(2020, 1, 1)
    for i in range(200):
        val = 10.0 if i < 100 else 20.0
        rows.append((i, base + datetime.timedelta(minutes=i), 1, "shift", val))
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        # minimal sf_dir with just events
        from ndl_core_data_pipeline_spark.operators.eventwindows import (
            window_cusum_drift,
        )

        out = {r["event_type"]: r for r in window_cusum_drift(spark, d).collect()}
    r = out["shift"]
    assert r["n"] == 200
    assert r["t_at_max"] == 100  # |S_t| peaks exactly at the change point


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


def test_two_level_cube_equals_direct_with_null_keys(spark):
    """Guard for the round-9 base-cuboid cube/rollup shape: the two-level
    form must equal Spark's direct cube INCLUDING when group keys contain
    real NULLs (data-NULL rows fold into the same output groups as the
    superaggregate NULLs in both forms — pin it rather than reason about
    it)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", None, 2.0), (None, "x", 4.0),
         (None, None, 8.0), ("b", "x", 16.0)],
        "k1 string, k2 string, v double",
    )
    direct = (
        df.cube("k1", "k2")
        .agg(F.sum(F.col("v").cast("decimal(25,6)")).cast("double").alias("s"),
             F.count("*").alias("c"))
    )
    base = df.groupBy("k1", "k2").agg(
        F.sum(F.col("v").cast("decimal(25,6)")).alias("s0"),
        F.count("*").alias("c0"),
    )
    two = base.cube("k1", "k2").agg(
        F.sum("s0").cast("double").alias("s"), F.sum("c0").alias("c")
    )
    key = lambda r: (r["k1"] or "", r["k2"] or "", r["s"], r["c"])  # noqa: E731
    assert sorted(map(key, direct.collect())) == sorted(map(key, two.collect()))
