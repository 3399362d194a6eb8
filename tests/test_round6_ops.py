"""Independent semantic checks for the round-6 operators.

Oracle parity (tests/test_oracle_parity.py) already pins each query
against DuckDB; these tests pin them against NAIVE Spark formulations
instead — the salted join against the plain join, the binned range join
against the O(n·m) crossJoin it exists to avoid — so a bug that slipped
into BOTH the query and its SQL oracle (shared misunderstanding of the
semantics) still gets caught.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

import __spark_entry__ as contract

QUERIES = contract.queries()


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_salted_join_equals_plain_join(spark, sf_small):
    from ndl_core_data_pipeline_spark.io import load

    ev = load(spark, sf_small, "events")
    profile = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("user_value"),
    )
    plain = (
        ev.filter(F.col("event_type") == "purchase")
        .join(profile, "user_id")
        .select("event_id", "user_id", "n_events", "user_value")
    )
    salted = QUERIES["join_skew_salted"](spark, sf_small)
    assert rows_set(salted) == rows_set(plain)


def test_range_binned_equals_naive_interval_join(spark, sf_small):
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.joins import RANGE_BIN_US

    ev = load(spark, sf_small, "events")
    us = F.unix_micros(F.col("ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us.alias("p_us")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"), F.col("value").alias("v_value"), us.alias("v_us")
    )
    naive = (
        p.join(v, F.abs(p.p_us - v.v_us) <= RANGE_BIN_US, "left")
        .groupBy("event_id", "user_id")
        .agg(
            F.count("v_id").alias("n_views_1h"),
            F.coalesce(
                F.sum(F.col("v_value").cast("decimal(25,6)")).cast("double"),
                F.lit(0.0),
            ).alias("view_value_1h"),
        )
    )
    binned = QUERIES["join_range_binned"](spark, sf_small)
    assert rows_set(binned) == rows_set(naive)


def test_range_binned_null_ts_rows(spark, tmp_path):
    """NULL-ts rows (absent from shipped testdata, real on cluster data):
    the oracle's LEFT JOIN keeps a NULL-ts purchase with (0, 0.0) — its
    ON condition is NULL — and a NULL-ts view matches nothing. The
    prefix-sum form must do the same, and in particular a NULL bucket
    must never leak into the offset scan (NULLS FIRST would otherwise
    corrupt every real bucket's offset)."""
    rows = [
        # (event_id, ts, user_id, event_type, value)
        (1, "2024-01-01 10:00:00", 1, "view", 5.0),
        (2, "2024-01-01 10:30:00", 2, "purchase", 9.0),
        (3, None, 3, "purchase", 7.0),   # NULL-ts purchase: keep, zeros
        (4, None, 4, "view", 100.0),     # NULL-ts view: matches nothing
        (5, "2024-01-02 10:00:00", 5, "purchase", 1.0),  # no views ±1h
    ]
    df = spark.createDataFrame(
        rows, "event_id BIGINT, ts STRING, user_id BIGINT, "
        "event_type STRING, value DOUBLE"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "CAST(NULL AS STRING) AS props"
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["event_id"]: (r["n_views_1h"], r["view_value_1h"])
        for r in QUERIES["join_range_binned"](spark, str(tmp_path)).collect()
    }
    assert got == {2: (1, 5.0), 3: (0, 0.0), 5: (0, 0.0)}


def test_approx_distinct_excludes_null_keys(spark, tmp_path):
    """The dedupe-first rewrite must keep COUNT(DISTINCT l_partkey)'s
    NULL semantics: a NULL key survives the keys-only distinct as its
    own row, but the exact count (and the oracle's COUNT(DISTINCT))
    excludes it — the second review caught the rewrite counting rows
    instead of keys."""
    rows = [("A", 1), ("A", 1), ("A", 2), ("A", None), ("R", None), ("R", 7)]
    spark.createDataFrame(
        rows, "l_returnflag STRING, l_partkey BIGINT"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        r["l_returnflag"]: (r["exact_parts"], r["approx_within_bound"])
        for r in QUERIES["agg_approx_distinct"](spark, str(tmp_path)).collect()
    }
    assert got == {"A": (2, True), "R": (1, True)}


def test_rfm_keyed_ranks_equal_ntile_with_null_keys(spark, tmp_path):
    """The keyed two-level-rank RFM must stay bit-identical to the global
    ntile(5) windows it replaced, INCLUDING users whose total_value or
    last_ts aggregates to NULL (all values / all ts NULL — absent from
    shipped testdata, real on cluster data). The round-close review
    caught the rank's broadcast-offset equi-join silently dropping those
    users; the lookup is now null-safe and NULL groups rank where desc
    NULLS LAST puts them in both engines."""
    rows = []
    for u in range(1, 21):
        for j in range(u % 3 + 1):
            rows.append(
                (
                    u * 100 + j,
                    None if u % 7 == 0 else f"2024-01-{u:02d} 00:00:{j:02d}",
                    u,
                    "view",
                    None if u % 5 == 0 else float(u * 10 + j),
                )
            )
    df = spark.createDataFrame(
        rows, "event_id BIGINT, ts STRING, user_id BIGINT, "
        "event_type STRING, value DOUBLE"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "CAST(NULL AS STRING) AS props"
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["user_id"]: (r["n_events"], r["total_value"], r["r_score"],
                       r["f_score"], r["m_score"])
        for r in QUERIES["events_rfm_scores"](spark, str(tmp_path)).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["total_value"], r["r_score"],
                       r["f_score"], r["m_score"])
        for r in spark.sql(
            """WITH s AS (
                 SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS n_events,
                        CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
                          AS total_value
                 FROM {ev} GROUP BY user_id)
               SELECT user_id, n_events, total_value,
                 CAST(ntile(5) OVER (ORDER BY last_ts DESC, user_id) AS BIGINT)
                   AS r_score,
                 CAST(ntile(5) OVER (ORDER BY n_events DESC, user_id) AS BIGINT)
                   AS f_score,
                 CAST(ntile(5) OVER (ORDER BY total_value DESC, user_id) AS BIGINT)
                   AS m_score
               FROM s""",
            ev=df,
        ).collect()
    }
    assert len(got) == 20 and got == want


def test_rfm_adaptive_monetary_buckets_continuous_totals(spark, tmp_path):
    """ADVICE r10: floor(total_value) groups can approach user count on
    wide/continuous totals, regressing the monetary histogram scan
    toward a users-scale global window. The bucket width now adapts to
    the observed range (floor(total / B), B from a broadcast min/max
    probe, <= ~64Ki buckets for any distribution); any positive B is a
    monotone coarsening, so scores stay bit-identical to ntile(5) even
    with continuous values, exact-tie clusters, a huge range outlier,
    and NULL totals."""
    rows = []
    for u in range(1, 41):
        val = {
            0: None,             # NULL total user
            1: 7.25,             # exact-tie cluster across users
            2: u * 0.000123 + 0.5,   # continuous sub-unit totals
            3: u * 9876.54321,       # continuous wide totals
        }[u % 4]
        rows.append((u * 100, f"2024-01-01 00:00:{u % 60:02d}", u, "view", val))
    rows.append((9999, "2024-01-02 00:00:00", 999, "view", 1.0e9))  # outlier
    df = spark.createDataFrame(
        rows, "event_id BIGINT, ts STRING, user_id BIGINT, "
        "event_type STRING, value DOUBLE"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "CAST(NULL AS STRING) AS props"
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["user_id"]: (r["r_score"], r["f_score"], r["m_score"])
        for r in QUERIES["events_rfm_scores"](spark, str(tmp_path)).collect()
    }
    want = {
        r["user_id"]: (r["r_score"], r["f_score"], r["m_score"])
        for r in spark.sql(
            """WITH s AS (
                 SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS n_events,
                        CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
                          AS total_value
                 FROM {ev} GROUP BY user_id)
               SELECT user_id,
                 CAST(ntile(5) OVER (ORDER BY last_ts DESC, user_id) AS BIGINT)
                   AS r_score,
                 CAST(ntile(5) OVER (ORDER BY n_events DESC, user_id) AS BIGINT)
                   AS f_score,
                 CAST(ntile(5) OVER (ORDER BY total_value DESC, user_id) AS BIGINT)
                   AS m_score
               FROM s""",
            ev=df,
        ).collect()
    }
    assert len(got) == 41 and got == want


def test_merge_upsert_semantics(spark, sf_small):
    from ndl_core_data_pipeline_spark.io import load

    merged = QUERIES["merge_upsert_latest"](spark, sf_small)
    rows = {r["key"]: r for r in merged.collect()}
    base = {
        r["o_orderkey"]: r
        for r in load(spark, sf_small, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .collect()
    }
    assert set(k for k in rows if k >= 0) == set(base)
    n_ins = n_upd = 0
    for key, r in rows.items():
        if key < 0:
            assert r["row_op"] == "insert" and r["status"] == "N"
            assert (-key) % 97 == 0 and (-key) in base
            n_ins += 1
        elif key % 7 == 0:
            assert r["row_op"] == "update" and r["status"] == "U"
            restated = round(
                float(base[key]["o_totalprice"]) * 1.10, 2
            )
            assert abs(r["totalprice"] - restated) < 0.02  # decimal vs float tie
            n_upd += 1
        else:
            assert r["row_op"] == "keep"
            assert r["status"] == base[key]["o_orderstatus"]
            assert r["totalprice"] == base[key]["o_totalprice"]
    assert n_ins > 0 and n_upd > 0


def test_token_entropy_bounds_and_exact_cases(spark, sf_small):
    out = {r["doc_id"]: r for r in QUERIES["text_token_entropy"](spark, sf_small).collect()}
    assert out
    for r in out.values():
        assert r["n_tokens"] >= r["n_distinct"] >= 1
        # 0 <= H <= ln(n_distinct), with rounding slack
        assert -1e-6 <= r["token_entropy"] <= math.log(r["n_distinct"]) + 1e-6
    # crafted exact cases through the same operator
    from ndl_core_data_pipeline_spark.operators.textops import token_entropy
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        docs = spark.createDataFrame(
            [
                (1, "a a a a", "en", "s", 7),  # uniform single token: H = 0
                (2, "a b c d", "en", "s", 7),  # uniform 4 tokens: H = ln 4
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        got = {r["doc_id"]: r["token_entropy"] for r in token_entropy(spark, d).collect()}
    assert got[1] == 0.0
    assert abs(got[2] - round(math.log(4), 6)) < 1e-6


def test_histogram_partitions_all_rows(spark, sf_small):
    from ndl_core_data_pipeline_spark.io import load

    hist = QUERIES["agg_value_histogram"](spark, sf_small).collect()
    total = load(spark, sf_small, "events").count()
    assert sum(r["n"] for r in hist) == total
    for r in hist:
        assert 0 <= r["bucket"] <= 19
        assert r["hi"] - r["lo"] == 25.0


def test_mode_matches_collected_counts(spark, sf_small):
    from collections import Counter

    from ndl_core_data_pipeline_spark.io import load

    got = {
        r["c_mktsegment"]: (r["mode_nationkey"], r["mode_count"])
        for r in QUERIES["agg_mode_per_group"](spark, sf_small).collect()
    }
    rows = load(spark, sf_small, "customer").select("c_mktsegment", "c_nationkey").collect()
    by_seg: dict[str, Counter] = {}
    for r in rows:
        by_seg.setdefault(r["c_mktsegment"], Counter())[r["c_nationkey"]] += 1
    for seg, counts in by_seg.items():
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        assert got[seg] == best


def test_pq_adc_equals_distance_to_reconstruction(spark, sf_small):
    """ADC identity: the approximate distance is EXACTLY the L2² between
    the raw query and the codeword-reconstructed database vector — pins
    the lookup-table machinery without depending on recall statistics
    (which are poor by design at K = n_labels on near-random data)."""
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.vector import (
        PQ_M,
        _pq_codebooks,
        _subvectors,
    )

    from .reference_forms import pq_scored

    emb = load(spark, sf_small, "embeddings")
    scored = pq_scored(emb)
    codes = (
        scored.groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "code")).alias("b"))
        .select("vec_id", "m", F.col("b.code").alias("code"))
    )
    cb = {(r["m"], r["code"]): r["subcent"] for r in _pq_codebooks(emb).collect()}
    code_map: dict[int, dict[int, int]] = {}
    for r in codes.collect():
        code_map.setdefault(r["vec_id"], {})[r["m"]] = r["code"]
    q_subs = {
        r["m"]: [float(x) for x in r["subvec"]]
        for r in _subvectors(emb).filter(F.col("vec_id") == 0).collect()
    }
    adc = QUERIES["vector_pq_adc_topk"](spark, sf_small).collect()
    assert len(adc) == 10
    for row in adc:
        expect = 0.0
        for m in range(PQ_M):
            sub_q = q_subs[m]
            cent = cb[(m, code_map[row["vec_id"]][m])]
            # same rounding discipline as the operator: per-subquantizer
            # distance rounds to 6 dp before the exact decimal sum
            expect += round(
                sum((a - b) * (a - b) for a, b in zip(sub_q, cent)), 6
            )
        assert abs(row["adc_d2"] - expect) < 1e-6, row


def test_pq_adc_candidates_are_plausible(spark, sf_small):
    """Weak quality floor: the ADC top-10 should mostly fall inside the
    exact-L2 top-50 even with the deterministic per-label codebooks."""
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.vector import _sq_l2

    emb = load(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    exact50 = {
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            _sq_l2(
                F.col("embedding"), F.transform("q_emb", lambda x: x.cast("double"))
            ).alias("d2"),
        )
        .orderBy("d2", "vec_id")
        .limit(50)
        .collect()
    }
    adc = {r["vec_id"] for r in QUERIES["vector_pq_adc_topk"](spark, sf_small).collect()}
    assert len(adc & exact50) >= 5


def test_funnel_ordering_invariants(spark, sf_small):
    rows = QUERIES["events_funnel_steps"](spark, sf_small).collect()
    assert rows
    stages = {1: 0, 2: 0, 3: 0}
    for r in rows:
        stages[r["funnel_stage"]] += 1
        if r["click_ts"] is not None:
            assert r["click_ts"] > r["view_ts"]
        if r["purchase_ts"] is not None:
            assert r["click_ts"] is not None
            assert r["purchase_ts"] > r["click_ts"]
        assert r["funnel_stage"] == 1 + (r["click_ts"] is not None) + (
            r["purchase_ts"] is not None
        )
    assert stages[3] > 0  # at sf0.001 some user completes the funnel


def test_cohort_day_zero_counts_all_users(spark, sf_small):
    from ndl_core_data_pipeline_spark.io import load

    rows = QUERIES["events_cohort_retention"](spark, sf_small).collect()
    day0 = sum(r["n_users"] for r in rows if r["day_offset"] == 0)
    n_users = load(spark, sf_small, "events").select("user_id").distinct().count()
    assert day0 == n_users  # every user is active on their cohort day
    assert all(r["day_offset"] >= 0 for r in rows)


def test_bm25_matches_pure_python(spark, sf_small):
    """Recompute BM25 in plain Python from the collected corpus."""
    import math as _m

    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.textops import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        BM25_TOPK,
    )

    docs = load(spark, sf_small, "documents").select("doc_id", "text").collect()
    toks = {r["doc_id"]: [w for w in r["text"].lower().strip().split() if w] for r in docs}
    dl = {d: len(ws) for d, ws in toks.items() if ws}
    avgdl = sum(dl.values()) / len(dl)
    n_docs = len(docs)
    tf = {}
    for d, ws in toks.items():
        for t in BM25_TERMS:
            c = ws.count(t)
            if c:
                tf[(d, t)] = c
    df = {t: sum(1 for (d2, t2) in tf if t2 == t) for t in BM25_TERMS}
    scores = {}
    for (d, t), c in tf.items():
        idf = _m.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
        s = round(idf * (c * (BM25_K1 + 1)) / (c + BM25_K1 * (1 - BM25_B + BM25_B * dl[d] / avgdl)), 6)
        scores[d] = scores.get(d, 0.0) + s
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:BM25_TOPK]
    got = [
        (r["doc_id"], r["bm25"])
        for r in QUERIES["text_bm25_topk"](spark, sf_small).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expect]
    for (gd, gs), (ed, es) in zip(got, expect):
        assert abs(gs - es) < 1e-6


def test_substring_spans_crafted(spark, tmp_path):
    """Two docs sharing an exact 15-word run → ONE merged span in each
    covering exactly that run; a doc with no duplicated gram → no rows."""
    import os

    from ndl_core_data_pipeline_spark.operators.dedup import (
        SPAN_W,
        substring_dup_spans,
    )

    shared = " ".join(f"dup{i}" for i in range(15))  # 15 words, positions vary
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta", "en", "s", 0),
            (2, f"{shared} omega", "en", "s", 0),
            (3, "unique words only here nothing repeats at all in this document ever", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    rows = substring_dup_spans(spark, str(tmp_path)).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc
    # doc 1: shared run occupies words 2..16 → grams start 2..7 (15-10+1=6
    # grams), merged into one span [2, 16]
    (s1,) = by_doc[1]
    assert (s1["span_start"], s1["span_end"], s1["n_dup_grams"]) == (2, 16, 15 - SPAN_W + 1)
    # doc 2: same run at offset 0 → span [0, 14]
    (s2,) = by_doc[2]
    assert (s2["span_start"], s2["span_end"], s2["n_dup_grams"]) == (0, 14, 15 - SPAN_W + 1)


def test_substring_spans_property_random_corpora(spark, tmp_path):
    """Randomized corpora vs a pure-Python reference implementation of
    gram-count → interval-merge (fixed seed; tiny alphabet forces heavy
    duplication so the merge logic is actually exercised)."""
    import os
    import random
    from collections import Counter

    from ndl_core_data_pipeline_spark.operators.dedup import (
        SPAN_W,
        substring_dup_spans,
    )

    rng = random.Random(0xC0FFEE)
    alphabet = [f"w{i}" for i in range(6)]
    corpora = []
    for doc_id in range(12):
        n = rng.randint(0, 40)
        corpora.append((doc_id, " ".join(rng.choice(alphabet) for _ in range(n))))

    # pure-Python reference
    grams: Counter = Counter()
    doc_grams = {}
    for doc_id, text in corpora:
        ws = [w for w in text.lower().strip().split() if w]
        gs = [
            (i, tuple(ws[i : i + SPAN_W]))
            for i in range(max(0, len(ws) - SPAN_W + 1))
        ]
        doc_grams[doc_id] = gs
        grams.update(g for _, g in gs)
    expect = {}
    for doc_id, gs in doc_grams.items():
        hits = sorted(i for i, g in gs if grams[g] > 1)
        spans = []
        for i in hits:
            s, e = i, i + SPAN_W - 1
            if spans and s <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], e)
                spans[-1][2] += 1
            else:
                spans.append([s, e, 1])
        if spans:
            expect[doc_id] = [tuple(s) for s in spans]

    docs = spark.createDataFrame(
        [(d, t, "en", "s", len(t)) for d, t in corpora],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    got = {}
    for r in substring_dup_spans(spark, str(tmp_path)).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["n_dup_grams"])
        )
    got = {d: sorted(v) for d, v in got.items()}
    assert got == expect


def test_constraint_report_detects_violations(spark, tmp_path):
    """The suite must actually FLAG bad data, not just pass on clean
    fixtures: run the single-table rules against a frame seeded with a
    null key, a duplicate key, a bad status, and a negative price."""
    from ndl_core_data_pipeline_spark.operators.checks import (
        _table_report,
        accepted_values,
        non_negative,
        not_null,
        unique,
    )

    bad = spark.createDataFrame(
        [
            (1, "O", 10.0),
            (1, "F", 20.0),      # duplicate key
            (None, "O", 5.0),    # null key
            (3, "X", 1.0),       # bad status
            (4, "P", -2.0),      # negative price
        ],
        "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE",
    )
    rules = [
        not_null("o_orderkey"),
        unique("o_orderkey"),
        accepted_values("o_orderstatus", ("O", "F", "P")),
        non_negative("o_totalprice"),
    ]
    got = {r["rule"]: (r["n_violations"], r["passed"]) for r in _table_report(bad, rules).collect()}
    assert got["not_null(o_orderkey)"] == (1, False)
    assert got["unique(o_orderkey)"] == (1, False)
    assert got["accepted_values(o_orderstatus)"] == (1, False)
    assert got["non_negative(o_totalprice)"] == (1, False)


def test_vector_elements_valid_rule(spark):
    """The corrupt-vector rule (r11 element-null probe): flags non-NULL
    arrays containing a NULL, NaN, or Inf element; whole-NULL vectors
    are the not_null rule's business and pass; clean vectors pass."""
    from ndl_core_data_pipeline_spark.operators.checks import (
        _table_report,
        vector_elements_valid,
    )

    rows = [
        (1, [1.0, 2.0]),            # clean
        (2, None),                  # whole-NULL: not this rule's violation
        (3, [1.0, None]),           # NULL element
        (4, [float("nan"), 2.0]),   # NaN element
        (5, [float("inf"), 2.0]),   # Inf element
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    got = {
        r["rule"]: (r["n_violations"], r["passed"])
        for r in _table_report(
            df, [vector_elements_valid("embedding")]
        ).collect()
    }
    assert got["vector_elements_valid(embedding)"] == (3, False)


def test_constraint_report_single_pass_plan(spark, sf_small):
    # the 4 orders rules must share ONE scan/aggregation of orders, not 4
    from ndl_core_data_pipeline_spark.plans.audit import explain_formatted

    df = QUERIES["quality_constraint_report"](spark, sf_small)
    plan = explain_formatted(df)
    assert plan.count("orders.parquet") <= 3  # 1 rules pass + 2 FK sides


def test_url_normalize_idempotent(spark, sf_small):
    """Canonicalization must be a fixpoint: normalizing an already-
    canonical URL changes nothing (otherwise dedup keys drift across
    re-crawls)."""
    out = QUERIES["func_url_normalize"](spark, sf_small)
    import re

    for r in out.limit(50).collect():
        c = r["canonical_url"]
        # re-apply the same rules in Python (the chain is scheme/host/path)
        m = re.match(r"^([A-Za-z]+)://([^/]*)(.*)$", c)
        scheme, host, path = m.group(1), m.group(2), m.group(3)
        host2 = re.sub(r":443$", "", host.lower())
        path2 = re.sub(r"//+", "/", path)
        path2 = re.sub(r"(utm_[A-Za-z]+|fbclid)=[^&]*&?", "", path2)
        path2 = re.sub(r"[?&]+$", "", path2)
        path2 = re.sub(r"/$", "", path2)
        assert f"{scheme.lower()}://{host2}{path2}" == c


def test_merge_upsert_empty_changeset_is_identity(spark, sf_small):
    """Merge machinery sanity: a full-outer merge with ZERO updates must
    return the base unchanged with every row tagged 'keep'."""
    from pyspark.sql import functions as F

    from ndl_core_data_pipeline_spark.io import load

    o = load(spark, sf_small, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("totalprice"),
    )
    empty = o.filter(F.lit(False)).select(
        "key",
        F.col("status").alias("u_status"),
        F.col("totalprice").alias("u_totalprice"),
    )
    merged = o.join(empty, "key", "full_outer").select(
        "key",
        F.coalesce(F.col("u_status"), F.col("status")).alias("status"),
        F.coalesce(F.col("u_totalprice"), F.col("totalprice")).alias("totalprice"),
        F.when(F.col("u_status").isNull(), "keep").otherwise("update").alias("row_op"),
    )
    assert merged.filter(F.col("row_op") != "keep").count() == 0
    assert rows_set(merged.drop("row_op")) == rows_set(o)
