"""Tests for operators/dedup.py: short-doc shingle parity, the
degenerate-bucket cap, salted-join type restriction, LSH plan shape,
the Jaccard prefix join, MinHash permutations and the driver
union-find. Substring spans are pinned in tests/test_round6_ops.py."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from ndl_core_data_pipeline_spark import skew
from ndl_core_data_pipeline_spark.operators import dedup
from ndl_core_data_pipeline_spark.operators._util import hash48, word_ngrams, words
from ndl_core_data_pipeline_spark.operators.vector import (
    embedding_dim,
    hyperplane_matrix,
    lsh_bucket_assignment,
)

from . import reference_forms as R
from .reference_forms import _py_hash48, shingles_spark


def test_short_docs_emit_no_shingles(spark):
    # docs shorter than SHINGLE_N words must yield zero shingles, matching
    # the SQL oracle where || propagates NULL / range() is empty
    df = spark.createDataFrame(
        [(1, "one"), (2, "one two"), (3, "one two three"), (4, "a b c d")],
        ["doc_id", "text"],
    )
    out = (
        df.select("doc_id", F.explode(shingles_spark(F.col("text"))).alias("s"))
        .filter(F.length("s") > 0)
        .groupBy("doc_id")
        .count()
        .collect()
    )
    counts = {r["doc_id"]: r["count"] for r in out}
    assert 1 not in counts and 2 not in counts
    assert counts[3] == 1 and counts[4] == 2


NGRAM_DOCS = [
    None,
    "",
    "   ",
    "one",
    "one two",
    "one two three",
    "one two three four",
    "a b c a b c a b c",
    "\tlead tab then words",
    "a\tb\tc\td",
    "a\x0bb\x0bc\x0bd",
    "a\xa0b c d e",
]


@pytest.mark.parametrize("text", NGRAM_DOCS)
def test_word_ngrams_match_the_inline_forms(spark, text):
    """Each word 3-gram caller's expression equals the one it spelled
    inline before `word_ngrams`: dedup's distinct shingles, winnowing's
    positional shingles, contamination's distinct gram hashes."""
    ws = spark.createDataFrame([(text,)], "text string").select(
        words(F.col("text")).alias("w")
    )
    w = F.col("w")
    grams = word_ngrams(w, 3)
    row = ws.select(
        F.array_distinct(grams).alias("dedup"),
        R.dedup_shingles_old(w).alias("dedup_old"),
        grams.alias("winnow"),
        R.winnowing_shingles_old(w).alias("winnow_old"),
        F.array_distinct(F.transform(grams, hash48)).alias("contam"),
        R.contamination_grams_old(w).alias("contam_old"),
    ).first()
    for caller in ("dedup", "winnow", "contam"):
        assert row[caller] == row[f"{caller}_old"], caller


def test_bucket_pairs_drops_degenerate_buckets(spark):
    # one healthy bucket (3 members -> 3 pairs), one degenerate (caps out)
    buckets = spark.createDataFrame(
        [("ok", list(range(3))), ("huge", list(range(50)))],
        ["bucket", "ids"],
    )
    obs = Observation("guard")
    pairs = dedup._bucket_pairs(buckets, "ids", max_members=10, observation=obs)
    rows = pairs.collect()
    assert len(rows) == 3  # only the healthy bucket's C(3,2) pairs
    assert obs.get == {"n_dropped_buckets": 1, "n_dropped_members": 50}
    over = dedup.oversize_buckets(buckets, "ids", max_members=10).collect()
    assert [(r["bucket"], r["n_members"]) for r in over] == [("huge", 50)]


def test_bucket_pairs_default_cap_passes_normal_corpora(spark):
    buckets = spark.createDataFrame([("b", [1, 2, 3, 4])], ["bucket", "ids"])
    assert dedup._bucket_pairs(buckets, "ids").count() == 6


def test_salted_join_rejects_outer_preserving_small_side(spark):
    df = spark.range(4).withColumnRenamed("id", "k")
    for bad in ("right", "full", "outer", "right_outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            skew.salted_join(df, df, "k", how=bad)


def test_winnowing_shared_run_shares_fingerprint(spark, tmp_path):
    # winnowing guarantee: docs sharing a run of >= W+2 words share at
    # least one selected fingerprint; short/disjoint docs yield none/distinct
    from ndl_core_data_pipeline_spark.operators.textops import winnowing_fingerprints

    common = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, "intro words then " + common),
            (2, common + " and a different tail here"),
            (3, "totally unrelated content with other words entirely spoken"),
            (4, "too short"),
        ],
        ["doc_id", "text"],
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    fps = winnowing_fingerprints(spark, str(tmp_path)).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2]  # shared run -> shared fingerprint
    assert not (by_doc[3] & (by_doc[1] | by_doc[2]))
    assert 4 not in by_doc  # < 3 words -> no shingles at all


def test_embedding_dim_is_total_and_order_independent(spark):
    # empty-input totality (round 13): a zero-row / all-NULL corpus gets
    # a degenerate width instead of a raise — the width only sizes
    # plan-time literal arrays and no row expression ever evaluates
    # against a conflicting width, so downstream queries emit their
    # (empty) result instead of crashing the job
    empty = spark.createDataFrame([], "doc_id long, embedding array<float>")
    assert embedding_dim(empty) == 1
    # NON-empty input with no usable vector stays total (width 1) but
    # must be LOUD — silence would collapse every LSH bucket with no
    # trace of the upstream ingestion bug (round-14 ADVICE)
    all_null = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id long, embedding array<float>"
    )
    with pytest.warns(RuntimeWarning, match="no row has a usable"):
        assert embedding_dim(all_null) == 1
    # arrival-order landmine (found by the empty-input sweep): the sniff
    # must filter to non-null vectors BEFORE its limit-1 probe — the
    # unfiltered form crashed whenever a NULL-vector row arrived first
    null_first = spark.createDataFrame(
        [(1, None), (2, [0.1, 0.2, 0.3])], "doc_id long, embedding array<float>"
    ).coalesce(1)
    assert embedding_dim(null_first) == 3
    # a ZERO-LENGTH array must not win the probe either: isNotNull alone
    # kept it, inferred width 1, and silently zeroed every real vector's
    # bucket (second review pass) — the filter is size > 0
    empty_first = spark.createDataFrame(
        [(1, []), (2, [0.1, 0.2, 0.3])], "doc_id long, embedding array<float>"
    ).coalesce(1)
    assert embedding_dim(empty_first) == 3
    all_empty = spark.createDataFrame(
        [(1, []), (2, [])], "doc_id long, embedding array<float>"
    )
    with pytest.warns(RuntimeWarning, match="no row has a usable"):
        assert embedding_dim(all_empty) == 1


def test_embedding_dim_rejects_wrong_column(spark):
    # schema problems must RAISE plan-side (VERDICT r13 item 7): a
    # degenerate width-1 may only ever mean "no usable vectors", never
    # "the caller named a column that does not exist / is not an array"
    df = spark.createDataFrame(
        [(1, [0.1, 0.2], "x")], "doc_id long, embedding array<float>, text string"
    )
    with pytest.raises(TypeError, match="not in schema"):
        embedding_dim(df, "embeding")  # typo'd name
    with pytest.raises(TypeError, match="expected array"):
        embedding_dim(df, "text")  # exists but not an array
    # several columns differing only by case and no exact match must
    # raise NAMING the candidates, not validate an arbitrary pick and
    # let Spark's later AMBIGUOUS_REFERENCE surface far from the cause
    # (r14 ADVICE)
    amb = spark.createDataFrame(
        [(1, [0.1], [0.2, 0.3])],
        "doc_id long, Embedding array<float>, EMBEDDING array<float>",
    )
    with pytest.raises(TypeError, match="ambiguous"):
        embedding_dim(amb, "embedding")
    # single case-insensitive match keeps working (Spark resolution is
    # case-insensitive under default spark.sql.caseSensitive=false)
    one = spark.createDataFrame([(1, [0.1, 0.2])], "id long, Emb array<float>")
    assert embedding_dim(one, "emb") == 2


def test_lsh_plan_has_literal_hyperplanes(spark, sf_small):
    # the hyperplane matrix must be plan-time constants: no per-row
    # sequence()/transform() rebuild of what is a query literal
    df = lsh_bucket_assignment(spark, sf_small)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "sequence(" not in plan
    # spot-check the driver-side matrix shape and first value
    planes = hyperplane_matrix(16, 64)
    assert planes[0][0] == (0 * 2654435761 % 2001) / 1000.0 - 1.0
    assert len(planes) == 16 and len(planes[0]) == 64


def test_connected_components_path_graph(spark):
    # a 12-node path is the worst case for plain min-propagation (needs 11
    # rounds); pointer jumping must converge well inside CC_MAX_ITER and
    # label every node with the chain minimum
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], ["doc_a", "doc_b"]
    )
    out = dedup.connected_components(edges).collect()
    assert {r["node"]: r["label"] for r in out} == {i: 1 for i in range(1, 13)}


def test_connected_components_two_clusters_and_transitivity(spark):
    # A-B and B-C must land in one cluster even though A-C was never paired;
    # D-E is a separate component; higher-id edge order must not matter
    edges = spark.createDataFrame(
        [(20, 10), (10, 30), (50, 40)], ["doc_a", "doc_b"]
    )
    out = {r["node"]: r["label"] for r in dedup.connected_components(edges).collect()}
    assert out == {10: 10, 20: 10, 30: 10, 40: 40, 50: 40}


def test_gopher_filters_edge_cases(spark, tmp_path):
    # crafted docs exercising every rule: bullets, ellipsis line-ends,
    # symbol density, non-alpha words, word-count bounds
    from ndl_core_data_pipeline_spark.operators import textops

    rows = [
        (1, "ok " + " ".join(f"word{i}" for i in range(60))),  # passes all
        (2, "- a\n- b\n- c"),  # every line bullet-led + too few words
        (3, "so it goes...\nand on...\nplain line\nmore text here"),  # 2/4 ellipsis
        (4, "# " * 30 + "tag"),  # symbol-heavy
        (5, " ".join(str(i) for i in range(80))),  # numeric words, no alpha
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in textops.gopher_filters(spark, str(tmp_path)).collect()
    }
    assert out[1]["keep_gopher"] == 1
    assert out[2]["f_bullet_lines"] == 0 and out[2]["f_word_count"] == 0
    assert out[3]["f_ellipsis_lines"] == 0  # 0.5 > 0.3
    assert out[4]["f_symbol_ratio"] == 0
    assert out[5]["f_alpha_words"] == 0 and out[5]["keep_gopher"] == 0


def test_repetition_signals_on_repetitive_doc(spark, tmp_path):
    from ndl_core_data_pipeline_spark.operators import textops

    rows = [
        (1, "spam spam spam spam"),  # 1 distinct word, bigram 'spam spam' x3
        (2, "all words here differ fully"),  # no repetition
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in textops.repetition_signals(spark, str(tmp_path)).collect()
    }
    assert out[1]["uniq_word_frac"] == 0.25 and out[1]["top_word_frac"] == 1.0
    assert out[1]["dup_bigram_frac"] == 1.0
    assert out[2]["uniq_word_frac"] == 1.0 and out[2]["dup_word_frac"] == 0.0
    assert out[2]["dup_bigram_frac"] == 0.0


def test_connected_components_distributed_path_matches_driver(spark, monkeypatch):
    # the size-adaptive small-graph path (driver union-find) and the
    # distributed pointer-jumping loop must agree label-for-label; a long
    # path graph plus a separate clique exercises the jumping rounds
    import random

    rng = random.Random(7)
    chain = [(i, i + 1) for i in range(0, 40)]
    clique = [(a, b) for a in range(100, 106) for b in range(a + 1, 106)]
    extra = [(rng.randint(200, 230), rng.randint(200, 230)) for _ in range(25)]
    edge_rows = [(a, b) for a, b in chain + clique + extra if a != b]
    edges = spark.createDataFrame(edge_rows, "doc_a BIGINT, doc_b BIGINT")
    small = {(r["node"], r["label"]) for r in dedup.connected_components(edges).collect()}
    monkeypatch.setattr(dedup, "CC_EDGES_DRIVER_MAX", 0)
    big = {(r["node"], r["label"]) for r in dedup.connected_components(edges).collect()}
    assert small == big


def test_driver_path_guard_catches_the_small_path(spark, monkeypatch):
    # the forced-distributed guard patches the one driver union-find; a
    # driver-sized graph (default CC_EDGES_DRIVER_MAX) must reach it, or a
    # threshold bypass on the small path would go uncaught by the sweep
    from forced_distributed_sweep import make_driver_path_guards

    from ndl_core_data_pipeline_spark.operators import bpe

    uf, _ = make_driver_path_guards(dedup, bpe)
    monkeypatch.setattr(dedup, "_union_find_labels", uf)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a BIGINT, doc_b BIGINT"
    )
    with pytest.raises(AssertionError, match="forced-distributed"):
        dedup.connected_components(edges)


def test_connected_components_rejects_null_ids(spark):
    edges = spark.createDataFrame([(1, 2), (2, None)], "doc_a BIGINT, doc_b BIGINT")
    with pytest.raises(ValueError, match="NULL node id"):
        dedup.connected_components(edges)


def test_output_bound_plans_emit_row_counters(spark, sf_small):
    # the two measured output-bound plans (SCALE_r10: theta band predicate
    # ~density^2, minhash collision pairs 8.9x per 3x rows) expose their
    # blow-up quantity as an Observation metric so a production run sees a
    # counter before an OOM (VERDICT r10 item 5)
    from ndl_core_data_pipeline_spark.operators.joins import theta_range_join

    obs_t = Observation("theta_out")
    theta = theta_range_join(spark, sf_small, observation=obs_t)
    n_out = theta.count()
    assert obs_t.get == {"n_output_rows": n_out} and n_out > 0

    obs_m = Observation("minhash_pairs")
    pairs = dedup.minhash_near_dup_pairs(spark, sf_small, observation=obs_m)
    n_pairs = pairs.count()
    n_cand = obs_m.get["n_candidate_pairs"]
    # every surviving scored pair came from >= 1 candidate collision
    assert n_cand >= n_pairs and n_cand > 0


def test_embedding_dim_column_lookup_is_case_insensitive(spark):
    # Spark resolves columns case-insensitively by default; the schema
    # assert must not be stricter than the engine it guards
    df = spark.createDataFrame(
        [(1, [0.1, 0.2])], "doc_id long, Embedding array<float>"
    )
    assert embedding_dim(df, "embedding") == 2
    assert embedding_dim(df, "EMBEDDING") == 2


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


def test_minhash_permutations_spark_match_python(spark):
    """The affine MinHash family h_j(x) = (A_j x + B_j) mod P over the
    48-bit md5 base hash, against a pure-Python reference."""
    from ndl_core_data_pipeline_spark.operators._util import hash48 as minhash_base48
    from ndl_core_data_pipeline_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        N_MINHASH,
        minhash_affine,
    )

    shingles = [f"tok{i} tok{i+1} tok{i+2}" for i in range(50)]
    df = spark.createDataFrame([(s,) for s in shingles], "shingle string")
    # the PRODUCTION expressions, not a copy — drift in minhash_signatures
    # now fails here
    x = minhash_base48(F.col("shingle"))
    cols = [minhash_affine(x, j).alias(f"h{j}") for j in range(N_MINHASH)]
    got = {
        r["shingle"]: tuple(r[f"h{j}"] for j in range(N_MINHASH))
        for r in df.select("shingle", *cols).collect()
    }
    for s in shingles:
        base = _py_hash48(s)
        expect = tuple(
            (MINHASH_A[j] * base + MINHASH_B[j]) % MINHASH_P
            for j in range(N_MINHASH)
        )
        assert got[s] == expect


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
