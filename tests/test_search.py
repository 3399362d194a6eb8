"""kNN search pipeline tests vs a numpy reference implementation."""

from __future__ import annotations

import numpy as np
import pytest

from ndl_core_data_pipeline_spark import search


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(50, 8)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    return (
        spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"),
        vecs,
    )


def test_cosine_topk_matches_numpy(corpus):
    df, vecs = corpus
    q = vecs[0]
    got = search.cosine_topk(df, [float(x) for x in q], k=10).collect()
    sims = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    want = np.argsort(-sims, kind="stable")[:10]
    assert [r["vec_id"] for r in got] == list(want)
    for r in got:
        assert abs(r["cos_sim"] - sims[r["vec_id"]]) < 1e-6


def test_elbow_cut_drops_tail(spark):
    # distances: tight cluster then a jump — elbow cuts at the jump
    rows = [(i, 1.0 - d, d) for i, d in enumerate([0.01, 0.02, 0.03, 0.5, 0.52])]
    hits = spark.createDataFrame(rows, "vec_id BIGINT, cos_sim DOUBLE, distance DOUBLE")
    kept = search.elbow_cut(hits).collect()
    assert sorted(r["vec_id"] for r in kept) == [0, 1, 2]


def test_elbow_cut_keeps_uniform(spark):
    rows = [(i, 1.0 - d, d) for i, d in enumerate([0.10, 0.11, 0.12, 0.13])]
    hits = spark.createDataFrame(rows, "vec_id BIGINT, cos_sim DOUBLE, distance DOUBLE")
    assert search.elbow_cut(hits).count() == 4


def test_elbow_cut_uses_the_interpolated_median(spark):
    # diffs 0.02, 0.04, 0.08, 0.12: the interpolated median 0.06 puts the
    # threshold at 0.15 and keeps every row (as np.median and
    # operators/sorts.elbow_cut do); the lower middle diff, 0.04, would put
    # it at 0.10 and cut the last row
    dists = [0.0, 0.02, 0.06, 0.14, 0.26]
    rows = [(i, 1.0 - d, d) for i, d in enumerate(dists)]
    hits = spark.createDataFrame(rows, "vec_id BIGINT, cos_sim DOUBLE, distance DOUBLE")
    assert 0.12 < search.ELBOW_SENSITIVITY * float(np.median(np.diff(dists)))
    assert search.elbow_cut(hits).count() == 5


def test_neighbor_merge(spark):
    chunks = spark.createDataFrame(
        [
            (0, "doc1", 0, "A" * 150),
            (1, "doc1", 1, "B" * 150),
            (2, "doc1", 2, "C" * 150),
            (3, "doc2", 0, "D" * 150),
        ],
        "chunk_id BIGINT, origin_identifier STRING, chunk_index INT, chunk STRING",
    )
    hits = spark.createDataFrame([(1, 0.9)], "chunk_id BIGINT, cos_sim DOUBLE")
    merged = search.neighbor_merge(hits, chunks).collect()[0]["merged_text"]
    # prev trimmed of last 100 chars (keeps 50 As), self, next minus first 100 (keeps 50 Cs)
    assert merged == "A" * 50 + "B" * 150 + "C" * 50
    # boundary chunk: no prev
    hits0 = spark.createDataFrame([(0, 0.8)], "chunk_id BIGINT, cos_sim DOUBLE")
    merged0 = search.neighbor_merge(hits0, chunks).collect()[0]["merged_text"]
    assert merged0 == "A" * 150 + "B" * 50


def test_search_end_to_end(spark, corpus):
    df, vecs = corpus
    chunks = spark.createDataFrame(
        [(i, f"doc{i // 5}", i % 5, f"chunk-{i:02d} " * 30) for i in range(50)],
        "chunk_id BIGINT, origin_identifier STRING, chunk_index INT, chunk STRING",
    )
    out = search.search(df, chunks, [float(x) for x in vecs[3]], k=10)
    rows = out.collect()
    assert rows, "elbow cut must keep at least the best hit"
    assert rows[0]["chunk_id"] == 3  # self-match is the top hit
    assert "chunk-03" in rows[0]["merged_text"]


def test_ivf_persisted_probe_partition_pruned(spark, corpus, tmp_path):
    # the production path: index written partitioned by cell; a probe must
    # prune to nprobe partitions at the parquet scan, not filter post-read
    df, _ = corpus
    indexed, centers = search.ivf_index(df, n_cells=4)
    path = str(tmp_path / "ivf")
    indexed.write.mode("overwrite").partitionBy("cell").parquet(path)
    persisted = spark.read.parquet(path)
    qvec = df.select("embedding").first()["embedding"]
    hits = search.ivf_search(persisted, centers, [float(v) for v in qvec], nprobe=2, k=5)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan
    rows = hits.collect()
    assert len(rows) == 5
    assert rows[0]["cos_sim"] == pytest.approx(1.0)  # the query vector itself


@pytest.fixture(scope="module")
def ivf(corpus):
    df, _ = corpus
    return search.ivf_index(df, n_cells=4)


def test_ivf_cells_are_the_argmin_over_returned_centroids(corpus, ivf):
    # each row's cell is its nearest returned centroid: the engine's
    # Arrow argmin over the very list ivf_search ranks, and numpy's
    from ndl_core_data_pipeline_spark.operators.vector import (
        _nearest_arrow,
        _passthrough,
    )

    df, vecs = corpus
    indexed, centers = ivf
    got = {r["vec_id"]: r["cell"] for r in indexed.collect()}
    assert len(set(got.values())) > 1
    want = _nearest_arrow(
        df,
        centers,
        keep=_passthrough(df, "vec_id"),
        v_name="embedding",
        v_sql_type="array<float>",
        id_sql_type="bigint",
    )
    assert got == {r["vec_id"]: r["cell_id"] for r in want.collect()}
    ids = [cid for cid, _ in centers]
    C = np.array([c for _, c in centers])
    d2 = ((vecs.astype(np.float64)[:, None, :] - C[None]) ** 2).sum(-1)
    assert [got[i] for i in range(len(vecs))] == [ids[j] for j in d2.argmin(1)]


def test_ivf_centroids_are_kmeans_rows_on_the_smallest_ids(corpus, ivf):
    # the cells are the engine's Lloyd loop seeded from the n_cells
    # smallest vec_ids (0..3 here), each cell keyed by its seed's id
    from pyspark.sql import functions as F

    from ndl_core_data_pipeline_spark.operators.vector import _kmeans_rows

    df, vecs = corpus
    emb = df.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    seeds = [(i, [float(x) for x in vecs[i]]) for i in range(4)]
    assert ivf[1] == _kmeans_rows(emb, seeds)


def test_ivf_indexed_vector_probes_its_own_cell_first(corpus, ivf):
    # a query equal to an indexed vector ranks that vector's cell first,
    # so nprobe=1 finds the vector, and it tops the rerank
    df, vecs = corpus
    indexed, centers = ivf
    cell = {r["vec_id"]: r["cell"] for r in indexed.collect()}
    for qid in range(0, len(vecs), 7):
        hits = search.ivf_search(
            indexed, centers, [float(x) for x in vecs[qid]], nprobe=1, k=5
        ).collect()
        assert hits[0]["vec_id"] == qid
        assert {cell[r["vec_id"]] for r in hits} == {cell[qid]}


@pytest.fixture(scope="module")
def near_dup_corpus(spark):
    """60 base vectors each with one noisy twin (pairwise cos ~0.92) plus
    80 unrelated fillers — the ground-truth near-dup workload for the LSH
    recall contract. Deterministic seed: recall floors below are pinned
    measurements, not statistical hopes."""
    rng = np.random.default_rng(42)
    dim, n_base, n_fill = 32, 60, 80
    rows, truth = [], set()
    vid = 0
    for _ in range(n_base):
        v = rng.normal(size=dim)
        v /= np.linalg.norm(v)
        w = v + rng.normal(0, 0.075, size=dim)
        w /= np.linalg.norm(w)
        rows.append((vid, [float(x) for x in v]))
        rows.append((vid + 1, [float(x) for x in w]))
        if float(v @ w) >= 0.9:
            truth.add((vid, vid + 1))
        vid += 2
    for _ in range(n_fill):
        v = rng.normal(size=dim)
        rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    return df, truth


def _lsh_recall(df, truth, sig_bits, n_bands):
    from ndl_core_data_pipeline_spark.operators.vector import lsh_near_dup_pairs

    got = {
        (r["vec_a"], r["vec_b"])
        for r in lsh_near_dup_pairs(
            df, min_cos=0.9, sig_bits=sig_bits, n_bands=n_bands
        ).collect()
    }
    assert got <= truth  # exact verify: no false positives ever
    return len(got & truth) / len(truth)


def test_lsh_near_dup_recall_production_config(near_dup_corpus):
    # 128-bit / 8×16-bit bands — the at-scale setting: ~n²/65536
    # candidates; on ~0.92-cos twins the banded recall lands ~50-70%
    df, truth = near_dup_corpus
    assert len(truth) >= 40
    assert _lsh_recall(df, truth, sig_bits=128, n_bands=8) >= 0.45


def test_lsh_near_dup_recall_synthetic_config(near_dup_corpus):
    # 16-bit / 4×4-bit bands — the registered-query setting: permissive
    # bands, near-complete recall on 0.9-cos twins
    df, truth = near_dup_corpus
    assert _lsh_recall(df, truth, sig_bits=16, n_bands=4) >= 0.9


def test_lsh_rejects_indivisible_bands(near_dup_corpus):
    from ndl_core_data_pipeline_spark.operators.vector import lsh_near_dup_pairs

    df, _ = near_dup_corpus
    with pytest.raises(ValueError, match="not divisible"):
        lsh_near_dup_pairs(df, min_cos=0.9, sig_bits=128, n_bands=7)


def test_cosine_near_dup_multi_chunk_tiles_match_brute_force(
    spark, tmp_path, monkeypatch
):
    """The cross-chunk gram path of embedding_cosine_near_dup only
    activates when a label block exceeds EMB_GRAM_CHUNK — which never
    happens at the shipped test SFs (max block ~218 at sf0.1 vs chunk
    1024; it's an sf1-only path). Force multi-chunk tiling with a tiny
    chunk size and pin the full output against the brute-force
    all-pairs computation on the same rows: hash-chunk coverage (every
    unordered pair in exactly one tile), diagonal-triangle dedupe, and
    a<b orientation all verified at once."""
    import random

    from pyspark.sql import functions as F

    from ndl_core_data_pipeline_spark.operators import vector as V

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 2) for i in range(60)
    ]
    # pathological rows (second review): a zero vector — its exact
    # cosine is 0/0 = NULL under the session's non-ANSI Divide, so the
    # verify drops its pairs in the gram form exactly as the r6
    # pair-join form did — and a NULL embedding, which must be dropped
    # without crashing the packed-chunk numpy path
    rows.append((60, [0.0] * 8, 0))
    rows.append((61, None, 1))
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    monkeypatch.setattr(V, "EMB_GRAM_CHUNK", 7)  # 60 rows -> ~5 chunks/label
    got = {
        (r["label"], r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in V.embedding_cosine_near_dup(spark, str(tmp_path)).collect()
    }
    from ndl_core_data_pipeline_spark.io import load

    emb = load(spark, str(tmp_path), "embeddings")
    a = emb.select(
        F.col("vec_id").alias("vec_a"), "label", F.col("embedding").alias("emb_a")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), "label", F.col("embedding").alias("emb_b")
    )
    cos = V._dot(F.col("emb_a"), F.col("emb_b")) / (
        V._norm(F.col("emb_a")) * V._norm(F.col("emb_b"))
    )
    want = {
        (r["label"], r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in a.join(b, ["label"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("label", "vec_a", "vec_b", F.round(cos, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= V.EMB_NEAR_DUP_MIN_COS)
        .collect()
    }
    assert want and got == want
