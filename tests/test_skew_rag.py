"""Skew helpers, RAG build chain, and ANN search-path tests, plus
hypothesis property tests for the inference/chunking invariants."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from ndl_core_data_pipeline_spark import rag, search, skew
from ndl_core_data_pipeline_spark.functions.udfs import CHUNK_SIZE, chunk_text


# ------------------------------------------------------------------ skew


def test_salted_count_matches_plain(spark):
    df = spark.createDataFrame(
        [("hot",)] * 500 + [("cold1",), ("cold2",)], "k STRING"
    )
    got = {r["k"]: r["count"] for r in skew.salted_count(df, "k").collect()}
    assert got == {"hot": 500, "cold1": 1, "cold2": 1}


def test_salted_sum_matches_plain(spark):
    df = spark.createDataFrame(
        [("a", float(i)) for i in range(100)] + [("b", 0.5)], "k STRING, v DOUBLE"
    )
    got = {r["k"]: r["total"] for r in skew.salted_sum(df, "k", F.col("v"), "total").collect()}
    assert got["a"] == sum(float(i) for i in range(100))
    assert got["b"] == 0.5


def test_salted_join_matches_plain(spark):
    big = spark.createDataFrame([(i % 3, i) for i in range(300)], "k BIGINT, v BIGINT")
    small = spark.createDataFrame([(0, "x"), (1, "y"), (2, "z")], "k BIGINT, name STRING")
    plain = big.join(small, "k").groupBy("name").count()
    salted = skew.salted_join(big, small, "k").groupBy("name").count()
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


# ------------------------------------------------------------------- rag


@pytest.fixture(scope="module")
def doc_frame(spark):
    texts = [
        ("doc-a", " ".join(f"alpha{i}" for i in range(400))),  # ~2.8k chars
        ("doc-b", " ".join(f"beta{i}" for i in range(300))),
        ("doc-c", "tiny"),
        ("doc-d", ""),
    ]
    return spark.createDataFrame(texts, "identifier STRING, text STRING")


def test_build_chunks_explicit_index(spark, doc_frame):
    chunks = rag.build_chunks(doc_frame).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["origin_identifier"], []).append(r)
    assert "doc-d" not in by_doc  # empty text filtered
    assert [r["chunk_index"] for r in sorted(by_doc["doc-a"], key=lambda r: r["chunk_index"])] == list(
        range(len(by_doc["doc-a"]))
    )
    assert len(by_doc["doc-a"]) >= 4
    assert by_doc["doc-c"][0]["chunk"] == "tiny"


def test_build_index_and_search_roundtrip(spark, doc_frame):
    index = rag.build_index(doc_frame).cache()
    assert set(index.columns) >= {"origin_identifier", "chunk_index", "chunk", "embedding", "chunk_id"}
    # search with the embedding of a known chunk → that chunk is the top hit
    target = index.filter("origin_identifier = 'doc-b' AND chunk_index = 0").collect()[0]
    hits = search.cosine_topk(
        index, [float(x) for x in target["embedding"]], k=5, id_col="chunk_id"
    ).collect()
    assert hits[0]["chunk_id"] == target["chunk_id"]
    assert abs(hits[0]["cos_sim"] - 1.0) < 1e-6


def test_ann_matches_exact_on_probe_buckets(spark, doc_frame):
    index = rag.build_index(doc_frame, approximate=True).cache()
    target = index.filter("origin_identifier = 'doc-a' AND chunk_index = 1").collect()[0]
    q = [float(x) for x in target["embedding"]]
    ann = search.ann_topk(index, q, k=3, id_col="chunk_id").collect()
    assert ann, "query's own bucket must be probed"
    assert ann[0]["chunk_id"] == target["chunk_id"]  # self-match survives pruning


def test_ann_query_bucket_equals_indexed_bucket(spark, doc_frame):
    """Index and probe sign vectors with one kernel: every chunk's own
    embedding, used as an ann_topk query, lands in its stored bucket."""
    rows = (
        rag.build_index(doc_frame, approximate=True)
        .select("embedding", "lsh_bucket")
        .collect()
    )
    assert len({r["lsh_bucket"] for r in rows}) > 1
    for r in rows:
        q = [float(x) for x in r["embedding"]]
        assert search._query_bucket(q) == r["lsh_bucket"]


def test_build_index_launches_no_job(spark, doc_frame):
    """The LSH planes are sized by the embedder's known width: building the
    approximate index runs no limit-1 sniff through the chunk and embed
    UDFs, and every chunk keeps the bucket the sniffed width gave it."""
    sc = spark.sparkContext
    sc.setJobGroup("rag-build-index", "build_index")
    try:
        index = rag.build_index(doc_frame, approximate=True)
        assert sc.statusTracker().getJobIdsForGroup("rag-build-index") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sniffed = search.lsh_index(rag.build_index(doc_frame))
    got = {r["chunk_id"]: r["lsh_bucket"] for r in index.select("chunk_id", "lsh_bucket").collect()}
    want = {r["chunk_id"]: r["lsh_bucket"] for r in sniffed.select("chunk_id", "lsh_bucket").collect()}
    assert len(got) > 1 and got == want


# ------------------------------------------------- hypothesis properties


@settings(max_examples=30, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=4000))
def test_chunker_invariants(text):
    chunks = chunk_text(text)
    assert all(len(c) <= CHUNK_SIZE for c in chunks)
    if text.strip():
        assert chunks, "non-blank text must yield at least one chunk"
    # no chunk is pure overlap: every chunk beyond the first contributes
    # at least one new character
    for c in chunks[1:]:
        assert len(c) > 0


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.integers(-10**6, 10**6).map(str),
            st.sampled_from(["NA", "n/a", "-", ""]),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_numeric_inference_property(vals):
    """Columns whose non-null values are ALL integers must infer long."""
    import pandas as pd

    from ndl_core_data_pipeline_spark.ingest.infer import (
        NULL_TOKENS,
    )

    nonnull = [v for v in vals if v.strip() not in NULL_TOKENS]
    spark = test_numeric_inference_property.spark
    df = spark.createDataFrame(pd.DataFrame({"c": pd.Series(vals, dtype="object")}))
    from ndl_core_data_pipeline_spark.ingest.infer import infer_plan

    plan = infer_plan(df)[0]
    if not nonnull:
        assert plan.target == "string"
    else:
        assert plan.target == "long"


@pytest.fixture(autouse=True)
def _bind_spark(spark):
    test_numeric_inference_property.spark = spark


def test_ivf_recall_on_clustered_data(spark):
    """IVF must adapt to cluster structure: 4 well-separated clusters,
    query from cluster 0, nprobe=2 → the probed cells contain the true
    neighbors and recall vs brute force is high. (On isotropic data recall
    degrades to ~nprobe/K by construction — that case is covered by the
    oracle-parity checks of vector_ivf_topk, not by a recall bound.)"""
    rng = np.random.default_rng(11)
    dim, per = 16, 40
    means = np.eye(4, dim) * 10.0
    rows = []
    for c in range(4):
        pts = means[c] + rng.normal(0, 0.5, size=(per, dim))
        rows += [
            (c * per + i, [float(x) for x in pts[i]]) for i in range(per)
        ]
    corpus = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    qvec = [float(x) for x in means[0] + 0.1]

    exact = {
        r["vec_id"] for r in search.cosine_topk(corpus, qvec, 10).collect()
    }
    indexed, centers = search.ivf_index(corpus, n_cells=4)
    approx = {
        r["vec_id"] for r in search.ivf_search(indexed, centers, qvec, nprobe=2, k=10).collect()
    }
    assert len(approx) == 10
    assert len(exact & approx) >= 9  # near-perfect recall on clustered data

    # probed candidates must be a subset of 2 cells
    cells = indexed.filter(F.col("vec_id").isin(list(approx))).select("cell").distinct()
    assert cells.count() <= 2
