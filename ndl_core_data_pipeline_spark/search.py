"""kNN search pipeline (SURVEY §3.3): query vector → cosine top-k →
adaptive elbow cut → neighbor-chunk merge.

Reference: resources/embedding/rag_search.py —
- top-15 FAISS search (:35),
- elbow filter (:77-119): sort hits by ascending distance, compute
  consecutive diffs, cut at the first diff > max(2.5 × median(diff),
  0.05), keep everything before the cut,
- neighbor merge (:50-65): extend each surviving chunk with the previous/
  next chunk of the same document, trimming the 100-char overlap.

Spark form: the query vector is one array<double> literal; scoring is a
JVM-side expression over array<float>; top-k is TakeOrderedAndProject;
the elbow is a window computation over k rows; the neighbor merge is
lag/lead over (origin, chunk_index) — no collect() anywhere, and the
heavy side (the corpus) is never moved except the k winners.

The exact and LSH tiers hold no vector math of their own: the cosine
folds are operators/vector's _dot/_norm, and the LSH index (lsh_index)
and its query probe (ann_topk) both sign vectors with
vector._lsh_band_values, so a query always lands in the bucket its own
vector was indexed under. The MLlib k-means IVF pair (ivf_index/
ivf_search) is a separate index that the registry's IVF does not share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from .operators.vector import (
    _arr_dlit,
    _dot,
    _lsh_band_values,
    _lsh_bands_arrow,
    _norm,
    _passthrough,
    embedding_dim,
    hyperplane_matrix,
)

DEFAULT_K = 15  # rag_search.py:14
ELBOW_SENSITIVITY = 2.5  # rag_search.py:77
ELBOW_MIN_STEP = 0.05  # rag_search.py:77
NEIGHBOR_OVERLAP = 100  # rag_search.py:12


def cosine_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = DEFAULT_K,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector. Emits
    (id, cos_sim, distance) with distance = 1 - cosine."""
    q = F.expr(_arr_dlit(query_vec))
    cos = _dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * _norm(q))
    return (
        corpus.select(F.col(id_col), cos.alias("cos_sim"))
        .withColumn("distance", 1.0 - F.col("cos_sim"))
        .orderBy(F.asc("distance"), F.asc(id_col))
        .limit(k)
    )


def elbow_cut(hits: DataFrame, distance_col: str = "distance") -> DataFrame:
    """O4 adaptive elbow: ascending-distance diffs; cut at the first diff >
    max(SENSITIVITY × median(diff), MIN_STEP). Operates on ≤ k rows, so the
    single-partition window is bounded by construction."""
    w = W.orderBy(F.asc(distance_col))
    d = hits.withColumn("_diff", F.col(distance_col) - F.lag(distance_col, 1).over(w))
    d = d.withColumn(
        "_median_diff",
        F.expr("percentile_approx(_diff, 0.5) over ()"),
    )
    threshold = F.greatest(
        F.col("_median_diff") * ELBOW_SENSITIVITY, F.lit(ELBOW_MIN_STEP)
    )
    d = d.withColumn(
        "_cut",
        F.max(F.when(F.col("_diff") > threshold, 1).otherwise(0)).over(
            w.rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    return d.filter(F.col("_cut") == 0).drop("_diff", "_median_diff", "_cut")


def neighbor_merge(
    hits: DataFrame,
    chunks: DataFrame,
    id_col: str = "chunk_id",
    origin_col: str = "origin_identifier",
    index_col: str = "chunk_index",
    text_col: str = "chunk",
) -> DataFrame:
    """J3/W1: extend each hit with the previous/next chunk of the same
    document, trimming the overlap chars the chunker duplicated. The
    lag/lead runs over the chunk table (partitioned by origin), then a
    semi-join keeps the hit rows — the reference's positional row lookup
    becomes an explicit ordering key."""
    w = W.partitionBy(origin_col).orderBy(index_col)
    prev = F.lag(text_col, 1).over(w)
    nxt = F.lead(text_col, 1).over(w)
    enriched = (
        chunks.withColumn(f"{text_col}_prev", prev)
        .withColumn(f"{text_col}_next", nxt)
        .select(
            id_col,
            origin_col,
            index_col,
            F.concat_ws(
                "",
                F.coalesce(
                    F.expr(
                        f"substring({text_col}_prev, 1, "
                        f"greatest(length({text_col}_prev) - {NEIGHBOR_OVERLAP}, 0))"
                    ),
                    F.lit(""),
                ),
                F.col(text_col),
                F.coalesce(
                    F.substring(F.col(f"{text_col}_next"), NEIGHBOR_OVERLAP + 1, 1 << 30),
                    F.lit(""),
                ),
            ).alias("merged_text"),
        )
    )
    return hits.join(enriched, id_col, "inner")


N_PLANES = 12  # LSH signature bits for the approximate path


def lsh_index(
    corpus: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """Materialize the ANN index: corpus + lsh_bucket column. Persist this
    (e.g. parquet partitioned by bucket) and candidate lookup becomes a
    partition-pruned scan — the IVF-list analog of the reference's
    LanceDB index (create_lancedb_index.py:143-148).

    The bucket is the engine's one LSH kernel (vector._lsh_bands_arrow)
    with a single band of N_PLANES bits over the same hyperplane_matrix
    as lsh_bucket_assignment; a NULL, ragged or NULL-element vector
    gets bucket 0."""
    if dim is None:
        dim = embedding_dim(corpus, vec_col)
    rest = [c for c in corpus.columns if c != vec_col]
    banded = _lsh_bands_arrow(
        corpus,
        hyperplane_matrix(N_PLANES, dim),
        1,
        keep=_passthrough(corpus, *rest),
        v_name=vec_col,
    )
    return banded.select(
        *corpus.columns, F.col("bvals")[0].alias("lsh_bucket")
    )


def _query_bucket(query_vec: list[float]) -> int:
    """The query's LSH bucket: the same kernel, planes and fold order as
    the lsh_bucket lsh_index stored for an identical vector."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)[None, :]
    planes = np.asarray(hyperplane_matrix(N_PLANES, q.shape[1]))
    return int(_lsh_band_values(q, planes, 1)[0, 0])


def ann_topk(
    indexed: DataFrame,
    query_vec: list[float],
    k: int = DEFAULT_K,
    probe_hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: score only vectors whose bucket is within
    `probe_hamming` bits of the query's bucket (multi-probe LSH), then
    exact-rerank the candidates. The candidate filter prunes the scan —
    at scale, bucket-partitioned storage turns it into partition pruning —
    and the expensive cosine runs on a small fraction of the corpus."""
    sig = _query_bucket(query_vec)
    probes = [sig]
    if probe_hamming >= 1:
        probes += [sig ^ (1 << b) for b in range(N_PLANES)]
    cands = indexed.filter(F.col("lsh_bucket").isin(probes))
    return cosine_topk(cands, query_vec, k, vec_col=vec_col, id_col=id_col)


def ivf_index(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 7,
):
    """IVF coarse quantizer: k-means cells via MLlib (distributed Lloyd
    iterations — idiomatic Spark, no hand-rolled loops), then every vector
    tagged with its nearest cell. Returns (indexed_df_with_cell, centers)
    where centers is the small driver-side list[np.ndarray] (K×dim — always
    tiny relative to the corpus). Persist the indexed frame partitioned by
    `cell` and candidate lookup becomes partition pruning — the IVF-list
    analog of the reference's LanceDB index (create_lancedb_index.py:143-148,
    num_partitions=256). Unlike the LSH path this adapts to the data's
    cluster structure; on isotropic data both degrade to ~nprobe/K recall
    (curse of dimensionality — property of the data, not the index)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    with_vec = corpus.withColumn("_v", array_to_vector(F.col(vec_col)))
    model = KMeans(k=n_cells, seed=seed, featuresCol="_v", predictionCol="cell").fit(
        with_vec
    )
    indexed = model.transform(with_vec).drop("_v")
    return indexed, model.clusterCenters()


def ivf_search(
    indexed: DataFrame,
    centers,
    query_vec: list[float],
    nprobe: int = 2,
    k: int = DEFAULT_K,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF probe + exact rerank: nearest `nprobe` cells to the query are
    chosen driver-side (K centroids — trivially small), members of those
    cells are the candidate set (partition-pruned when stored by cell),
    and the exact cosine runs only on candidates."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    d2 = [float(((np.asarray(c) - q) ** 2).sum()) for c in centers]
    probes = sorted(range(len(centers)), key=lambda i: (d2[i], i))[:nprobe]
    cands = indexed.filter(F.col("cell").isin(probes))
    return cosine_topk(cands, query_vec, k, vec_col=vec_col, id_col=id_col)


def search(
    corpus: DataFrame,
    chunks: DataFrame,
    query_vec: list[float],
    k: int = DEFAULT_K,
) -> DataFrame:
    """Full §3.3 search: corpus has (vec_id, embedding); chunks has
    (chunk_id, origin_identifier, chunk_index, chunk) with chunk_id ==
    vec_id. Returns (chunk_id, cos_sim, merged_text, ...)."""
    hits = elbow_cut(cosine_topk(corpus, query_vec, k))
    hits = hits.withColumnRenamed("vec_id", "chunk_id")
    return neighbor_merge(hits, chunks).orderBy(F.desc("cos_sim"))
