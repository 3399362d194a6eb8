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
fold is operators/vector's _cos, and the LSH index (lsh_index)
and its query probe (ann_topk) both sign vectors with
vector._lsh_band_values, so a query always lands in the bucket its own
vector was indexed under. The IVF pair (ivf_index/ivf_search) trains
its cells with the registry's Lloyd loop (vector._kmeans_rows) and
assigns rows and ranks a query's cells with the same left-fold
squared-L2 and comparator (vector._nearest_arrow, vector._fold_d2), so
a query always probes the cell its own vector was indexed under first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from .operators.vector import (
    _arr_dlit,
    _cos,
    _d2_key,
    _fold_d2,
    _id_key,
    _kmeans_rows,
    _lsh_band_values,
    _lsh_bands_arrow,
    _nearest_arrow,
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
    cos = _cos(F.col(vec_col), q)
    return (
        corpus.select(F.col(id_col), cos.alias("cos_sim"))
        .withColumn("distance", 1.0 - F.col("cos_sim"))
        .orderBy(F.asc("distance"), F.asc(id_col))
        .limit(k)
    )


def elbow_cut(hits: DataFrame, distance_col: str = "distance") -> DataFrame:
    """O4 adaptive elbow: ascending-distance diffs; cut at the first diff >
    max(SENSITIVITY × median(diff), MIN_STEP). The median is the
    interpolated one (`percentile`), as in `operators/sorts.elbow_cut` and
    numpy; k = 15 gives an even count of diffs, where the lower middle
    value would cut more. Operates on ≤ k rows, so the single-partition
    window is bounded by construction."""
    w = W.orderBy(F.asc(distance_col))
    d = hits.withColumn("_diff", F.col(distance_col) - F.lag(distance_col, 1).over(w))
    d = d.withColumn(
        "_median_diff",
        F.expr("percentile(_diff, 0.5) over ()"),
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


def ivf_index(corpus: DataFrame, n_cells: int = 16, vec_col: str = "embedding"):
    """IVF coarse quantizer on the engine's k-means: KMEANS_ITERS rounds
    of the registry's Lloyd loop (vector._kmeans_rows) seeded from the
    n_cells rows with the smallest non-NULL vec_id, then every row
    tagged with its nearest cell in one Arrow pass (vector._nearest_arrow).
    Returns (indexed_df_with_cell, centers) where centers is the small
    driver-side [(cell_id, centroid)] list; a cell's id is its seed's
    vec_id. Persist the indexed frame partitioned by `cell` and
    candidate lookup becomes partition pruning — the IVF-list analog of
    the reference's LanceDB index (create_lancedb_index.py:143-148,
    num_partitions=256). Unlike the LSH path this adapts to the data's
    cluster structure; on isotropic data both degrade to ~nprobe/K
    recall (curse of dimensionality — property of the data, not the
    index)."""
    emb = corpus.select(
        "vec_id", F.transform(vec_col, lambda x: x.cast("double")).alias("v")
    )
    seeds = (
        emb.filter(F.col("vec_id").isNotNull()).orderBy("vec_id", "v").limit(n_cells)
    )
    centers = _kmeans_rows(emb, [(r["vec_id"], r["v"]) for r in seeds.collect()])
    rest = [c for c in corpus.columns if c != vec_col]
    indexed = _nearest_arrow(
        corpus,
        centers,
        keep=_passthrough(corpus, *rest),
        v_name=vec_col,
        v_sql_type=dict(corpus.dtypes)[vec_col],
        id_sql_type="bigint",
        out_id="cell",
    )
    return indexed.select(*corpus.columns, "cell"), centers


def ivf_search(
    indexed: DataFrame,
    centers,
    query_vec: list[float],
    nprobe: int = 2,
    k: int = DEFAULT_K,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF probe + exact rerank: the `nprobe` cells nearest the query,
    ranked on (d2, cell_id) with the index's own fold and comparator,
    are chosen driver-side (K centroids — trivially small), members of
    those cells are the candidate set (partition-pruned when stored by
    cell), and the exact cosine runs only on candidates."""
    q = [float(x) for x in query_vec]
    ranked = sorted(
        centers, key=lambda rc: (_d2_key(_fold_d2(q, rc[1])), _id_key(rc[0]))
    )
    probes = [cid for cid, _ in ranked[:nprobe]]
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
