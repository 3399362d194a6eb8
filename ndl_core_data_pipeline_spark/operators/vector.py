"""Vector / similarity operators (SURVEY §2.8 V1–V6 + ANN for scale).

The reference's signature workload: brute-force cosine top-k (FAISS flat /
sentence-transformers util.cos_sim) plus an IVF-PQ approximate index. Here:

- exact cosine = sequential JVM-side double math over array<float> columns
  (zip_with + aggregate — deterministic, no UDF, no Python);
- the scale path is LSH: deterministic random-hyperplane signatures bucket
  vectors so candidate generation is an equi-join on (band, bucket), not an
  O(n²) cross join. At 100 TB the cross join is impossible; the LSH join
  shuffles on bucket keys only.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from ..io import load


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(spark, sf_dir):
    """V3/O3: brute-force cosine top-k against the vec_id=0 query vector
    (ref: eu_theme_classifier.py:28-43 cos_sim + argsort; FAISS flat search
    process_text_chunks.py:100-109). Broadcast the single query row; Spark
    plans TakeOrderedAndProject for the limit."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    cos = _dot(F.col("embedding"), F.col("q_emb")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_emb"))
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", F.round(cos, 6).alias("cos_sim"))
        # label closes the sort key over the full OUTPUT row (r16
        # totality lint): dirty data ties (equal rounded cos_sim, NULL
        # vec_id) with different labels at the rank-20 cut
        .orderBy(F.desc("cos_sim"), "vec_id", "label")
        .limit(20)
    )


def threshold_labels(spark, sf_dir):
    """V4: threshold multi-label assignment — labels with cos > 0.3, top 3
    (ref: eu_theme_classifier.py:10-12,23-47). Run for 5 query vectors at
    once: one broadcast join, per-query window rank."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cos = _dot(F.col("embedding"), F.col("q_emb")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_emb"))
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "label", F.round(cos, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") > 0.3)
    )
    # label tiebreak: totality over the output row (r16 lint)
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id", "label")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "rnk", "vec_id", "label", "cos_sim")
    )


def vector_norms(spark, sf_dir):
    """Norm + dimension audit of the embedding column (the schema-level
    plumbing every vector op relies on)."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(_norm(F.col("embedding")), 6).alias("l2_norm"),
    )


def label_centroids(spark, sf_dir):
    """Per-label centroid via posexplode → groupBy (label, pos) → avg.
    This is the distributed form of classifier prototype vectors: no
    collect(), shuffle keyed on (label, dim) — scales to any corpus size."""
    emb = load(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).select("label", "pos", F.col("val").cast("double").alias("val"))
    return exploded.groupBy("label", "pos").agg(
        F.round(F.avg("val"), 6).alias("centroid_val")
    )


def hyperplane_matrix(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-hyperplanes h[j][d] = ((j*31+d)*2654435761
    % 2001)/1000 - 1. The values depend only on (j, d) — query constants —
    so they are computed ONCE here driver-side (n_planes×dim floats) and
    embedded as literal arrays. Rebuilding them per row per bit with
    transform(sequence(...)) cost 2.24× on the bench."""
    return [
        [((j * 31 + d) * 2654435761 % 2001) / 1000.0 - 1.0 for d in range(dim)]
        for j in range(n_planes)
    ]


def embedding_dim(df, vec_col: str = "embedding") -> int:
    """Vector width sniff — one driver-visible row from a limit-1 scan
    (same single-row pattern as ingest.infer's stats fetch; the array
    length is not in the parquet schema).

    The non-empty filter comes BEFORE the limit: the unfiltered form
    grabbed whatever row arrived first, so a dirty table whose first
    row carries a NULL vector crashed the whole query (a 2%-probability
    arrival-order landmine the empty-input sweep surfaced). The filter
    is size > 0, not isNotNull: a zero-length array would otherwise win
    the probe and size every hyperplane at width 1, silently zeroing
    all real vectors' buckets (review finding).

    Degenerate-input contract (round 14 tightening): a missing or
    non-array ``vec_col`` RAISES plan-side before any job — width-1 can
    only ever mean "no usable vectors", never "wrong column". A
    ZERO-ROW input returns a degenerate width of 1 silently (empty-
    input totality: the width only sizes plan-time literal arrays, and
    NULL/zero-length vectors hash to the same bucket under any width).
    A NON-EMPTY input with no usable vector — an upstream ingestion bug
    nulled the whole column — also returns 1 so the job stays total,
    but emits a loud warning: silence here would degrade LSH to a
    single bucket with no trace. Rejecting such data outright is the
    quality layer's job (checks.vector_elements_valid), not the probe's.
    """
    from pyspark.sql.types import ArrayType

    # case-insensitive match (exact name wins): Spark column resolution
    # is case-insensitive under the default spark.sql.caseSensitive=false,
    # so a caller passing 'Embedding' worked before this assert existed
    # and must keep working (review finding)
    matches = [f for f in df.schema.fields if f.name.lower() == vec_col.lower()]
    field = next((f for f in matches if f.name == vec_col), None)
    if field is None and len(matches) > 1:
        # fail loud here instead of validating an arbitrary pick and
        # letting Spark's later AMBIGUOUS_REFERENCE surface far from the
        # cause (r14 ADVICE) — same plan-side contract as the other raises
        raise TypeError(
            f"embedding_dim: column {vec_col!r} is ambiguous — "
            f"candidates differing only by case: {[f.name for f in matches]}"
        )
    if field is None:
        field = matches[0] if matches else None
    if field is None:
        raise TypeError(
            f"embedding_dim: column {vec_col!r} not in schema "
            f"{[f.name for f in df.schema.fields]}"
        )
    if not isinstance(field.dataType, ArrayType):
        raise TypeError(
            f"embedding_dim: column {vec_col!r} is {field.dataType.simpleString()}, "
            "expected array<numeric>"
        )
    row = (
        df.filter(F.size(vec_col) > 0)
        .select(F.size(vec_col).alias("d"))
        .limit(1)
        .first()
    )
    if row is None or row["d"] is None or row["d"] <= 0:
        # the extra limit-1 probe runs ONLY on this degenerate path
        if df.select(vec_col).limit(1).first() is not None:
            import warnings

            warnings.warn(
                f"embedding_dim: non-empty input but no row has a usable "
                f"(size>0) {vec_col!r} vector — returning degenerate width 1; "
                "every LSH/IVF bucket will collapse. Check ingestion "
                "(quality layer: checks.vector_elements_valid).",
                RuntimeWarning,
                stacklevel=2,
            )
        return 1
    return int(row["d"])


def _passthrough(df, *names):
    """(name, sql_type) pairs for the columns an Arrow pass carries
    through unchanged, typed from `df`'s own schema: a hardcoded type
    makes the pass fail as soon as the input differs (a bigint label
    read through an int schema dies in ArrowVectorAccessor.getInt)."""
    types = dict(df.dtypes)
    return [(nm, types[nm]) for nm in names]


def lsh_bucket_assignment(spark, sf_dir):
    """V5 scale path: random-hyperplane LSH — 16-bit signatures from the
    deterministic hyperplane_matrix, so the oracle reproduces the exact
    buckets. The matrix ships as 16 literal dim-length arrays; per row the
    work is 16 zip_with dot products, nothing rebuilt. Near-duplicate
    candidates then join on equal signature instead of crossing n²
    (ref ANN: LanceDB IVF-PQ, create_lancedb_index.py:143-148 — different
    algorithm, same role: prune the candidate space)."""
    emb = load(spark, sf_dir, "embeddings")
    planes = hyperplane_matrix(LSH_SIG_BITS, embedding_dim(emb))
    # r20 (guide §4.2): the 16 dot-product folds per row run as one
    # Arrow/numpy pass (_lsh_bands_arrow with a single band of width 16
    # — band 0's value IS the full signature); tests pin it to the
    # SQL-HOF form in tests/reference_forms.py. Plan:
    # plans/r20/vector_lsh_buckets_{before,after}.txt.
    out = _lsh_bands_arrow(
        emb.select("vec_id", "label", "embedding"),
        planes,
        1,
        keep=_passthrough(emb, "vec_id", "label"),
    )
    return out.select(
        "vec_id", "label", F.col("bvals")[0].alias("lsh_bucket")
    )


# Probed cells per query. Tuned round 18 (VERDICT r17 stretch item 8)
# from the measured recall-vs-nprobe curve at sf1 (20k vectors, K=10
# label cells, CLUSTERLESS corpus — gen_scale documents per-label
# centroid norm ~1/sqrt(n), so recall tracks the candidate fraction
# nearly linearly and there is no sharp knee to sit on):
#   nprobe  1     2     3     4     5     6
#   mean    0.18  0.46  0.58  0.68  0.72  0.84
#   min     0.00  0.20  0.40  0.60  0.60  0.70
#   cands   2053  3997  5977  8130  10136 12126 (avg of ~20k corpus)
# nprobe=4 is the first point clearing the mean>=0.6 quality target
# (0.68/0.60) at 2x the r17 candidate cost — still a broadcast-joined
# 40% partial scan, trivially cheap at this K. On a REAL clustered
# corpus the same setting scans far less: candidate fraction follows
# the cell-occupancy skew, not K/nprobe. The ann_recall_floor gate
# re-pins to the tuned operating point.
IVF_NPROBE = 4


def _centroid_arrays(emb):
    """Coarse-quantizer cells as (cell_id, centroid array<double>): per-label
    mean vector, built distributively (posexplode → keyed avg → re-assemble
    ordered by position). Rounding to 6 decimals makes the centroid an EXACT
    shared input for all downstream distance math. At 100 TB the centroid
    table is K×dim — always broadcastable."""
    exploded = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    cent = exploded.groupBy("label", "pos").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("cval")
    )
    return (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pc"))
        .select(
            F.col("label").alias("cell_id"),
            F.transform("pc", lambda s: s["cval"]).alias("centroid"),
        )
    )


def _sq_l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_cell_assignments(spark, sf_dir, cents=None):
    """IVF build step: every vector assigned to its nearest coarse cell
    (map-side argmin — no n², no expansion). The assigned cell can
    differ from the vector's own label; that disagreement is the
    quantizer doing its job.

    r20 (guide §4.2): the interpreted HOF argmin over the broadcast
    centroid row is replaced by the Arrow-native argmin against the
    driver-collected K-row centroid table (_nearest_arrow — bit-exact
    fold + comparator, see its block comment). `cents` may be passed as
    the (cell_id, centroid) DataFrame (ivf_topk / ann_recall share the
    centroid build); it is collected here — K rows, the same table the
    former plan broadcast. The groupBy(vec_id) stays — it is what
    merges NULL vec_ids into one output row (nullheavy fixtures null
    ids; min over per-row argmins == global min by associativity)."""
    emb = load(spark, sf_dir, "embeddings")
    if cents is None:
        cents = _centroid_arrays(emb)
    cent_rows = [(r["cell_id"], r["centroid"]) for r in cents.collect()]
    if not cent_rows:
        # former size(cs) > 0 guard: no cells -> no output rows
        return emb.filter(F.lit(False)).select(
            "vec_id",
            F.lit(None).cast("int").alias("cell_id"),
            F.lit(None).cast("double").alias("dist2"),
        )
    per_row = _nearest_arrow(
        emb.select("vec_id", "embedding"),
        cent_rows,
        keep=_passthrough(emb, "vec_id"),
        v_name="embedding",
        v_sql_type="array<float>",
        id_sql_type="int",
        with_d2=True,
    )
    return (
        per_row.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cell_id")).alias("m"))
        .select(
            "vec_id",
            F.col("m.cell_id").alias("cell_id"),
            F.round(F.col("m.d2"), 6).alias("dist2"),
        )
    )


def ivf_topk(spark, sf_dir):
    """IVF search: probe the IVF_NPROBE cells nearest the query (vec_id=0),
    exact cosine rerank over members of the probed cells only, top 10.
    Scale shape: candidate set ≈ nprobe/K of the corpus; the rerank join is
    an equi-join on vec_id (co-partitioned), never a cross join (reference
    ANN analog: LanceDB IVF-PQ, create_lancedb_index.py:143-148)."""
    emb = load(spark, sf_dir, "embeddings")
    # r20: the K×dim centroid table is computed ONCE and collected (the
    # assignment consumer needs the driver rows for the Arrow argmin
    # anyway); the probe reads the same rows as a K-row local relation —
    # replaces the r19 .cache() shared-subtree cut
    cent_rows = [
        (r["cell_id"], r["centroid"]) for r in _centroid_arrays(emb).collect()
    ]
    cents = _cents_df(spark, cent_rows, id_sql_type="INT")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    probed = (
        cents.crossJoin(F.broadcast(q))
        .select("cell_id", _sq_l2(F.col("q_emb"), F.col("centroid")).alias("qd2"))
        .orderBy("qd2", "cell_id")
        .limit(IVF_NPROBE)
        .select("cell_id")
    )
    members = ivf_cell_assignments(spark, sf_dir, cents=cents).join(
        F.broadcast(probed), "cell_id", "left_semi"
    )
    cand = emb.join(members, "vec_id", "left_semi").filter(F.col("vec_id") != 0)
    cos = _dot(F.col("embedding"), F.col("q_emb")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_emb"))
    )
    return (
        cand.crossJoin(F.broadcast(q))
        .select("vec_id", "label", F.round(cos, 6).alias("cos_sim"))
        # label tiebreak: totality over the output row (r16 lint)
        .orderBy(F.desc("cos_sim"), "vec_id", "label")
        .limit(10)
    )


EMB_GRAM_CHUNK = 1024  # rows per gram tile; tasks per label ≈ (n/C)²/2


def _tile_pairs(ids_a, xa, ids_b, xb, diagonal, slack):
    """Candidate (lo, hi) id pairs of one gram tile: normalize rows, one
    BLAS matmul, threshold at `slack`, strict upper triangle on diagonal
    tiles (each unordered pair once, no self-pairs), min/max orientation
    so a<b regardless of chunk/bucket membership order. Zero-norm rows
    (zero or empty vectors) get norm 1 → cosine 0 → never a candidate
    for positive thresholds, which matches the pair-explode forms this
    replaced: their exact-verify division 0/0 is NULL under the
    session's non-ANSI Divide (io.ensure_session_defaults), and
    NULL ≥ threshold filters the pair out — checked empirically, and
    pinned with a zero vector in
    test_cosine_near_dup_multi_chunk_tiles_match_brute_force."""
    import numpy as np

    na = np.linalg.norm(xa, axis=1, keepdims=True)
    na = np.where(na == 0, 1.0, na)
    xa = xa / na
    if diagonal:
        ids_b, xb = ids_a, xa
    else:
        nb = np.linalg.norm(xb, axis=1, keepdims=True)
        nb = np.where(nb == 0, 1.0, nb)
        xb = xb / nb
    m = xa @ xb.T >= slack
    if diagonal:
        m = np.triu(m, k=1)
    ii, jj = np.nonzero(m)
    ga, gb = ids_a[ii], ids_b[jj]
    return np.minimum(ga, gb), np.maximum(ga, gb)


def embedding_cosine_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, label-blocked EXACT form:
    within a blocking key, every a<b pair with cosine ≥
    EMB_NEAR_DUP_MIN_COS. The semantics are inherently Θ(Σ n_label²) —
    the oracle is the same all-pairs SQL — so the scale question is HOW
    the quadratic work runs, and the r10 registry-wide sf1 sweep showed
    the answer matters: the r6 row-pair join evaluated a 64-element
    zip_with fold per candidate (~20 µs/pair) and clocked 105× per 10×
    rows (4.2 s → 440 s). This form tiles the pair space instead:
    hash-chunk each label into ⌈n/C⌉ chunks of ≤C rows (no per-label
    window — chunk count comes from a broadcast keyed count), pack each
    chunk once, join chunk pairs (ca ≤ cb), and let one vectorized
    numpy gram (BLAS matmul) per tile emit CANDIDATES at a 1e-6 slack
    under the threshold. The final cosine is then re-computed on the
    output-sized candidate set with the ORIGINAL fold expression and
    F.round half-up, so the emitted values are bit-identical to the r6
    form (float-association slack never prunes a true pair: fold-vs-BLAS
    drift is ~1e-14, the rounding slack 0.5e-6). Measured after: 4.2 s →
    0.60 s at sf0.1 and 440 s → 1.15 s at sf1 (105× per 10× rows →
    ~1.9×, with the 100× pair growth absorbed by the gram tiles).

    The content-blocked production form is embedding_lsh_near_dup
    below, which derives the block key from the vectors themselves."""
    # NULL embedding or vec_id rows can never emit a pair in the r6
    # row-pair form (NULL cosine fails the filter; NULL ids fail a<b),
    # but a None inside a packed chunk would crash np.array — exclude
    # them before chunking
    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
    )
    n_chunks = F.broadcast(
        emb.groupBy("label").agg(
            F.ceil(F.count("*") / EMB_GRAM_CHUNK).cast("int").alias("_k")
        )
    )
    chunked = emb.join(n_chunks, "label").withColumn(
        "_c", F.pmod(F.hash("vec_id"), F.col("_k"))
    )
    packed = chunked.groupBy("label", "_c").agg(
        F.collect_list(F.struct("vec_id", "embedding")).alias("_rows")
    )
    tasks = (
        packed.select("label", F.col("_c").alias("_ca"), F.col("_rows").alias("_ra"))
        .join(
            packed.select(
                "label", F.col("_c").alias("_cb"), F.col("_rows").alias("_rb")
            ),
            "label",
        )
        .filter(F.col("_ca") <= F.col("_cb"))
    )
    slack = EMB_NEAR_DUP_MIN_COS - 1e-6  # covers round-half-up + fp drift

    def gram(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_l, out_a, out_b = [], [], []
            for label, ca, cb, ra, rb in zip(
                pdf["label"], pdf["_ca"], pdf["_cb"], pdf["_ra"], pdf["_rb"]
            ):
                ids_a = np.array([r["vec_id"] for r in ra], dtype=np.int64)
                xa = np.array([r["embedding"] for r in ra], dtype=np.float64)
                if ca == cb:
                    ids_b = xb = None
                else:
                    ids_b = np.array([r["vec_id"] for r in rb], dtype=np.int64)
                    xb = np.array([r["embedding"] for r in rb], dtype=np.float64)
                lo, hi = _tile_pairs(ids_a, xa, ids_b, xb, ca == cb, slack)
                out_l.extend([label] * len(lo))
                out_a.extend(lo.tolist())
                out_b.extend(hi.tolist())
            yield pd.DataFrame(
                {"label": out_l, "vec_a": out_a, "vec_b": out_b}
            )

    label_t = dict(emb.dtypes)["label"]
    cand = tasks.mapInPandas(gram, f"label {label_t}, vec_a BIGINT, vec_b BIGINT")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    # r20 (guide §4.2): the exact re-verify runs as one Arrow pass (same
    # helper as the LSH form — exact fold order, quotient + HALF_UP
    # rounding in the JVM)
    pairs = cand.join(a, "vec_a").join(b, "vec_b").select(
        "label", "vec_a", "vec_b", "emb_a", "emb_b"
    )
    verified = _cos_verify_arrow(
        pairs, keep=_passthrough(pairs, "label", "vec_a", "vec_b")
    )
    return (
        verified.select(
            "label",
            "vec_a",
            "vec_b",
            F.round(F.col("cos_raw"), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= EMB_NEAR_DUP_MIN_COS)
    )


LSH_SIG_BITS = 16  # signature width; every use derives from this constant
LSH_SIG_BANDS = 4  # 16-bit signature → 4 bands of 4 bits
LSH_BAND_BITS = LSH_SIG_BITS // LSH_SIG_BANDS
LSH_BAND_MASK = (1 << LSH_BAND_BITS) - 1
# verify threshold: production near-dup uses ~0.9; the registered query uses
# 0.35 because the synthetic embeddings top out at ~0.47 pairwise cosine —
# a 0.9 contract would be permanently-zero-row evidence
EMB_NEAR_DUP_MIN_COS = 0.35


def _lsh_band_values(M, H, n_bands: int):
    """LSH band values of the clean float64 vectors M (rows, dim) against
    the planes H (bits, dim): an (rows, n_bands) int64 array where bit k
    of band b is the sign of plane b·w+k's dot, w = bits/n_bands. The
    one signature kernel — the Arrow index pass and search.ann_topk's
    query signature both call it, so a query and the vector it was
    indexed from always agree on the bucket.

    Each dot is the left fold of x·h in dimension order (the fold order
    of the JVM's aggregate(zip_with(...)), which a BLAS dot does not
    keep), and the bit is Spark's `dot > 0`: NaN is GREATER than every
    value in Spark, so a NaN dot sets its bit (numpy's NaN > 0 is False
    — pinned by test_lsh_bands_arrow_matches_sql_hof)."""
    import numpy as np

    bits, dim = H.shape
    w = bits // n_bands
    acc = np.zeros((len(M), bits))
    for i in range(dim):  # exact left-fold order per plane
        acc = acc + M[:, i : i + 1] * H[:, i][None, :]
    bitvals = ((acc > 0) | np.isnan(acc)).astype(np.int64)
    out = np.zeros((len(M), n_bands), dtype=np.int64)
    for bnd in range(n_bands):
        for k in range(w):
            out[:, bnd] += bitvals[:, bnd * w + k] << k
    return out


def _lsh_bands_arrow(df, planes, n_bands: int, *, keep, v_name="embedding"):
    """Per-row LSH band values as ONE Arrow pass (guide §4.2), appending
    `bvals` (array<bigint>, one value per band) — replaces n_planes
    interpreted zip_with/aggregate dot-product folds per row.

    Exactness contract (pinned in tests/test_round20_argmin.py):
    - each plane's dot is the left fold of CAST(x AS DOUBLE) * hv and
      bit k of band b is Spark's (dot > 0), NaN included — both in
      _lsh_band_values, so finite/NaN/Inf arithmetic is bit-identical
      to the JVM HOF;
    - a row whose vector is NULL, has a NULL element, or whose length
      differs from the plane dimension makes EVERY dot NULL (zip_with
      pads with NULL and the fold sticks), so all its band values are 0
      — emitted as constants, no per-row fallback needed."""
    import numpy as np

    H = np.array(planes, dtype=np.float64)  # (bits, dim)
    dim = H.shape[1]

    def bands(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            vcol = b.column(b.schema.get_field_index(v_name))
            if isinstance(vcol, pa.ChunkedArray):  # pragma: no cover
                vcol = vcol.combine_chunks()
            offs = vcol.offsets.to_numpy(zero_copy_only=False)
            rlens = offs[1:] - offs[:-1]
            row_null = np.asarray(vcol.is_null())
            vals = vcol.values
            el_null = np.asarray(vals.is_null()) if len(vals) else np.zeros(0, bool)
            cum = np.concatenate([[0], np.cumsum(el_null)])
            any_el_null = (cum[offs[1:]] - cum[offs[:-1]]) > 0
            clean = (~row_null) & (rlens == dim) & (~any_el_null)
            bv = np.zeros((n, n_bands), dtype=np.int64)
            idx = np.nonzero(clean)[0]
            if len(idx):
                starts = offs[:-1][idx]
                gather = starts[:, None] + np.arange(dim)[None, :]
                M = vals.to_numpy(zero_copy_only=False).astype(
                    np.float64, copy=False
                )[gather]
                bv[idx] = _lsh_band_values(M, H, n_bands)
            arrays = [b.column(b.schema.get_field_index(nm)) for nm, _ in keep]
            names = [nm for nm, _ in keep]
            arrays.append(vcol)
            names.append(v_name)
            arrays.append(
                pa.array(bv.tolist(), type=pa.list_(pa.int64()))
            )
            names.append("bvals")
            yield pa.RecordBatch.from_arrays(arrays, names)

    v_sql_type = dict(df.dtypes)[v_name]  # array<float> or array<double>
    schema = ", ".join(
        [f"{nm} {tp}" for nm, tp in keep]
        + [f"{v_name} {v_sql_type}", "bvals array<bigint>"]
    )
    return df.mapInArrow(bands, schema)


def _fold_dot(a, b):
    """Exact scalar zip_with/aggregate dot fold (None on length mismatch
    or NULL elements; Python floats are IEEE doubles)."""
    if a is None or b is None or len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        acc = acc + float(x) * float(y)
    return acc


def _cos_verify_arrow(df, *, a_name="emb_a", b_name="emb_b", keep, dim=64):
    """Exact cosine FOLDS for candidate pairs as ONE Arrow pass: appends
    dot, sa (=sum a_i^2) and sb with every fold in the exact sequential
    order of _dot/_norm (guide §4.2 — replaces three interpreted HOF
    folds per surviving pair). The quotient dot/(sqrt(sa)*sqrt(sb)) and
    the HALF_UP rounding stay in the JVM, so division semantics —
    including the session's ANSI divide-by-zero error on a zero-norm
    vector — are exactly the old expression's. Rows whose vectors are
    NULL, hold NULL elements, or differ from `dim` take the exact
    per-row scalar path (equal non-dim lengths still produce finite
    folds, exactly like zip_with)."""

    def verify(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            n = b.num_rows

            def col_info(name):
                c = b.column(b.schema.get_field_index(name))
                if isinstance(c, pa.ChunkedArray):  # pragma: no cover
                    c = c.combine_chunks()
                offs = c.offsets.to_numpy(zero_copy_only=False)
                rl = offs[1:] - offs[:-1]
                rn = np.asarray(c.is_null())
                vv = c.values
                en = np.asarray(vv.is_null()) if len(vv) else np.zeros(0, bool)
                cm = np.concatenate([[0], np.cumsum(en)])
                anyn = (cm[offs[1:]] - cm[offs[:-1]]) > 0
                return c, offs, (~rn) & (rl == dim) & (~anyn)

            ca, offa, cleana = col_info(a_name)
            cb, offb, cleanb = col_info(b_name)
            clean = cleana & cleanb
            dot_o = [None] * n
            sa_o = [None] * n
            sb_o = [None] * n
            idx = np.nonzero(clean)[0]
            if len(idx):
                ga = offa[:-1][idx][:, None] + np.arange(dim)[None, :]
                gb = offb[:-1][idx][:, None] + np.arange(dim)[None, :]
                A = ca.values.to_numpy(zero_copy_only=False).astype(
                    np.float64, copy=False
                )[ga]
                B = cb.values.to_numpy(zero_copy_only=False).astype(
                    np.float64, copy=False
                )[gb]
                d = np.zeros(len(idx))
                sa = np.zeros(len(idx))
                sb = np.zeros(len(idx))
                for i in range(dim):  # exact left-fold order
                    d = d + A[:, i] * B[:, i]
                    sa = sa + A[:, i] * A[:, i]
                    sb = sb + B[:, i] * B[:, i]
                for t, ri in enumerate(idx):
                    ri = int(ri)
                    dot_o[ri] = float(d[t])
                    sa_o[ri] = float(sa[t])
                    sb_o[ri] = float(sb[t])
            for ri in np.nonzero(~clean)[0]:
                ri = int(ri)
                a_py = ca[ri].as_py()
                b_py = cb[ri].as_py()
                dot_o[ri] = _fold_dot(a_py, b_py)
                sa_o[ri] = _fold_dot(a_py, a_py)
                sb_o[ri] = _fold_dot(b_py, b_py)
            arrays = [b.column(b.schema.get_field_index(nm)) for nm, _ in keep]
            names = [nm for nm, _ in keep]
            arrays.append(pa.array(dot_o, type=pa.float64()))
            names.append("dot")
            arrays.append(pa.array(sa_o, type=pa.float64()))
            names.append("sa")
            arrays.append(pa.array(sb_o, type=pa.float64()))
            names.append("sb")
            yield pa.RecordBatch.from_arrays(arrays, names)

    schema = ", ".join(
        [f"{nm} {tp}" for nm, tp in keep]
        + ["dot double", "sa double", "sb double"]
    )
    out = df.mapInArrow(verify, schema)
    return out.withColumn(
        "cos_raw", F.col("dot") / (F.sqrt("sa") * F.sqrt("sb"))
    ).drop("dot", "sa", "sb")


def lsh_near_dup_pairs(
    emb,
    min_cos: float,
    sig_bits: int = LSH_SIG_BITS,
    n_bands: int = LSH_SIG_BANDS,
):
    """Embedding-cosine near-duplicates with LSH-banded blocking over any
    (vec_id, embedding) DataFrame: candidate pairs collide on any band of
    the hyperplane signature, then an exact cosine verify. ONE pass
    computes every band value; each capped bucket is verified as a gram
    TILE (one BLAS matmul at 1e-6 slack) so only output-sized survivors
    reach the distinct and the two keyed vector-fetch joins — the full
    corpus is never self-joined and no per-collision pair row exists.

    (sig_bits, n_bands) is the scale knob: candidates per band ≈
    n²/2^(sig_bits/n_bands), so band bits must grow with log₂(n) —
    production near-dup (cos ≥ 0.9) uses 128 bits in 8×16-bit bands,
    giving ~n²/65536 candidates at ~50% recall (both configs pinned by
    tests/test_search.py recall tests). The registered query's 16/4
    setting matches the synthetic corpus, whose pairwise-cosine ceiling
    (~0.47) needs permissive bands to produce any verified rows; the
    MAX_BUCKET_MEMBERS cap bounds the worst case either way, and gram
    tiles make the within-cap collision work BLAS-bound: the r10 sf1
    sweep measured the pair-explode form at 14× per 10× rows (7.7 s →
    108.7 s, ~52M collisions at sf1); tiles run 0.80 s → 6.7 s. The
    remaining growth is the n²/2^band_bits matrix entries themselves —
    the toy 4-bit bands keep that quadratic by construction, which is
    why production bands grow with log₂(n); the tiles just price each
    entry at a BLAS flop instead of a shuffled+folded pair row."""
    if sig_bits % n_bands:
        raise ValueError(f"sig_bits {sig_bits} not divisible by n_bands {n_bands}")
    from .dedup import MAX_BUCKET_MEMBERS

    planes = hyperplane_matrix(sig_bits, embedding_dim(emb))
    # NULL rows hash to band value 0 (every when() falls to otherwise)
    # but can never emit a pair — NULL cosine fails the verify — and a
    # None inside a packed bucket would crash np.array: exclude them
    emb = emb.filter(F.col("embedding").isNotNull() & F.col("vec_id").isNotNull())
    # r20 (guide §4.2): band values from ONE Arrow pass, exploded JVM-
    # side (posexplode index == the former struct's band literal); the
    # SQL-HOF band form it replaced is the test reference in
    # tests/reference_forms.py. Bit-exactness: _lsh_band_values.
    banded = _lsh_bands_arrow(
        emb.select("vec_id", "embedding"),
        planes,
        n_bands,
        keep=_passthrough(emb, "vec_id"),
    ).select(
        "vec_id", "embedding", F.posexplode("bvals").alias("band", "bval")
    )
    # plain collect_list: pair orientation comes from min/max in
    # _tile_pairs and cross-band dedup from the distinct below, so the
    # r6 form's sort (load-bearing for _bucket_pairs' first<second
    # suffix invariant) would now be an O(m log m) struct sort per
    # bucket buying nothing
    buckets = (
        banded.groupBy("band", "bval")
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("rows"))
        .filter(
            (F.size("rows") > 1) & (F.size("rows") <= MAX_BUCKET_MEMBERS)
        )
    )
    # gram-tile the bucket BEFORE any pair materializes: one BLAS matmul
    # per bucket emits only pairs within 1e-6 slack of the threshold, so
    # the distinct and the two vector-fetch joins below see an
    # output-sized stream instead of every band collision. (The r6 form
    # exploded every within-bucket pair and verified each with a
    # 64-element fold — at sf1 the registered 16/4 config collides
    # ~52M pairs, 14× per 10× rows in the r10 sweep; gram tiles took it
    # to 1.3×.) The cap keeps _bucket_pairs' documented degenerate-
    # bucket guard (audit with dedup.oversize_buckets on the same
    # frame); candidates that fail the exact fold are re-filtered below,
    # so emitted values are bit-identical to the pair-explode form.
    slack = min_cos - 1e-6

    def gram(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a, out_b = [], []
            for rows in pdf["rows"]:
                ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
                x = np.array([r["embedding"] for r in rows], dtype=np.float64)
                lo, hi = _tile_pairs(ids, x, None, None, True, slack)
                out_a.extend(lo.tolist())
                out_b.extend(hi.tolist())
            yield pd.DataFrame({"vec_a": out_a, "vec_b": out_b})

    pair_ids = (
        buckets.select("rows")
        .mapInPandas(gram, "vec_a BIGINT, vec_b BIGINT")
        .distinct()
    )
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    # r20 (guide §4.2): the exact verify — three interpreted HOF folds
    # per candidate, the pipeline's dominant cost once tiles prune the
    # collisions — runs as one Arrow pass (_cos_verify_arrow, exact
    # fold order); HALF_UP rounding stays in the JVM.
    pairs = pair_ids.join(a, "vec_a").join(b, "vec_b").select(
        "vec_a", "vec_b", "emb_a", "emb_b"
    )
    verified = _cos_verify_arrow(
        pairs, keep=_passthrough(pairs, "vec_a", "vec_b")
    )
    return (
        verified.select(
            "vec_a", "vec_b", F.round(F.col("cos_raw"), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= min_cos)
    )


def embedding_lsh_near_dup(spark, sf_dir, min_cos: float = EMB_NEAR_DUP_MIN_COS):
    """Registered 16-bit/4-band form of lsh_near_dup_pairs over the
    embeddings table (band values reproduce the monolithic 16-bit
    signature's 4-bit slices exactly, so the DuckDB oracle is unchanged)."""
    return lsh_near_dup_pairs(
        load(spark, sf_dir, "embeddings"), min_cos, LSH_SIG_BITS, LSH_SIG_BANDS
    )


# DuckDB oracle fragments: each formula is spelled once here and every
# vector oracle composes them.


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(list_sum(list_transform({a}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )


def _cos_sql(a: str, b: str) -> str:
    return f"{_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)})"


def _sq_l2_cast_sql(a: str, b: str) -> str:
    """Squared L2 that casts each left element to DOUBLE."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2])))"
    )


def _sq_l2_sql(a: str, b: str) -> str:
    """Squared L2 over operands that are already DOUBLE."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "x -> (x[1] - x[2]) * (x[1] - x[2])))"
    )


def _lsh_bit_terms_sql() -> str:
    """DuckDB expression for the 16-bit signature, reproducing
    hyperplane_matrix bit-for-bit (expects columns embedding, dim)."""
    hp = "(( ({j}*31 + d) * 2654435761 ) % 2001) / 1000.0 - 1.0"
    return " + ".join(
        "(CASE WHEN list_sum(list_transform(range(0, dim), "
        f"d -> CAST(embedding[d + 1] AS DOUBLE) * ({hp.format(j=j)}))) > 0 "
        f"THEN 1 ELSE 0 END) * {2**j}"
        for j in range(LSH_SIG_BITS)
    )


# ------------------------------------------------------- product quantization

PQ_M = 8  # subvectors per vector (64-dim → 8 subvectors of 8 dims)
PQ_SUBDIM = 8


def _pq_codebooks(emb):
    """Per-subvector codebooks: codeword `code` of subquantizer `m` is the
    per-label mean of that subvector (deterministic analog of the k-means
    codebooks in IVF-PQ — same substitution `_centroid_arrays` makes for
    the coarse quantizer). Rounded to 6 dp so the codebook is an EXACT
    shared input for both engines. Size M×K×subdim — always broadcastable
    (a real 100 TB PQ: M=16..64, K=256 → a few MB)."""
    exploded = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    cb = exploded.groupBy(
        (F.col("pos") / PQ_SUBDIM).cast("int").alias("m"),
        F.col("label").alias("code"),
        (F.col("pos") % PQ_SUBDIM).alias("spos"),
    ).agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("cval"))
    return (
        cb.groupBy("m", "code")
        .agg(F.array_sort(F.collect_list(F.struct("spos", "cval"))).alias("pc"))
        .select("m", "code", F.transform("pc", lambda s: s["cval"]).alias("subcent"))
    )


def _subvectors(emb):
    """Explode each vector into its M subvector slices — pure map-side
    (slice + explode), no shuffle: the encode path ships (vec_id, m,
    8 floats), never the full vector twice."""
    return emb.select(
        "vec_id",
        "label",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("embedding", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias(
                            "subvec"
                        ),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", "label", F.col("s.m").alias("m"), F.col("s.subvec").alias("subvec"))


def _pq_filtered(emb):
    """PQ is defined over identified, labeled, non-NULL vectors: a NULL
    embedding would emit M NULL-subvec rows (oracle's UNNEST emits
    none); NULL vec_ids would merge distinct vectors into one argmin
    group; a NULL label would train a NULL codeword class whose argmin
    tie order is engine-specific. Shared by every PQ encode path so
    the domain filter cannot drift."""
    return emb.filter(
        F.col("embedding").isNotNull()
        & F.col("vec_id").isNotNull()
        & F.col("label").isNotNull()
    )


def pq_codes(spark, sf_dir):
    """PQ encode: each vector compresses to M one-byte-ish codes — the
    argmin codeword per subquantizer (ties to the smallest code). The
    keyed struct-min collapses the K-way expansion map-side (same plan
    shape as `ivf_cell_assignments`); at 100 TB the output is M small
    ints per vector, a ~32× compression of a 64-dim float vector.
    Reference ANN analog: LanceDB IVF-PQ (create_lancedb_index.py:143-148)
    — this is the PQ half, the IVF half is `vector_ivf_assignments`.

    r20 (guide §4.2): the encode is ONE Arrow pass — slice + M×K
    distance math + argmin vectorized in numpy against the
    driver-collected codebook (_pq_encode_arrow; the collect replaces
    the r19 eager checkpoint as the codebook materialization). The r19
    broadcast join + interpreted HOF argmin (and before that the K-way
    expansion + keyed shuffle) are gone. Plan:
    plans/r20/vector_pq_codes_{before,after}.txt."""
    emb = _pq_filtered(load(spark, sf_dir, "embeddings"))
    cw = _collect_codebook(_pq_codebooks(emb))
    enc = _pq_encode_arrow(
        emb.select("vec_id", "embedding"),
        cw,
        keep=_passthrough(emb, "vec_id"),
        v_name="embedding",
        with_d2=True,
    )
    return enc.select(
        "vec_id",
        "m",
        "code",
        F.round(F.col("d2"), 6).alias("dist2"),
    )


def pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance (ADC) top-k: the query stays UNquantized;
    its distance to every codeword is a tiny M×K lookup table (broadcast),
    and each database vector's approximate distance is the sum of M table
    lookups keyed by its stored codes — the scan never touches the
    original vectors. Per-subquantizer distances round to 6 dp and sum as
    decimals so the ranking hashes identically across engines. At 100 TB
    this is the memory-bound ANN scan shape: codes table + broadcast LUT,
    no float vectors in the hot loop.

    r20 (guide §4.2): the DATABASE encode is ONE Arrow pass — slice +
    M×K distance math + argmin vectorized in numpy against the
    driver-collected codebook (_pq_encode_arrow; the collect replaces
    the r19 eager checkpoint as the codebook materialization; vec 0 is
    dropped BEFORE the opaque pass because mapInArrow blocks predicate
    pushdown). Only the 1-vector QUERY side still expands K ways (M×K
    tiny rows) because the LUT needs every codeword distance, not the
    argmin. Plan: plans/r20/vector_pq_adc_topk_{before,after}.txt."""
    emb = _pq_filtered(load(spark, sf_dir, "embeddings"))
    cb = _pq_codebooks(emb)
    cw = _collect_codebook(cb)
    codes = _pq_encode_arrow(
        emb.filter(F.col("vec_id") != 0).select("vec_id", "label", "embedding"),
        cw,
        keep=_passthrough(emb, "vec_id", "label"),
        v_name="embedding",
    )
    cb_df = spark.createDataFrame(
        [(m, code, sc_) for m, rows in sorted(cw.items()) for code, sc_ in rows],
        "m INT, code INT, subcent ARRAY<DOUBLE>",
    )
    lut = (
        _subvectors(emb.filter(F.col("vec_id") == 0))
        .join(F.broadcast(cb_df), "m")
        .select(
            "m",
            "code",
            F.round(_sq_l2(F.col("subvec"), F.col("subcent")), 6).alias("qd2"),
        )
    )
    return (
        codes.join(F.broadcast(lut), ["m", "code"])
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("qd2").cast("decimal(25,6)")).cast("double").alias("adc_d2"))
        # label tiebreak: totality over the output row (r16 lint)
        .orderBy("adc_d2", "vec_id", "label")
        .limit(10)
    )


KMEANS_K = 8
KMEANS_ITERS = 2
_KM_DEC = "decimal(27,10)"  # exact partial sums for unit-magnitude dims


# --------- r20: Arrow-native nearest-centroid argmin (guide §4.2) ---------
#
# The r19 map-side argmin (its HOF form is now the test reference
# tests/reference_forms.argmin_cell) evaluated interpreted
# higher-order functions per row: transform(cs, ...) × zip_with ×
# aggregate is ~1.5k boxed lambda evaluations per vector (~70 µs/row at
# sf1 — THE per-row cost of every kmeans/IVF/PQ corpus pass). Codegen
# cannot help: an unrolled K×dim argmin is a single expression, Janino
# fails it with "Code grows beyond 64 KB" and the whole stage falls back
# to interpreted eval (measured; see OPTIMIZATION_r20.md). The fix is
# guide §4.2 — hand whole Arrow batches to numpy — with the JVM
# semantics reproduced EXACTLY:
#
# d2 semantics of aggregate(zip_with(v, c, (x,y)->(x-y)*(x-y)), 0.0, +):
#   zip_with pads the shorter side with NULL and the left fold sticks at
#   NULL, so d2 is NULL iff len(v) != len(c) OR either side has a NULL
#   element OR either side IS NULL; otherwise it is the sequential
#   left-fold float64 sum (emulated bit-exactly: numpy/Python floats are
#   IEEE doubles and the accumulation loop preserves the fold order).
#
# argmin comparator of array_min over struct(d2, cell_id):
#   lexicographic with NULL FIRST (a NULL d2 BEATS any finite d2) and
#   NaN greatest among non-NULLs (probed: array_min(struct(NULL,5),
#   struct(1.0,3)) -> the NULL struct). d2 is a sum of squares, so -0.0
#   can never arise; cell ids are unique per cents row, so ties resolve
#   by id (NULL id first). tests/test_round20_argmin.py pins every one
#   of these cases against the HOF form.


def _vec_clean(c, dim) -> bool:
    return c is not None and len(c) == dim and all(x is not None for x in c)


def _id_key(cid):
    """Sort key reproducing Spark's NULL-FIRST int ordering."""
    return (0 if cid is None else 1, 0 if cid is None else cid)


def _fold_d2(v, c):
    """Exact scalar emulation of the zip_with/aggregate squared-L2 fold
    (see the block comment above). Python floats are C doubles, so the
    arithmetic (including NaN/Inf propagation) is bit-identical."""
    if v is None or c is None or len(v) != len(c):
        return None
    acc = 0.0
    for x, y in zip(v, c):
        if x is None or y is None:
            return None
        d = x - y
        acc = acc + d * d
    return acc


def _d2_key(d2):
    """Sort key reproducing Spark's double ordering for the d2 field:
    NULL first, NaN greatest."""
    if d2 is None:
        return (0, 0.0)
    if d2 != d2:  # NaN
        return (2, 0.0)
    return (1, d2)


def _argmin_scalar(v, cents):
    """Per-row exact argmin over arbitrary (possibly hostile) inputs —
    the authority path the vectorized fast path must agree with."""
    best = None
    best_key = None
    for cid, c in sorted(cents, key=lambda rc: _id_key(rc[0])):
        d2 = _fold_d2(v, c)
        key = _d2_key(d2)
        if best_key is None or key < best_key:  # strict: first id wins ties
            best_key, best = key, (cid, d2)
    return best


def _nearest_arrow(df, cents, *, keep, v_name, v_sql_type, id_sql_type,
                   with_d2=False, out_id="cell_id"):
    """Append the nearest-centroid id (and optionally its d2) per row via
    one numpy pass over Arrow batches — replaces the interpreted HOF
    argmin + the crossJoin/broadcast of the centroid row (guide §4.2 /
    §2.4). `cents` is the driver-held [(id, centroid), ...] list (K rows
    — the same table the former plan broadcast). `keep` lists
    (name, sql_type) passthrough columns; only keep + v cross the Python
    boundary (guide §4.1). Bit-exactness argument + hostile-case pins:
    block comment above / tests/test_round20_argmin.py."""
    cents = list(cents)
    lens = {len(c) for _, c in cents if c is not None}
    uniform_dim = (
        lens.pop()
        if len(lens) == 1 and not any(c is None for _, c in cents)
        else None
    )
    clean_cells = (
        [(cid, c) for cid, c in cents if _vec_clean(c, uniform_dim)]
        if uniform_dim
        else []
    )
    # the vectorized path only runs when EVERY cell is clean and
    # same-length; any hostile cell (NULL array, NULL element, ragged
    # length) sends every row through the exact scalar path instead
    all_clean = bool(cents) and len(clean_cells) == len(cents)
    # pre-sort clean cells in comparator id order: iterating with a
    # strict < keeps the smallest id on d2 ties
    clean_sorted = sorted(clean_cells, key=lambda rc: _id_key(rc[0]))
    id_py = [cid for cid, _ in clean_sorted]
    cents_all = cents

    def assign(batches):
        import numpy as np
        import pyarrow as pa

        C = (
            np.array([c for _, c in clean_sorted], dtype=np.float64)
            if clean_sorted
            else None
        )
        dim = uniform_dim or 0
        for b in batches:
            n = b.num_rows
            vcol = b.column(b.schema.get_field_index(v_name))
            if isinstance(vcol, pa.ChunkedArray):  # pragma: no cover
                vcol = vcol.combine_chunks()
            offs = vcol.offsets.to_numpy(zero_copy_only=False)
            rlens = offs[1:] - offs[:-1]
            row_null = np.asarray(vcol.is_null())
            vals = vcol.values
            el_null = np.asarray(vals.is_null()) if len(vals) else np.zeros(0, bool)
            cum = np.concatenate([[0], np.cumsum(el_null)])
            any_el_null = (cum[offs[1:]] - cum[offs[:-1]]) > 0
            fast = (~row_null) & (rlens == dim) & (~any_el_null) if all_clean else np.zeros(n, bool)
            cell_out = [None] * n
            d2_out = [None] * n
            if all_clean and C is not None and fast.any():
                idx = np.nonzero(fast)[0]
                starts = offs[:-1][idx]
                gather = starts[:, None] + np.arange(dim)[None, :]
                M = vals.to_numpy(zero_copy_only=False).astype(
                    np.float64, copy=False
                )[gather]
                best_k1 = best_k2 = best_j = best_d2 = None
                for j in range(len(clean_sorted)):
                    diff = M - C[j][None, :]
                    sq = diff * diff
                    acc = np.zeros(len(idx))
                    for i in range(dim):  # exact left-fold order
                        acc = acc + sq[:, i]
                    k1 = np.where(np.isnan(acc), 2, 1)
                    k2 = np.where(np.isnan(acc), 0.0, acc)
                    if best_k1 is None:
                        best_k1, best_k2 = k1, k2
                        best_j = np.zeros(len(idx), dtype=np.int64)
                        best_d2 = acc
                    else:
                        better = (k1 < best_k1) | ((k1 == best_k1) & (k2 < best_k2))
                        best_k1 = np.where(better, k1, best_k1)
                        best_k2 = np.where(better, k2, best_k2)
                        best_j = np.where(better, j, best_j)
                        best_d2 = np.where(better, acc, best_d2)
                for t, ri in enumerate(idx):
                    cell_out[ri] = id_py[int(best_j[t])]
                    d2_out[ri] = float(best_d2[t])
            for ri in np.nonzero(~fast)[0]:  # exact per-row authority path
                hit = _argmin_scalar(vcol[int(ri)].as_py(), cents_all)
                if hit is not None:
                    cell_out[int(ri)] = hit[0]
                    d2_out[int(ri)] = hit[1]
            arrays = [b.column(b.schema.get_field_index(nm)) for nm, _ in keep]
            names = [nm for nm, _ in keep]
            arrays.append(vcol)
            names.append(v_name)
            arrays.append(
                pa.array(cell_out, type=pa.int64() if id_sql_type == "bigint" else pa.int32())
            )
            names.append(out_id)
            if with_d2:
                arrays.append(pa.array(d2_out, type=pa.float64()))
                names.append("d2")
            yield pa.RecordBatch.from_arrays(arrays, names)

    schema = ", ".join(
        [f"{nm} {tp}" for nm, tp in keep]
        + [f"{v_name} {v_sql_type}", f"{out_id} {id_sql_type}"]
        + (["d2 double"] if with_d2 else [])
    )
    return df.mapInArrow(assign, schema)


def _pq_encode_arrow(df, cw, *, keep, v_name, with_d2=False):
    """PQ encode as ONE Arrow pass: per input vector emit one row per
    live subquantizer m with the argmin codeword (and optionally its
    d2). Replaces the _subvectors/_slice_subs explode + broadcast join
    on m + interpreted HOF argmin (guide §4.2 — the M×K×subdim distance
    math runs vectorized in numpy; §2.3 — only `keep` + the vector cross
    the Python boundary, and the M-way row expansion happens after it).

    Exact-equivalence contract (pinned in tests/test_round20_argmin.py):
    - the JVM form explodes ALL m in 0..PQ_M-1 and the inner join drops
      m values absent from the codebook -> emit only m in sorted(cw);
    - subvec = slice(v, m*8+1, 8): shorter/empty past the vector's end,
      NULL when v is NULL;
    - d2 = the zip_with/aggregate left fold of (CAST(x AS DOUBLE) - y)^2
      (NULL on length mismatch / NULL elements — _fold_d2), and the
      argmin comparator is array_min over struct(d2, code): NULL-first,
      NaN-greatest, code tiebreak (same probed ordering as the cells).
    `cw` is {m: [(code, subcent), ...]} — the driver-held codebook."""
    ms = sorted(cw)
    cw_sorted = {
        m: sorted(cw[m], key=lambda rc: _id_key(rc[0])) for m in ms
    }
    fast_m = {
        m: all(_vec_clean(sc_, PQ_SUBDIM) for _, sc_ in rows) and bool(rows)
        for m, rows in cw_sorted.items()
    }
    all_fast = all(fast_m.values()) and bool(ms)
    dim = PQ_M * PQ_SUBDIM

    def _encode_row(v):
        out = []
        for m in ms:
            if v is None:
                sub = None
            else:
                lo = m * PQ_SUBDIM
                sub = list(v[lo : lo + PQ_SUBDIM])
                sub = [None if x is None else float(x) for x in sub]
            best = _argmin_scalar(sub, cw_sorted[m])
            out.append((m, best[0] if best else None, best[1] if best else None))
        return out

    def encode(batches):
        import numpy as np
        import pyarrow as pa

        CW = (
            {
                m: np.array([sc_ for _, sc_ in rows], dtype=np.float64)
                for m, rows in cw_sorted.items()
            }
            if all_fast
            else {}
        )
        code_py = {m: [c for c, _ in rows] for m, rows in cw_sorted.items()}
        for b in batches:
            n = b.num_rows
            vcol = b.column(b.schema.get_field_index(v_name))
            if isinstance(vcol, pa.ChunkedArray):  # pragma: no cover
                vcol = vcol.combine_chunks()
            offs = vcol.offsets.to_numpy(zero_copy_only=False)
            rlens = offs[1:] - offs[:-1]
            row_null = np.asarray(vcol.is_null())
            vals = vcol.values
            el_null = np.asarray(vals.is_null()) if len(vals) else np.zeros(0, bool)
            cum = np.concatenate([[0], np.cumsum(el_null)])
            any_el_null = (cum[offs[1:]] - cum[offs[:-1]]) > 0
            fast = (
                (~row_null) & (rlens == dim) & (~any_el_null)
                if all_fast
                else np.zeros(n, bool)
            )
            # per-row outputs: list of (m, code, d2) triples
            m_out: list = [None] * n
            code_out: list = [None] * n
            d2_out: list = [None] * n
            idx = np.nonzero(fast)[0]
            if len(idx):
                starts = offs[:-1][idx]
                gather = starts[:, None] + np.arange(dim)[None, :]
                M = (
                    vals.to_numpy(zero_copy_only=False)
                    .astype(np.float64, copy=False)[gather]
                    .reshape(len(idx), PQ_M, PQ_SUBDIM)
                )
                for m in ms:
                    S = M[:, m, :]
                    best_k1 = best_k2 = best_j = best_d2 = None
                    for j in range(len(code_py[m])):
                        diff = S - CW[m][j][None, :]
                        sq = diff * diff
                        acc = np.zeros(len(idx))
                        for i in range(PQ_SUBDIM):  # exact left-fold order
                            acc = acc + sq[:, i]
                        k1 = np.where(np.isnan(acc), 2, 1)
                        k2 = np.where(np.isnan(acc), 0.0, acc)
                        if best_k1 is None:
                            best_k1, best_k2 = k1, k2
                            best_j = np.zeros(len(idx), dtype=np.int64)
                            best_d2 = acc
                        else:
                            better = (k1 < best_k1) | (
                                (k1 == best_k1) & (k2 < best_k2)
                            )
                            best_k1 = np.where(better, k1, best_k1)
                            best_k2 = np.where(better, k2, best_k2)
                            best_j = np.where(better, j, best_j)
                            best_d2 = np.where(better, acc, best_d2)
                    for t, ri in enumerate(idx):
                        ri = int(ri)
                        if m_out[ri] is None:
                            m_out[ri], code_out[ri], d2_out[ri] = [], [], []
                        m_out[ri].append(m)
                        code_out[ri].append(code_py[m][int(best_j[t])])
                        d2_out[ri].append(float(best_d2[t]))
            for ri in np.nonzero(~fast)[0]:  # exact per-row authority path
                ri = int(ri)
                m_out[ri], code_out[ri], d2_out[ri] = [], [], []
                for m, code, d2 in _encode_row(vcol[ri].as_py()):
                    m_out[ri].append(m)
                    code_out[ri].append(code)
                    d2_out[ri].append(d2)
            # explode: one output row per (input row, m)
            reps = np.array([len(x) if x else 0 for x in m_out], dtype=np.int64)
            take = np.repeat(np.arange(n), reps)
            arrays = [
                b.column(b.schema.get_field_index(nm)).take(pa.array(take))
                for nm, _ in keep
            ]
            names = [nm for nm, _ in keep]
            arrays.append(
                pa.array([m for row in m_out if row for m in row], type=pa.int32())
            )
            names.append("m")
            arrays.append(
                pa.array(
                    [c for row in code_out if row for c in row], type=pa.int32()
                )
            )
            names.append("code")
            if with_d2:
                arrays.append(
                    pa.array(
                        [d for row in d2_out if row for d in row],
                        type=pa.float64(),
                    )
                )
                names.append("d2")
            yield pa.RecordBatch.from_arrays(arrays, names)

    schema = ", ".join(
        [f"{nm} {tp}" for nm, tp in keep]
        + ["m int", "code int"]
        + (["d2 double"] if with_d2 else [])
    )
    return df.mapInArrow(encode, schema)


def _collect_codebook(cb) -> dict:
    """(m, code, subcent) codebook DataFrame -> {m: [(code, subcent)]}
    driver rows for _pq_encode_arrow — M×K rows, the same bounded table
    the former plans checkpointed + broadcast."""
    out: dict = {}
    for r in cb.collect():
        out.setdefault(r["m"], []).append((r["code"], r["subcent"]))
    return out


def _arr_dlit(cvals) -> str:
    """Exact SQL literal for an array<double> (NaN/Inf/NULL safe;
    repr() is shortest-roundtrip so values survive bit-exactly)."""
    if cvals is None:
        return "CAST(NULL AS ARRAY<DOUBLE>)"
    if not len(cvals):
        return "CAST(array() AS ARRAY<DOUBLE>)"
    parts = []
    for x in cvals:
        if x is None:
            parts.append("CAST(NULL AS DOUBLE)")
            continue
        x = float(x)
        if x != x:
            parts.append("CAST('NaN' AS DOUBLE)")
        elif x == float("inf"):
            parts.append("CAST('Infinity' AS DOUBLE)")
        elif x == float("-inf"):
            parts.append("CAST('-Infinity' AS DOUBLE)")
        else:
            parts.append(repr(x) + "D")
    return "array(" + ", ".join(parts) + ")"


def _cent_lookup(cents, id_col: str, id_sql_type: str):
    """cell_id -> centroid literal lookup (CASE chain over the K driver
    rows — folded constants, one interpreted compare per row). Used to
    re-attach the winning centroid after the Arrow argmin, replacing the
    argmin struct's extra `centroid` field; the values are the same
    collected doubles, so the reattached array is bit-identical."""
    if not cents:
        return F.expr("CAST(NULL AS ARRAY<DOUBLE>)")
    expr = "CASE"
    for cid, cvals in cents:
        cond = (
            f"{id_col} IS NULL"
            if cid is None
            else f"{id_col} = CAST({int(cid)} AS {id_sql_type})"
        )
        expr += f" WHEN {cond} THEN {_arr_dlit(cvals)}"
    expr += " END"
    return F.expr(expr)


def _km_d2(v_col, c_col):
    """Squared L2 as a sequential left fold — bit-identical to the
    oracle's list_sum(list_transform(list_zip(...)))."""
    return F.aggregate(
        F.zip_with(v_col, c_col, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def _kmeans_means(emb, cents_rows):
    """One Lloyd round from driver-held centroid rows: Arrow-native
    map-side argmin assignment (_nearest_arrow — no join, no broadcast
    chain) + the keyed per-(cell, dim) decimal mean.

    posexplode to (cell, dim) keyed rows, NOT 64 per-column aggregates:
    A/B at sf0.1 measured the explode form 1.60 s vs 3.94 s for
    F.sum(v[i]) x 64 (wide codegen loses to one keyed agg over 64x rows
    with map-side combine)."""
    if not cents_rows:
        # no live cells: the former crossJoin's size(cs) > 0 guard
        # dropped every row, so the round's mean table is empty
        assigned = emb.filter(F.lit(False)).select(
            F.lit(None).cast("bigint").alias("cell_id"), "v"
        )
    else:
        assigned = _nearest_arrow(
            emb.filter(F.col("vec_id").isNotNull()).select("v"),
            cents_rows,
            keep=[],
            v_name="v",
            v_sql_type="array<double>",
            id_sql_type="bigint",
        )
    dims = assigned.select("cell_id", F.posexplode("v").alias("pos", "x"))
    return dims.groupBy("cell_id", "pos").agg(
        F.round(
            F.sum(F.col("x").cast(_KM_DEC)).cast("double") / F.count("x"), 6
        ).alias("cval")
    )


def _assemble_cents(mean_rows):
    """(cell_id, pos, cval) rows -> [(cell_id, centroid), ...] with the
    centroid ordered by pos — the same assembly the former
    array_sort(collect_list(struct(pos, cval))) performed."""
    bycell: dict = {}
    for r in mean_rows:
        bycell.setdefault(r["cell_id"], []).append((r["pos"], r["cval"]))
    return [
        (cid, [cv for _, cv in sorted(pcs, key=lambda t: t[0])])
        for cid, pcs in sorted(bycell.items(), key=lambda kv: _id_key(kv[0]))
    ]


def _kmeans_rows(emb, rounds: int = KMEANS_ITERS):
    """Lloyd's loop with DRIVER-held centroids (the MLlib/BPE pattern —
    bpe.train_bpe_merges is the registry precedent for bounded per-round
    driver state in a declared query). Each round is ONE job: scan ->
    Arrow argmin -> keyed decimal mean -> collect of <= K×dim rows. The
    r19 form nested a broadcast-exchange chain per round (seed scan +
    struct-row agg + BNLJ per round, ~9 jobs for the 2-round fit); this
    is 3 jobs and the collected state is K×dim doubles (~4 KB), bounded
    by the algorithm constant, never by data size. Values round-trip
    bit-exactly (collect -> Python float -> repr literal is the IEEE
    shortest-roundtrip path), so the trained table is byte-identical to
    the r19 plan's — pinned by tests/test_round20_argmin.py."""
    seeds = emb.filter(F.col("vec_id") < KMEANS_K).select("vec_id", "v").collect()
    cents = [(r["vec_id"], r["v"]) for r in seeds]
    for _ in range(rounds):
        if not cents:
            return []
        cents = _assemble_cents(_kmeans_means(emb, cents).collect())
    return cents


def _cents_df(spark, cents_rows, id_sql_type: str = "BIGINT"):
    """The driver-held centroid rows as a (cell_id, centroid) DataFrame —
    for the K-row consumers that stay distributed (query-cell probe)."""
    return spark.createDataFrame(
        [(cid, cvals) for cid, cvals in cents_rows],
        f"cell_id {id_sql_type}, centroid ARRAY<DOUBLE>",
    )


def kmeans_centroids(spark, sf_dir):
    """Distributed k-means (Lloyd) for coarse-quantizer training — the
    step the IVF family's label-derived centroids stand in for: K=8
    centroids over the embedding corpus, seeded deterministically from
    the first K vectors, KMEANS_ITERS assignment/update rounds. Each
    round is the canonical scale shape: the K×dim centroid table lives
    on the driver (bounded by K, like a broadcast), assignment is a
    map-side Arrow argmin, and the keyed per-(cell, dim) mean uses
    decimal partials rounded to 6 dp so the next round's inputs are
    EXACT shared values in both engines. Oracle: the same iterations
    unrolled as SQL CTEs.

    r20 (guide §4.2/§2.4): the first KMEANS_ITERS-1 rounds run as the
    driver loop (_kmeans_rows); the LAST round's mean table — which IS
    the query output (oracle CTE m{last}) — stays distributed, so the
    output schema/derivation is unchanged. Plan evidence:
    plans/r20/vector_kmeans_centroids_{before,after}.txt."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    cents = _kmeans_rows(emb, rounds=KMEANS_ITERS - 1)
    means = _kmeans_means(emb, cents)
    return means.select(
        "cell_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("cval").alias("centroid_val"),
    )


_KM_SQ = _sq_l2_sql("e.v", "c.centroid")


def _km_ctes() -> list[str]:
    """Unrolled Lloyd-iteration CTEs, ending at the final centroid-array
    table c{KMEANS_ITERS} — shared by the kmeans oracle and the IVF-PQ
    composition's oracle."""
    ctes = [
        "emb AS (SELECT vec_id, label, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cell_id, v AS centroid FROM emb "
        f"WHERE vec_id < {KMEANS_K})",
    ]
    for i in range(KMEANS_ITERS):
        ctes.append(
            f"a{i} AS (SELECT e.vec_id, c.cell_id, {_KM_SQ} AS d2 "
            f"FROM emb e CROSS JOIN c{i} c)"
        )
        ctes.append(
            f"s{i} AS (SELECT vec_id, cell_id FROM ("
            f"SELECT vec_id, cell_id, ROW_NUMBER() OVER "
            f"(PARTITION BY vec_id ORDER BY d2, cell_id) AS rn FROM a{i}) "
            f"WHERE rn = 1)"
        )
        ctes.append(
            f"m{i} AS (SELECT cell_id, CAST(i - 1 AS BIGINT) AS pos, "
            f"ROUND(CAST(SUM(CAST(v[i] AS DECIMAL(27,10))) AS DOUBLE) / COUNT(v[i]), 6) "
            f"AS cval FROM emb JOIN s{i} USING (vec_id), "
            f"UNNEST(range(1, len(v) + 1)) AS t(i) GROUP BY cell_id, pos)"
        )
        ctes.append(
            f"c{i + 1} AS (SELECT cell_id, list(cval ORDER BY pos) AS centroid "
            f"FROM m{i} GROUP BY cell_id)"
        )
    return ctes


def _kmeans_oracle_sql() -> str:
    last = KMEANS_ITERS - 1
    return (
        "WITH " + ", ".join(_km_ctes())
        + f" SELECT cell_id, pos, cval AS centroid_val FROM m{last}"
    )


# ------------------------------------------------- IVF-PQ end-to-end search

IVFPQ_NPROBE = 2


from ._util import corpus_checkpoint  # noqa: E402
from ._util import round6_det as _round6_det, sql_r6 as _sql_r6  # noqa: E402
# (hit by the IVF-PQ residual codebook at sf0.01 — see _util.round6_det)


def _slice_subs(df, vec_col: str, keep: tuple[str, ...]):
    """Explode a vector column into its PQ_M subvector slices map-side,
    carrying `keep` columns through — generalizes _subvectors to any
    (possibly residual) vector column."""
    return df.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(vec_col, m * PQ_SUBDIM + 1, PQ_SUBDIM).alias(
                            "subvec"
                        ),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select(*keep, F.col("s.m").alias("m"), F.col("s.subvec").alias("subvec"))


def ivfpq_adc_search(spark, sf_dir):
    """IVF-PQ end-to-end as ONE declarative plan — the LanceDB-index
    analog (reference create_lancedb_index.py:143-148) composed from the
    repo's three trained pieces instead of the label-derived stand-ins:

    1. COARSE QUANTIZER: k-means (Lloyd, _kmeans_rows — driver-held
       centroids, one job per round) trains K=8 cell centroids; every
       vector argmins against the K×dim table in one Arrow pass
       (_nearest_arrow).
    2. RESIDUAL PQ: each vector's residual v − centroid(cell) (rounded
       6 dp → exact shared intermediate) splits into M=8 subvectors;
       codebooks are per-(m, label) residual means with decimal-exact
       partial sums; encoding is the keyed argmin codeword per (vec, m).
    3. ADC SEARCH: the query (vec 0) probes its IVFPQ_NPROBE nearest
       cells; per probed cell its residual builds an M×K lookup table
       (broadcast); database vectors in probed cells score as the sum of
       M LUT lookups keyed by stored codes — the scan touches only codes
       and the broadcast LUT, never stored float vectors; cells outside
       the probe set are pruned by the inner LUT join.

    At 100 TB: centroids, codebooks, query-cell list, and LUT are all
    broadcast-sized; the only wide ops are the per-round Lloyd shuffle
    and the keyed code argmin. Oracle: the full composition unrolled as
    CTEs over the shared k-means prefix.

    COST ENVELOPE (r11 stage profile, sf0.1 local[32], 3 reps): total
    3.5-3.9 s = Lloyd k-means fit 1.7-1.9 s (~50%) + residual-PQ
    codebook build 0.6-1.0 s (~25%) + ADC probe/scan execution ~1.0 s
    (~26%). The registry's heaviest query is heavy because it RE-TRAINS
    the index per run (by design — the oracle needs the whole
    composition self-contained); a production deployment trains once
    and pays only the ~1 s search path (the setup_ivf_probe bench entry
    is that read-path shape). Earlier recorded swings (4.06 s r9 →
    8.16 s r10 on byte-identical code) were host weather on this
    3-job-deep plan; bench.py's tail_ratio now measures it against an
    in-session reference so the envelope is weather-immune."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # The trained centroid table feeds THREE consumers (assignment,
    # residuals, query residuals) and the codebook two (encode, LUT);
    # the localCheckpoints stop Spark re-executing those subtrees per
    # consumer (A/B at sf0.1: 4.88 s -> 4.47 s — the fit runs once
    # either way inside one job tree, so the win is modest but real,
    # and both tables are K-rows / M*K-rows so the cut is free).
    #
    # r19 optimization (guide §2.4): the assignment/residual step used
    # to crossJoin every vector with the K broadcast centroid rows (K×
    # expansion), groupBy(vec_id)-argmin (shuffle), then JOIN the
    # assignment back to emb by vec_id and the centroid by cell_id (two
    # more exchanges carrying the full v arrays). The argmin depends
    # only on (v, centroids), so it now runs in the scan projection via
    # the broadcast array<struct<cell_id, centroid>> row
    # (the HOF argmin, now tests/reference_forms.argmin_cell, with the
    # centroid carried as an extra struct field
    # — cell_id is unique per cs entry, so the widened struct never
    # changes the (d2, cell_id) comparator's decision), and the
    # residual zip_with reads the winning centroid straight out of the
    # argmin struct. vec_id.isNotNull() reproduces the old equi-join's
    # NULL-key drop. Plan evidence:
    # plans/r19/vector_ivfpq_adc_search_{before,after}.txt.
    # r20 (guide §4.2/§2.4): the coarse quantizer trains in the driver
    # loop (_kmeans_rows — bounded K×dim state, one job per round); the
    # final assignment is the Arrow argmin over the same K rows, and the
    # winning centroid re-attaches as a folded literal lookup
    # (_cent_lookup — same collected doubles, bit-identical residuals).
    # This removes the per-round broadcast-exchange chain, the eager
    # cents checkpoint, and the BNLJ guard plan of r19. Plan:
    # plans/r20/vector_ivfpq_adc_search_{before,after}.txt.
    cents_rows = _kmeans_rows(emb.select("vec_id", "v"))
    if not cents_rows:
        # the former size(cs) > 0 guard dropped every row when no cell
        # survived training
        best = emb.filter(F.lit(False)).select(
            "vec_id", "label", "v", F.lit(None).cast("bigint").alias("cell_id")
        )
    else:
        best = _nearest_arrow(
            emb.filter(F.col("vec_id").isNotNull()).select(
                "vec_id", "label", "v"
            ),
            cents_rows,
            keep=_passthrough(emb, "vec_id", "label"),
            v_name="v",
            v_sql_type="array<double>",
            id_sql_type="bigint",
        )
    resid = best.select(
        "vec_id",
        "label",
        "cell_id",
        F.zip_with(
            "v",
            _cent_lookup(cents_rows, "cell_id", "BIGINT"),
            lambda x, c: _round6_det(x - c),
        ).alias("r"),
    )
    # r19 (guide §5/§8): resid feeds TWO corpus-scale consumers — the
    # codebook build (rex) and the encode (subs) — and each re-ran the
    # whole scan + map-side argmin + residual zip_with. One
    # localCheckpoint makes the residual pass run once (the index-build
    # artifact a production IVF-PQ materializes anyway); interleaved A/B
    # at sf0.1: 4.26/4.36 -> 3.60/3.81 s min/median (-15%). LAZY after
    # the sf1 re-measure (A/B at 10x rows: lazy 16.3/18.6 vs eager
    # 17.6/19.6 min/median) — the eager barrier serializes the
    # materialization job, the same lesson as the tfidf wtab demotion.
    resid = corpus_checkpoint(resid)
    rex = resid.select("label", F.posexplode("r").alias("pos", "val"))
    # r20: collect the M×K×subdim codebook to the driver (same bounded
    # table the r19 plan eagerly checkpointed + broadcast; the collect
    # is the materialization job and also warms the lazy resid
    # checkpoint). The second groupBy(m, code) collect_list pivot is
    # gone — the array assembly happens in Python (guide §2.4: one
    # exchange removed).
    cb_flat = rex.groupBy(
        (F.col("pos") / PQ_SUBDIM).cast("int").alias("m"),
        F.col("label").alias("code"),
        (F.col("pos") % PQ_SUBDIM).alias("spos"),
    ).agg(
        _round6_det(
            F.sum(F.col("val").cast(_KM_DEC)).cast("double") / F.count("val")
        ).alias("cval")
    )
    cw: dict = {}
    for r in cb_flat.collect():
        cw.setdefault(r["m"], {}).setdefault(r["code"], []).append(
            (r["spos"], r["cval"])
        )
    cw = {
        m: [
            (code, [cv for _, cv in sorted(pcs, key=lambda t: t[0])])
            for code, pcs in codes_.items()
        ]
        for m, codes_ in cw.items()
    }
    # r20 (guide §4.2): database encode is ONE Arrow pass — slice, M×K
    # distance math and argmin run vectorized in numpy against the
    # driver-held codebook (was: 8-way explode + broadcast join +
    # interpreted HOF argmin). vec 0 is dropped BEFORE the opaque pass
    # (mapInArrow blocks predicate pushdown — guide §4.1).
    codes = _pq_encode_arrow(
        resid.filter(F.col("vec_id") != 0),
        cw,
        keep=_passthrough(resid, "vec_id", "label", "cell_id"),
        v_name="r",
    )
    # the query-cell probe needs distances for vec 0 only: a 1×K
    # crossJoin against the K-row driver-built centroid table
    cents = _cents_df(spark, cents_rows)
    qcells = (
        emb.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(cents))
        .select(
            "cell_id", _km_d2(F.col("v"), F.col("centroid")).alias("d2")
        )
        .orderBy("d2", "cell_id")
        .limit(IVFPQ_NPROBE)
        .select("cell_id")
    )
    qres = (
        emb.filter(F.col("vec_id") == 0)
        .crossJoin(cents.join(F.broadcast(qcells), "cell_id"))
        .select(
            "cell_id",
            F.zip_with(
                "v", "centroid", lambda x, c: _round6_det(x - c)
            ).alias("r"),
        )
    )
    qsubs = _slice_subs(qres, "r", ("cell_id",))
    cb_df = spark.createDataFrame(
        [(m, code, sc_) for m, rows in sorted(cw.items()) for code, sc_ in rows],
        "m INT, code INT, subcent ARRAY<DOUBLE>",
    )
    lut = qsubs.join(F.broadcast(cb_df), "m").select(
        "cell_id",
        "m",
        "code",
        _round6_det(_sq_l2(F.col("subvec"), F.col("subcent"))).alias("qd2"),
    )
    return (
        # vec 0 already dropped before the encode pass
        codes.join(F.broadcast(lut), ["cell_id", "m", "code"])
        .groupBy("vec_id", "label", "cell_id")
        .agg(
            F.sum(F.col("qd2").cast("decimal(25,6)"))
            .cast("double")
            .alias("adc_d2")
        )
        # label/cell_id tiebreaks: totality over the output row (r16 lint)
        .orderBy("adc_d2", "vec_id", "label", "cell_id")
        .limit(10)
    )


def _ivfpq_oracle_sql() -> str:
    n = KMEANS_ITERS
    ctes = _km_ctes() + [
        # final assignment against the trained centroids
        f"af AS (SELECT e.vec_id, c.cell_id, {_KM_SQ} AS d2 "
        f"FROM emb e CROSS JOIN c{n} c)",
        "sf AS (SELECT vec_id, cell_id FROM ("
        "SELECT vec_id, cell_id, ROW_NUMBER() OVER "
        "(PARTITION BY vec_id ORDER BY d2, cell_id) AS rn FROM af) "
        "WHERE rn = 1)",
        # residuals (6 dp — exact shared intermediate)
        f"resid AS (SELECT e.vec_id, e.label, s.cell_id, "
        f"list_transform(list_zip(e.v, c.centroid), "
        f"x -> {_sql_r6('(x[1] - x[2])')}) AS r "
        f"FROM emb e JOIN sf s USING (vec_id) JOIN c{n} c USING (cell_id))",
        # residual codebooks: per-(m, label) means, decimal-exact partials
        f"cbres AS (SELECT CAST((i - 1) // {PQ_SUBDIM} AS INT) AS m, "
        f"label AS code, CAST((i - 1) % {PQ_SUBDIM} AS BIGINT) AS spos, "
        f"{_sql_r6('(CAST(SUM(CAST(r[i] AS DECIMAL(27,10))) AS DOUBLE) / COUNT(r[i]))')} AS cval "
        f"FROM resid, UNNEST(range(1, len(r) + 1)) AS t(i) "
        f"GROUP BY m, code, spos)",
        "cba AS (SELECT m, code, list(cval ORDER BY spos) AS subcent "
        "FROM cbres GROUP BY m, code)",
        f"rsub AS (SELECT vec_id, label, cell_id, "
        f"CAST((i - 1) // {PQ_SUBDIM} AS INT) AS m, "
        f"list(r[i] ORDER BY i) AS subvec "
        f"FROM resid, UNNEST(range(1, len(r) + 1)) AS t(i) "
        f"GROUP BY vec_id, label, cell_id, m)",
        "scored AS (SELECT vec_id, label, cell_id, s.m AS m, code, "
        + _sq_l2_sql("s.subvec", "c.subcent")
        + " AS d2 FROM rsub s JOIN cba c ON s.m = c.m)",
        "best AS (SELECT vec_id, label, cell_id, m, code, "
        "ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn "
        "FROM scored)",
        f"qcell AS (SELECT cell_id FROM ("
        f"SELECT cell_id, ROW_NUMBER() OVER (ORDER BY d2, cell_id) AS rn "
        f"FROM af WHERE vec_id = 0) WHERE rn <= {IVFPQ_NPROBE})",
        f"qres AS (SELECT c.cell_id, "
        f"list_transform(list_zip(e.v, c.centroid), "
        f"x -> {_sql_r6('(x[1] - x[2])')}) AS r "
        f"FROM emb e CROSS JOIN c{n} c "
        f"WHERE e.vec_id = 0 AND c.cell_id IN (SELECT cell_id FROM qcell))",
        f"qsub AS (SELECT cell_id, CAST((i - 1) // {PQ_SUBDIM} AS INT) AS m, "
        f"list(r[i] ORDER BY i) AS subvec "
        f"FROM qres, UNNEST(range(1, len(r) + 1)) AS t(i) "
        f"GROUP BY cell_id, m)",
        "lut AS (SELECT cell_id, q.m AS m, code, "
        + _sql_r6("(" + _sq_l2_sql("q.subvec", "c.subcent") + ")")
        + " AS qd2 FROM qsub q JOIN cba c ON q.m = c.m)",
    ]
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT b.vec_id, b.label, b.cell_id, "
        "CAST(SUM(CAST(l.qd2 AS DECIMAL(25,6))) AS DOUBLE) AS adc_d2 "
        "FROM best b JOIN lut l "
        "ON b.cell_id = l.cell_id AND b.m = l.m AND b.code = l.code "
        "WHERE b.rn = 1 AND b.vec_id <> 0 "
        "GROUP BY b.vec_id, b.label, b.cell_id "
        "ORDER BY adc_d2, vec_id, label, b.cell_id LIMIT 10"
    )


# ------------------------------------------- matryoshka prefix-dim rerank

MRL_PREFIX_DIMS = 16
MRL_CANDIDATES = 50


def matryoshka_prefix_topk(spark, sf_dir):
    """Dimension-adaptive retrieval (the Matryoshka-embedding pattern):
    stage 1 scores every vector against the query on only the FIRST
    MRL_PREFIX_DIMS dimensions (4× less arithmetic and — at scale, with
    prefix-sliced column families — 4× less I/O), keeps MRL_CANDIDATES
    candidates, and stage 2 exact-reranks just those on the full vector.
    The same coarse→exact contract as IVF/PQ but along the DIMENSION
    axis instead of the row axis. Candidate cut is a TakeOrdered top-N
    that CARRIES the full vectors through (N rows × dim floats — cheap
    at this N; with millions of candidates you would project them away
    and rejoin by vec_id instead). Scores are fold-based sequential
    dots rounded 6 dp."""
    from ._util import round6_det

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"),
        F.slice("embedding", 1, MRL_PREFIX_DIMS).alias("q_pre"),
    )
    pre_cos = _dot(F.slice("embedding", 1, MRL_PREFIX_DIMS), F.col("q_pre")) / (
        _norm(F.slice("embedding", 1, MRL_PREFIX_DIMS)) * _norm(F.col("q_pre"))
    )
    cands = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "embedding",
            "q_emb",
            round6_det(pre_cos).alias("pre_cos"),
        )
        # label tiebreak (r16 lint); residual: a tie equal in
        # (pre_cos, vec_id, label) with a DIFFERENT embedding at the
        # candidate cut remains order-dependent — requires a round6
        # collision on top of NULL keys, accepted
        .orderBy(F.desc("pre_cos"), "vec_id", "label")
        .limit(MRL_CANDIDATES)
    )
    full_cos = _dot(F.col("embedding"), F.col("q_emb")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_emb"))
    )
    return (
        cands.select(
            "vec_id", "label", "pre_cos", round6_det(full_cos).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), "vec_id", "label", "pre_cos")
        .limit(10)
    )


def _mrl_sql() -> str:
    pre = _cos_sql(
        f"list_slice(e.embedding, 1, {MRL_PREFIX_DIMS})",
        f"list_slice(q.embedding, 1, {MRL_PREFIX_DIMS})",
    )
    full = _cos_sql("c.embedding", "q.embedding")
    return f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label, e.embedding,
         {_sql_r6(f"({pre})")} AS pre_cos
  FROM embeddings e, q WHERE e.vec_id <> 0
),
cands AS (
  SELECT * FROM scored ORDER BY pre_cos DESC, vec_id, label LIMIT {MRL_CANDIDATES}
)
SELECT c.vec_id, c.label, c.pre_cos,
       {_sql_r6(f"({full})")} AS cos_sim
FROM cands c, q
ORDER BY cos_sim DESC, c.vec_id, c.label, c.pre_cos LIMIT 10
"""


# ------------------------------------------------- ANN quality evaluation

ANN_RECALL_QUERIES = 5
ANN_RECALL_K = 10


def ann_recall_report(spark, sf_dir):
    """Recall@k report for the IVF index — the evaluation primitive an
    ANN deployment runs before trusting probes at scale: for each of
    ANN_RECALL_QUERIES query vectors, exact cosine top-k over the whole
    corpus vs top-k within the query's IVF_NPROBE probed cells, plus
    the candidate-set size the probe actually scanned. recall = |∩|/k.
    Everything reuses the deterministic IVF machinery (label-derived
    centroids, struct-min assignment), so the report is itself
    oracle-checkable — approximation quality measured exactly. Plan:
    centroid/assignment subtrees computed once (cached K×dim / keyed),
    per-query work is broadcast joins + per-query-key windows."""
    from ._util import round6_det

    emb = load(spark, sf_dir, "embeddings")
    cents = _centroid_arrays(emb).cache()
    # broadcast at the crossJoin USE sites, not at definition: this
    # relation is also the preserved side of the final left joins, where
    # a broadcast hint is unsupported and Spark silently ignores it
    # (HintErrorLogger warned on every run)
    queries = emb.filter(F.col("vec_id") < ANN_RECALL_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    cos = _dot(F.col("embedding"), F.col("q_emb")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_emb"))
    )
    # scored feeds BOTH the exact subtree and the approx rerank — cache
    # it so the corpus-wide cosine scan runs once (cents is cheap; this
    # is the expensive side)
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", round6_det(cos).alias("cos_sim"))
        .cache()
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= ANN_RECALL_K)
        .select("query_id", "vec_id")
    )
    probed = (
        cents.crossJoin(F.broadcast(queries))
        .select(
            "query_id",
            "cell_id",
            _sq_l2(F.col("q_emb"), F.col("centroid")).alias("qd2"),
        )
        .withColumn(
            "crnk",
            F.row_number().over(
                W.partitionBy("query_id").orderBy("qd2", "cell_id")
            ),
        )
        .filter(F.col("crnk") <= IVF_NPROBE)
        .select("query_id", "cell_id")
    )
    members = ivf_cell_assignments(spark, sf_dir, cents=cents).select(
        "vec_id", "cell_id"
    )
    cands = (
        members.join(F.broadcast(probed), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    n_cand = cands.groupBy("query_id").agg(F.count("*").alias("n_candidates"))
    approx = (
        cands.join(scored, ["query_id", "vec_id"])
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= ANN_RECALL_K)
        .select("query_id", "vec_id")
    )
    hits = exact.join(approx, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count("*").alias("n_hits")
    )
    # anchor on the QUERIES relation so a query whose probed cells held
    # zero candidates still reports (n_candidates=0, recall 0) instead
    # of vanishing — the worst-performing query is the one the report
    # must not drop
    return (
        queries.select("query_id")
        .join(F.broadcast(n_cand), "query_id", "left")
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            round6_det(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(ANN_RECALL_K))
            ).alias("recall_at_k"),
        )
    )


def _ann_recall_sql() -> str:
    cos = _cos_sql("e.embedding", "q.q_emb")
    sq = _sq_l2_cast_sql("q.q_emb", "c.centroid")
    asq = _sq_l2_cast_sql("e.embedding", "c.centroid")
    return f"""
WITH cent AS (
  SELECT label AS cell_id, list(cval ORDER BY pos) AS centroid FROM (
    SELECT label, CAST(i - 1 AS BIGINT) AS pos,
           ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS cval
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    GROUP BY label, pos) GROUP BY label
),
q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
      WHERE vec_id < {ANN_RECALL_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id,
         {_sql_r6(cos)} AS cos_sim
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, vec_id) AS rnk
    FROM scored) WHERE rnk <= {ANN_RECALL_K}
),
probed AS (
  SELECT query_id, cell_id FROM (
    SELECT q.query_id, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY {sq}, c.cell_id) AS crnk
    FROM cent c, q) WHERE crnk <= {IVF_NPROBE}
),
assign AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {asq}, c.cell_id) AS rnk
    FROM embeddings e, cent c) WHERE rnk = 1
),
cands AS (
  SELECT p.query_id, a.vec_id FROM assign a JOIN probed p USING (cell_id)
  WHERE a.vec_id <> p.query_id
),
ncand AS (SELECT query_id, COUNT(*) AS n_candidates FROM cands
          GROUP BY query_id),
approx AS (
  SELECT query_id, vec_id FROM (
    SELECT s.query_id, s.vec_id,
           ROW_NUMBER() OVER (PARTITION BY s.query_id
             ORDER BY s.cos_sim DESC, s.vec_id) AS rnk
    FROM cands JOIN scored s USING (query_id, vec_id)) WHERE rnk <= {ANN_RECALL_K}
),
hits AS (
  SELECT query_id, COUNT(*) AS n_hits
  FROM exact JOIN approx USING (query_id, vec_id) GROUP BY query_id
)
SELECT q.query_id,
       CAST(COALESCE(n.n_candidates, 0) AS BIGINT) AS n_candidates,
       {_sql_r6(f"COALESCE(h.n_hits, 0) / {float(ANN_RECALL_K)!r}")}
         AS recall_at_k
FROM q LEFT JOIN ncand n USING (query_id) LEFT JOIN hits h USING (query_id)
"""


def register(reg):
    from .dedup import MAX_BUCKET_MEMBERS

    cos_expr = _cos_sql("e.embedding", "q.q_emb")
    reg.add(
        "vector_cosine_topk",
        cosine_topk,
        "WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) "
        f"SELECT vec_id, label, ROUND({cos_expr}, 6) AS cos_sim "
        "FROM embeddings e, q WHERE vec_id <> 0 "
        "ORDER BY cos_sim DESC, vec_id, label LIMIT 20",
    )
    reg.add(
        "vector_threshold_labels",
        threshold_labels,
        "WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5), "
        "scored AS ("
        f"  SELECT q.query_id, e.vec_id, e.label, ROUND({cos_expr}, 6) AS cos_sim "
        "  FROM embeddings e, q WHERE e.vec_id <> q.query_id), "
        "ranked AS ("
        "  SELECT query_id, vec_id, label, cos_sim, "
        "  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id, label) AS rnk "
        "  FROM scored WHERE cos_sim > 0.3) "
        "SELECT query_id, rnk, vec_id, label, cos_sim FROM ranked WHERE rnk <= 3",
    )
    reg.add(
        "vector_norms",
        vector_norms,
        "SELECT vec_id, len(embedding) AS dim, "
        + "ROUND("
        + _norm_sql("embedding")
        + ", 6) AS l2_norm FROM embeddings",
    )
    reg.add(
        "vector_label_centroids",
        label_centroids,
        "SELECT label, CAST(i - 1 AS INT) AS pos, "
        "ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS centroid_val "
        "FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i) "
        "GROUP BY label, CAST(i - 1 AS INT)",
    )
    pair_cos = _cos_sql("a.embedding", "b.embedding")
    reg.add(
        "dedup_embedding_cosine",
        embedding_cosine_near_dup,
        "SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b, "
        f"ROUND({pair_cos}, 6) AS cos_sim "
        "FROM embeddings a JOIN embeddings b "
        "ON a.label = b.label AND a.vec_id < b.vec_id "
        f"WHERE ROUND({pair_cos}, 6) >= {EMB_NEAR_DUP_MIN_COS}",
    )
    # shared IVF CTEs: exact-rounded centroids → per-vector nearest cell
    ivf_cte = (
        "cent AS ("
        "  SELECT label AS cell_id, CAST(i - 1 AS INT) AS pos, "
        "  ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS cval "
        "  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i) "
        "  GROUP BY cell_id, pos), "
        "cent_arr AS ("
        "  SELECT cell_id, list(cval ORDER BY pos) AS centroid "
        "  FROM cent GROUP BY cell_id), "
        "assign AS ("
        "  SELECT vec_id, cell_id, "
        + _sq_l2_cast_sql("e.embedding", "c.centroid")
        + " AS d2 FROM embeddings e CROSS JOIN cent_arr c), "
        "best AS ("
        "  SELECT vec_id, cell_id, d2, "
        "  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell_id) AS rn "
        "  FROM assign)"
    )
    reg.add(
        "vector_ivf_assignments",
        ivf_cell_assignments,
        "WITH " + ivf_cte + " "
        "SELECT vec_id, cell_id, ROUND(d2, 6) AS dist2 FROM best WHERE rn = 1",
    )
    reg.add(
        "vector_ivf_topk",
        ivf_topk,
        "WITH " + ivf_cte + ", "
        "q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0), "
        "probed AS ("
        "  SELECT cell_id FROM cent_arr, q "
        "  ORDER BY " + _sq_l2_cast_sql("q.q_emb", "centroid") + ", cell_id "
        f"  LIMIT {IVF_NPROBE}), "
        "members AS ("
        "  SELECT vec_id FROM best WHERE rn = 1 "
        "  AND cell_id IN (SELECT cell_id FROM probed)) "
        f"SELECT e.vec_id, e.label, ROUND({cos_expr}, 6) AS cos_sim "
        "FROM embeddings e JOIN members USING (vec_id), q "
        "WHERE e.vec_id <> 0 "
        "ORDER BY cos_sim DESC, vec_id, label LIMIT 10",
    )
    reg.add(
        "vector_lsh_buckets",
        lsh_bucket_assignment,
        "SELECT vec_id, label, CAST(" + _lsh_bit_terms_sql() + " AS BIGINT) AS lsh_bucket "
        "FROM (SELECT vec_id, label, embedding, len(embedding) AS dim FROM embeddings) t",
    )
    pc = _cos_sql("ea.embedding", "eb.embedding")
    reg.add(
        "dedup_embedding_lsh",
        embedding_lsh_near_dup,
        f"""WITH sigs AS (
  SELECT vec_id, CAST({_lsh_bit_terms_sql()} AS BIGINT) AS sig
  FROM (SELECT vec_id, embedding, len(embedding) AS dim FROM embeddings) t
),
banded AS (
  SELECT vec_id, band, ((sig >> ({LSH_BAND_BITS} * band)) & {LSH_BAND_MASK}) AS bval
  FROM sigs, (VALUES {", ".join(f"({b})" for b in range(LSH_SIG_BANDS))}) AS bands(band)
),
bsize AS (SELECT band, bval, COUNT(*) AS m FROM banded GROUP BY band, bval),
pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id
  JOIN bsize s ON s.band = a.band AND s.bval = a.bval
  WHERE s.m <= {MAX_BUCKET_MEMBERS}
)
SELECT vec_a, vec_b, ROUND({pc}, 6) AS cos_sim
FROM pairs
JOIN embeddings ea ON ea.vec_id = vec_a
JOIN embeddings eb ON eb.vec_id = vec_b
WHERE ROUND({pc}, 6) >= {EMB_NEAR_DUP_MIN_COS}""",
    )
    # product quantization (encode + ADC scan)
    pq_cte = (
        "cb AS ("
        "  SELECT CAST((i - 1) // 8 AS INT) AS m, label AS code, "
        "  CAST((i - 1) % 8 AS BIGINT) AS spos, "
        "  ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS cval "
        "  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i) "
        "  WHERE vec_id IS NOT NULL AND label IS NOT NULL "
        "  GROUP BY m, code, spos), "
        "cb_arr AS ("
        "  SELECT m, code, list(cval ORDER BY spos) AS subcent "
        "  FROM cb GROUP BY m, code), "
        "sub AS ("
        "  SELECT vec_id, label, CAST((i - 1) // 8 AS INT) AS m, "
        "  list(CAST(embedding[i] AS DOUBLE) ORDER BY i) AS subvec "
        "  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i) "
        "  WHERE vec_id IS NOT NULL AND label IS NOT NULL "
        "  GROUP BY vec_id, label, m), "
        "scored AS ("
        "  SELECT vec_id, label, s.m AS m, code, "
        + _sq_l2_cast_sql("s.subvec", "c.subcent")
        + "  AS d2 FROM sub s JOIN cb_arr c ON s.m = c.m), "
        "best AS ("
        "  SELECT vec_id, label, m, code, d2, "
        "  ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn "
        "  FROM scored)"
    )
    reg.add(
        "vector_pq_codes",
        pq_codes,
        "WITH " + pq_cte + " "
        "SELECT vec_id, m, code, ROUND(d2, 6) AS dist2 FROM best WHERE rn = 1",
    )
    reg.add(
        "vector_pq_adc_topk",
        pq_adc_topk,
        "WITH " + pq_cte + ", "
        "lut AS (SELECT m, code, ROUND(d2, 6) AS qd2 "
        "        FROM scored WHERE vec_id = 0) "
        "SELECT b.vec_id, b.label, "
        "CAST(SUM(CAST(l.qd2 AS DECIMAL(25,6))) AS DOUBLE) AS adc_d2 "
        "FROM best b JOIN lut l ON b.m = l.m AND b.code = l.code "
        "WHERE b.rn = 1 AND b.vec_id <> 0 "
        "GROUP BY b.vec_id, b.label "
        "ORDER BY adc_d2, vec_id, label LIMIT 10",
    )
    reg.add("vector_kmeans_centroids", kmeans_centroids, _kmeans_oracle_sql())
    reg.add("vector_ivfpq_adc_search", ivfpq_adc_search, _ivfpq_oracle_sql())
    reg.add("vector_matryoshka_topk", matryoshka_prefix_topk, _mrl_sql())
    reg.add("vector_ann_recall_report", ann_recall_report, _ann_recall_sql())
