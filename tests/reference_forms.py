"""Reference implementations that only the equivalence tests use.

Each function here is an older, slower form of an engine operator — the
Spark SQL higher-order-function (HOF) LSH signature and band values, the
broadcast-row nearest-centroid and codeword argmins, the K-way scored PQ
expansion, the one-expression shingle builder and the naive triangle
wedge join. The engine runs the newer form; the tests pin the two equal,
so the older form lives here as the oracle instead of in the package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ndl_core_data_pipeline_spark.operators import dedup
from ndl_core_data_pipeline_spark.operators.vector import (
    _km_d2,
    _pq_codebooks,
    _pq_filtered,
    _sq_l2,
    _subvectors,
)


# ------------------------------------------------------------------ LSH


def _sql_double(v: float) -> str:
    """Shortest-roundtrip double literal for Spark SQL (D suffix — an
    unsuffixed decimal literal would parse as DECIMAL, not DOUBLE)."""
    return repr(float(v)) + "D"


def _plane_dot_sql(emb_sql: str, plane) -> str:
    """SQL text of the hyperplane dot product: the sequential left fold
    aggregate(zip_with(emb, plane, x * hv), 0.0, +)."""
    arr = "array(" + ", ".join(_sql_double(v) for v in plane) + ")"
    return (
        f"aggregate(zip_with({emb_sql}, {arr}, "
        "(x, hv) -> CAST(x AS DOUBLE) * hv), "
        "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _bits_sql(emb_sql: str, planes) -> str:
    """Σ_j (dot_j > 0) · 2^j as one SQL expression (a NULL dot — NULL
    vector, NULL element, length mismatch — falls to ELSE 0)."""
    return " + ".join(
        f"(CASE WHEN {_plane_dot_sql(emb_sql, plane)} > 0 "
        f"THEN 1 ELSE 0 END) * {2 ** j}"
        for j, plane in enumerate(planes)
    )


def lsh_signature(emb_sql: str, planes):
    """Random-hyperplane signature as one SQL HOF expression: bit j is
    the sign of the dot product with literal hyperplane j. `emb_sql` is
    the embedding column's SQL identifier."""
    return F.expr(f"CAST({_bits_sql(emb_sql, planes)} AS BIGINT)")


def band_value_structs(emb_sql: str, planes, n_bands: int):
    """Per-band LSH values as struct(band, bval) columns, each band
    computed from its own hyperplane subset: band b's value is
    Σ_k bit_{b·w+k}·2^k for band width w = len(planes)/n_bands."""
    w = len(planes) // n_bands
    return [
        F.struct(
            F.lit(bnd).alias("band"),
            F.expr(
                f"CAST({_bits_sql(emb_sql, planes[bnd * w:(bnd + 1) * w])} AS BIGINT)"
            ).alias("bval"),
        )
        for bnd in range(n_bands)
    ]


# ------------------------------------------------- argmin (IVF cells, PQ)


def cent_struct_row(cents: DataFrame) -> DataFrame:
    """Collapse the K-row (cell_id, centroid) table to ONE row holding
    array<struct<cell_id, centroid>> `cs` — the broadcastable literal
    argmin_cell scans per vector."""
    return cents.agg(F.collect_list(F.struct("cell_id", "centroid")).alias("cs"))


def argmin_cell(v_col):
    """Nearest-centroid argmin over the joined `cs` array: array_min over
    struct(d2, cell_id). ArrayMin and the Min aggregate share one
    interpreted struct ordering, so this is the comparator of
    groupBy(vec_id).agg(min(struct(d2, cell_id))) — NULL d2 first, NaN
    greatest, cell_id tiebreak. array_min of an empty cs is NULL."""
    return F.array_min(
        F.transform(
            "cs",
            lambda c: F.struct(
                _km_d2(v_col, c["centroid"]).alias("d2"),
                c["cell_id"].alias("cell_id"),
            ),
        )
    )


def argmin_code(subvec_col):
    """array_min over struct(d2, code) of the joined `cw` codeword array
    — the same comparator as argmin_cell."""
    return F.array_min(
        F.transform(
            "cw",
            lambda c: F.struct(
                _sq_l2(subvec_col, c["subcent"]).alias("d2"),
                c["code"].alias("code"),
            ),
        )
    )


def pq_scored(emb: DataFrame) -> DataFrame:
    """(vec_id, label, m, code, d2): L2² of every subvector against every
    codeword of its subquantizer, via a broadcast codebook join on m."""
    emb = _pq_filtered(emb)
    cb = _pq_codebooks(emb).localCheckpoint(eager=True)
    return _subvectors(emb).join(F.broadcast(cb), "m").select(
        "vec_id",
        "label",
        "m",
        "code",
        _sq_l2(F.col("subvec"), F.col("subcent")).alias("d2"),
    )


# --------------------------------------------------------- text, graphs


def shingles_spark(text_col):
    """Single-expression shingle construction; the engine splits it into
    the _split_words + _shingles_from_words projection pair."""
    return dedup._shingles_from_words(dedup._split_words(text_col))


def triangle_count_naive(e: DataFrame) -> DataFrame:
    """Canonical-order wedge join (a<b)+(b<c) closed by (a,c): correct,
    but wedge rows per key grow with degree². Output (n_edges,
    n_triangles), like graphs._triangle_count_from_edges."""
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    wedges = e1.join(e2, F.col("e1.part_b") == F.col("e2.part_a"))
    tri = wedges.join(
        e3,
        (F.col("e3.part_a") == F.col("e1.part_a"))
        & (F.col("e3.part_b") == F.col("e2.part_b")),
        "left_semi",
    )
    n_tri = tri.groupBy().agg(F.count("*").alias("n_triangles"))
    n_edges = e.groupBy().agg(F.count("*").alias("n_edges"))
    return n_edges.crossJoin(F.broadcast(n_tri))
