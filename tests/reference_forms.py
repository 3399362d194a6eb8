"""Reference implementations that only the equivalence tests use.

Most functions here are an older, slower form of an engine operator —
the Spark SQL higher-order-function (HOF) LSH signature and band values,
the broadcast-row nearest-centroid and codeword argmins, the K-way
scored PQ expansion, the one-expression shingle form, the inline word
3-gram expressions the shingle callers used before `word_ngrams`, and
the naive triangle wedge join. The engine runs the newer form; the tests
pin the two equal, so the older form lives here as the oracle instead of
in the package. `_py_hash48` is the pure-Python model of `hash48` that
the hash and MinHash tests share.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F

from ndl_core_data_pipeline_spark.operators import dedup
from ndl_core_data_pipeline_spark.operators._util import (
    word_ngrams,
    words as split_words,
)
from ndl_core_data_pipeline_spark.operators.vector import (
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
                _sq_l2(v_col, c["centroid"]).alias("d2"),
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
    a `words` projection followed by `word_ngrams`."""
    return F.array_distinct(word_ngrams(split_words(text_col), dedup.SHINGLE_N))


# The word 3-gram expressions the dedup, winnowing and contamination
# callers spelled inline before `_util.word_ngrams`, kept verbatim so a
# test can pin each caller's current expression equal to its old one.
# Each takes a pre-materialized words array column.


def dedup_shingles_old(words):
    """dedup's distinct shingles (the former `_shingles_from_words`)."""
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(words) - 3, F.lit(0))),
            lambda i: F.concat_ws(
                " ",
                F.element_at(words, i + 1),
                F.element_at(words, i + 2),
                F.element_at(words, i + 3),
            ),
        )
    )
    return F.when(F.size(words) >= 3, shingles)


def winnowing_shingles_old(words):
    """textops.winnowing_fingerprints' positional shingles."""
    return F.when(
        F.size(words) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(words, i + 1),
                F.element_at(words, i + 2),
                F.element_at(words, i + 3),
            ),
        ),
    )


def contamination_grams_old(words):
    """training.contamination_ngram's distinct per-doc gram hashes."""
    return F.when(
        F.size(words) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - 3),
                lambda i: F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                " ",
                                F.element_at(words, i + 1),
                                F.element_at(words, i + 2),
                                F.element_at(words, i + 3),
                            )
                        ),
                        1,
                        12,
                    ),
                    16,
                    10,
                ).cast("bigint"),
            )
        ),
    )


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


# ------------------------------------------------------------------ hash


def _py_hash48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)
