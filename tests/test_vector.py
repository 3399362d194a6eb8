"""Tests for operators/vector.py: product-quantizer distances, the
matryoshka rerank, and the Arrow passes (_nearest_arrow,
_pq_encode_arrow, _kmeans_rows, _lsh_bands_arrow, _cos_verify_arrow),
each pinned bit for bit against the SQL higher-order-function or
broadcast-loop form it replaced, on hostile shapes too (NULL vectors,
NULL elements, NaN/Inf, ragged lengths, degenerate centroid tables).
The older forms live in tests/reference_forms.py."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

import __spark_entry__ as contract
from ndl_core_data_pipeline_spark.operators import vector as V
from ndl_core_data_pipeline_spark.search import N_PLANES

from . import reference_forms as R

QUERIES = contract.queries()


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


def test_matryoshka_reranks_from_prefix_candidates(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.vector import (
        matryoshka_prefix_topk,
    )

    rows = matryoshka_prefix_topk(spark, sf_small).collect()
    assert len(rows) == 10
    assert all(-1.0 - 1e-9 <= r["cos_sim"] <= 1.0 + 1e-9 for r in rows)
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def _rows_nullsafe_equal(df_a, df_b, key, msg=""):
    a = {r[key]: tuple(r) for r in df_a.collect()}
    b = {r[key]: tuple(r) for r in df_b.collect()}
    assert set(a) == set(b), msg
    bad = []
    for k in a:
        ta, tb = a[k], b[k]
        if len(ta) != len(tb):
            bad.append((k, ta, tb))
            continue
        for x, y in zip(ta, tb):
            same = (
                (x is None and y is None)
                or (
                    isinstance(x, float)
                    and isinstance(y, float)
                    and (x == y or (math.isnan(x) and math.isnan(y)))
                )
                or x == y
            )
            if not same:
                bad.append((k, ta, tb))
                break
    assert not bad, f"{msg} mismatches: {bad[:5]}"


VEC = [float(i) * 0.25 for i in range(64)]


HOSTILE_VECS = [
    (1, VEC),
    (2, VEC[:32]),                                # short
    (3, VEC + [1.0, 2.0]),                        # long
    (4, [None] + VEC[1:]),                        # NULL element
    (5, [float("nan")] + VEC[1:]),                # NaN
    (6, [float("inf")] + VEC[1:]),                # +Inf
    (7, [-float("inf")] + VEC[1:]),               # -Inf
    (8, None),                                    # NULL vector
    (9, [x + 0.125 for x in VEC]),                # second clean row
]


CENT_SETS = {
    "clean": [(j, [j * 0.5 + k * 0.01 for k in range(64)]) for j in range(8)],
    "single": [(0, VEC)],
    "null_element_cell": [(0, [j * 0.01 for j in range(64)]),
                          (1, [None] + [0.0] * 63),
                          (2, [j * 0.02 for j in range(64)])],
    "short_cell": [(0, [j * 0.01 for j in range(64)]),
                   (-5, [0.0] * 32),
                   (2, [j * 0.02 for j in range(64)])],
    "null_cell": [(0, [j * 0.01 for j in range(64)]), (1, None)],
    "nan_cell": [(0, [j * 0.01 for j in range(64)]),
                 (1, [float("nan")] * 64)],
    "equidistant": [(3, VEC), (1, VEC), (2, VEC)],  # d2 tie -> min id
}


def _hof_argmin(df, cents_rows, with_d2):
    """The r19 reference: crossJoin the one-row struct array, HOF argmin."""
    cdf = df.sparkSession.createDataFrame(
        cents_rows, "cell_id long, centroid array<double>"
    )
    base = df.crossJoin(F.broadcast(R.cent_struct_row(cdf))).filter(
        F.size("cs") > 0
    )
    m = R.argmin_cell(F.col("v"))
    cols = ["vec_id", m["cell_id"].alias("cell_id")]
    if with_d2:
        cols.append(m["d2"].alias("d2"))
    return base.select(*cols)


def test_nearest_arrow_matches_hof_on_hostile_inputs(spark):
    hdf = spark.createDataFrame(HOSTILE_VECS, "vec_id long, v array<double>")
    for tag, cents in CENT_SETS.items():
        old = _hof_argmin(hdf, cents, with_d2=True)
        new = V._nearest_arrow(
            hdf,
            cents,
            keep=[("vec_id", "bigint")],
            v_name="v",
            v_sql_type="array<double>",
            id_sql_type="bigint",
            with_d2=True,
        ).select("vec_id", "cell_id", "d2")
        _rows_nullsafe_equal(old, new, "vec_id", tag)


def test_nearest_arrow_matches_hof_on_real_embeddings(spark, sf_small):
    from ndl_core_data_pipeline_spark.io import load

    emb = load(spark, sf_small, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    seeds = emb.filter(F.col("vec_id") < V.KMEANS_K).select("vec_id", "v").collect()
    cents = [(r["vec_id"], r["v"]) for r in seeds]
    old = _hof_argmin(emb.filter(F.col("vec_id").isNotNull()), cents, with_d2=True)
    new = V._nearest_arrow(
        emb.filter(F.col("vec_id").isNotNull()),
        cents,
        keep=[("vec_id", "bigint")],
        v_name="v",
        v_sql_type="array<double>",
        id_sql_type="bigint",
        with_d2=True,
    ).select("vec_id", "cell_id", "d2")
    _rows_nullsafe_equal(old, new, "vec_id")


def test_kmeans_rows_bitwise_equals_broadcast_loop(spark, sf_small):
    """Driver-loop Lloyd == the r19 broadcast-loop fit, bit for bit."""
    from ndl_core_data_pipeline_spark.io import load

    emb = load(spark, sf_small, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )

    # r19 reference fit (broadcast struct-row + HOF argmin per round)
    cents = emb.filter(F.col("vec_id") < V.KMEANS_K).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("centroid")
    )
    for _ in range(V.KMEANS_ITERS):
        assigned = (
            emb.filter(F.col("vec_id").isNotNull())
            .crossJoin(F.broadcast(R.cent_struct_row(cents)))
            .filter(F.size("cs") > 0)
            .select(R.argmin_cell(F.col("v"))["cell_id"].alias("cell_id"), "v")
        )
        dims = assigned.select("cell_id", F.posexplode("v").alias("pos", "x"))
        means = dims.groupBy("cell_id", "pos").agg(
            F.round(
                F.sum(F.col("x").cast(V._KM_DEC)).cast("double") / F.count("x"),
                6,
            ).alias("cval")
        )
        cents = means.groupBy("cell_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"],
            ).alias("centroid")
        )
    old = {r["cell_id"]: r["centroid"] for r in cents.collect()}

    new = dict(V._kmeans_rows(emb))
    assert set(old) == set(new)
    import struct as st

    for cid in old:
        assert len(old[cid]) == len(new[cid])
        for a, b in zip(old[cid], new[cid]):
            ba = None if a is None else st.pack(">d", a)
            bb = None if b is None else st.pack(">d", b)
            assert ba == bb, (cid, a, b)


def _hof_encode(df, cw, with_d2):
    """The r19 reference: slice-explode + broadcast cw join + HOF argmin."""
    spark = df.sparkSession
    subs = V._slice_subs(df, "v", ("vec_id",))
    cw_df = spark.createDataFrame(
        [(m, [{"code": c, "subcent": sc} for c, sc in rows])
         for m, rows in cw.items()],
        "m int, cw array<struct<code:int,subcent:array<double>>>",
    )
    b = R.argmin_code(F.col("subvec"))
    cols = ["vec_id", "m", b["code"].alias("code")]
    if with_d2:
        cols.append(b["d2"].alias("d2"))
    return subs.join(F.broadcast(cw_df), "m").select(*cols)


def test_pq_encode_arrow_matches_hof_on_hostile_inputs(spark):
    hdf = spark.createDataFrame(HOSTILE_VECS, "vec_id long, v array<double>")
    cw_sets = {
        "clean": {
            m: [(c, [m * 0.1 + c * 0.01 + k * 0.001 for k in range(8)])
                for c in range(5)]
            for m in range(V.PQ_M)
        },
        "missing_m": {
            m: [(c, [m + c + k * 0.5 for k in range(8)]) for c in range(3)]
            for m in (0, 3, 7)
        },
        "dirty_codeword": {
            m: [(0, [0.5] * 8), (1, [None] + [0.25] * 7), (2, [0.75] * 4)]
            for m in range(V.PQ_M)
        },
        "nan_codeword": {
            m: [(0, [0.5] * 8), (1, [float("nan")] * 8)] for m in range(V.PQ_M)
        },
    }
    for tag, cw in cw_sets.items():
        old = _hof_encode(hdf, cw, with_d2=True)
        new = V._pq_encode_arrow(
            hdf, cw, keep=[("vec_id", "bigint")], v_name="v", with_d2=True
        )
        a = {(r["vec_id"], r["m"]): (r["code"], r["d2"]) for r in old.collect()}
        b = {(r["vec_id"], r["m"]): (r["code"], r["d2"]) for r in new.collect()}
        assert set(a) == set(b), tag
        for k in a:
            ca, da = a[k]
            cb, db = b[k]
            assert ca == cb, (tag, k, a[k], b[k])
            same_d = (da is None and db is None) or (
                da is not None
                and db is not None
                and (da == db or (math.isnan(da) and math.isnan(db)))
            )
            assert same_d, (tag, k, a[k], b[k])


def test_struct_min_ordering_assumptions(spark):
    """The comparator facts _nearest_arrow/_pq_encode_arrow bake in —
    probed from Spark itself so an engine upgrade that changes struct
    ordering fails HERE, not in a silent argmin divergence: NULL d2
    beats any value, NaN is greatest among non-NULLs, ids tiebreak with
    NULL first."""
    r = spark.sql(
        "SELECT "
        " array_min(array(named_struct('d2', CAST(NULL AS DOUBLE), 'c', 5L),"
        "                 named_struct('d2', 1.0D, 'c', 3L))).c AS null_wins,"
        " array_min(array(named_struct('d2', CAST('NaN' AS DOUBLE), 'c', 5L),"
        "                 named_struct('d2', 1.0D, 'c', 3L))).c AS nan_loses,"
        " array_min(array(named_struct('d2', CAST('Infinity' AS DOUBLE), 'c', 5L),"
        "                 named_struct('d2', CAST('NaN' AS DOUBLE), 'c', 3L))).c"
        "   AS inf_beats_nan,"
        " array_min(array(named_struct('d2', 1.0D, 'c', CAST(NULL AS BIGINT)),"
        "                 named_struct('d2', 1.0D, 'c', 3L))).c AS null_id_first"
    ).collect()[0]
    assert r["null_wins"] == 5
    assert r["nan_loses"] == 3
    assert r["inf_beats_nan"] == 5
    assert r["null_id_first"] is None


# (n_planes, dim, n_bands): the registry's 16-bit/4-band signature over
# 64-dim embeddings, and the RAG index's shape — search.lsh_index over
# 256-dim chunk embeddings, one band holding the whole signature
LSH_SHAPES = [(V.LSH_SIG_BITS, 64, V.LSH_SIG_BANDS), (N_PLANES, 256, 1)]


def test_lsh_bands_arrow_matches_sql_hof(spark):
    """Arrow band values == the SQL-HOF signature/band forms on real-ish
    and hostile vectors (NULL rows, NULL elements, NaN/Inf, ragged), for
    every signature shape the engine builds."""
    import numpy as np

    for n_planes, dim, n_bands in LSH_SHAPES:
        shape = (n_planes, dim, n_bands)
        planes = V.hyperplane_matrix(n_planes, dim)
        one = [1.0] * (dim - 1)
        rows = [
            (1, [0.1 * i - 3.0 for i in range(dim)]),
            (2, [-0.25 * i for i in range(dim)]),
            (3, [float("nan")] + one),
            (4, [float("inf")] + one),
            (5, [-float("inf")] + one),
            (6, [None] + one),
            (7, [1.0] * (dim // 2)),
            (8, [1.0] * (dim + 6)),
            (9, None),
            (10, [0.0] * dim),
        ]
        rng = np.random.default_rng(7)
        rows += [(11 + i, rng.standard_normal(dim).tolist()) for i in range(20)]
        hdf = spark.createDataFrame(rows, "vec_id long, v array<float>")
        # full-signature form (1 band of n_planes bits)
        old_sig = hdf.select("vec_id", R.lsh_signature("v", planes).alias("s"))
        new_sig = V._lsh_bands_arrow(
            hdf, planes, 1, keep=[("vec_id", "bigint")], v_name="v"
        ).select("vec_id", F.col("bvals")[0].alias("s"))
        a = {r["vec_id"]: r["s"] for r in old_sig.collect()}
        b = {r["vec_id"]: r["s"] for r in new_sig.collect()}
        assert a == b, shape
        # banded form
        old_b = hdf.select(
            "vec_id",
            F.explode(F.array(*R.band_value_structs("v", planes, n_bands))).alias("bk"),
        ).select("vec_id", "bk.band", "bk.bval")
        new_b = V._lsh_bands_arrow(
            hdf, planes, n_bands, keep=[("vec_id", "bigint")], v_name="v"
        ).select("vec_id", F.posexplode("bvals").alias("band", "bval"))
        a = {(r["vec_id"], r["band"]): r["bval"] for r in old_b.collect()}
        b = {(r["vec_id"], r["band"]): r["bval"] for r in new_b.collect()}
        assert a == b, shape


def test_cos_verify_arrow_matches_hof(spark):
    """Arrow cosine == the _dot/_norm HOF quotient bitwise, including
    zero-norm (Inf/NaN), NULL-element, and ragged-length pairs."""
    import struct as st

    vecs = {
        1: [0.1 * i for i in range(64)],
        2: [0.2 * (64 - i) for i in range(64)],
        3: [0.0] * 64,                         # zero norm -> NaN/Inf
        4: [float("nan")] + [1.0] * 63,
        5: [float("inf")] + [1.0] * 63,
        6: [None] + [1.0] * 63,
        7: [1.0] * 32,                         # short but EQUAL lengths work
        8: [2.0] * 32,
        9: None,
        10: [3.0] * 64,
    }
    # engine conditions: every query path calls io.load ->
    # ensure_session_defaults, which sets ansi=false (so a zero-norm
    # pair divides to Inf/NaN instead of erroring); the division lives
    # in the JVM in BOTH forms, so they track the session setting
    # identically either way
    from ndl_core_data_pipeline_spark.io import ensure_session_defaults

    ensure_session_defaults(spark)
    pairs = [
        (1, 2), (1, 3), (3, 3), (4, 1), (5, 1), (6, 1), (7, 8), (7, 1),
        (9, 1), (10, 10),
    ]
    rows = [(a, b, vecs[a], vecs[b]) for a, b in pairs]
    pdf = spark.createDataFrame(
        rows, "vec_a long, vec_b long, emb_a array<float>, emb_b array<float>"
    )
    cos = V._dot(F.col("emb_a"), F.col("emb_b")) / (
        V._norm(F.col("emb_a")) * V._norm(F.col("emb_b"))
    )
    old = {(r["vec_a"], r["vec_b"]): r["c"] for r in pdf.select("vec_a", "vec_b", cos.alias("c")).collect()}
    new = {
        (r["vec_a"], r["vec_b"]): r["cos_raw"]
        for r in V._cos_verify_arrow(
            pdf, keep=[("vec_a", "bigint"), ("vec_b", "bigint")]
        ).collect()
    }
    assert set(old) == set(new)
    for k in old:
        x, y = old[k], new[k]
        bx = None if x is None else st.pack(">d", x)
        by = None if y is None else st.pack(">d", y)
        assert bx == by, (k, x, y)
