"""Pin tests for the round-16 extreme-BIGINT handoff (BIGINT_r16.json).

The post-close probe planted ±2^62-class values into every int column
and left two real defect classes (the other eight "divergences" were
planted primary-key COLLISIONS — same id, different payload — i.e.
contract violations, now rejected loudly by checks.enforce_unique_key
and planted uniquely by gen_scale.inject_bigint_extremes):

1. func_numeric_clean — a NEGATIVE planted p_partkey composes
   '42-4611686018427387904.75' after the token strip; Spark's non-ANSI
   cast NULLs it, DuckDB CAST raised (oracle crash). Fix: TRY_CAST.
2. func_string_family — repeat('*', p_size) with an extreme count:
   DuckDB refuses a >4 GiB string (oracle crash) while Spark's implicit
   bigint→int cast WRAPS (2^62 → 0 stars — a silently wrong answer,
   and an allocation bomb for counts that wrap positive). Fix: clamp to
   [0, SIZE_BAR_MAX] on BOTH sides with explicit NULL propagation.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as contract
from ndl_core_data_pipeline_spark.operators.textops import SIZE_BAR_MAX

from .oracle import run_compare
from .test_nullheavy_fixes import _SRC, _events_table, _fixture_dir

QUERIES = contract.queries()
ORACLES = contract.oracle_sql()

_EXTREMES = (2**62, -(2**62), 2**63 - 1, -(2**63 - 1), 2**53 + 1)


def _part_table(rows) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table(
        {
            "p_partkey": pa.array(cols[0], pa.int64()),
            "p_name": pa.array(cols[1], pa.string()),
            "p_brand": pa.array(cols[2], pa.string()),
            "p_type": pa.array(cols[3], pa.string()),
            "p_size": pa.array(cols[4], pa.int32()),
            "p_retailprice": pa.array(cols[5], pa.float64()),
        }
    )


_PART_ROWS = [
    # clean rows — the identity-on-clean anchors
    (1, "azure linen sienna", "B#1", "SMALL", 4, 901.0),
    (2, "rosy metallic peru", "B#2", "LARGE", 50, 902.5),
    # extreme int64 keys, both signs (negative sign is the crash shape)
    (2**62, "extreme up", "B#3", "MED", 7, 10.0),
    (-(2**62), "extreme down", "B#4", "MED", 9, 11.0),
    (2**63 - 1, "int64 max", "B#5", "MED", 1, 12.0),
    (-(2**63 - 1), "int64 near-min", "B#6", "MED", 2, 13.0),
    (2**53 + 1, "float-unrepresentable", "B#7", "MED", 3, 14.0),
    # extreme + degenerate repeat counts (int32 width)
    (10, "size int32 max", "B#8", "MED", 2**31 - 1, 15.0),
    (11, "size int32 neg", "B#9", "MED", -(2**31 - 1), 16.0),
    (12, "size just past float24", "B#10", "MED", 2**24 + 1, 17.0),
    (13, "size zero", "B#11", "MED", 0, 18.0),
    (14, "size null", "B#12", "MED", None, 19.0),
]


@pytest.fixture(scope="module")
def bigint_part_dir(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("bigintpart")
    return _fixture_dir(tmp, "d", "part", _part_table(_PART_ROWS))


@pytest.mark.parametrize("name", ["func_numeric_clean", "func_string_family"])
def test_extreme_bigint_parity(spark, bigint_part_dir, name):
    """Pre-fix: the oracle CRASHES on both queries (DOUBLE conversion /
    4 GiB string); post-fix both run and agree value-for-value."""
    problems = run_compare(spark, name, QUERIES[name], ORACLES[name], bigint_part_dir)
    assert problems == [], problems


def test_size_bar_clamped_not_wrapped(spark, bigint_part_dir):
    """The repeat count must CLAMP, never wrap through int: 2^31−1 stars
    → SIZE_BAR_MAX, negative → empty, NULL → NULL, clean values exact."""
    out = {
        r["p_partkey"]: r["size_bar"]
        for r in QUERIES["func_string_family"](spark, bigint_part_dir).collect()
    }
    assert out[1] == "*" * 4 and out[2] == "*" * 50  # identity on clean
    assert out[10] == "*" * SIZE_BAR_MAX  # int32-max count clamps
    assert out[12] == "*" * SIZE_BAR_MAX  # 2^24+1 clamps too
    assert out[11] == ""  # negative count → no stars
    assert out[13] == ""  # zero count → no stars
    assert out[14] is None  # NULL count propagates


def test_numeric_clean_negative_key_nulls_both_sides(spark, bigint_part_dir):
    """The embedded-sign dirty string must come back NULL (unparseable),
    not crash, and parseable extremes still round-trip."""
    out = {
        r["p_partkey"]: (r["clean_money"], r["clean_pct"])
        for r in QUERIES["func_numeric_clean"](spark, bigint_part_dir).collect()
    }
    assert out[-(2**62)][0] is None  # '9-4611686018427387904.75'
    assert out[1] == (41.75, 4.25)  # clean row: '£4,1.75' → 41.75
    assert out[2**62][0] == float("7" + str(2**62) + ".75")  # p_size=7 prefix


def test_tree_depth_domain_and_int64_max(spark, tmp_path):
    """The heap hierarchy's domain is k >= 0: negative keys drop on BOTH
    sides (engine bin() would hand them depth 63, oracle recursion 0),
    and k = 2^63−1 — whose heap index wraps — still gets its exact
    closed-form depth 63 / top branch 1 via the unsigned shift."""
    rows = [
        (0, "r", "B", "T", 1, 1.0),
        (1, "a", "B", "T", 1, 1.0),
        (6, "b", "B", "T", 1, 1.0),
        (2**63 - 1, "allones", "B", "T", 1, 1.0),
        (-(2**62), "neg", "B", "T", 1, 1.0),
        (None, "null", "B", "T", 1, 1.0),
    ]
    d = _fixture_dir(tmp_path, "tree", "part", _part_table(rows))
    name = "graph_tree_depth_root"
    assert run_compare(spark, name, QUERIES[name], ORACLES[name], d) == []
    out = {r["p_partkey"]: (r["depth"], r["top_branch"])
           for r in QUERIES[name](spark, d).collect()}
    assert set(out) == {0, 1, 6, 2**63 - 1}  # negatives and NULL dropped
    assert out[0] == (0, 0) and out[1] == (1, 1) and out[6] == (2, 2)
    assert out[2**63 - 1] == (63, 1)  # wrapped heap index, exact answer


def test_salted_join_keeps_negative_event_ids(spark, tmp_path):
    """Salting must never change membership: a negative event_id salts
    with pmod into the exploded 0..N−1 domain instead of silently
    dropping (Java % would emit a negative salt)."""
    rows = [
        (-(2**62), "2024-03-01T10:00:00", 7, "purchase", 5.0, "{}"),
        (-3, "2024-03-01T10:01:00", 7, "purchase", 1.0, "{}"),
        (4, "2024-03-01T10:02:00", 7, "view", 2.0, "{}"),
        (None, "2024-03-01T10:03:00", 8, "purchase", 3.0, "{}"),
    ]
    d = _fixture_dir(tmp_path, "salted", "events", _events_table(rows))
    name = "join_skew_salted"
    assert run_compare(spark, name, QUERIES[name], ORACLES[name], d) == []
    got = {r["event_id"] for r in QUERIES[name](spark, d).collect()}
    assert got == {-(2**62), -3, None}  # every purchase row survives


def test_pii_negative_doc_id_same_synthetic_input(spark, tmp_path):
    """The synthetic phone suffix is pmod-based on BOTH sides: a negative
    doc_id must compose the same pii_text in engine and oracle (the
    sign-preserving % would build '7-3' oracle-side), and that text must
    then mask."""
    docs = pa.table(
        {
            "doc_id": pa.array([-(2**62) - 3, 5], pa.int64()),
            "text": pa.array(["alpha beta gamma", "delta"], pa.string()),
            "lang": pa.array(["en", "en"], pa.string()),
            "source": pa.array(["s1", "s2"], pa.string()),
            "n_chars": pa.array([16, 5], pa.int64()),
        }
    )
    d = _fixture_dir(tmp_path, "pii", "documents", docs)
    for name in ("pii_anonymize_regex", "pii_density", "pii_masked_update"):
        assert run_compare(spark, name, QUERIES[name], ORACLES[name], d) == [], name
    row = [
        r for r in QUERIES["pii_anonymize_regex"](spark, d).collect()
        if r["doc_id"] < 0
    ][0]
    assert "xx-xxxx-xxxx" in row["anon_text"]  # phone masked, not '7-3'


def test_corpus_summary_overflowed_total_is_null(spark, tmp_path):
    """A char total past bigint range comes back NULL (defined,
    detectable) on both sides — never a wrapped plausible-looking
    number; in-range totals stay exact."""
    n = 6
    docs = pa.table(
        {
            "doc_id": pa.array(list(range(1, n + 1)), pa.int64()),
            "text": pa.array([f"unique text {i} xyz" for i in range(n)], pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array(["s"] * n, pa.string()),
            # every doc huge: whichever split a doc lands in, 2 of them
            # overflow; a single doc stays in range
            "n_chars": pa.array([2**63 - 9] * n, pa.int64()),
        }
    )
    d = _fixture_dir(tmp_path, "corpus", "documents", docs)
    name = "pipeline_corpus_summary"
    assert run_compare(spark, name, QUERIES[name], ORACLES[name], d) == []
    for r in QUERIES[name](spark, d).collect():
        if r["n_docs"] >= 2:
            assert r["total_chars"] is None  # overflow → NULL, not wrap
        else:
            assert r["total_chars"] == 2**63 - 9


def test_content_type_index_pmod_on_negative_ids(spark, tmp_path):
    """The synthetic mime index must pmod: a negative-odd doc_id made
    the 1-based element_at index 0 (engine CRASH) or negative (both
    engines silently counted from the END — agreeing by coincidence).
    Caught by the 5% escalation probe; the 0.5% tier only planted
    even-magnitude negatives, which 12 divides cleanly."""
    docs = pa.table(
        {
            "doc_id": pa.array(
                [-(2**63 - 1), -(2**62) - 3, -1, 0, 5, 2**62], pa.int64()
            ),
            "text": pa.array(["a", "b", "c", "d", "e", "f"], pa.string()),
            "lang": pa.array(["en"] * 6, pa.string()),
            "source": pa.array(["s"] * 6, pa.string()),
            "n_chars": pa.array([1] * 6, pa.int64()),
        }
    )
    d = _fixture_dir(tmp_path, "mime", "documents", docs)
    name = "files_content_type_extension"
    assert run_compare(spark, name, QUERIES[name], ORACLES[name], d) == []
    mimes = {r["doc_id"]: r["mime"] for r in QUERIES[name](spark, d).collect()}
    # pmod(-1, 12) = 11 → 12th mime; never index 0, never from-the-end
    assert mimes[-1] == "font/ttf"


def test_groupedmap_zscore_exact_int64_passthrough(spark, tmp_path):
    """applyInArrow keeps int64-with-NULL passthrough columns bit-exact:
    the pandas funnel turned 2^63−1 into float64 2^63 on input (silent
    corruption) and crashed converting it back to int64 on output
    (compound-extreme probe find). NULL and extreme in the SAME group is
    the triggering interaction."""
    docs = pa.table(
        {
            "doc_id": pa.array([1, 2, 3, 4], pa.int64()),
            "text": pa.array(["a", "b", "c", "d"], pa.string()),
            "lang": pa.array(["en"] * 4, pa.string()),
            "source": pa.array(["s", "s", "s", "t"], pa.string()),
            "n_chars": pa.array([2**63 - 1, None, 10, 7], pa.int64()),
        }
    )
    d = _fixture_dir(tmp_path, "zsc", "documents", docs)
    name = "groupedmap_zscore"
    assert run_compare(spark, name, QUERIES[name], ORACLES[name], d) == []
    out = {r["doc_id"]: (r["n_chars"], r["zscore"])
           for r in QUERIES[name](spark, d).collect()}
    assert out[1][0] == 2**63 - 1  # bit-exact passthrough, not 2^63 float
    assert out[2][0] is None and out[2][1] is None  # NULL stays NULL
    assert out[4] == (7, 0.0)  # constant group → 0


def test_enforce_unique_key_contract():
    """The declared id contract: unique ids pass through, colliding ids
    with divergent payloads raise loudly, naming the offending key."""
    from pyspark.sql import SparkSession

    from ndl_core_data_pipeline_spark.operators.checks import enforce_unique_key

    spark = SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[2]"
    ).getOrCreate()
    ok = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2**62, "c")], "doc_id long, text string"
    )
    assert enforce_unique_key(ok, "doc_id") is ok

    bad = spark.createDataFrame(
        [(2**62, "payload one"), (2**62, "payload two"), (3, "c")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="doc_id=4611686018427387904"):
        enforce_unique_key(bad, "doc_id")


def test_extreme_unique_generator_properties():
    """gen_scale._extreme_unique must emit pairwise-distinct, in-width,
    extreme-magnitude values for far more hits than any fixture plants,
    and keep the 2^53+1 class odd (float64-unrepresentable)."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
    )
    from gen_scale import INT32_EXTREMES, INT64_EXTREMES, _extreme_unique

    for extremes, lo, hi, floor in (
        (INT64_EXTREMES, -(2**63), 2**63 - 1, 2**53 - 10**4),
        (INT32_EXTREMES, -(2**31), 2**31 - 1, 2**24 - 10**4),
    ):
        vals = [_extreme_unique(i, extremes) for i in range(5000)]
        assert len(set(vals)) == len(vals)  # pairwise distinct
        assert all(lo <= v <= hi for v in vals)  # in physical width
        assert all(abs(v) >= floor for v in vals)  # stays extreme
        odd_class = [vals[i] for i in range(4, 5000, 5)]
        assert all(v % 2 == 1 for v in odd_class)


def test_enforce_unique_key_quarantine_mode():
    """mode='quarantine' (round-17): colliding keys route to the
    side-output, unique-keyed rows proceed; null-safe on the key (two
    NULL ids ARE a collision); partition = exact, no row lost."""
    from pyspark.sql import SparkSession

    from ndl_core_data_pipeline_spark.operators.checks import enforce_unique_key

    spark = SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[2]"
    ).getOrCreate()
    df = spark.createDataFrame(
        [
            (1, "unique one"),
            (2, "collides"),
            (2, "collides too"),
            (3, "unique two"),
            (None, "null id a"),
            (None, "null id b"),
            (4, "unique three"),
        ],
        "doc_id long, text string",
    )
    clean, bad = enforce_unique_key(df, "doc_id", mode="quarantine")
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 3, 4]
    got_bad = sorted(
        ((r["doc_id"], r["text"]) for r in bad.collect()),
        key=lambda t: (t[0] is not None, t[0] or 0, t[1]),
    )
    assert got_bad == [
        (None, "null id a"), (None, "null id b"),
        (2, "collides"), (2, "collides too"),
    ]
    assert clean.count() + bad.count() == df.count()
    # the clean side satisfies the raise-mode gate
    assert enforce_unique_key(clean, "doc_id") is clean


def test_enforce_unique_key_quarantine_all_unique_is_noop_split():
    from pyspark.sql import SparkSession

    from ndl_core_data_pipeline_spark.operators.checks import enforce_unique_key

    spark = SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[2]"
    ).getOrCreate()
    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    clean, bad = enforce_unique_key(df, "doc_id", mode="quarantine")
    assert bad.count() == 0 and clean.count() == 2


def test_enforce_unique_key_rejects_unknown_mode():
    from pyspark.sql import SparkSession

    from ndl_core_data_pipeline_spark.operators.checks import enforce_unique_key

    spark = SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[2]"
    ).getOrCreate()
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unknown mode"):
        enforce_unique_key(df, "doc_id", mode="merge")


@pytest.fixture(scope="module")
def bigint_label_dir(tmp_path_factory):
    """sf0.001's embeddings with `label` widened from int to bigint."""
    tbl = pq.read_table(os.path.join(_SRC, "embeddings.parquet"))
    tbl = tbl.set_column(
        tbl.schema.get_field_index("label"),
        "label",
        tbl.column("label").cast(pa.int64()),
    ).replace_schema_metadata(None)
    return _fixture_dir(tmp_path_factory.mktemp("bigintlabel"), "d", "embeddings", tbl)


@pytest.mark.parametrize(
    "name", ["vector_lsh_buckets", "vector_pq_codes", "vector_ivfpq_adc_search"]
)
def test_bigint_label_through_arrow_passes(spark, bigint_label_dir, name):
    """The mapInArrow passes carry `label` through with the input's own
    type. With a hardcoded int, a bigint label made the pass fail in
    ArrowVectorAccessor.getInt."""
    problems = run_compare(spark, name, QUERIES[name], ORACLES[name], bigint_label_dir)
    assert problems == [], problems
