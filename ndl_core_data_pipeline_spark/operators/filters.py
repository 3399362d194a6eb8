"""Filter / projection operators (SURVEY §2.3 F1–F9).

Every predicate is a Catalyst expression so it pushes down to the parquet
scan (visible as PushedFilters in .explain("formatted")) — at 100 TB this is
the difference between reading a column chunk and reading the lake.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load


def format_lang_filter(spark, sf_dir):
    """F1: keep rows of one 'format' with non-null payload
    (ref: assets/rag/process_text_chunks.py:31; resources/refine/anonymizer.py:54)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.filter((F.col("lang") == "en") & F.col("text").isNotNull())
        .select("doc_id", "lang", "source", "n_chars")
    )


def min_length_filter(spark, sf_dir):
    """F2: drop text records shorter than MIN_TEXT_LENGTH=200
    (ref: assets/processing/assets.py:38,199-203)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.filter(F.length(F.trim(F.col("text"))) >= 200)
        .select("doc_id", F.length(F.trim(F.col("text"))).alias("trimmed_len"))
    )


def whitelist_reject_stats(spark, sf_dir):
    """F3: supported-format whitelist; count rejects per format
    (ref: assets/processing/assets.py:39,167-171)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(~F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("event_type")
        .agg(F.count("*").alias("rejected"))
    )


def size_cap_filter(spark, sf_dir):
    """F6: size-cap predicate (ref: 25 MB cap, assets/data_gov_uk/assets.py:37)."""
    docs = load(spark, sf_dir, "documents")
    return docs.filter(F.col("n_chars") <= 300).select("doc_id", "n_chars")


def like_filter(spark, sf_dir):
    """LIKE pattern predicate (engine-surface completion of the F family)."""
    docs = load(spark, sf_dir, "documents")
    return docs.filter(F.col("text").like("%vector%")).select("doc_id", "source")


def regexp_filter(spark, sf_dir):
    """Regexp predicate (engine surface; ref uses regex matching in
    resources/convertors/csv_to_parquet.py:162-169)."""
    docs = load(spark, sf_dir, "documents")
    return docs.filter(F.col("text").rlike("join\\s+stream")).select("doc_id")


def project_drop_column(spark, sf_dir):
    """F7: select all columns except the vector
    (ref: assets/rag/test_lancedb_search.py:42-47)."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.drop("embedding")


def null_domain_filter(spark, sf_dir):
    """Null-token domain predicate (ref: csv_to_parquet.py:30 null token set)
    demonstrated as an isin + null-normalize over a string column."""
    docs = load(spark, sf_dir, "documents")
    cleaned = F.when(
        F.trim(F.col("lang")).isin("NA", "N/A", "NULL", "null", "na", "n/a", "None", "NONE", "-", ""),
        F.lit(None),
    ).otherwise(F.trim(F.col("lang")))
    return docs.select("doc_id", cleaned.alias("lang_clean")).filter(
        F.col("lang_clean").isNotNull()
    )


IQR_MULT = 0.25  # synthetic orders are near-uniform — 1.5×IQR (the Tukey
# default for production) flags nothing; 0.25 exercises both tails


def iqr_outlier_filter(spark, sf_dir):
    """Quantile-fence outlier detection (Tukey fences): exact Q1/Q3 in one
    aggregation, fences broadcast as a single row, then a map-side range
    predicate — no global sort, no second scan shape change at any scale.
    The per-row filter is the same plan as any pushed predicate; only the
    one-row bounds table moves between stages."""
    from ._util import finite

    # finite prices only — for the fences (NaN ranks greatest in Spark's
    # percentile but is skipped by DuckDB's quantile_cont, skewing Q1/Q3)
    # AND for the verdicts (a NaN price is a broken value, not a tail)
    o = load(spark, sf_dir, "orders").filter(finite(F.col("o_totalprice")))
    bounds = o.agg(
        F.percentile("o_totalprice", 0.25).alias("q1"),
        F.percentile("o_totalprice", 0.75).alias("q3"),
    ).select(
        (F.col("q1") - IQR_MULT * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + IQR_MULT * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        o.crossJoin(F.broadcast(bounds))
        .filter((F.col("o_totalprice") < F.col("lo")) | (F.col("o_totalprice") > F.col("hi")))
        .select(
            "o_orderkey",
            "o_totalprice",
            F.when(F.col("o_totalprice") < F.col("lo"), "low")
            .otherwise("high")
            .alias("tail"),
        )
    )


def mad_outliers(spark, sf_dir):
    """Robust outlier detection via median absolute deviation — the
    estimator that survives what IQR fences miss (filter_iqr_outliers is
    the quartile sibling): per event_type, med = median(value), MAD =
    median(|value - med|), outlier when |value - med| > 3 * MAD. Exact
    medians are engine-parity-safe (Spark median ≡ DuckDB MEDIAN); two
    keyed aggregation passes + a broadcast of the G-row fence table,
    map-side verdicts. SCALE TIER: exact median is a sort-based aggregate
    per group — at 100 TB prefer mad_outliers_approx (mergeable GK
    sketch, bounded memory, rank error ≤ 1/MAD_APPROX_ACC); the oracle
    pins the exact form because approx sketches are engine-specific."""
    from ._util import finite

    # finite values only (same rule as filter_iqr_outliers: NaN skews the
    # robust estimators differently per engine, and is not an outlier)
    ev = (
        load(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .filter(finite(F.col("value")))
    )
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    # r19: checkpointing dev (it feeds both the MAD aggregate and the
    # verdict) was TRIED and rejected — interleaved A/B flat-to-worse
    # (median 2.00 → 2.12 s); it would trade a cheap columnar re-scan +
    # broadcast join for materializing input-scale rows.
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > 3 * F.col("mad"))
        .select("event_id", "event_type", "value", "med", "mad")
    )


_MAD_SQL = """
WITH ev AS (SELECT event_id, event_type, value FROM events
            WHERE isfinite(value)),
med AS (SELECT event_type, MEDIAN(value) AS med FROM ev GROUP BY event_type),
dev AS (
  SELECT event_id, e.event_type, value, med, ABS(value - med) AS adev
  FROM ev e JOIN med ON e.event_type = med.event_type
),
mad AS (SELECT event_type, MEDIAN(adev) AS mad FROM dev GROUP BY event_type)
SELECT event_id, d.event_type, value, med, d2.mad
FROM dev d JOIN mad d2 ON d.event_type = d2.event_type
WHERE adev > 3 * d2.mad
"""


MAD_APPROX_ACC = 10_000  # percentile_approx accuracy: rank error ≤ 1/acc


def mad_outliers_approx(spark, sf_dir):
    """100 TB tier of mad_outliers: percentile_approx(…, 0.5,
    MAD_APPROX_ACC) replaces exact F.median. The Greenwald-Khanna sketch
    is single-pass, mergeable across partitions, and bounded-memory —
    the properties exact median lacks at scale — at the cost of rank
    error ≤ 1/MAD_APPROX_ACC. Bench/tests-only (no oracle): DuckDB's
    approx_quantile uses a different sketch, so cross-engine hashes
    can't pin approximate medians; correctness is pinned locally by
    comparing fences against the exact form (tests/test_filters.py)."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, MAD_APPROX_ACC).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile_approx("adev", 0.5, MAD_APPROX_ACC).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > 3 * F.col("mad"))
        .select("event_id", "event_type", "value", "med", "mad")
    )


def register(reg):
    reg.add(
        "filter_format_lang",
        format_lang_filter,
        "SELECT doc_id, lang, source, n_chars FROM documents "
        "WHERE lang = 'en' AND text IS NOT NULL",
    )
    reg.add(
        "filter_min_length",
        min_length_filter,
        "SELECT doc_id, LENGTH(TRIM(text)) AS trimmed_len FROM documents "
        "WHERE LENGTH(TRIM(text)) >= 200",
    )
    reg.add(
        "filter_whitelist_rejects",
        whitelist_reject_stats,
        "SELECT event_type, COUNT(*) AS rejected FROM events "
        "WHERE event_type NOT IN ('view','click','purchase') GROUP BY event_type",
    )
    reg.add(
        "filter_size_cap",
        size_cap_filter,
        "SELECT doc_id, n_chars FROM documents WHERE n_chars <= 300",
    )
    reg.add(
        "filter_like",
        like_filter,
        "SELECT doc_id, source FROM documents WHERE text LIKE '%vector%'",
    )
    reg.add(
        "filter_regexp",
        regexp_filter,
        "SELECT doc_id FROM documents WHERE regexp_matches(text, 'join\\s+stream')",
    )
    reg.add(
        "project_drop_vector",
        project_drop_column,
        "SELECT vec_id, label FROM embeddings",
    )
    reg.add(
        "filter_null_domain",
        null_domain_filter,
        "SELECT doc_id, TRIM(lang) AS lang_clean FROM documents "
        "WHERE TRIM(lang) NOT IN ('NA','N/A','NULL','null','na','n/a','None','NONE','-','')",
    )
    # quantile-fence outliers
    reg.add(
        "filter_iqr_outliers",
        iqr_outlier_filter,
        f"WITH o AS (SELECT * FROM orders WHERE isfinite(o_totalprice)), "
        f"b AS (SELECT quantile_cont(o_totalprice, 0.25) AS q1, "
        f"quantile_cont(o_totalprice, 0.75) AS q3 FROM o), "
        f"f AS (SELECT q1 - {IQR_MULT} * (q3 - q1) AS lo, "
        f"q3 + {IQR_MULT} * (q3 - q1) AS hi FROM b) "
        "SELECT o_orderkey, o_totalprice, "
        "CASE WHEN o_totalprice < lo THEN 'low' ELSE 'high' END AS tail "
        "FROM o, f WHERE o_totalprice < lo OR o_totalprice > hi",
    )
    reg.add("filter_mad_outliers", mad_outliers, _MAD_SQL)
