"""The processing pipeline (SURVEY §3.1) as one lazy DataFrame chain:

    raw records → dedup → canonicalize (license/date/language/counts/
    extra-metadata) → filter (format whitelist, min length) → anonymize

The reference runs this as five Dagster assets passing files on disk
(assets/processing/assets.py); here Catalyst owns the whole plan and
stage boundaries are optional checkpoints. Every step is a pure
DataFrame → DataFrame function usable on its own.

Raw input contract: one row per crawled record with (a subset of)
    title, description, source, date, public_time, first_publish_time,
    collection_time, open_type, license, `license:`, tags, language,
    format, text, data_file
plus arbitrary extra columns, which are packed into extra_metadata JSON
(assets/processing/assets.py:205-210). The trailing-colon `license:` key
is the reference's crawler quirk (gov.uk/legislation/ONS write it, the
canonical builder reads `license` — so those sources resolve to the
default; SURVEY §1.2 'semantic quirk').
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .functions.udfs import anonymize_text_udf, refine_text_udf
from .operators.textops import normalize_license
from .schema import (
    CANONICAL_SCHEMA,
    COMMON_FIELDS,
    DEFAULT_OPEN_TYPE,
    MIN_TEXT_LENGTH,
    SUPPORTED_FORMATS,
)

_RAW_LICENSE_KEY = "license"  # the canonical builder reads this exact key


def canonicalize(raw: DataFrame, parse_ts=None) -> DataFrame:
    """Map raw crawler rows onto the 16-column canonical schema.
    Missing columns become NULL/defaults; extra columns are packed into
    extra_metadata as a JSON object (assets.py:205-210,294)."""
    from .ingest.infer import _parse_ts

    parse = parse_ts or _parse_ts
    cols = set(raw.columns)

    def get(name: str) -> Column:
        return F.col(name) if name in cols else F.lit(None).cast("string")

    # date fallback chain: date → public_time → first_publish_time
    # (assets.py:284 via get_date)
    date_expr = F.coalesce(
        *[parse(get(c)) for c in ("date", "public_time", "first_publish_time")]
    )
    extra_cols = sorted(
        c
        for c in cols
        if c not in set(COMMON_FIELDS) | {"public_time", "first_publish_time"}
    )
    extra = (
        F.to_json(F.struct(*[F.col(c) for c in extra_cols]))
        if extra_cols
        else F.lit("{}")
    )
    # one Python pass per row: residual-HTML re-extraction, then language
    # and token count on its result (functions.udfs.refine_text_udf). The
    # UDF's struct fields are nullable; the coalesce keeps `text` non-null.
    refined = refine_text_udf(F.coalesce(get("text"), F.lit("")), get("language"))
    text = F.coalesce(F.col("_refined.text"), F.lit(""))
    word_count = F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.regexp_count(text, F.lit(r"\S+"))
    )
    return raw.select("*", refined.alias("_refined")).select(
        F.coalesce(get("identifier"), F.uuid()).alias("identifier"),
        get("title").alias("title"),
        get("description").alias("description"),
        get("source").alias("source"),
        date_expr.alias("date"),
        parse(get("collection_time")).alias("collection_time"),
        F.coalesce(get("open_type"), F.lit(DEFAULT_OPEN_TYPE)).alias("open_type"),
        normalize_license(get(_RAW_LICENSE_KEY)).alias("license"),
        (
            F.col("tags")
            if "tags" in cols
            else F.lit(None).cast("array<string>")
        ).alias("tags"),
        F.col("_refined.language").alias("language"),
        F.coalesce(get("format"), F.lit("text")).alias("format"),
        text.alias("text"),
        word_count.cast("int").alias("word_count"),
        F.col("_refined.token_count").alias("token_count"),
        get("data_file").alias("data_file"),
        extra.alias("extra_metadata"),
    )


def dedup_first_wins(df: DataFrame, key: Column | None = None) -> DataFrame:
    """A6/A7 (resources/refine/dedupe.py:97-103): one survivor per content
    key; winner = smallest identifier (the reference's first-encountered
    path, made deterministic for a distributed engine)."""
    from pyspark.sql import Window as W

    k = key if key is not None else F.sha2(F.col("text"), 256)
    w = W.partitionBy(k).orderBy("identifier")
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def filter_supported(df: DataFrame) -> DataFrame:
    """F2/F3 (assets.py:38-39,167-171,199-203): format whitelist + min
    text length for text rows (structured rows keep empty text)."""
    is_text = F.col("format") == "text"
    return df.filter(F.col("format").isin(*SUPPORTED_FORMATS)).filter(
        (~is_text) | (F.length(F.trim(F.col("text"))) >= MIN_TEXT_LENGTH)
    )


def anonymize(df: DataFrame) -> DataFrame:
    """P2 (resources/refine/anonymizer.py:47-71): anonymize text rows only,
    pass the rest through untouched."""
    # null-feed form: Catalyst hoists a Python UDF out of CASE WHEN into an
    # unconditional ArrowEvalPython node, so `when(mask, udf(text))` would
    # ship every row through the worker; nulled rows take the fast path
    mask = (F.col("format") == "text") & F.col("text").isNotNull()
    return df.withColumn(
        "text",
        F.coalesce(anonymize_text_udf(F.when(mask, F.col("text"))), F.col("text")),
    )


def process(raw: DataFrame) -> DataFrame:
    """The full §3.1 chain. Lazy end-to-end; callers checkpoint between
    stages only when they want restartability."""
    canon = canonicalize(raw)
    deduped = dedup_first_wins(canon)
    kept = filter_supported(deduped)
    out = anonymize(kept)
    assert [f.name for f in out.schema.fields] == list(COMMON_FIELDS)
    return out


__all__ = [
    "CANONICAL_SCHEMA",
    "anonymize",
    "canonicalize",
    "dedup_first_wins",
    "filter_supported",
    "normalize_license",
    "process",
]
