"""Canonical document-record schema (SURVEY §1.2) — the reference builds
this row-by-row in add_dataset_record (assets/processing/assets.py:276-296)
with the field list 'common metadata' at assets.py:205-206; we declare it
as an explicit StructType. `date`/`collection_time` are typed timestamps
(the reference keeps ISO strings — render with functions.iso8601 for
byte parity)."""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

CANONICAL_SCHEMA = StructType(
    [
        StructField("identifier", StringType(), False),
        StructField("title", StringType(), True),
        StructField("description", StringType(), True),
        StructField("source", StringType(), True),
        StructField("date", TimestampType(), True),
        StructField("collection_time", TimestampType(), True),
        StructField("open_type", StringType(), True),
        StructField("license", StringType(), True),
        StructField("tags", ArrayType(StringType()), True),
        StructField("language", StringType(), True),
        StructField("format", StringType(), True),
        StructField("text", StringType(), True),
        StructField("word_count", IntegerType(), True),
        StructField("token_count", IntegerType(), True),
        StructField("data_file", StringType(), True),
        StructField("extra_metadata", StringType(), True),
    ]
)

COMMON_FIELDS = tuple(f.name for f in CANONICAL_SCHEMA.fields)

# reference defaults (assets/processing/assets.py:286,314)
DEFAULT_OPEN_TYPE = "Open Government"

MIN_TEXT_LENGTH = 200  # assets/processing/assets.py:38
SUPPORTED_FORMATS = (  # assets/processing/assets.py:39
    "csv",
    "json",
    "xlsx",
    "xls",
    "ods",
    "pdf",
    "html",
    "text",
    "xml",
    "parquet",
)
