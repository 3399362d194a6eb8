from .udfs import (
    anonymize_text_udf,
    chunk_text,
    chunk_text_udf,
    extract_html_text,
    iso8601,
    refine_text_udf,
)

__all__ = [
    "anonymize_text_udf",
    "chunk_text",
    "chunk_text_udf",
    "extract_html_text",
    "iso8601",
    "refine_text_udf",
]
