"""PDF corpus scan (SURVEY §2.1 S5, the at-scale shape): one task per
.pdf file (sources/files.py), each running the tiered text extractor
(PyMuPDF when importable, the pure-Python ISO-32000 parser otherwise)
from bytes.

Reference analog: one converter invocation per document
(resources/convertors/pdf_extractor.py:56-101).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .files import fan_out, list_files

# text plus per-file outcome; a corrupt document yields an error row, not
# a failed scan
PDF_TEXT_SCHEMA = "path string, n_bytes bigint, n_chars bigint, text string, error string"


def _pdf_rows(path: str, data: bytes):
    from ..functions.udfs import extract_pdf_text

    text = extract_pdf_text(data)
    return [(path, len(data), len(text), text, None)]


def scan_pdfs(spark: SparkSession, path: str) -> DataFrame:
    """Distributed multi-PDF text extraction: (path, n_bytes, n_chars,
    text, error) per document."""
    return fan_out(
        list_files(spark, path, ("pdf",)),
        PDF_TEXT_SCHEMA,
        _pdf_rows,
        lambda path, data, err: [(path, len(data), 0, "", err)],
    )
