"""DOCX text extraction (engine surface — the word-processing sibling of
the XLSX/ODS cell tiers; a staple source for training-data pipelines).

Pure-stdlib WordprocessingML reader per the public ECMA-376 spec: a
.docx is a zip whose `word/document.xml` carries paragraphs (`w:p`) of
runs (`w:r`) of text nodes (`w:t`), with explicit tabs (`w:tab`) and
line breaks (`w:br`); `w:p` boundaries become newlines, matching the
paragraph-break posture of the HTML extractor. No python-docx needed.

`scan_docx` runs one task per document (sources/files.py); corrupt files
yield error rows instead of failed scans.
"""

from __future__ import annotations

import io
import zipfile
from xml.etree import ElementTree

from pyspark.sql import DataFrame, SparkSession

from .files import fan_out, list_files

_W_NS = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"

DOCX_TEXT_SCHEMA = (
    "path string, n_bytes bigint, n_paragraphs bigint, n_chars bigint, "
    "text string, error string"
)


def extract_docx_text(data) -> str:
    """WordprocessingML → plain text: paragraphs joined by newlines,
    runs concatenated in document order, tabs/breaks made explicit.
    Accepts bytes or a file-like object."""
    if isinstance(data, (bytes, bytearray)):
        data = io.BytesIO(bytes(data))
    with zipfile.ZipFile(data) as zf:
        with zf.open("word/document.xml") as fh:
            root = ElementTree.parse(fh).getroot()
    paragraphs: list[str] = []
    for p in root.iter(f"{_W_NS}p"):
        parts: list[str] = []
        for node in p.iter():
            if node.tag == f"{_W_NS}t":
                parts.append(node.text or "")
            elif node.tag == f"{_W_NS}tab":
                parts.append("\t")
            elif node.tag == f"{_W_NS}br":
                parts.append("\n")
        paragraphs.append("".join(parts))
    return "\n".join(paragraphs)


def _docx_rows(path: str, data: bytes):
    text = extract_docx_text(data)
    n_paragraphs = len(text.split("\n")) if text else 0
    return [(path, len(data), n_paragraphs, len(text), text, None)]


def scan_docx(spark: SparkSession, path: str) -> DataFrame:
    """Distributed multi-DOCX text extraction: (path, n_bytes,
    n_paragraphs, n_chars, text, error) per document."""
    return fan_out(
        list_files(spark, path, ("docx",)),
        DOCX_TEXT_SCHEMA,
        _docx_rows,
        lambda path, data, err: [(path, len(data), 0, 0, "", err)],
    )
